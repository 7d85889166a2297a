"""GPL platform annotation reader (SURVEY.md §2.1 S3).

Reference: files/GplFile.groovy + etl/platforms/GexPlatform.groovy:47-81
— head comments ``#PLATFORM_ID/#PLATFORM_TITLE/#SPECIES``; columns
found by fuzzy regex match: probe id is column 0, ENTREZ/SYMBOL/SPECIES
columns matched case-insensitively.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from tmdataloader_spark.session import local_frame

from tmdataloader_spark.sources.tsv import read_head_meta, read_tsv

ENTREZ_RE = re.compile(r"^(ENTREZ[\s_]*)*GENE([\s_]*ID)*$", re.I)
SYMBOL_RE = re.compile(r"^(GENE[\s_]*)*SYMBOL$", re.I)
SPECIES_RE = re.compile(r"^SPECIES([\s_]*SCIENTIFIC)([\s_]*NAME)$", re.I)


@dataclass
class GplPlatform:
    platform: str
    title: str
    organism: str
    marker_type: str
    annotation: DataFrame  # (gpl_id, probeset_id, gene_symbol, entrez_gene_id, organism)


def read_gpl(
    spark: SparkSession,
    path: str | os.PathLike,
    platform_id: str | None = None,
    marker_type: str = "Gene Expression",
    use_first_gene_id: bool = False,
) -> GplPlatform:
    meta = read_head_meta(path)
    platform = platform_id or meta.get("PLATFORM_ID") or os.path.basename(str(path)).rsplit(".", 1)[0]
    title = meta.get("PLATFORM_TITLE", platform)
    organism = meta.get("SPECIES", meta.get("ORGANISM", "Homo sapiens"))

    df = read_tsv(spark, path, header=True, comment="#")
    cols = df.columns
    entrez = symbol = species = None
    for c in cols:
        if entrez is None and ENTREZ_RE.match(c):
            entrez = c
        elif symbol is None and SYMBOL_RE.match(c):
            symbol = c
        elif species is None and SPECIES_RE.match(c):
            species = c
    if entrez is None or symbol is None:
        raise ValueError(f"Incorrect platform file header: {cols[:6]}...")

    raw_id = F.trim(F.coalesce(F.col(f"`{entrez}`").cast("string"), F.lit("")))
    raw_sym = F.coalesce(F.col(f"`{symbol}`").cast("string"), F.lit(""))
    if use_first_gene_id:
        # --use-first-gene-id (CommandLineTool.groovy:59,218;
        # PlatformProcessor.normalizeGeneIdAndSymbol:57-73, decided
        # 2015-07-17): '123 /// 456' keeps the first id, the gene
        # symbol is truncated at the same '///', rows are NEVER
        # skipped — a still-non-numeric id becomes NULL, a symbol with
        # no word character becomes ''
        norm_id = F.regexp_replace(raw_id, " *//+.*", "")
        sym = F.when(norm_id != raw_id, F.regexp_replace(raw_sym, " *//+.*", "")).otherwise(raw_sym)
        gene_id = F.when(norm_id.rlike(r"^\d+$"), norm_id)
        sym = F.when(sym.rlike(r"\w"), sym).otherwise(F.lit(""))
        ann = df.select(
            F.lit(platform).alias("gpl_id"),
            F.col(f"`{cols[0]}`").cast("string").alias("probeset_id"),
            sym.alias("gene_symbol"),
            gene_id.alias("entrez_gene_id"),
            (
                F.coalesce(F.col(f"`{species}`").cast("string"), F.lit(organism))
                if species
                else F.lit(organism)
            ).alias("organism"),
        )
    else:
        # numeric-or-empty entrez ids only (GexPlatform.eachEntry:69-71
        # skips non-numeric ids when useFirstGeneId is off); empty ids
        # land as NULL like the reference's normalized null.  The
        # F.trim on raw_id matches the reference's parser, not a
        # divergence: CsvLikeFile builds commons-csv CSVFormat.TDF
        # .withIgnoreSurroundingSpaces(true) (CsvLikeFile.groovy:28-31)
        # so ' 123 ' reaches the ==~ /\d+/ skip test already trimmed.
        # normalizeGeneIdAndSymbol STILL runs on kept rows
        # (GexPlatform.groovy:73-74): a symbol with no word character
        # (e.g. '---') blanks to '' (PlatformProcessor.groovy:68-70).
        # filter BEFORE the select: afterwards the original entrez
        # column name would resolve (case-insensitively) to the new
        # nulled alias and the skip-filter would pass everything
        ann = df.filter(raw_id.rlike(r"^\d*$")).select(
            F.lit(platform).alias("gpl_id"),
            F.col(f"`{cols[0]}`").cast("string").alias("probeset_id"),
            F.when(raw_sym.rlike(r"\w"), raw_sym).otherwise(F.lit("")).alias(
                "gene_symbol"
            ),
            F.when(raw_id.rlike(r"^\d+$"), raw_id).alias("entrez_gene_id"),
            (
                F.coalesce(F.col(f"`{species}`").cast("string"), F.lit(organism))
                if species
                else F.lit(organism)
            ).alias("organism"),
        )
    return GplPlatform(
        platform=platform,
        title=title,
        organism=organism,
        marker_type=marker_type,
        annotation=ann,
    )


def gpl_info_frame(spark, platforms: list[GplPlatform]):
    """de_gpl_info dimension rows (SURVEY.md §1.1 'Platform
    annotation'): one row per loaded platform."""
    return local_frame(
        spark,
        [(p.platform, p.title, p.organism, p.marker_type) for p in platforms],
        "platform string, title string, organism string, marker_type string",
    )


def attach_platform_info(mapping: DataFrame, gpl_info: DataFrame) -> DataFrame:
    """J8 (I2B2_LOAD_SAMPLES.sql:334-338): subject-sample mapping LEFT
    JOIN de_gpl_info on platform — the dimension is tiny, broadcast."""
    dim = gpl_info.select(
        "platform",
        F.col("title").alias("platform_title"),
        F.col("organism").alias("platform_organism"),
        F.col("marker_type").alias("platform_marker_type"),
    )
    return mapping.join(F.broadcast(dim), on="platform", how="left")


def add_platform(
    spark,
    existing: DataFrame | None,
    platform: str,
    title: str,
    organism: str,
    marker_type: str,
    genome_build: str | None = None,
    release_nbr: str | None = None,
) -> DataFrame:
    """Standalone platform registration
    (I2B2_ADD_PLATFORM.sql:1-58): one de_gpl_info row from scalar
    arguments, independent of any HDD load.  Novelty upsert keyed on
    ``platform`` — re-adding an existing id keeps the registered row
    (idempotent), where the reference's bare INSERT would abort the
    job on the PK; the upsert form matches how every other dimension
    (bio_experiment, tree nodes) behaves in this engine.  One-row
    literal frame; the anti-join against the platform-keyed dimension
    broadcasts."""
    incoming = local_frame(
        spark,
        [(platform, title, organism, marker_type, genome_build, release_nbr)],
        "platform string, title string, organism string, "
        "marker_type string, genome_build string, release_nbr string",
    )
    if existing is None:
        return incoming
    novel = incoming.join(
        existing.select("platform"), on="platform", how="left_anti"
    )
    return existing.unionByName(novel, allowMissingColumns=True)
