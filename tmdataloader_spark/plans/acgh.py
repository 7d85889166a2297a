r"""aCGH pipeline (SURVEY.md §2.10e).

Reference: etl/ACGHDataProcessor.groovy — data file ``region_id`` +
per-sample groups of SEVEN columns (``<sample>.chip .segmented .flag
.probloss .probnorm .probgain .probamp``, :134-165), platform =
chromosomal-region file (``<platform>_region_platform.txt`` or
``<platform>.txt``, :103); sql/postgres/procedures/
I2B2_PROCESS_ACGH_DATA.sql:998-1031 — typed region×sample rows (flag
is smallint, everything else double), joined through the sample
mapping (marker 'aCGH') and de_chromosomal_region; NO z-score
(:1092-1094 keeps the values as loaded).

Spark shape: the 7-column groups unpivot with one generated
``stack``-like array explode (narrow); region dimension and sample
mapping broadcast onto the data.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from tmdataloader_spark.operators.dedup import LoadValidationError
from tmdataloader_spark.plans.hdd import (
    build_hdd_nodes,
    build_sample_mapping,
    open_sample_mapping,
)
from tmdataloader_spark.sources.gpl import GplPlatform
from tmdataloader_spark.sources.tsv import read_head_meta, read_tsv

ACGH_METRICS = ["chip", "segmented", "flag", "probloss", "probnorm", "probgain", "probamp"]

_DATA_RE = re.compile(r".+_acgh_data(_GPL\d+)*\.txt$", re.I)


@dataclass
class AcghLoadResult:
    sample_mapping: DataFrame
    chromosomal_region: DataFrame  # de_chromosomal_region
    data: DataFrame  # de_subject_acgh_data
    i2b2: DataFrame
    platforms: list[GplPlatform]  # one per platform the mapping names


def read_chromosomal_regions(
    spark: SparkSession, path: str, platform_id: str
) -> GplPlatform:
    """de_chromosomal_region rows from the region-platform file
    (the reference's aCGHPlatform.groovy stages the same ten columns
    into lt_chromosomal_region); region_id is a deterministic hash of
    (gpl, region_name) replacing the DB sequence."""
    meta = read_head_meta(path)
    df = read_tsv(spark, path, header=True, comment="#")
    cols = {c.strip().upper(): c for c in df.columns}
    if "REGION_NAME" not in cols:
        raise LoadValidationError(f"no REGION_NAME column in {path}")
    organism = meta.get("SPECIES", "Homo sapiens")
    ann = df.select(
        F.lit(platform_id).alias("gpl_id"),
        F.col(f"`{cols['REGION_NAME']}`").alias("region_name"),
        F.xxhash64(
            F.concat_ws(":", F.lit(platform_id), F.col(f"`{cols['REGION_NAME']}`"))
        ).alias("region_id"),
        *[
            F.col(f"`{orig}`").alias(name.lower())
            for name, orig in cols.items()
            if name in ("CHROMOSOME", "START_BP", "END_BP", "NUM_PROBES", "CYTOBAND", "GENE_SYMBOL")
        ],
        # GENE_ID / ORGANISM are part of the reference's
        # lt_chromosomal_region contract (I2B2_LOAD_CHROM_REGION.sql:
        # 135-157); a file without them gets NULL ids and the
        # platform's species
        (
            F.col(f"`{cols['GENE_ID']}`").try_cast("long")
            if "GENE_ID" in cols
            else F.lit(None).cast("long")
        ).alias("gene_id"),
        (
            F.col(f"`{cols['ORGANISM']}`")
            if "ORGANISM" in cols
            else F.lit(organism)
        ).alias("organism"),
    )
    return GplPlatform(
        platform=platform_id,
        title=meta.get("PLATFORM_TITLE", platform_id),
        organism=organism,
        marker_type="aCGH",
        annotation=ann,
    )


def backfill_region_genes(regions: DataFrame, bio_marker: DataFrame) -> DataFrame:
    """The reference's post-load gene backfill
    (I2B2_LOAD_CHROM_REGION.sql:173-235; the IDENTICAL update pair
    also closes I2B2_LOAD_ANNOTATION_DEAPP.sql:236-300 for
    de_mrna_annotation — rename ``entrez_gene_id``→``gene_id`` to
    reuse): rows with a gene_symbol but NULL gene_id take
    ``min(primary_external_id)`` of the matching GENE bio_marker
    (same symbol, case-insensitive organism); rows with a gene_id but
    NULL gene_symbol take ``min(bio_marker_name)`` the same way.
    ``bio_marker`` is dimension-sized → both lookup sides broadcast;
    everything else is a narrow per-row coalesce."""
    genes = bio_marker.filter(F.upper(F.col("bio_marker_type")) == "GENE")
    by_symbol = genes.groupBy(
        F.col("bio_marker_name").alias("_sym"),
        F.upper(F.col("organism")).alias("_org"),
    ).agg(F.min(F.col("primary_external_id").cast("long")).alias("_gene_id"))
    by_id = genes.groupBy(
        F.col("primary_external_id").cast("long").alias("_gid"),
        F.upper(F.col("organism")).alias("_org2"),
    ).agg(F.min("bio_marker_name").alias("_gene_symbol"))
    out = (
        regions.join(
            F.broadcast(by_symbol),
            (F.col("gene_symbol") == F.col("_sym"))
            & (F.upper(F.col("organism")) == F.col("_org")),
            "left",
        )
        .withColumn("gene_id", F.coalesce(F.col("gene_id"), F.col("_gene_id")))
        .drop("_sym", "_org", "_gene_id")
    )
    return (
        out.join(
            F.broadcast(by_id),
            (F.col("gene_id") == F.col("_gid"))
            & (F.upper(F.col("organism")) == F.col("_org2")),
            "left",
        )
        .withColumn(
            "gene_symbol", F.coalesce(F.col("gene_symbol"), F.col("_gene_symbol"))
        )
        .drop("_gid", "_org2", "_gene_symbol")
    )


def melt_acgh_matrix(wide: DataFrame, trial_id: str) -> DataFrame:
    """region_id × (sample.metric)*7 → long (region_name, expr_id,
    chip..probamp) — the 7-column group walk of
    ACGHDataProcessor.groovy:141-161 as one generated explode."""
    if wide.columns[0] != "region_id":
        raise LoadValidationError("Incorrect acgh data file")
    samples: dict[str, dict[str, str]] = {}
    for c in wide.columns[1:]:
        if "." not in c:
            continue
        sample, metric = c.rsplit(".", 1)
        samples.setdefault(sample, {})[metric.lower()] = c
    structs = []
    for sample, metric_cols in samples.items():
        if set(metric_cols) != set(ACGH_METRICS):
            raise LoadValidationError(
                f"sample {sample} is missing aCGH metric columns"
            )
        structs.append(
            F.struct(
                F.lit(sample).alias("expr_id"),
                *[
                    F.col(f"`{metric_cols[m]}`").cast("string").alias(m)
                    for m in ACGH_METRICS
                ],
            )
        )
    ex = wide.select(
        F.col("region_id").alias("region_name"),
        F.explode(F.array(*structs)).alias("s"),
    )
    return ex.select(
        F.lit(trial_id.upper()).alias("trial_name"),
        "region_name",
        F.col("s.expr_id").alias("expr_id"),
        F.col("s.chip").try_cast("double").alias("chip"),
        F.col("s.segmented").try_cast("double").alias("segmented"),
        F.col("s.flag").try_cast("smallint").alias("flag"),
        F.col("s.probloss").try_cast("double").alias("probloss"),
        F.col("s.probnorm").try_cast("double").alias("probnorm"),
        F.col("s.probgain").try_cast("double").alias("probgain"),
        F.col("s.probamp").try_cast("double").alias("probamp"),
    )


def load_acgh(
    spark: SparkSession,
    data_dir: str | os.PathLike,
    trial_id: str | None,
    top_node: str,
    bio_marker: DataFrame | None = None,
) -> AcghLoadResult:
    """Full aCGH load of an ``ACGHDataToUpload`` directory. With
    ``trial_id=None`` the mapping file's own STUDY_ID governs (the
    reference takes it from there too). Pass the warehouse's
    ``biomart.bio_marker`` frame to run the reference's post-load
    gene backfill on the regions (I2B2_LOAD_CHROM_REGION.sql:173-235)."""
    data_dir = str(data_dir)
    _, checked = open_sample_mapping(spark, data_dir, trial_id)

    def read_platform(gpl: str) -> GplPlatform:
        for name in (f"{gpl}_region_platform.txt", f"{gpl}.txt"):
            path = os.path.join(data_dir, name)
            if os.path.exists(path):
                return read_chromosomal_regions(spark, path, gpl)
        raise LoadValidationError(f"no region platform file for {gpl}")

    platforms = [read_platform(gpl) for gpl in checked.platforms]

    data_files = [f for f in sorted(os.listdir(data_dir)) if _DATA_RE.match(f)]
    if not data_files:
        raise LoadValidationError(f"no acgh data file in {data_dir}")
    wide = read_tsv(spark, os.path.join(data_dir, data_files[0]), header=True, comment="#")
    long = melt_acgh_matrix(wide, checked.trial_id)

    samples = build_sample_mapping(checked.frame, top_node, platforms)
    nodes = build_hdd_nodes(samples)

    # region files may differ in their optional columns
    regions = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        (p.annotation for p in platforms),
    )
    data = (
        long.join(
            F.broadcast(
                samples.select(
                    F.col("sample_cd").alias("expr_id"), "assay_id", "patient_id", "gpl_id"
                )
            ),
            on="expr_id",
            how="inner",
        )
        .join(
            F.broadcast(regions.select("gpl_id", "region_name", "region_id")),
            on=["gpl_id", "region_name"],
            how="inner",
        )
        .select(
            "trial_name", "region_id", "region_name", "assay_id", "patient_id",
            *ACGH_METRICS,
        )
    )
    if bio_marker is not None:
        regions = backfill_region_genes(regions, bio_marker)
    return AcghLoadResult(
        sample_mapping=samples,
        chromosomal_region=regions,
        data=data,
        i2b2=nodes,
        platforms=platforms,
    )
