r"""SNP pipeline (SURVEY.md §2.10f, J11).

Reference: etl/SNPDataProcessor.groovy — the mapping file carries
per-sample CALLS_FILE_NAME / COPY_NUMBER_FILE_NAME columns (:86-115,
loaded 4-way-threaded; Spark task parallelism subsumes the thread
pool), the platform GPL feeds the gene map with a novelty-only insert
(:242-263); sql/postgres/procedures/I2B2_PROCESS_SNP_DATA.sql —
de_sample_snp_data is the FULL JOIN of copy number and calls
(:108-116), de_subject_snp_dataset registers each sample's dataset
(:123-141), and the copy numbers run through the shared z-score
kernel as already-log intensities (:170-376).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from tmdataloader_spark.operators.dedup import LoadValidationError
from tmdataloader_spark.operators.zscore import zscore
from tmdataloader_spark.plans.hdd import (
    build_hdd_nodes,
    build_sample_mapping,
    open_sample_mapping,
)
from tmdataloader_spark.sources.gpl import GplPlatform, read_gpl
from tmdataloader_spark.sources.tsv import read_tsv


@dataclass
class SnpLoadResult:
    sample_mapping: DataFrame
    sample_snp_data: DataFrame  # de_sample_snp_data
    snp_dataset: DataFrame  # de_subject_snp_dataset
    gene_map: DataFrame  # de_snp_gene_map (novelty rows of this load)
    data: DataFrame  # copy-number z-scores (shared kernel)
    i2b2: DataFrame
    platforms: list[GplPlatform]  # one per platform the mapping names


def _file_columns(spark: SparkSession, data_dir: str, mapping_path: str):
    """The SNP mapping file's extra routing columns."""
    df = read_tsv(spark, mapping_path, header=True, comment="#")
    cols = {c.strip().upper(): c for c in df.columns}
    calls_col = cols.get("CALLS_FILE_NAME")
    cn_col = cols.get("COPY_NUMBER_FILE_NAME")
    rows = df.select(
        *(F.col(f"`{c}`") for c in (calls_col, cn_col) if c)
    ).distinct().collect()
    calls_files, cn_files = set(), set()
    for r in rows:
        vals = list(r)
        if calls_col and vals[0]:
            calls_files.add(os.path.join(data_dir, vals[0]))
        if cn_col and vals[-1]:
            cn_files.add(os.path.join(data_dir, vals[-1]))
    return sorted(calls_files), sorted(cn_files)


def read_snp_calls(spark: SparkSession, paths: list[str]) -> DataFrame:
    """All per-sample calls files unioned: (gsm_num, snp_name, snp_calls).
    Spark reads the file list as ONE distributed scan."""
    df = read_tsv(spark, paths, header=True, comment="#")
    return df.select(
        F.col("SAMPLE_ID").alias("gsm_num"),
        F.col("PROBESET_ID").alias("snp_name"),
        F.col("CALLS").cast("string").alias("snp_calls"),
    )


def read_snp_copy_number(spark: SparkSession, paths: list[str]) -> DataFrame:
    """(gsm_num, snp_name, chrom, chrom_pos, copy_number)."""
    df = read_tsv(spark, paths, header=True, comment="#")
    return df.select(
        F.col("SAMPLE_ID").alias("gsm_num"),
        F.col("PROBESET_ID").alias("snp_name"),
        F.col("CHROM").alias("chrom"),
        F.col("CHROM_POS").try_cast("long").alias("chrom_pos"),
        F.col("COPY_NUMBER").try_cast("double").alias("copy_number"),
    )


def snp_gene_map_novelty(incoming: DataFrame, existing: DataFrame | None) -> DataFrame:
    """J11 (SNPDataProcessor.groovy:252-260): only snp names not yet
    in de_snp_gene_map are inserted."""
    out = incoming.select("snp_name", "entrez_gene_id").filter(
        F.col("entrez_gene_id").isNotNull()
    ).distinct()
    if existing is None:
        return out
    return out.join(existing.select("snp_name"), on="snp_name", how="left_anti")


def load_snp(
    spark: SparkSession,
    data_dir: str | os.PathLike,
    trial_id: str | None,
    top_node: str,
    existing_gene_map: DataFrame | None = None,
    data_type: str = "L",
    use_first_gene_id: bool = False,
) -> SnpLoadResult:
    """Full SNP load of an ``SNPDataToUpload`` directory."""
    data_dir = str(data_dir)
    mapping_path, checked = open_sample_mapping(spark, data_dir, trial_id)
    platforms = [
        read_gpl(
            spark, os.path.join(data_dir, f"{gpl}.txt"), gpl,
            marker_type="SNP", use_first_gene_id=use_first_gene_id,
        )
        for gpl in checked.platforms
    ]

    calls_files, cn_files = _file_columns(spark, data_dir, mapping_path)
    if not calls_files and not cn_files:
        raise LoadValidationError(f"no calls/copy-number files routed in {mapping_path}")
    calls = read_snp_calls(spark, calls_files) if calls_files else None
    cn = read_snp_copy_number(spark, cn_files) if cn_files else None

    samples = build_sample_mapping(checked.frame, top_node, platforms)
    nodes = build_hdd_nodes(samples)
    sample_dim = F.broadcast(
        samples.select(F.col("sample_cd").alias("gsm_num"), "assay_id", "patient_id")
    )

    # de_sample_snp_data: FULL JOIN of copy number and calls (:108-116)
    if calls is not None and cn is not None:
        snp_data = cn.join(calls, on=["gsm_num", "snp_name"], how="full_outer")
    else:
        snp_data = cn if cn is not None else calls
    sample_snp_data = snp_data.join(sample_dim, on="gsm_num", how="inner").withColumn(
        "trial_name", F.lit(checked.trial_id)
    )

    snp_dataset = (
        samples.select(
            F.col("trial_name"),
            F.col("patient_id").alias("patient_num"),
            F.col("sample_cd"),
            F.col("assay_id"),
            F.col("platform"),
            F.col("concept_code").alias("concept_cd"),
        ).distinct()
    )

    gene_map = snp_gene_map_novelty(
        reduce(
            DataFrame.unionByName,
            (
                p.annotation.select(
                    F.col("probeset_id").alias("snp_name"),
                    F.col("entrez_gene_id").try_cast("long").alias("entrez_gene_id"),
                )
                for p in platforms
            ),
        ),
        existing_gene_map,
    )

    # copy numbers through the shared kernel (:170-376); they are
    # log-ratios already, so the default is the 'L' path
    data = None
    if cn is not None:
        long = cn.join(sample_dim, on="gsm_num", how="inner").select(
            F.col("snp_name").alias("probeset_id"),
            "assay_id",
            F.col("copy_number").alias("intensity"),
        )
        collapsed = long.groupBy("probeset_id", "assay_id").agg(
            F.avg("intensity").alias("intensity")
        )
        data = zscore(
            collapsed, data_type=data_type, probe_col="probeset_id", value_col="intensity"
        ).withColumn("trial_name", F.lit(checked.trial_id))

    return SnpLoadResult(
        sample_mapping=samples,
        sample_snp_data=sample_snp_data,
        snp_dataset=snp_dataset,
        gene_map=gene_map,
        data=data,
        i2b2=nodes,
        platforms=platforms,
    )
