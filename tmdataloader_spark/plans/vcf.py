r"""VCF study load (SURVEY.md §2 S4/R3/J10; processor registry entry
'VCF' of DataProcessorFactory.groovy).

Reference orchestration (etl/VCFDataProcessor.groovy):
- Subject_Sample_Mapping_File.txt with ``# KEY: value`` meta header
  (STUDY_ID, GENOME_BUILD, PLATFORM_ID, …) and SUBJECT_ID/SAMPLE_CD
  [/CATEGORY_CD] rows (:25-44)
- one dataset per ``*.vcf`` file: dataset_id = STUDYID:SOURCE_CD where
  source_cd = filename minus extension, dots→underscores, uppercased
  (:116-120)
- every sample feeds the shared samples loader with category
  ``CATEGORY_CD`` or ``VCF+<vcfName>`` and the VCF platform (:139-147)
- 6 variant frames per dataset + assay linkage
  (I2B2_PROCESS_VCF_DATA.sql:76-85)

Scale: each VCF body is a parallel text scan; the only shuffles are
the (tiny) sample-mapping joins — genotype explode and INFO explode
are narrow generates.
"""

from __future__ import annotations

import glob
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from tmdataloader_spark.operators.dedup import LoadValidationError
from tmdataloader_spark.plans.hdd import build_hdd_nodes, build_sample_mapping
from tmdataloader_spark.session import local_frame
from tmdataloader_spark.sources.gpl import GplPlatform
from tmdataloader_spark.sources.tsv import read_head_meta, read_tsv
from tmdataloader_spark.sources.vcf import (
    VcfHeader,
    link_assays,
    parse_vcf_header,
    population_data,
    population_info,
    read_vcf,
    subject_detail,
    subject_index,
    subject_summary,
)


@dataclass
class VcfDataset:
    """The 6 variant frames of one dataset (= one .vcf file)."""

    dataset_id: str
    source_cd: str
    header: VcfHeader
    variant_dataset: DataFrame
    subject_idx: DataFrame
    subject_detail: DataFrame
    subject_summary: DataFrame  # assay_id attached (J10)
    population_info: DataFrame
    population_data: DataFrame


@dataclass
class VcfLoadResult:
    study_id: str
    platform_id: str
    sample_mapping: DataFrame  # de_subject_sample_mapping (all files)
    i2b2: DataFrame  # ontology nodes for the sample categories
    datasets: list[VcfDataset] = field(default_factory=list)


@dataclass
class VcfMappingInfo:
    study_id: str
    genome_build: str | None
    platform_id: str
    platform_name: str
    species: str
    sample_mapping: dict  # sample_cd -> {subject_id, category_cd}


def load_vcf_mapping(spark: SparkSession, path: str) -> VcfMappingInfo:
    """VCFDataProcessor.loadMappingFile (:25-44): meta header drives
    study/platform ids — PLATFORM_ID, else ``VCF_<GENOME_BUILD>``,
    else ``VCF``; study id uppercased."""
    meta = read_head_meta(path)
    study_id = meta.get("STUDY_ID")
    if not study_id:
        raise LoadValidationError(f"no STUDY_ID header in {path}")
    genome_build = meta.get("GENOME_BUILD")
    platform_id = meta.get("PLATFORM_ID") or (
        f"VCF_{genome_build}" if genome_build else "VCF"
    )
    rows = read_tsv(spark, path, header=True, comment="#").collect()
    mapping = {}
    for r in rows:
        vals = list(r)
        mapping[vals[1]] = {
            "subject_id": vals[0],
            "category_cd": vals[2] if len(vals) > 2 else None,
        }
    return VcfMappingInfo(
        study_id=study_id.upper(),
        genome_build=genome_build,
        platform_id=platform_id,
        platform_name=meta.get("PLATFORM_NAME") or platform_id,
        species=meta.get("SPECIES") or "Homo Sapiens",
        sample_mapping=mapping,
    )


def _vcf_name(path: str) -> str:
    """``VCFTest.v1.vcf`` → ``VCFTest_v1``
    (VCFDataProcessor.groovy:116-117)."""
    base = os.path.basename(path)
    base = re.sub(r"\.\w+$", "", base)
    return base.replace(".", "_")


def load_vcf_study(
    spark: SparkSession,
    data_dir: str | os.PathLike,
    top_node: str,
    etl_date: str | None = None,
) -> VcfLoadResult:
    """Load every ``*.vcf`` in the directory as its own dataset and
    feed all samples through the shared samples loader
    (VCFDataProcessor.processFiles :70-90)."""
    data_dir = str(data_dir)
    mapping_file = os.path.join(data_dir, "Subject_Sample_Mapping_File.txt")
    if not os.path.exists(mapping_file):
        raise LoadValidationError(f"Mapping file not found in {data_dir}")
    info = load_vcf_mapping(spark, mapping_file)

    vcf_files = sorted(
        p for p in glob.glob(os.path.join(data_dir, "*")) if p.lower().endswith(".vcf")
    )
    datasets = []
    sample_rows = []  # feeds the shared samples loader
    for path in vcf_files:
        header = parse_vcf_header(path)
        unmapped = [s for s in header.samples if s not in info.sample_mapping]
        if unmapped:
            raise LoadValidationError(
                f"Not all samples mapped to subjects! Not mapped samples: {unmapped}"
            )
        vcf_name = _vcf_name(path)
        source_cd = vcf_name.upper()
        dataset_id = f"{info.study_id}:{source_cd}"
        entries = read_vcf(spark, path, header).cache()

        summary = subject_summary(entries, dataset_id, header.samples)
        for sample in header.samples:
            m = info.sample_mapping[sample]
            sample_rows.append(
                (
                    info.study_id,
                    None,
                    m["subject_id"],
                    sample,
                    info.platform_id,
                    m["category_cd"] or f"VCF+{vcf_name}",
                    source_cd,
                )
            )
        ds = VcfDataset(
            dataset_id=dataset_id,
            source_cd=source_cd,
            header=header,
            variant_dataset=local_frame(
                spark,
                [(dataset_id, "tMDataLoader", "hg19", etl_date)],
                "dataset_id string, etl_id string, genome string, etl_date string",
            ),
            subject_idx=subject_index(header, dataset_id, spark),
            subject_detail=subject_detail(entries, dataset_id),
            subject_summary=summary,  # linked below once samples exist
            population_info=population_info(header, dataset_id, spark),
            population_data=population_data(entries, header, dataset_id),
        )
        datasets.append(ds)

    mapping_df = local_frame(
        spark,
        sample_rows,
        "trial_name string, site_id string, subject_id string, sample_cd string, "
        "platform string, category_cd string, source_cd string",
    ).withColumns(
        {
            "tissue_type": F.lit(None).cast("string"),
            "attribute_1": F.lit(None).cast("string"),
            "attribute_2": F.lit(None).cast("string"),
        }
    )
    platform = GplPlatform(
        platform=info.platform_id,
        title=info.platform_id,
        organism=info.species,
        marker_type="VCF",
        annotation=None,
    )
    samples = build_sample_mapping(mapping_df, top_node, [platform])
    nodes = build_hdd_nodes(samples)
    for ds in datasets:
        ds.subject_summary = link_assays(ds.subject_summary, samples)
    return VcfLoadResult(
        study_id=info.study_id,
        platform_id=info.platform_id,
        sample_mapping=samples,
        i2b2=nodes,
        datasets=datasets,
    )
