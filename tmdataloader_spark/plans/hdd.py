r"""High-dimensional (omics) data pipeline (SURVEY.md §2.10, §3.3).

One parameterized module replaces the reference's six ~1100-LoC
stored-procedure twins (mRNA I2B2_PROCESS_MRNA_DATA.sql, RNASeq,
proteomics, metabolomics, miRNA, RBM — all one pattern):

  subject–sample mapping (I2B2_LOAD_SAMPLES.sql; Groovy side
      SamplesLoader.groovy staging the lt_src_mrna_subj_samp_map rows,
      MIRNADataProcessor.groovy routing the qPCR/seq variants)
    → platform annotation (lt_src_deapp_annot)
    → matrix melt (ExpressionDataProcessor.groovy:214-239)
    → probeset tag + collapse avg (J2, I2B2_PROCESS_MRNA_DATA.sql:136-161)
    → data-type switch R|L|T|Z → log2 → per-probe median/stddev
    → zscore = clamp((log2(x) − median) / stddev, ±2.5)  (:318-326)
    → per-study partitioned data table (:189-222 → partitionBy)

Scale design: the expression matrix is the only big input. The melt is
a generate-only narrow stage; the sample mapping and annotation are
broadcast; the single wide shuffle is the per-(probe, assay) collapse
— keyed exactly like the downstream per-probe stats, so Catalyst
reuses the partitioning. Output is written partitioned by trial_name
(the Spark replacement for per-study partition tables + index
rebuild).

Every sample-mapped loader (this module, snp, acgh, vcf, gwas) shares
one sample spine, the reference's I2B2_LOAD_SAMPLES:
``open_sample_mapping`` finds, reads and validates the mapping file;
``build_sample_mapping`` templates each sample's concept path once,
with the title of the sample's own platform; ``build_hdd_nodes`` builds
the ontology from those paths. A mapping may name several platforms:
each platform file is read, and each sample keeps only its own
platform's probes.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from tmdataloader_spark.operators.dedup import LoadValidationError
from tmdataloader_spark.operators.reshape import melt_expression_matrix
from tmdataloader_spark.operators.tree import fill_in_tree
from tmdataloader_spark.operators.zscore import zscore
from tmdataloader_spark.sources.gpl import GplPlatform, read_gpl
from tmdataloader_spark.sources.tsv import read_tsv

DEFAULT_TISSUE_TYPE = "Blood"  # ExpressionDataProcessor.groovy:33

_MAPPING_RE = re.compile(r".+_Subject_Sample_Mapping_File(_GPL\d+)*\.txt$", re.I)


@dataclass
class HDDLoadResult:
    sample_mapping: DataFrame  # de_subject_sample_mapping
    data: DataFrame  # de_subject_<omics>_data
    i2b2: DataFrame  # ontology nodes incl. filled-in folders
    patient_dimension: DataFrame
    platforms: list[GplPlatform]  # one per platform the mapping names
    #: the mapping's study id, the sourcesystem_cd of the sample facts
    trial_id: str
    observation_fact: DataFrame | None = None  # per-sample facts


class SampleMapping(NamedTuple):
    """A subject-sample mapping that passed the mapping-file aborts, with
    what the one aggregate job over it found."""

    frame: DataFrame
    trial_id: str  # its one study id, upper-cased
    platforms: list  # its distinct platforms, sorted
    multi_platform: bool  # some sample is mapped to two or more platforms


def validate_sample_mapping(mapping: SampleMapping, gpl_info: DataFrame | None = None,
                            marker_type: str | None = None) -> None:
    """The I2B2_LOAD_SAMPLES abort gates (:94-193): a sample mapped to
    more than one platform aborts (different source_cd required), and
    every platform must already exist in de_gpl_info with the right
    marker type. The per-sample job that names the offending sample
    runs only when the mapping's aggregate found one."""
    if mapping.multi_platform:
        multi = (
            mapping.frame.groupBy("sample_cd")
            .agg(F.countDistinct("platform").alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .collect()
        )
        raise LoadValidationError(
            f"Multiple platforms for single sample {multi[0]['sample_cd']}"
        )
    if gpl_info is not None:
        cond = F.upper(gpl_info["marker_type"]) == marker_type.upper() if marker_type else F.lit(True)
        known = gpl_info.filter(cond).select("platform").distinct()
        missing = (
            mapping.frame.select("platform")
            .distinct()
            .join(known, on="platform", how="left_anti")
            .limit(1)
            .collect()
        )
        if missing:
            raise LoadValidationError(
                f"de_gpl_info entry missing for platform {missing[0]['platform']}"
            )


def upsert_sample_patients(samples: DataFrame, patient_dimension: DataFrame | None) -> DataFrame:
    """Create patient_dimension records for subjects that only exist in
    the sample mapping (I2B2_LOAD_SAMPLES.sql:211-260): sex 'Unknown',
    no age/race, sourcesystem_cd = trial:[site:]subject."""
    new = samples.select(
        F.col("patient_id").alias("patient_num"),
        F.lit("Unknown").alias("sex_cd"),
        F.lit(None).cast("int").alias("age_in_years_num"),
        F.lit(None).cast("string").alias("race_cd"),
        "sourcesystem_cd",
    ).distinct()
    if patient_dimension is None:
        return new
    new = new.join(
        patient_dimension.select("sourcesystem_cd"), on="sourcesystem_cd", how="left_anti"
    )
    return patient_dimension.unionByName(new.select(patient_dimension.columns))


def sample_facts(samples: DataFrame) -> DataFrame:
    """Per-sample observation_fact rows (I2B2_LOAD_SAMPLES.sql:839-887):
    text facts 'E' at the sample concept."""
    return samples.select(
        F.col("patient_id").alias("patient_num"),
        F.col("concept_code").alias("concept_cd"),
        F.col("trial_name").alias("modifier_cd"),
        F.lit("T").alias("valtype_cd"),
        F.lit("E").alias("tval_char"),
        F.lit(None).cast("double").alias("nval_num"),
        F.col("trial_name").alias("sourcesystem_cd"),
        F.col("sample_cd"),
        F.col("concept_path"),
    ).distinct()


def read_sample_mapping(
    spark: SparkSession, path: str | os.PathLike, trial_id: str | None = None
) -> SampleMapping:
    """S-mapping file → landing frame (ExpressionDataProcessor
    .groovy:98-156): mandatory subject/sample/platform/category,
    TISSUETYPE defaulting, study id uppercased. The mapping-file
    aborts, the study id, the platforms and the multi-platform test
    are all answered by one aggregate job."""
    df = read_tsv(spark, path, header=True, comment="#")
    cols = {c.strip().upper().replace(" ", "_"): c for c in df.columns}

    def get(*names: str) -> F.Column:
        """First matching header synonym — the fixture files use both
        STUDY_ID/SAMPLE_ID/TISSUETYPE/ATTR1 and TRIAL_NAME/SAMPLE_CD/
        TISSUE_TYPE/ATTRIBUTE_1 spellings (with stray spaces)."""
        for name in names:
            c = cols.get(name)
            if c:
                return F.trim(F.col(f"`{c}`").cast("string"))
        return F.lit(None).cast("string")

    out = df.select(
        F.upper(get("STUDY_ID", "TRIAL_NAME")).alias("trial_name"),
        get("SITE_ID").alias("site_id"),
        get("SUBJECT_ID", "SUBJECTID").alias("subject_id"),
        get("SAMPLE_ID", "SAMPLE_CD").alias("sample_cd"),
        get("PLATFORM").alias("platform"),
        F.when(
            F.coalesce(get("TISSUETYPE", "TISSUE_TYPE"), F.lit("")) == "",
            F.lit(DEFAULT_TISSUE_TYPE),
        ).otherwise(get("TISSUETYPE", "TISSUE_TYPE")).alias("tissue_type"),
        get("ATTR1", "ATTRIBUTE_1").alias("attribute_1"),
        get("ATTR2", "ATTRIBUTE_2").alias("attribute_2"),
        get("CATEGORY_CD").alias("category_cd"),
        F.coalesce(
            F.when(get("SOURCE_CD") == "", None).otherwise(get("SOURCE_CD")),
            F.lit("STD"),
        ).alias("source_cd"),
    )
    blank = (
        (F.coalesce(F.col("subject_id"), F.lit("")) == "")
        | (F.coalesce(F.col("sample_cd"), F.lit("")) == "")
        | (F.coalesce(F.col("platform"), F.lit("")) == "")
        | (F.coalesce(F.col("category_cd"), F.lit("")) == "")
    )
    summary = out.agg(
        F.bool_or(blank).alias("blank"),
        # a struct keeps a null study in the set: it counts as a study
        F.slice(F.sort_array(F.collect_set(F.struct("trial_name"))), 1, 2).alias(
            "studies"
        ),
        F.sort_array(F.collect_set("platform")).alias("platforms"),
        # with no blank sample or platform, more (sample, platform)
        # pairs than samples means a sample has two platforms
        F.count_distinct("sample_cd", "platform").alias("pairs"),
        F.count_distinct("sample_cd").alias("samples"),
    ).first()
    if summary["blank"]:
        raise LoadValidationError("Incorrect mapping file: mandatory columns not defined")
    studies = [s["trial_name"] for s in summary["studies"]]
    if len(studies) != 1:
        raise LoadValidationError(f"Multiple studies in one mapping file: {studies}")
    if trial_id is not None and studies[0] != trial_id.upper():
        raise LoadValidationError(
            f"Study ID {studies[0]} doesn't match expected {trial_id}"
        )
    return SampleMapping(
        out, studies[0], summary["platforms"], summary["pairs"] > summary["samples"]
    )


def open_sample_mapping(
    spark: SparkSession, data_dir: str, trial_id: str | None
) -> tuple[str, SampleMapping]:
    """The first ``*_Subject_Sample_Mapping_File*.txt`` of an HDD upload
    directory, read and checked by its aborts: the loaders' shared first step
    (I2B2_LOAD_SAMPLES.sql:94-193). With ``trial_id=None`` the file's
    own STUDY_ID governs; either way the result's ``trial_id`` is the
    upper-cased study id."""
    names = [f for f in sorted(os.listdir(data_dir)) if _MAPPING_RE.match(f)]
    if not names:
        raise LoadValidationError(f"no subject-sample mapping file in {data_dir}")
    path = os.path.join(data_dir, names[0])
    checked = read_sample_mapping(spark, path, trial_id)
    validate_sample_mapping(checked)
    return path, checked


def build_sample_mapping(
    mapping: DataFrame, top_node: str, platforms: list[GplPlatform]
) -> DataFrame:
    r"""de_subject_sample_mapping (I2B2_LOAD_SAMPLES.sql:659-830) with
    deterministic surrogate ids: patient_num/assay_id hash the natural
    keys (trial:site:subject, trial:sample) instead of DB sequences.

    Each sample's concept path is templated here, once
    (I2B2_LOAD_SAMPLES.sql:318-366): PLATFORM → the title of the row's
    own platform (empty for a null or unknown one, which collapses the
    segment, :334-336), TISSUETYPE/ATTR1/ATTR2 substituted, ``+``→``\``,
    ``_``→space, backslash runs collapsed. ``build_hdd_nodes`` builds
    the ontology from these paths. All of one loader's platforms share
    a marker type, so ``platform`` is ``platforms[0]``'s."""
    usub = F.regexp_replace(
        F.concat_ws(
            ":", F.col("trial_name"), F.coalesce(F.col("site_id"), F.lit("")), F.col("subject_id")
        ),
        "(::)+", ":",
    )
    titles = F.create_map(*(F.lit(v) for p in platforms for v in (p.platform, p.title)))
    subst = F.col("category_cd")
    subst = F.replace(
        subst, F.lit("PLATFORM"),
        F.coalesce(F.try_element_at(titles, F.col("platform")), F.lit("")),
    )
    subst = F.replace(subst, F.lit("ATTR1"), F.coalesce(F.col("attribute_1"), F.lit("")))
    subst = F.replace(subst, F.lit("ATTR2"), F.coalesce(F.col("attribute_2"), F.lit("")))
    subst = F.replace(
        subst, F.lit("TISSUETYPE"),
        F.coalesce(F.col("tissue_type"), F.lit("Unspecified Tissue Type")),
    )
    subst = F.regexp_replace(subst, r"\+", "\\\\")
    subst = F.regexp_replace(subst, "_", " ")
    leaf = F.regexp_replace(
        F.concat(F.lit(top_node), subst, F.lit("\\")), r"(\\){2,}", "\\\\"
    )
    return mapping.select(
        "trial_name",
        usub.alias("sourcesystem_cd"),
        F.xxhash64(usub).alias("patient_id"),
        # one assay per (trial, sample, platform, source_cd) — the same
        # sample loaded on two platforms keeps two assay rows
        # (ExpressionDataProcessorTest.testItLoadsSameSamplesForDifferentPlatforms),
        # and the reference scopes the sample upsert by source_cd too
        # (I2B2_LOAD_SAMPLES.sql:675-681), so two sources' reloads of
        # the same sample/platform coexist rather than collide
        F.xxhash64(
            F.concat_ws(
                ":",
                F.col("trial_name"),
                F.col("sample_cd"),
                F.col("platform"),
                F.coalesce(F.col("source_cd"), F.lit("STD")),
            )
        ).alias("assay_id"),
        "sample_cd",
        F.lit(platforms[0].marker_type).alias("platform"),
        F.col("platform").alias("gpl_id"),
        "tissue_type",
        "attribute_1",
        "attribute_2",
        # de_subject_sample_mapping's names for the same attributes
        # (I2B2_LOAD_SAMPLES.sql sample upsert: ATTR1 → sample_type,
        # ATTR2 → timepoint)
        F.col("attribute_1").alias("sample_type"),
        F.col("attribute_2").alias("timepoint"),
        "category_cd",
        leaf.alias("concept_path"),
        F.sha2(leaf, 256).substr(1, 16).alias("concept_code"),
        "source_cd",
    )


def build_hdd_nodes(samples: DataFrame) -> DataFrame:
    """The ontology nodes of a ``build_sample_mapping`` frame: each
    distinct concept path is a leaf (LAH), and ``fill_in_tree`` adds
    its folders (FA)."""
    leaves = samples.select(F.col("concept_path").alias("path")).distinct()
    nodes = fill_in_tree(leaves)
    leaf_set = leaves.withColumn("is_leaf", F.lit(True))
    return (
        nodes.join(leaf_set, on="path", how="left")
        .select(
            F.col("path").alias("c_fullname"),
            F.col("hlevel").alias("c_hlevel"),
            F.col("name").alias("c_name"),
            F.sha2(F.col("path"), 256).substr(1, 16).alias("c_basecode"),
            F.when(F.coalesce(F.col("is_leaf"), F.lit(False)), F.lit("LAH"))
            .otherwise(F.lit("FA"))
            .alias("c_visualattributes"),
        )
    )


@dataclass
class OmicsType:
    """One row of the reference's processor registry
    (DataProcessorFactory.groovy:5-24): the data-file pattern, the
    de_gpl_info marker type, and the matrix layout (probe column index
    + first sample column index; None = after the probe column)."""

    name: str
    data_file_re: re.Pattern
    marker_type: str
    probe_idx: int = 0
    first_sample_idx: int | None = None
    required_header: tuple[int, str] | None = None
    #: already-long input (RBM): (sample_idx, probe_idx, value_idx)
    long_format: tuple[int, int, int] | None = None
    #: non-positive-raw policy + log rounding for data_type R — the
    #: reference's zscore-calc twins differ per family (see
    #: operators/zscore.log_transform r_zero docstring)
    r_zero: str = "filter"
    log_round: int | None = None
    #: which data-type branches the reference rounds — proteomics
    #: rounds both R and L, miRNA only R (see zscore.log_transform)
    log_round_types: tuple[str, ...] = ("R", "L")
    #: data-type override for R/L inputs (miRNA qPCR routes both to
    #: the dCt 'C' transform — I2B2_PROCESS_QPCR_MIRNA_DATA.sql:1076)
    data_type_override: str | None = None
    #: drop negative raws from a dataType-R FILE before the probe
    #: collapse (miRNA only: I2B2_PROCESS_QPCR_MIRNA_DATA.sql:1002
    #: `CASE WHEN dataType='R' THEN sign(intensity) ELSE 1 END <> -1`
    #: at the wt_subject_mirna_probeset insert, applied for BOTH
    #: MIRNA_QPCR and MIRNA_SEQ — the check runs on the file's
    #: dataType, before qPCR re-routes to 'C')
    negative_r_filter: bool = False
    #: trim the annotation's probe id at load — only the proteomics
    #: and metabolomics annotation loaders do (trim(d.peptide),
    #: I2B2_LOAD_PROTEOMICS_ANNOT.sql:38; trim(d.biochemical_name),
    #: I2B2_LOAD_METABOLOMICS_ANNOT.sql:141); the mRNA/RNA/miRNA/RBM
    #: loaders (I2B2_LOAD_ANNOTATION_DEAPP / I2B2_RNA_ANNOTATION /
    #: I2B2_LOAD_MIRNA_ANNOT_DEAPP / I2B2_LOAD_RBM_ANNOTATION) insert
    #: the id verbatim
    trim_probe: bool = False


#: file patterns per etl/<Type>DataProcessor.groovy eachFileMatch
OMICS_TYPES = {
    "expression": OmicsType(
        "expression",
        re.compile(r".+_Gene_Expression_Data_([RLTZ])(_GPL\d+)*\.txt$", re.I),
        "Gene Expression",
        required_header=(0, "ID_REF"),
    ),
    "rnaseq": OmicsType(
        "rnaseq",
        re.compile(r".+_RNASeq_Data_([RLTZ])(_GPL\d+)*\.txt$", re.I),
        "RNASEQ",
    ),
    "protein": OmicsType(
        "protein",
        re.compile(r".+_PROTEIN_Data_([RLT])(_GPL\d+)*\.txt$", re.I),
        "PROTEOMICS",
        # header[0]=='PEPTIDE' ⇒ samples start at col 2 (skipping the
        # Majority-protein-IDs column), else col 1
        first_sample_idx=2,
        # i2b2_proteomics_zscore_calc.sql:150: log2(x + 0.001) over ALL
        # rows (zeros kept — ProteinDataProcessorTest expects 5 rows
        # for a protein with one zero sample), rounded to 4dp
        r_zero="shift_all",
        log_round=4,
        trim_probe=True,  # trim(d.peptide), I2B2_LOAD_PROTEOMICS_ANNOT.sql:38
    ),
    "metabolomics": OmicsType(
        "metabolomics",
        re.compile(r".+_METABOLOMICS_Data_([RLTZ])(_GPL\d+)*\.txt$", re.I),
        "METABOLOMICS",
        probe_idx=1,
        first_sample_idx=12,  # MetabolomicsDataProcessor.groovy:201
        required_header=(1, "BIOCHEMICAL"),
        # I2B2_METABOLOMICS_ZSCORE_CALC.sql:154: x<=0 -> log2(x+0.001)
        r_zero="shift_nonpos",
        # trim(d.biochemical_name), I2B2_LOAD_METABOLOMICS_ANNOT.sql:141
        trim_probe=True,
    ),
    "mirna_qpcr": OmicsType(
        "mirna_qpcr",
        re.compile(r".+_MIRNA_Data_([RLTZ])(_GPL\d+)*\.txt$", re.I),
        "MIRNA_QPCR",
        required_header=(0, "ID_REF"),
        # qPCR dCt values ARE negative logs: log = -(x), no log2 —
        # both R and L files route to the 'C' transform
        data_type_override="C",
        negative_r_filter=True,
    ),
    "mirna_seq": OmicsType(
        "mirna_seq",
        re.compile(r".+_MIRNA_Data_([RLTZ])(_GPL\d+)*\.txt$", re.I),
        "MIRNA_SEQ",
        required_header=(0, "ID_REF"),
        r_zero="zero",
        log_round=5,
        # the reference's L branch stores intensity_value unrounded
        # (I2B2_MIRNA_ZSCORE_CALC.sql:132-151) — 5dp applies to R only
        log_round_types=("R",),
        negative_r_filter=True,
    ),
    "rbm": OmicsType(
        "rbm",
        re.compile(r".+_RBM_Data_([RLTZ])(_GPL\d+)*\.txt$", re.I),
        "RBM",
        # RBMDataProcessor.groovy:185-205: already-long rows —
        # sampid(col 2) / Analyte(col 5) / avalue(col 7)
        long_format=(2, 5, 7),
        # I2B2_RBM_ZSCORE_CALC_NEW.sql:194: x<=0 -> log2(x+0.001)
        r_zero="shift_nonpos",
    ),
}

def read_omics_platform(
    spark: SparkSession,
    path: str,
    platform_id: str,
    marker_type: str,
    trim_probe: bool = False,
) -> GplPlatform:
    """Non-GEX platform annotation (etl/platforms/*.groovy): the probe
    id column is type-specific (Transcript ID / ID_REF / BIOCHEMICAL /
    peptide); fall back to column 0 (the reference's ProteinPlatform
    .groovy:60 also takes cols[0] as the peptide). All other columns
    ride along as the annotation payload. ``trim_probe`` mirrors the
    per-family annotation loaders: proteomics and metabolomics TRIM
    the probe id at insert (I2B2_LOAD_PROTEOMICS_ANNOT.sql:38,
    I2B2_LOAD_METABOLOMICS_ANNOT.sql:141), the other families insert
    verbatim."""
    from tmdataloader_spark.sources.tsv import read_head_meta

    meta = read_head_meta(path)
    df = read_tsv(spark, path, header=True, comment="#")
    # Per-family header regexes, full-match like the reference's
    # ``==~`` (MIRNAPlatform.groovy:50 ``(MIRNA[\s_]*)*ID`` and
    # RNASeqPlatform.groovy:44 ``(TRANSCRIPT[\s_]*)*ID`` both also
    # accept a bare ``ID``; RBMPlatform.groovy:46 ANTIGEN NAME;
    # MetabolomicsPlatform.groovy:46 BIOCHEMICAL)
    probe_candidates = re.compile(
        r"^(ID_REF|BIOCHEMICAL|PEPTIDE"
        r"|(TRANSCRIPT[\s_]*|MIRNA[\s_]*|PROBE[\s_]*)?ID"
        r"|ANTIGEN[\s_]*NAME)$",
        re.I,
    )
    probe_col = next(
        (c for c in df.columns if probe_candidates.match(c.strip())), df.columns[0]
    )
    probe = F.col(f"`{probe_col}`").cast("string")
    if trim_probe:
        probe = F.trim(probe)
    ann = df.select(
        F.lit(platform_id).alias("gpl_id"),
        probe.alias("probeset_id"),
        *[F.col(f"`{c}`") for c in df.columns if c != probe_col],
    )
    return GplPlatform(
        platform=platform_id,
        title=meta.get("PLATFORM_TITLE", platform_id),
        organism=meta.get("SPECIES", meta.get("ORGANISM", "Homo sapiens")),
        marker_type=marker_type,
        annotation=ann,
    )


def load_hdd(
    spark: SparkSession,
    data_dir: str | os.PathLike,
    trial_id: str | None,
    top_node: str,
    omics: str = "expression",
    log_base: float = 2.0,
    use_first_gene_id: bool = False,
    use_t: bool = False,
) -> HDDLoadResult:
    """``use_t`` is the reference's ``-t`` flag ("do not force Z
    datatype for T expression data"); in this engine T and Z take the
    same already-transformed path through the zscore kernel, so the
    flag only preserves the declared type. The parameterized HDD pipeline: one kernel instantiated per
    omics type (the reference's six ~1100-LoC stored-procedure twins —
    I2B2_PROCESS_MRNA_DATA, I2B2_PROCESS_RNA_DATA,
    I2B2_PROCESS_PROTEOMICS_DATA, I2B2_PROCESS_METABOLOMIC_DATA,
    I2B2_PROCESS_QPCR_MIRNA_DATA, I2B2_LOAD_RBM_DATA)."""
    ot = OMICS_TYPES[omics]
    data_dir = str(data_dir)
    _, checked = open_sample_mapping(spark, data_dir, trial_id)
    trial = checked.trial_id

    def read_platform(gpl: str) -> GplPlatform:
        path = os.path.join(data_dir, f"{gpl}.txt")
        if ot.name == "expression":
            return read_gpl(
                spark, path, gpl, marker_type=ot.marker_type,
                use_first_gene_id=use_first_gene_id,
            )
        return read_omics_platform(
            spark, path, gpl, ot.marker_type, trim_probe=ot.trim_probe
        )

    platforms = [read_platform(gpl) for gpl in checked.platforms]

    matrix_files = [
        os.path.join(data_dir, f)
        for f in sorted(os.listdir(data_dir))
        if ot.data_file_re.match(f)
    ]
    if not matrix_files:
        raise LoadValidationError(f"no {ot.name} matrix in {data_dir}")
    file_data_type = (
        ot.data_file_re.match(os.path.basename(matrix_files[0])).group(1).upper()
    )
    data_type = file_data_type
    if data_type == "T" and not use_t:
        # Groovy forces T→Z unless the -t/--use-t flag is set ("do not
        # force Z datatype"; ExpressionDataProcessor.groovy:72-75 and
        # the same guard in MIRNA/RBM/SNP processors)
        data_type = "Z"
    elif ot.data_type_override is not None and data_type in ("R", "L"):
        data_type = ot.data_type_override

    wide = read_tsv(spark, matrix_files[0], header=True, comment="#")
    if ot.required_header is not None:
        idx, expected = ot.required_header
        if wide.columns[idx].strip().upper() != expected:
            raise LoadValidationError(
                f"Incorrect {ot.name} data file: expected {expected} at column {idx}"
            )
    if ot.long_format is not None:
        s_idx, p_idx, v_idx = ot.long_format
        hdr = wide.columns
        if hdr[s_idx].strip().upper() != "SAMPID" and "ANALYTE" not in hdr[p_idx].upper():
            raise LoadValidationError(f"Incorrect {ot.name} data file")
        melted = wide.select(
            F.lit(trial).alias("trial_name"),
            F.col(f"`{hdr[p_idx]}`").cast("string").alias("probeset_id"),
            F.col(f"`{hdr[s_idx]}`").cast("string").alias("expr_id"),
            F.col(f"`{hdr[v_idx]}`").cast("string").alias("intensity"),
        ).filter(
            (F.col("probeset_id").isNotNull())
            & (F.col("expr_id").isNotNull())
            & (F.col("intensity").isNotNull())
        )
    else:
        id_col = wide.columns[ot.probe_idx]
        first_sample = ot.first_sample_idx
        if ot.name == "protein" and wide.columns[0].strip().upper() != "PEPTIDE":
            first_sample = 1  # ProteinDataProcessor.groovy:190-191
        sample_cols = (
            wide.columns[first_sample:] if first_sample is not None else None
        )
        melted = melt_expression_matrix(
            wide, probe_col=id_col, trial=trial, sample_cols=sample_cols
        )

    samples = build_sample_mapping(checked.frame, top_node, platforms)
    nodes = build_hdd_nodes(samples)
    patients = upsert_sample_patients(samples, None)

    # J2: tag with assay ids (broadcast: samples ≪ matrix cells) and
    # keep only the probes the sample's own platform annotates
    # (gpl_id=platform)
    probes = reduce(
        DataFrame.unionByName,
        (p.annotation.select("gpl_id", "probeset_id") for p in platforms),
    ).distinct()
    tagged = (
        melted.join(
            F.broadcast(
                samples.select(F.col("sample_cd").alias("expr_id"), "assay_id", "gpl_id")
            ),
            on="expr_id", how="inner",
        )
        .join(F.broadcast(probes), on=["gpl_id", "probeset_id"], how="left_semi")
    )
    # miRNA drops negative raws from a dataType-R FILE before the
    # probe collapse — the reference checks sign() on the file's
    # dataType, before qPCR re-routes R to the 'C' transform
    # (I2B2_PROCESS_QPCR_MIRNA_DATA.sql:1002)
    if ot.negative_r_filter and file_data_type == "R":
        tagged = tagged.filter(F.col("intensity").try_cast("double") >= 0)
    # A4: duplicate probes per assay collapse to mean, then the kernel
    collapsed = tagged.groupBy("probeset_id", "assay_id").agg(
        F.avg(F.col("intensity").try_cast("double")).alias("intensity")
    )
    scored = zscore(
        collapsed, data_type=data_type, probe_col="probeset_id",
        value_col="intensity", log_base=log_base,
        r_zero=ot.r_zero, log_round=ot.log_round,
        log_round_types=ot.log_round_types,
    )
    data = scored.select(
        F.lit(trial).alias("trial_name"),
        "probeset_id",
        "assay_id",
        F.col("raw_intensity"),
        F.col("log_intensity"),
        F.col("zscore"),
    )
    return HDDLoadResult(
        sample_mapping=samples,
        data=data,
        i2b2=nodes,
        patient_dimension=patients,
        platforms=platforms,
        observation_fact=sample_facts(samples),
        trial_id=trial,
    )


_DIMENSIONS_RE = re.compile(r".+_Sample_Dimensions_Mapping\.txt$", re.I)


def read_sample_dimensions(
    spark: SparkSession, path: str | os.PathLike, study_id: str
) -> DataFrame:
    """SerialHDD sample-dimension mapping → ``(study_id, category_cd,
    c_metadataxml)`` with the reference's ``<SeriesMeta>`` XML
    (etl/SerialHDDDataLoader.groovy:49-80: header must start
    Category_CD; ``_``→space on the category)."""
    df = read_tsv(spark, path, header=True, comment="#")
    if not re.match(r"(?i)category_cd", df.columns[0].strip()):
        raise LoadValidationError("Incorrect sample dimension file header!")
    c0, c1, c2, c3 = df.columns[:4]
    xml = F.concat(
        F.lit('<?xml version="1.0"?><ValueMetadata><Oktousevalues>Y</Oktousevalues>'
              "<SeriesMeta><Value>"),
        F.col(f"`{c1}`").cast("string"),
        F.lit("</Value><Unit>"),
        F.col(f"`{c2}`").cast("string"),
        F.lit("</Unit><DisplayName>"),
        F.col(f"`{c3}`").cast("string"),
        F.lit("</DisplayName></SeriesMeta></ValueMetadata>"),
    )
    return df.select(
        F.lit(study_id.upper()).alias("study_id"),
        F.replace(F.col(f"`{c0}`").cast("string"), F.lit("_"), F.lit(" ")).alias(
            "category_cd"
        ),
        xml.alias("c_metadataxml"),
    )


def load_serial_hdd(
    spark: SparkSession,
    data_dir: str | os.PathLike,
    trial_id: str | None,
    top_node: str,
    omics: str = "expression",
    log_base: float = 2.0,
    use_first_gene_id: bool = False,
    use_t: bool = False,
) -> HDDLoadResult:
    """X11 (§2.10, 5 of the 18 processor types): the regular HDD load
    plus timepoint sort keys — ``<SeriesMeta>`` c_metadataxml applied
    to the ontology nodes whose name matches the dimension category
    (I2B2_PROCESS_SERIAL_HDD_DATA.sql:62-74; the per-family variant
    I2B2_PROCESS_GENERIC_SERIAL_HDDDATA.sql routes the same XML attach
    through each omics' staging table — here one parameterized plan
    serves all five serial families)."""
    result = load_hdd(
        spark, data_dir, trial_id, top_node, omics, log_base,
        use_first_gene_id=use_first_gene_id, use_t=use_t,
    )
    dim_files = [
        os.path.join(str(data_dir), f)
        for f in sorted(os.listdir(str(data_dir)))
        if _DIMENSIONS_RE.match(f)
    ]
    if not dim_files:
        raise LoadValidationError(
            f"File with sample dimensions mapping was not found in {data_dir}!"
        )
    dims = read_sample_dimensions(spark, dim_files[0], result.trial_id)
    i2b2 = result.i2b2.join(
        F.broadcast(dims.select(F.col("category_cd").alias("c_name"), "c_metadataxml")),
        on="c_name",
        how="left",
    )
    result.i2b2 = i2b2
    return result


class HddMergeResult(NamedTuple):
    """merge_hdd_samples output; unpacks as ``data, mapping`` for the
    common case, with the optionally-merged warehouse frames behind."""

    data: DataFrame
    mapping: DataFrame
    patient_dimension: DataFrame | None = None
    sample_facts: DataFrame | None = None

    def __iter__(self):  # 2-tuple unpack compatibility
        return iter((self.data, self.mapping))


def merge_hdd_samples(
    old_data: DataFrame,
    old_mapping: DataFrame,
    new_data: DataFrame,
    new_mapping: DataFrame,
    old_patients: DataFrame | None = None,
    old_facts: DataFrame | None = None,
) -> HddMergeResult:
    """Sample-level merge on reload (I2B2_LOAD_SAMPLES.sql:659-830
    upsert; ExpressionDataProcessorTest.testItMergeSamples): a sample
    present in the incoming load replaces its existing rows —
    mapping by (trial_name, sample_cd, gpl_id, source_cd) as the
    reference scopes both the mapping update and the data delete
    (I2B2_LOAD_SAMPLES.sql:675-681; I2B2_PROCESS_MRNA_DATA.sql:213-217),
    data by the assay ids those samples hash to — and every other
    existing sample survives. The same sample on a DIFFERENT platform
    (or source_cd) is a different key, so multi-platform sample sets
    coexist (testItLoadsSameSamplesForDifferentPlatforms).

    When ``old_patients`` / ``old_facts`` are passed, the reference
    reload's remaining effects are composed in the same call: new
    subjects are upserted into patient_dimension
    (I2B2_LOAD_SAMPLES.sql:211-260) and the per-sample observation
    facts are rebuilt for merged samples (:839-887).

    Plan shape: two left_anti joins against the incoming sample keys
    (small per-load dims, broadcast by AQE) + unions — no full-table
    rewrite; pair with ``write_partitioned`` for the storage swap."""
    keys = ["trial_name", "sample_cd", "gpl_id", "source_cd"]
    new_keys = new_mapping.select(*keys).distinct()
    merged_mapping = old_mapping.join(new_keys, keys, "left_anti").unionByName(
        new_mapping
    )
    # data rows to drop: the OLD assays of replaced samples (looked up
    # through old_mapping — assay ids are content-hashes and normally
    # stable across reloads, but the delete must not depend on that)
    # plus any old rows already carrying an incoming assay id
    replaced_assays = (
        old_mapping.join(new_keys, keys)
        .select("assay_id")
        .unionByName(new_mapping.select("assay_id"))
        .distinct()
    )
    merged_data = old_data.join(replaced_assays, "assay_id", "left_anti").unionByName(
        new_data
    )
    merged_patients = (
        upsert_sample_patients(new_mapping, old_patients)
        if old_patients is not None
        else None
    )
    merged_facts = None
    if old_facts is not None:
        # facts of replaced samples go away with the sample; refreshed
        # facts come from the merged mapping (same concept per sample).
        # The delete is SCOPED the way the reference scopes it
        # (I2B2_LOAD_SAMPLES.sql:269-275: concept_cd + patient within
        # the incoming trial/source/platform) — anti-joining on bare
        # sample_cd would wipe the same sample_cd's facts belonging to
        # OTHER trials, platforms, and source_cds, which
        # sample_facts(new_mapping) does not restore.
        new_fact_keys = new_mapping.select(
            F.col("trial_name").alias("sourcesystem_cd"),
            "sample_cd",
            F.col("concept_code").alias("concept_cd"),
        ).distinct()
        merged_facts = old_facts.join(
            new_fact_keys, ["sourcesystem_cd", "sample_cd", "concept_cd"], "left_anti"
        ).unionByName(sample_facts(new_mapping))
    return HddMergeResult(merged_data, merged_mapping, merged_patients, merged_facts)


def write_partitioned(data: DataFrame, path: str, trial_id: str | None = None) -> None:
    """Per-study partition replacement (I2B2_PROCESS_MRNA_DATA.sql:
    189-222): dynamic partition overwrite of only this study's
    partition — reload = overwrite, no index dance."""
    (
        data.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("trial_name")
        .parquet(path)
    )
