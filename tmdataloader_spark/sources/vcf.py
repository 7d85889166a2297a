r"""VCF source + variant-store load (SURVEY.md §2 S4, R3, J10).

Reference behavior (cited per element):
- header parse / column detection / GT split regex ``(\d+|\.)([/|])(\d+|\.)``
  — src/main/groovy/.../files/VcfFile.groovy:122-213
- per-sample genotype explode, variant/variant_format assembly, SNV/DIV
  typing, INFO typing into integer/float/text columns —
  src/main/groovy/.../etl/VCFDataProcessor.groovy:152-264
- the 6 variant tables + assay linkage —
  sql/postgres/procedures/I2B2_PROCESS_VCF_DATA.sql:76-85

Spark-first shape: the ``##`` header is tiny and driver-parsed; the
body is ``spark.read.text`` → one narrow split/regexp projection (all
JVM expressions, whole-stage codegen) → ``posexplode`` for samples and
probeset ids. No Python UDFs anywhere. At 100 TB the body scan
parallelizes per file-split like any text source; genotype explode
multiplies rows by #samples but stays narrow (no shuffle until a
downstream groupBy).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from tmdataloader_spark.session import local_frame

#: FILES/VcfFile.groovy:129 — allele1, separator, allele2 (haploid: no sep/allele2)
GT_PATTERN = r"(\d+|\.)(?:([/|])(\d+|\.))?"

VCF_COLUMNS = ["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"]


@dataclass
class VcfHeader:
    """Driver-side parse of the ``##`` head comments + ``#CHROM`` line
    (files/VcfFile.groovy:169-213)."""

    columns: list[str]
    samples: list[str]
    info_fields: list[dict] = field(default_factory=list)  # id/description/type/number

    @property
    def info_types(self) -> dict[str, str]:
        return {f["id"]: f.get("type") for f in self.info_fields}


_INFO_KV = re.compile(r""",?(\w+)=('[^']*'|"[^"]*"|[^,]*)""")


def parse_vcf_header(path: str) -> VcfHeader:
    """Read only the leading ``##``/``#CHROM`` lines (a few KB even for
    a 100 GB VCF) and type the INFO fields
    (files/VcfFile.groovy:190-213: ``##INFO=<...>`` → id, description,
    Type ∈ {Integer, Float, Flag, Character, String}, number)."""
    info_fields = []
    columns: list[str] = []
    with open(path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if line.startswith("##"):
                body = line[2:]
                m = re.match(r"^INFO=<(.*)>$", body)
                if m:
                    fields = {}
                    for kv in _INFO_KV.finditer(m.group(1)):
                        v = kv.group(2)
                        if v[:1] in ("'", '"'):
                            v = v[1:-1]
                        fields[kv.group(1).lower()] = v
                    info_fields.append(fields)
            elif line.startswith("#"):
                columns = line.split("\t")
                break
            else:
                break
    if not columns:
        raise ValueError(f"no #CHROM header line in {path}")
    for required in VCF_COLUMNS:
        if required not in columns:
            raise ValueError(f"Column {required} was not found in {path}")
    first_sample = columns.index("FORMAT") + 1
    return VcfHeader(
        columns=columns, samples=columns[first_sample:], info_fields=info_fields
    )


def read_vcf(spark: SparkSession, path: str, header: VcfHeader | None = None) -> DataFrame:
    """Body scan: one row per VCF line with typed fixed columns plus
    ``sample_values`` array (aligned with ``header.samples``) — a pure
    projection over ``spark.read.text``."""
    header = header or parse_vcf_header(path)
    idx = {name: header.columns.index(name) for name in VCF_COLUMNS}
    n_fixed = len(VCF_COLUMNS)
    lines = spark.read.text(path).filter(~F.col("value").startswith("#"))
    parts = F.split(F.col("value"), "\t")
    return lines.select(
        F.element_at(parts, idx["#CHROM"] + 1).alias("chr"),
        F.element_at(parts, idx["POS"] + 1).cast("long").alias("pos"),
        F.element_at(parts, idx["ID"] + 1).alias("rs_ids"),
        F.element_at(parts, idx["REF"] + 1).alias("ref"),
        F.element_at(parts, idx["ALT"] + 1).alias("alt"),
        F.element_at(parts, idx["QUAL"] + 1).alias("qual"),
        F.element_at(parts, idx["FILTER"] + 1).alias("filter"),
        F.element_at(parts, idx["INFO"] + 1).alias("info"),
        F.element_at(parts, idx["FORMAT"] + 1).alias("format"),
        F.slice(parts, n_fixed + 1, len(header.samples)).alias("sample_values"),
    )


def gt_summary_cols(a1s: Column, sep: Column, a2s: Column, ref: Column, alts: Column):
    """The variant/variant_format/reference/allele assembly of
    VCFDataProcessor.groovy:209-250 as pure columns.

    ``a1s``/``a2s`` are the raw GT tokens ('0', '1', …, '.', or ''
    when absent), ``sep`` is '/' or '|' ('' for haploid), ``alts`` is
    the split ALT array. Returns (variant, variant_format, reference,
    allele1, allele2)."""
    a1 = F.when(a1s.rlike(r"^\d+$"), a1s.cast("int"))
    a2 = F.when(a2s.rlike(r"^\d+$"), a2s.cast("int"))
    haploid = sep == ""

    def side(tok: Column, n: Column):
        v = F.when(tok == "0", ref).when(n.isNotNull(), F.element_at(alts, n)).otherwise(
            F.lit("")
        )
        f = F.when(tok == "0", F.lit("R")).when(n.isNotNull(), F.lit("V")).otherwise(
            F.lit("")
        )
        return v, f

    lv, lf = side(a1s, a1)
    rv, rf = side(a2s, a2)
    variant = F.when(haploid, lv).otherwise(F.concat(lv, sep, rv))
    variant_format = F.when(haploid, lf).otherwise(F.concat(lf, sep, rf))
    # haploid: reference only for explicit '0' (VCFDataProcessor.groovy:212-221)
    ref_hap = a1s == "0"
    ref_dip = (a1.isNull() | (a1 == 0)) & (a2.isNull() | (a2 == 0))
    reference = F.when(haploid, ref_hap).otherwise(ref_dip)
    return variant, variant_format, reference, a1, a2


def variant_type_col(ref: Column, alts: Column) -> Column:
    """SNV iff 1-char REF and a single 1-char ALT, else DIV
    (VCFDataProcessor.groovy:206-207)."""
    return F.when(
        (F.length(ref) == 1) & (F.size(alts) == 1) & (F.length(F.element_at(alts, 1)) == 1),
        F.lit("SNV"),
    ).otherwise(F.lit("DIV"))


def subject_detail(entries: DataFrame, dataset_id: str) -> DataFrame:
    """de_variant_subject_detail: the raw VCF row, one per probeset id
    (ID split on ';' — VCFDataProcessor.groovy:252-264); sample values
    re-joined with tabs."""
    return entries.select(
        F.lit(dataset_id).alias("dataset_id"),
        F.explode(F.split(F.col("rs_ids"), ";", -1)).alias("rs_id"),
        "chr",
        "pos",
        "ref",
        "alt",
        "qual",
        "filter",
        "info",
        "format",
        F.array_join(F.col("sample_values"), "\t").alias("variant_value"),
    )


def subject_summary(entries: DataFrame, dataset_id: str, samples: list[str]) -> DataFrame:
    """de_variant_subject_summary: one row per sample × probeset id
    for every line whose FORMAT carries GT
    (VCFDataProcessor.groovy:152-161, 200-250)."""
    gt_idx = F.array_position(F.split(F.col("format"), ":", -1), "GT").cast("int")
    alts = F.split(F.col("alt"), ",", -1)
    samples_arr = F.array(*[F.lit(s) for s in samples])
    ex = (
        entries.withColumn("_gt_idx", gt_idx)
        .filter(F.col("_gt_idx") > 0)  # no GT in FORMAT -> no summary rows
        .withColumn("_alts", alts)
        .select(
            "*",
            F.posexplode(F.col("sample_values")).alias("_spos", "_sval"),
        )
        .withColumn("subject_id", F.element_at(samples_arr, F.col("_spos") + 1))
        .withColumn(
            "_gt", F.element_at(F.split(F.col("_sval"), ":", -1), F.col("_gt_idx"))
        )
    )
    a1s = F.regexp_extract(F.col("_gt"), GT_PATTERN, 1)
    sep = F.regexp_extract(F.col("_gt"), GT_PATTERN, 2)
    a2s = F.regexp_extract(F.col("_gt"), GT_PATTERN, 3)
    variant, variant_format, reference, a1, a2 = gt_summary_cols(
        a1s, sep, a2s, F.col("ref"), F.col("_alts")
    )
    return ex.select(
        F.lit(dataset_id).alias("dataset_id"),
        "subject_id",
        F.explode(F.split(F.col("rs_ids"), ";", -1)).alias("rs_id"),
        "chr",
        "pos",
        variant.alias("variant"),
        variant_format.alias("variant_format"),
        variant_type_col(F.col("ref"), F.col("_alts")).alias("variant_type"),
        reference.alias("reference"),
        a1.alias("allele1"),
        a2.alias("allele2"),
    )


def population_info(header: VcfHeader, dataset_id: str, spark: SparkSession) -> DataFrame:
    """de_variant_population_info: the typed ##INFO declarations
    (VCFDataProcessor.groovy:163-169)."""
    rows = [
        (
            dataset_id,
            f.get("id"),
            f.get("description"),
            f.get("type"),
            f.get("number"),
        )
        for f in header.info_fields
    ]
    return local_frame(
        spark,
        rows,
        "dataset_id string, info_name string, description string, type string, number string",
    )


def population_data(
    entries: DataFrame, header: VcfHeader, dataset_id: str
) -> DataFrame:
    """de_variant_population_data: INFO key=value pairs exploded per
    value index and routed to integer/float/text columns by the
    header-declared type; undeclared fields are DROPPED (with a warning
    in the reference) and bare flags read as 1
    (VCFDataProcessor.groovy:168-198)."""
    spark = entries.sparkSession
    types = local_frame(
        spark,
        [(f["id"], f.get("type")) for f in header.info_fields if f.get("id")],
        "info_name string, _type string",
    )
    kv = (
        entries.filter((F.col("info") != "") & (F.col("info") != "."))
        .select(
            "chr",
            "pos",
            F.explode(F.split(F.col("info"), ";", -1)).alias("_kv"),
        )
        .withColumn("info_name", F.split(F.col("_kv"), "=", 2).getItem(0))
        .withColumn(
            "_valstr",
            F.when(
                F.col("_kv").contains("="), F.substring_index(F.col("_kv"), "=", -1)
            ),
        )
    )
    # substring_index breaks when the value itself contains '='; use the
    # 2-limit split's second element instead (null when no '=')
    kv = kv.withColumn("_valstr", F.element_at(F.split(F.col("_kv"), "=", 2), 2))
    typed = kv.join(F.broadcast(types), on="info_name", how="inner")
    values = F.when(F.col("_valstr").isNotNull(), F.split(F.col("_valstr"), ",", -1)).otherwise(
        F.when(F.col("_type") == "Flag", F.array(F.lit("1"))).otherwise(
            F.array().cast("array<string>")
        )
    )
    ex = typed.select(
        "chr",
        "pos",
        "info_name",
        "_type",
        F.posexplode(values).alias("info_index", "_value"),
    )
    return ex.select(
        F.lit(dataset_id).alias("dataset_id"),
        "chr",
        "pos",
        "info_name",
        "info_index",
        F.when(
            F.col("_type").isin("Integer", "Flag"), F.col("_value").try_cast("int")
        ).alias("integer_value"),
        F.when(F.col("_type") == "Float", F.col("_value").try_cast("float")).alias(
            "float_value"
        ),
        F.when(F.col("_type").isin("Character", "String"), F.col("_value")).alias(
            "text_value"
        ),
    )


def subject_index(header: VcfHeader, dataset_id: str, spark: SparkSession) -> DataFrame:
    """de_variant_subject_idx: sample order in the VCF header
    (VCFDataProcessor.groovy:139-147)."""
    return local_frame(
        spark,
        [(dataset_id, s, i + 1) for i, s in enumerate(header.samples)],
        "dataset_id string, subject_id string, position int",
    )


def link_assays(summary: DataFrame, sample_mapping: DataFrame) -> DataFrame:
    """J10 (I2B2_PROCESS_VCF_DATA.sql:76-85): attach assay_id from
    de_subject_sample_mapping on sample_cd = subject_id. The mapping is
    a per-study dimension — broadcast."""
    dim = sample_mapping.select(
        F.col("sample_cd").alias("subject_id"), "assay_id"
    ).dropDuplicates(["subject_id"])
    return summary.join(F.broadcast(dim), on="subject_id", how="left")
