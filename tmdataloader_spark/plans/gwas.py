r"""GWAS PLINK loader (SURVEY.md §2.1 S5).

Reference: etl/GWASPlinkDataProcessor.groovy:25-143 — ``MappingFile
.txt`` meta header (STUDY_ID mandatory, optional BFILE basename and
CATEGORY_CD), ``.bed/.bim/.fam`` detection (exactly one candidate
each), fam validation (6 whitespace-separated columns, IID ≠ '0',
sex ∈ {0,1,2}), blobs into ``gwas_plink.plink_data``, and every fam
subject through the shared samples loader under ``GWAS+GWAS Plink``.

Spark shape: the binary files ride as ``binaryFile`` rows (BinaryType
column). The reference LZO-compresses into bytea
(GWASPlinkDataProcessor.groovy:130-142, raw LZO1X via
org.anarres.lzo); the default ``codec='lzo'`` stores the same raw
LZO1X stream format through the pure-Python codec in
``functions.lzo``, so a consumer holding the reference's blobs (or
ours) decodes either; ``codec='none'`` stores verbatim bytes and
leaves compression to the parquet page codec."""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from tmdataloader_spark.operators.dedup import LoadValidationError
from tmdataloader_spark.plans.hdd import build_hdd_nodes, build_sample_mapping
from tmdataloader_spark.session import local_frame
from tmdataloader_spark.sources.gpl import GplPlatform
from tmdataloader_spark.sources.tsv import read_head_meta


@dataclass
class GwasPlinkLoadResult:
    study_id: str
    plink_data: DataFrame  # (study_id, bed, bim, fam, codec)
    sample_mapping: DataFrame
    i2b2: DataFrame


def _detect(data_dir: str, ext: str) -> str:
    cands = [f for f in sorted(os.listdir(data_dir)) if f.endswith(ext)]
    if len(cands) > 1:
        raise LoadValidationError(
            f"Can't detect {ext}: too many candidates ({', '.join(cands)})"
        )
    if not cands:
        raise LoadValidationError(f"Can't detect {ext}: no candidates")
    return os.path.join(data_dir, cands[0])


def validate_fam(path: str) -> list[str]:
    """GWASPlinkDataProcessor.groovy:24-49: 6 columns, IID ≠ '0',
    sex ∈ {0,1,2}; returns the within-family ids (= subjects)."""
    ids: list[str] = []
    with open(path, encoding="utf-8", errors="replace") as fh:
        for n, line in enumerate(fh, 1):
            line = line.strip()
            if not line:
                continue
            tokens = re.split(r"\s+", line)
            prefix = f"{os.path.basename(path)}:{n}"
            if len(tokens) != 6:
                raise LoadValidationError(
                    f"{prefix}: Invalid columns count: expected 6, but was {len(tokens)}"
                )
            if tokens[1] == "0":
                raise LoadValidationError(f"{prefix}: Invalid IID, cannot be '0'")
            if tokens[4] not in ("0", "1", "2"):
                raise LoadValidationError(
                    f"{prefix}: Invalid sex value. Expected '1' = male, '2' = female, "
                    f"'0' = unknown, but was '{tokens[4]}'"
                )
            ids.append(tokens[1])
    return ids


def validate_fam_lines(
    lines: DataFrame, line_col: str = "line", no_col: str = "line_no"
) -> DataFrame:
    """Distributed twin of :func:`validate_fam`
    (GWASPlinkDataProcessor.groovy:24-49): per-line verdicts over a
    frame of raw ``.fam`` lines instead of a driver-side file walk —
    the shape that holds when the cohort manifest is itself large.
    Blank lines are skipped (as the file parser does); each surviving
    line yields ``(line_no, iid, error)`` where ``error`` is NULL for
    a valid line or the first failed rule in the reference's order:
    column count != 6, IID == '0', sex not in {0,1,2}.  Pure per-row
    codegen — split/size/element_at — no shuffle, no UDF."""
    toks = F.split(F.trim(F.col(line_col)), r"\s+")
    n = F.size(toks)
    iid = F.element_at(toks, 2)
    sex = F.element_at(toks, 5)
    error = (
        F.when(
            n != 6,
            F.concat(F.lit("Invalid columns count: expected 6, but was "), n),
        )
        .when(iid == "0", F.lit("Invalid IID, cannot be '0'"))
        .when(
            ~sex.isin("0", "1", "2"),
            F.concat(
                F.lit(
                    "Invalid sex value. Expected '1' = male, '2' = female, "
                    "'0' = unknown, but was '"
                ),
                sex,
                F.lit("'"),
            ),
        )
    )
    return (
        lines.filter(F.trim(F.col(line_col)) != "")
        .select(
            F.col(no_col).alias("line_no"),
            F.when(n == 6, iid).alias("iid"),
            error.alias("error"),
        )
    )


def load_gwas_plink(
    spark: SparkSession,
    data_dir: str | os.PathLike,
    top_node: str,
    codec: str = "lzo",
) -> GwasPlinkLoadResult:
    """``codec='lzo'`` (default) stores the bed/bim/fam bytes as raw
    LZO1X streams — the byte format the reference writes into
    ``gwas_plink.plink_data`` (GWASPlinkDataProcessor.groovy:130-142;
    the DB-side twin I2B2_PROCESS_GWAS_PLINK_DATA.sql stages the same
    blob row and sample nodes)
    — via the pure-Python codec in ``functions.lzo``;
    ``codec='none'`` stores verbatim bytes (parquet page compression
    still applies)."""
    if codec not in ("lzo", "none"):
        raise ValueError(f"unknown codec {codec!r}")
    data_dir = str(data_dir)
    mapping_files = [
        f for f in sorted(os.listdir(data_dir)) if re.search(r"(?:^|_)MappingFile\.txt$", f)
    ]
    if not mapping_files:
        raise LoadValidationError("Missing mapping file for GWAS Plink Data")
    meta = read_head_meta(os.path.join(data_dir, mapping_files[0]))
    study_id = (meta.get("STUDY_ID") or "").upper()
    if not study_id:
        raise LoadValidationError(
            "No STUDY_ID specified in mapping file (ex: # STUDY_ID: MYSTUDY)"
        )
    if meta.get("BFILE"):
        bed, bim, fam = (
            os.path.join(data_dir, f"{meta['BFILE']}{ext}")
            for ext in (".bed", ".bim", ".fam")
        )
        missing = [p for p in (bed, bim, fam) if not os.path.exists(p)]
        if missing:
            raise LoadValidationError(
                "One or more required files are missing: "
                + ", ".join(os.path.basename(p) for p in missing)
            )
    else:
        bed, bim, fam = (_detect(data_dir, ext) for ext in (".bed", ".bim", ".fam"))

    subject_ids = validate_fam(fam)

    from tmdataloader_spark.functions.lzo import compress

    def blob(p: str) -> bytes:
        with open(p, "rb") as fh:
            data = fh.read()
        return compress(data) if codec == "lzo" else data

    plink = local_frame(
        spark,
        [(study_id, blob(bed), blob(bim), blob(fam), codec)],
        "study_id string, bed binary, bim binary, fam binary, codec string",
    )

    category_cd = meta.get("CATEGORY_CD") or "GWAS+GWAS Plink"
    mapping = local_frame(
        spark,
        [
            (study_id, None, sid, sid, "", None, None, None, category_cd, "STD")
            for sid in subject_ids
        ],
        "trial_name string, site_id string, subject_id string, sample_cd string, "
        "platform string, tissue_type string, attribute_1 string, attribute_2 string, "
        "category_cd string, source_cd string",
    )
    platform = GplPlatform(
        platform="", title="", organism="Homo sapiens", marker_type="GWAS", annotation=None
    )
    samples = build_sample_mapping(mapping, top_node, [platform])
    nodes = build_hdd_nodes(samples)
    return GwasPlinkLoadResult(
        study_id=study_id, plink_data=plink, sample_mapping=samples, i2b2=nodes
    )
