r"""Study directory orchestration (SURVEY.md §2.1 S7, §3.1).

Reference: etl/DirectoryProcessor.groovy:37-113 — skip
``.``/``_DONE_``/``_FAIL_``/``_DISABLED_`` prefixes, a directory is a
study iff it has a ``<Type>Data(ToUpload)?`` child for a registered
processor type (DataProcessorFactory.groovy:5-24), nested dirs recurse
with their name appended to the root node; StudyProcessor.groovy:15-78
runs every matching type dir and marks ``_DONE_``/``_FAIL_``.

Spark shape: state lives in a MANIFEST table (study, type, dir,
status) instead of directory renames — renames don't compose with
object stores; the manifest is idempotent-resume-friendly."""

from __future__ import annotations

import os
import re
import zipfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from tmdataloader_spark.audit import AuditLog
from tmdataloader_spark.session import local_frame

#: DataProcessorFactory.groovy:5-24 (SerialHDD/ACGH/SNP/GWASPlink
#: types are recognized for routing; unimplemented ones are recorded
#: as SKIPPED in the manifest rather than silently ignored)
PROCESSOR_TYPES = [
    "Expression", "SNP", "VCF", "RBM", "Meta", "Clinical", "MIRNA_SEQ",
    "MIRNA_QPCRSerialHDD", "MIRNA_QPCR", "Protein", "Metabolomics",
    "MetabolomicsSerialHDD", "RNASeq", "RNASeqSerialHDD",
    "ExpressionSerialHDD", "ACGH", "GWASPlink", "ProteinSerialHDD",
]

_SKIP_RE = re.compile(r"^(\.|_DONE_|_FAIL_|_DISABLED_)")
_TYPE_DIR_RE = re.compile(
    r"^(?i:(%s))Data(ToUpload)?\b.*" % "|".join(PROCESSOR_TYPES)
)

#: omics routing: processor type -> OMICS_TYPES key
_HDD_ROUTE = {
    "Expression": "expression",
    "RNASeq": "rnaseq",
    "Protein": "protein",
    "Metabolomics": "metabolomics",
    "MIRNA_QPCR": "mirna_qpcr",
    "MIRNA_SEQ": "mirna_seq",
    "RBM": "rbm",
}

#: SerialHDD variants: same kernel + sample-dimension SeriesMeta XML
_SERIAL_HDD_ROUTE = {
    "ExpressionSerialHDD": "expression",
    "RNASeqSerialHDD": "rnaseq",
    "ProteinSerialHDD": "protein",
    "MetabolomicsSerialHDD": "metabolomics",
    "MIRNA_QPCRSerialHDD": "mirna_qpcr",
}


@dataclass
class StudyLoadResult:
    study_dir: str
    study_name: str
    node: str
    manifest: list = field(default_factory=list)  # (type, dir, status, error)
    results: dict = field(default_factory=dict)  # type -> load result object
    audit: AuditLog = field(default_factory=AuditLog)

    @property
    def succeeded(self) -> bool:
        return all(s[2] in ("DONE", "SKIPPED") for s in self.manifest)

    def manifest_df(self, spark: SparkSession) -> DataFrame:
        return local_frame(
            spark,
            [(self.study_name, *m) for m in self.manifest],
            "study string, data_type string, dir string, status string, error string",
        )


def is_study_dir(path: str) -> bool:
    """DirectoryProcessor.checkIfStudyPath: has a ``<Type>Data(ToUpload)?``
    child for a registered type."""
    if not os.path.isdir(path):
        return False
    return any(
        _TYPE_DIR_RE.match(child)
        for child in os.listdir(path)
        if os.path.isdir(os.path.join(path, child)) and not child.startswith((".", "_"))
    )


def discover_studies(
    root_dir: str, root: str = "", work_dir: str | None = None
) -> list[tuple[str, str]]:
    """Recursive study discovery: (study_dir, parent_node) pairs;
    nested dirs contribute their names to the node path. ``.zip``
    studies (S6) are unpacked into ``work_dir`` and discovered like
    directories (DirectoryProcessor.groovy:59-63)."""
    out: list[tuple[str, str]] = []
    for name in sorted(os.listdir(root_dir)):
        path = os.path.join(root_dir, name)
        if _SKIP_RE.match(name):
            continue
        if name.endswith(".zip") and os.path.isfile(path) and work_dir:
            unpacked = extract_zip_study(path, work_dir)
            if is_study_dir(unpacked):
                out.append((unpacked, root))
            continue
        if not os.path.isdir(path):
            continue
        if is_study_dir(path):
            out.append((path, root))
        else:
            out.extend(discover_studies(path, f"{root}\\{name}", work_dir))
    return out


def _type_dirs(study_dir: str, ptype: str) -> list[str]:
    pat = re.compile(rf"^(?:{re.escape(ptype)})Data(?:ToUpload)?\b.*", re.I)
    out = []
    for name in sorted(os.listdir(study_dir)):
        full = os.path.join(study_dir, name)
        if os.path.isdir(full) and pat.match(name) and not _SKIP_RE.match(name):
            # the case-insensitive match must not leak a longer type:
            # ExpressionData matches both Expression and ExpressionSerialHDD
            # patterns only via its own prefix
            prefix = name[: len(ptype)]
            if prefix.lower() == ptype.lower():
                suffix = name[len(ptype):]
                if re.match(r"^Data(ToUpload)?\b.*", suffix, re.I):
                    out.append(full)
    return out


def extract_zip_study(zip_path: str, work_dir: str) -> str:
    """S6: a ``.zip`` study is unpacked and processed as a directory
    (etl/ZipStudyProcessor.groovy)."""
    dest = os.path.join(work_dir, os.path.basename(zip_path)[:-4])
    with zipfile.ZipFile(zip_path) as zf:
        zf.extractall(dest)
    inner = os.listdir(dest)
    if len(inner) == 1 and os.path.isdir(os.path.join(dest, inner[0])):
        return os.path.join(dest, inner[0])
    return dest


def load_study(
    spark: SparkSession,
    study_dir: str,
    parent_node: str = "\\Test Studies",
    audit: AuditLog | None = None,
    use_first_gene_id: bool = False,
    highlight_clinical_data: bool = False,
    allow_non_unique_columns: bool = False,
    secure_study: bool = False,
    visit_name_first: bool = False,
    always_set_visit_name: bool = False,
    use_t: bool = False,
    check_duplicates: bool = False,
) -> StudyLoadResult:
    """Run every matching ``<Type>Data(ToUpload)?`` dir of one study
    (StudyProcessor.groovy:21-74) under audit; outcome per type goes
    into the manifest instead of a directory rename.

    ``check_duplicates`` is the reference's ``--check-duplicates``
    flag: the duplicate-key ABORT itself is unconditional (the
    procedure RAISEs either way, I2B2_LOAD_CLINICAL_DATA.sql:687-694);
    the flag additionally writes the offending key tuples as
    ``duplicates.csv`` next to the clinical data after the failed
    load (ClinicalDataProcessor.groovy:302-330)."""
    from tmdataloader_spark.plans.acgh import load_acgh
    from tmdataloader_spark.plans.clinical import load_clinical
    from tmdataloader_spark.plans.hdd import load_hdd
    from tmdataloader_spark.plans.metadata import load_study_metadata
    from tmdataloader_spark.plans.snp import load_snp
    from tmdataloader_spark.plans.vcf import load_vcf_study
    from tmdataloader_spark.sources.mapping import melt_clinical_study

    audit = audit or AuditLog()
    study_name = os.path.basename(study_dir.rstrip("/"))
    # '<Name>_<STUDY_ID>' convention; without it the per-type mapping
    # files' own STUDY_ID governs (None = let the loader derive it)
    study_id = study_name.rsplit("_", 1)[-1].upper() if "_" in study_name else None
    display_name = study_name.rsplit("_", 1)[0] if "_" in study_name else study_name
    node = f"{parent_node}\\{display_name}"
    top_node = node + "\\"
    result = StudyLoadResult(study_dir=study_dir, study_name=study_name, node=node, audit=audit)

    for ptype in PROCESSOR_TYPES:
        for type_dir in _type_dirs(study_dir, ptype):
            job = audit.start_job(f"load_{ptype.lower()}")
            audit.step(job, f"Processing {type_dir}")
            try:
                if ptype == "Clinical":
                    mappings = [
                        f
                        for f in sorted(os.listdir(type_dir))
                        if f.endswith("_Mapping_File.txt")
                    ]
                    if not mappings:
                        raise FileNotFoundError(f"no mapping file in {type_dir}")
                    landing = melt_clinical_study(
                        spark,
                        os.path.join(type_dir, mappings[0]),
                        visit_name_first=visit_name_first,
                        allow_non_unique_columns=allow_non_unique_columns,
                    )
                    trial = study_id or landing.select("study_id").first()[0]
                    res = load_clinical(
                        spark, landing, trial, top_node,
                        always_set_visit_name=always_set_visit_name,
                        highlight_study=highlight_clinical_data,
                        secure_study=secure_study,
                    )
                elif ptype in _HDD_ROUTE:
                    res = load_hdd(
                        spark, type_dir, study_id, top_node, _HDD_ROUTE[ptype],
                        use_first_gene_id=use_first_gene_id,
                        use_t=use_t,
                    )
                elif ptype in _SERIAL_HDD_ROUTE:
                    from tmdataloader_spark.plans.hdd import load_serial_hdd

                    res = load_serial_hdd(
                        spark, type_dir, study_id, top_node, _SERIAL_HDD_ROUTE[ptype],
                        use_first_gene_id=use_first_gene_id,
                        use_t=use_t,
                    )
                elif ptype == "VCF":
                    res = load_vcf_study(spark, type_dir, top_node)
                elif ptype == "SNP":
                    res = load_snp(spark, type_dir, study_id, top_node, use_first_gene_id=use_first_gene_id)
                elif ptype == "ACGH":
                    # the aCGH mapping file carries its own trial id
                    res = load_acgh(spark, type_dir, None, top_node)
                elif ptype == "GWASPlink":
                    from tmdataloader_spark.plans.gwas import load_gwas_plink

                    res = load_gwas_plink(spark, type_dir, top_node)
                elif ptype == "Meta":
                    res = load_study_metadata(spark, type_dir, study_id)
                else:
                    result.manifest.append((ptype, type_dir, "SKIPPED", None))
                    audit.step(job, f"{ptype} processor not implemented", 0, "Done")
                    audit.end_job(job, "SUCCESS")
                    continue
                result.results[ptype] = res
                result.manifest.append((ptype, type_dir, "DONE", None))
                audit.step(job, f"{ptype} load complete")
                audit.end_job(job, "SUCCESS")
            except Exception as e:  # noqa: BLE001 — manifest captures it
                result.manifest.append((ptype, type_dir, "FAIL", str(e)))
                audit.error(job, str(e))
                audit.end_job(job, "FAIL")
                if (
                    ptype == "Clinical"
                    and check_duplicates
                    and getattr(e, "duplicates", None)
                ):
                    _write_duplicates_csv(type_dir, e.duplicates)
    return result


def _write_duplicates_csv(type_dir: str, rows) -> str:
    """ClinicalDataProcessor.groovy:302-330: after a failed clinical
    load under ``--check-duplicates``, dump wt_clinical_data_dups as
    ``duplicates.csv`` in the data directory — reference header and
    empty-string nulls included (``it.site_id ?: ''``)."""
    import csv

    from tmdataloader_spark.operators.dedup import DUPLICATES_REPORT_COLUMNS

    path = os.path.join(str(type_dir), "duplicates.csv")
    with open(path, "w", newline="", encoding="utf-8") as fh:
        out = csv.writer(fh, lineterminator="\n")
        out.writerow(DUPLICATES_REPORT_COLUMNS)
        for r in rows:
            out.writerow(
                [r[c] if r[c] is not None else "" for c in DUPLICATES_REPORT_COLUMNS]
            )
    return path
