r"""Clinical mapping-file compiler (SURVEY.md §2.2 F11/F12, §2.3 R1).

Reference semantics re-expressed Spark-first:
- mapping parse: etl/mappings/ClinicalDataMapping.groovy:69-189 —
  rows ``(filename, category_cd, col_nbr, data_label
  [, data_label_source, variable_type, validation_rules, baseline])``;
  special labels STUDY_ID/SITE_ID/SUBJ_ID/VISIT_NAME/SAMPLE_ID bind
  file-level columns; OMIT/DATA_LABEL rows map no entry; label ``\``
  takes the label from another column (``data_label_source`` =
  ``<col>[A|B]``).
- tag substitution: etl/mappings/TagReplacer.groovy:14,19-44,86-112 —
  ``$$TAG`` / ``$${TAG}`` in category_cd pull the tagged column's
  per-row value (rows with an empty tag value are dropped); values get
  ``+`` → ``(plus)`` and are wrapped in a ``$$<mangled>`` marker that
  the SQL layer later strips (I2B2_LOAD_CLINICAL_DATA.sql:373-375).
- per-row value fix: etl/ClinicalDataProcessor.groovy:335-347 (trim,
  strip wrapping quotes, drop ``\`` and ``*``, ``%``→``PCT``,
  ``&``→`` and ``, strip non-ASCII).
- melt: etl/ClinicalDataProcessor.groovy:51-164 — each data row × each
  mapping entry → one EAV row.

The mapping file is tiny and configures the job, so it's parsed on the
driver; the melt it drives is pure Spark: an array-of-structs +
``inline`` explode (single narrow stage, JVM-side, no shuffle — the
scale path for a 100 TB clinical load).
"""

from __future__ import annotations

import csv
import io
import os
import re
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from tmdataloader_spark.sources.tsv import read_tsv

SPECIAL_LABELS = {"STUDY_ID", "SITE_ID", "SUBJ_ID", "VISIT_NAME", "SAMPLE_ID"}

TAG_RE = re.compile(r"\$\$(\{[^}]+\}|[^+]+)")


@dataclass
class MappingEntry:
    category_cd: str
    column: int
    data_label: str | None = None
    data_label_source: int = 0
    data_label_source_type: str = "A"
    variable_type: str = "Text"
    validation_rules: str = ""
    baseline: str | None = None
    baseline_column: int = -1


@dataclass
class FileMapping:
    file_name: str
    study_id: int = 0
    site_id: int = 0
    subj_id: int = 0
    visit_name: int = 0
    sample_id: int = 0
    entries: list[MappingEntry] = field(default_factory=list)


class MappingError(ValueError):
    pass


MAX_CATEGORY_CD_LEN = 250  # i2b2 column width (ClinicalDataMapping.groovy:128-131)


def parse_mapping_file(path: str | os.PathLike) -> dict[str, FileMapping]:
    """Parse a clinical mapping file into per-data-file mappings
    (ClinicalDataMapping.groovy:69-189). Raw 1-based file line numbers
    ride along so validation messages match the reference's."""
    path = Path(path)
    with io.open(path, "r", encoding="utf-8", errors="replace") as fh:
        numbered = [
            (i, ln)
            for i, ln in enumerate(fh, 1)
            if not ln.startswith("#") and ln.strip()
        ]
    rows = [
        (n, r)
        for (n, _), r in zip(
            numbered, csv.reader((ln for _, ln in numbered), delimiter="\t")
        )
    ]
    if not rows:
        raise MappingError("Empty mapping file")
    header = [h.strip() for h in rows[0][1]]
    idx = {h: i for i, h in enumerate(header)}
    vt_i = idx.get("variable_type", -1)
    vr_i = idx.get("validation_rules", -1)
    bl_i = idx.get("baseline", -1)
    dls_i = idx.get("data_label_source", 4)

    mappings: dict[str, FileMapping] = {}
    for line_no, row in rows[1:]:
        row = row + [""] * (len(header) - len(row))
        file_name = row[0]
        fm = mappings.setdefault(file_name, FileMapping(file_name=file_name))
        data_label = row[3]
        if data_label in ("OMIT", "DATA_LABEL"):
            continue
        try:
            column = int(row[2])
        except ValueError as exc:
            raise MappingError(f"Invalid column index {row[2]!r} in {row}") from exc
        if data_label in SPECIAL_LABELS:
            setattr(fm, data_label.lower(), column)
            continue
        if len(row[1]) > MAX_CATEGORY_CD_LEN:
            raise MappingError(
                f"CATEGORY_CD is too long ({len(row[1])} > {MAX_CATEGORY_CD_LEN}) "
                f"for row [{line_no}]: {row}"
            )
        entry = MappingEntry(
            category_cd=row[1],
            column=column,
            variable_type=(row[vt_i].capitalize() if vt_i >= 0 and row[vt_i] else "Text"),
            validation_rules=row[vr_i] if vr_i >= 0 else "",
            baseline=(row[bl_i] or None) if bl_i >= 0 else None,
        )
        if data_label == "\\":
            m = re.match(r"^(\d+)(A|B)?$", row[dls_i])
            if not m or not entry.category_cd:
                raise MappingError(f"Invalid data_label_source {row[dls_i]!r} in {row}")
            entry.data_label_source = int(m.group(1))
            entry.data_label_source_type = m.group(2) or "A"
        else:
            entry.data_label = data_label
        fm.entries.append(entry)

    for fm in mappings.values():
        for e in fm.entries:
            if e.baseline:
                src = next((x for x in fm.entries if x.data_label == e.baseline), None)
                e.baseline_column = src.column if src else -1
    return mappings


def fix_column_expr(col: Column) -> Column:
    """The Groovy per-value fix (ClinicalDataProcessor.groovy:335-347)
    as a native expression chain."""
    c = F.trim(col)
    c = F.regexp_replace(c, r'^"(.+)"$', "$1")
    c = F.regexp_replace(c, r"\\", "")
    c = F.regexp_replace(c, "%", "PCT")
    c = F.regexp_replace(c, r"\*", "")
    c = F.regexp_replace(c, "&", " and ")
    c = F.regexp_replace(c, r"[^\p{ASCII}]", "")
    return c


def fix_column_py(s: str | None) -> str:
    """Driver-side twin of `fix_column_expr` for literal labels."""
    if s is None:
        return ""
    res = s.strip()
    m = re.match(r'^"(.+)"$', res)
    if m:
        res = m.group(1)
    res = res.replace("\\", "").replace("%", "PCT").replace("*", "")
    res = res.replace("&", " and ")
    return re.sub(r"[^\x00-\x7f]", "", res)


class _Mangler:
    """A..Z then 1A, 1B… marker names (TagReplacer.TagNameMangler)."""

    def __init__(self) -> None:
        self.counter = 0
        self.names: dict[str, str] = {}

    def get(self, name: str) -> str:
        if name not in self.names:
            c = self.counter
            mangled = chr(ord("A") + c % 26)
            if c >= 26:
                mangled = str(c // 26) + mangled
            self.names[name] = mangled
            self.counter += 1
        return self.names[name]


def _category_cd_expr(
    template: str,
    tag_to_col: dict[str, str],
    mangler: _Mangler,
) -> tuple[Column, list[str]]:
    """Compile a category_cd template with ``$$TAG`` refs into a concat
    expression producing the marker-wrapped substituted string, plus
    the list of referenced columns (for the empty-tag row drop)."""
    parts: list[Column] = []
    referenced: list[str] = []
    pos = 0
    for m in TAG_RE.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        tag = m.group(1)
        partial = tag.startswith("{")
        name = tag[1:-1] if partial else tag
        if name not in tag_to_col:
            raise MappingError(f"category_cd {template!r} references unknown tag {name!r}")
        src = tag_to_col[name]
        referenced.append(src)
        val = F.regexp_replace(F.coalesce(F.col(src), F.lit("")), r"\+", "(plus)")
        marker = F.lit("$$" + mangler.get(name))
        if partial:
            parts.append(F.concat(marker, F.lit("{"), val, F.lit("}")))
        else:
            parts.append(F.concat(marker, val))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    if not parts:
        parts = [F.lit("")]
    return F.concat(*parts), referenced


def substitute_tags(
    df: DataFrame,
    template: str,
    tag_to_col: dict[str, str],
    out_col: str = "category_cd",
    mangler: _Mangler | None = None,
    drop_empty: bool = True,
) -> DataFrame:
    """F12 as a public operator: substitute ``$$TAG`` / ``$${TAG}``
    references in ``template`` with the referenced columns' values,
    prefixing each with its mangled ``$$A``/``$$B``… marker
    (TagReplacer.groovy:14-44; marker names TagNameMangler) and
    mapping ``+`` inside values to ``(plus)``.  Rows where any
    referenced value is null/empty are dropped when ``drop_empty``
    (TagReplacer.groovy:104-110), exactly as the melt path does.

    Pure per-row codegen — no shuffle, no Python; the template
    compiles once driver-side into a concat chain."""
    mangler = mangler or _Mangler()
    expr, referenced = _category_cd_expr(template, tag_to_col, mangler)
    out = df.withColumn(out_col, expr)
    if drop_empty:
        for src in referenced:
            out = out.filter(
                F.coalesce(F.col(src).cast("string"), F.lit("")) != ""
            )
    return out


def _inject_datalabel(cat_cd: str, source_type: str) -> str:
    """DATALABEL placeholder injection for label-from-column entries
    (ClinicalDataProcessor.groovy:125-134): 'A' inserts before the
    last ``+`` component, 'B' appends."""
    if "DATALABEL" in cat_cd:
        return cat_cd
    if source_type == "A":
        m = re.match(r"^(.+)\+([^+]+?)$", cat_cd)
        if m:
            return f"{m.group(1)}+DATALABEL+{m.group(2)}"
        return cat_cd
    return cat_cd + "+DATALABEL"


def _validate_clinical_file(
    data_path: str | os.PathLike,
    study_id_col: int,
    expected_study_id: str | None = None,
    allow_non_unique_columns: bool = False,
) -> str | None:
    """The reference's read-time validations, driver-side like its
    line reader (clinical files are small; HDD matrices never pass
    through here):

    - bytes that decode to U+FFFD (non-UTF8 input) abort with the
      reference's context snippet (SkipLinesReader.groovy:106-115)
    - a clinical data file with DUPLICATE header names aborts with the
      reference's message unless the load runs with
      ``--allow-non-unique-columns`` (commons-csv throws at
      CsvLikeFile.groovy:46-49; the flag reaches only the clinical
      data-file read, ClinicalDataProcessor.groovy:56 — with it on,
      both engines position-suffix the duplicates and proceed:
      refinedHeader's ``name@pos`` there, Spark's ``nameN`` here; the
      melt addresses columns by POSITION, so the refined spelling
      never reaches the output)
    - every data row's STUDY_ID must equal the first one seen — a
      state the caller threads ACROSS a study's files via
      ``expected_study_id`` (ClinicalDataProcessor.groovy:73-81),
      message format included

    Returns the study id in effect after this file.
    """
    from tmdataloader_spark.operators.dedup import LoadValidationError

    p = Path(data_path)
    text = p.read_bytes().decode("utf-8", errors="replace")
    bad = text.find("�")
    if bad != -1:
        ctx = text[max(bad - 100, 0) : bad + 100]
        raise LoadValidationError(f"In this:\n {ctx} \nfound non visual symbol.")
    if not allow_non_unique_columns:
        for line in text.splitlines():
            if not line.strip() or line.startswith("# "):
                continue
            # commons-csv runs withAllowMissingColumnNames(true)
            # (CsvLikeFile.groovy:32): EMPTY header cells
            # (e.g. trailing tabs) are allowed any number of times —
            # only duplicate NON-empty names abort
            names = [c.strip() for c in line.split("\t")]
            names = [n for n in names if n]
            if len(set(names)) != len(names):
                raise LoadValidationError(
                    "Duplicate names found in the header. You should "
                    "either check and fix these names or use "
                    "`--allow-non-unique-columns` option"
                )
            break
    if study_id_col <= 0:
        return expected_study_id
    first = expected_study_id
    header_seen = False
    for i, line in enumerate(text.splitlines(), 1):
        if not line.strip() or line.startswith("# "):
            continue
        if not header_seen:
            header_seen = True
            continue
        cols = line.split("\t")
        sid = cols[study_id_col - 1].strip().upper() if study_id_col <= len(cols) else ""
        if not sid:
            continue
        if first is None:
            first = sid
        elif sid != first:
            raise LoadValidationError(
                f"STUDY_ID differs from previous in {i} line in {p.name} file."
            )
    return first


def melt_clinical_file(
    spark: SparkSession,
    data_path: str | os.PathLike,
    fm: FileMapping,
    visit_name_first: bool = False,
    expected_study_id: str | None = None,
    allow_non_unique_columns: bool = False,
) -> DataFrame:
    """R1: one data file × its mapping → the long EAV landing frame
    ``lt_src_clinical_data`` (study_id, site_id, subject_id,
    visit_name, sample_cd, data_label, data_value, category_cd,
    valuetype_cd, baseline_value).

    The per-entry projections build an array of structs exploded with
    ``inline`` — the Spark-native form of the Groovy per-row loop
    (ClinicalDataProcessor.groovy:51-164), one narrow stage.
    """
    _validate_clinical_file(
        data_path, fm.study_id, expected_study_id,
        allow_non_unique_columns=allow_non_unique_columns,
    )
    df = read_tsv(spark, data_path, header=True, comment="# ")
    cols = df.columns

    def by_idx(i: int) -> Column:
        # 1-based mapping index → column; index 0 = empty string
        if i <= 0 or i > len(cols):
            return F.lit(None).cast("string")
        return F.col(f"`{cols[i - 1]}`").cast("string")

    tag_to_col = {
        e.data_label: cols[e.column - 1]
        for e in fm.entries
        if e.data_label and 0 < e.column <= len(cols)
    }
    for name, i in (
        ("STUDY_ID", fm.study_id),
        ("SITE_ID", fm.site_id),
        ("SUBJ_ID", fm.subj_id),
        ("SAMPLE_ID", fm.sample_id),
    ):
        if 0 < i <= len(cols):
            tag_to_col[name] = cols[i - 1]

    mangler = _Mangler()
    structs: list[Column] = []
    for e in fm.entries:
        if not e.category_cd:
            continue
        cat_template = e.category_cd
        if e.data_label_source > 0:
            label = fix_column_expr(by_idx(e.data_label_source))
            cat_template = _inject_datalabel(cat_template, e.data_label_source_type)
        else:
            label = F.lit(fix_column_py(e.data_label))
        cat_expr, referenced = _category_cd_expr(cat_template, tag_to_col, mangler)
        cat_expr = fix_column_expr(cat_expr)
        # VISITNFST marker (visitNameFirst config), ClinicalDataProcessor.groovy:137-143
        if (
            visit_name_first
            and fm.visit_name > 0
            and not cat_template.endswith("+$")
            and "VISITNAME" not in cat_template
            and "+VISITNFST" not in cat_template
        ):
            cat_expr = F.concat(cat_expr, F.lit("+VISITNFST"))
        # empty-tag rows are dropped (TagReplacer.groovy:104-110)
        drop = F.lit(False)
        for src in referenced:
            drop = drop | (F.coalesce(F.col(src).cast("string"), F.lit("")) == "")
        valuetype = (
            F.lit(e.variable_type.upper())
            if e.variable_type in ("Timepoint", "Timestamp")
            else F.lit(None).cast("string")
        )
        baseline = by_idx(e.baseline_column) if e.baseline else F.lit(None).cast("string")
        structs.append(
            F.struct(
                F.when(drop, F.lit(True)).otherwise(F.lit(False)).alias("_drop"),
                label.alias("data_label"),
                fix_column_expr(F.coalesce(by_idx(e.column), F.lit(""))).alias("data_value"),
                cat_expr.alias("category_cd"),
                valuetype.alias("valuetype_cd"),
                baseline.alias("baseline_value"),
            )
        )

    base = df.select(
        F.upper(by_idx(fm.study_id)).alias("study_id"),
        by_idx(fm.site_id).alias("site_id"),
        by_idx(fm.subj_id).alias("subject_id"),
        by_idx(fm.visit_name).alias("visit_name"),
        by_idx(fm.sample_id).alias("sample_cd"),
        F.inline(F.array(*structs)) if structs else F.lit(None).alias("_none"),
    )
    return (
        base.filter(F.coalesce(F.col("study_id"), F.lit("")) != "")
        .filter(~F.col("_drop"))
        .drop("_drop")
    )


def melt_clinical_study(
    spark: SparkSession,
    mapping_path: str | os.PathLike,
    visit_name_first: bool = False,
    allow_non_unique_columns: bool = False,
) -> DataFrame:
    """All data files of one mapping file, unioned — the full
    ``lt_src_clinical_data`` landing frame for a study.
    ``allow_non_unique_columns`` is the reference's
    ``--allow-non-unique-columns`` flag: without it a data file with
    duplicate header names aborts the load (CsvLikeFile.groovy:46-49)."""
    mapping_path = Path(mapping_path)
    mappings = parse_mapping_file(mapping_path)
    out: DataFrame | None = None
    study_id: str | None = None
    for fname, fm in mappings.items():
        # one STUDY_ID per study load, shared across all its files
        # (ClinicalDataProcessor.groovy keeps usedStudyId per load)
        study_id = _validate_clinical_file(
            mapping_path.parent / fname,
            fm.study_id,
            study_id,
            allow_non_unique_columns=allow_non_unique_columns,
        )
        part = melt_clinical_file(
            spark,
            mapping_path.parent / fname,
            fm,
            visit_name_first=visit_name_first,
            allow_non_unique_columns=allow_non_unique_columns,
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise MappingError("mapping file maps no data files")
    return out
