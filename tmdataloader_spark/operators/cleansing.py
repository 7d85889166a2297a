r"""Clinical value/label/category cleansing chain (SURVEY.md §2.2 F1–F9).

The reference runs ~10 sequential UPDATE/DELETE statements over
``wrk_clinical_data`` (sql/postgres/procedures/I2B2_LOAD_CLINICAL_DATA.sql:238-541).
Here each step is a Column expression or a narrow frame transform, and
``plans/clinical.py`` composes them into one projection — no shuffle,
fully codegen'd, and Catalyst fuses it with the scan. At 100 TB this
is the difference between 10 passes over the data and 1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

# Tag-marker normalization used to group rows "per category" while tag
# values are still embedded: $$1A{Some Value} / $$1ASomeValue → $$1A
# (I2B2_LOAD_CLINICAL_DATA.sql:345-350)
TAG_NORM_PATTERN = r"\$\$(\d*[A-Z])(\{[^}]+\}|[^+]+)"
TAG_NORM_REPLACEMENT = "\\$\\$$1"


def drop_empty_values(df: DataFrame, value_col: str = "data_value") -> DataFrame:
    """F1: delete rows with null/empty value
    (I2B2_LOAD_CLINICAL_DATA.sql:238-240)."""
    return df.filter(F.coalesce(F.col(value_col), F.lit("")) != "")


def fix_pipes(col: Column) -> Column:
    """F2: trim leading/trailing ``|``, inner ``|`` → ``-``
    (I2B2_LOAD_CLINICAL_DATA.sql:259-262)."""
    c = F.regexp_replace(col, r"^\|+", "")
    c = F.regexp_replace(c, r"\|+$", "")
    return F.regexp_replace(c, r"\|", "-")


def fix_parens(col: Column) -> Column:
    """F3: two sequential conditional passes, exactly as the reference
    (I2B2_LOAD_CLINICAL_DATA.sql:280-305):

    1. strip ALL ``(`` when the value contains ``()``, ``( )``, or an
       ``(`` with no ``)`` anywhere;
    2. on the RESULT of pass 1, strip ALL ``)`` when it contains
       ``()``, ``( )``, or a ``)`` with no ``(``.

    Replacement is the empty string (not a space); balanced non-empty
    parens like ``(a)`` are left untouched."""
    v = col
    trigger1 = (
        v.contains("()") | v.contains("( )") | (v.contains("(") & ~v.contains(")"))
    )
    v1 = F.when(trigger1, F.replace(v, F.lit("("), F.lit(""))).otherwise(v)
    trigger2 = (
        v1.contains("()") | v1.contains("( )") | (v1.contains(")") & ~v1.contains("("))
    )
    return F.when(trigger2, F.replace(v1, F.lit(")"), F.lit(""))).otherwise(v1)


def label_pipe_to_comma(col: Column) -> Column:
    """F4: in data_label, ``|`` → ``,``
    (I2B2_LOAD_CLINICAL_DATA.sql:322-324)."""
    return F.regexp_replace(col, r"\|", ",")


def normalize_tag_markers(col: Column | str) -> Column:
    """Collapse embedded tag values so rows group "per category":
    ``$$1A{Some Value}`` / ``$$1ASomeValue`` → ``$$1A``
    (the grouping key of I2B2_LOAD_CLINICAL_DATA.sql:345-350)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, TAG_NORM_PATTERN, TAG_NORM_REPLACEMENT)


def suppress_single_visit(
    df: DataFrame,
    visit_col: str = "visit_name",
    category_col: str = "category_cd",
) -> DataFrame:
    """F7 rule 1 (I2B2_LOAD_CLINICAL_DATA.sql:344-351): null
    visit_name when the tag-normalized category has exactly one
    distinct UPPER(visit_name). Window per normalized category — no
    self-join; count(distinct) ignores nulls, so all-null groups are
    untouched (count 0 ≠ 1), matching the reference HAVING."""
    norm = normalize_tag_markers(category_col)
    w = Window.partitionBy(norm)
    n_visits = F.size(F.collect_set(F.upper(F.col(visit_col))).over(w))
    return df.withColumn(
        visit_col, F.when(n_visits == 1, F.lit(None)).otherwise(F.col(visit_col))
    )


def suppress_visit_names(
    df: DataFrame,
    visit_col: str = "visit_name",
    category_col: str = "category_cd",
    label_col: str = "data_label",
    value_col: str = "data_value",
    always_set_visit_name: bool = False,
) -> DataFrame:
    """F7 rules 1–3 (I2B2_LOAD_CLINICAL_DATA.sql:344-351,495-541):
    - single distinct visit per tag-normalized category (unless
      alwaysSetVisitName)
    - visit equals the data_label (exact, case-sensitive — :495-516)
    - visit equals the data_value (:520-541)

    Rule 4 (VISITNAME absent from a terminator path, :478-484) needs
    category_path — see :func:`suppress_terminated_path`."""
    if not always_set_visit_name:
        df = suppress_single_visit(df, visit_col, category_col)
    visit = F.col(visit_col)
    visit = F.when(visit == F.col(label_col), F.lit(None)).otherwise(visit)
    visit = F.when(visit == F.col(value_col), F.lit(None)).otherwise(visit)
    return df.withColumn(visit_col, visit)


def suppress_terminated_path(
    df: DataFrame,
    path_col: str = "category_path",
    visit_col: str = "visit_name",
    label_col: str = "data_label",
) -> DataFrame:
    """F7 rule 4 + its data_label twin
    (I2B2_LOAD_CLINICAL_DATA.sql:478-490): on terminator paths (ending
    ``$``), null visit_name unless the path mentions VISITNAME, and
    null data_label unless it mentions DATALABEL — avoids duplicate
    trial nodes."""
    p = F.col(path_col)
    terminated = p.endswith("$")
    df = df.withColumn(
        visit_col,
        F.when(terminated & ~p.contains("VISITNAME"), F.lit(None)).otherwise(
            F.col(visit_col)
        ),
    )
    return df.withColumn(
        label_col,
        F.when(terminated & ~p.contains("DATALABEL"), F.lit(None)).otherwise(
            F.col(label_col)
        ),
    )
