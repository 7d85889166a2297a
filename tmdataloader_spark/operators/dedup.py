"""Duplicate detection / dedup / consistency guards (SURVEY.md §2.5
A7–A10, §2.6 W2/W5).

The reference's guards ABORT the load (I2B2_LOAD_CLINICAL_DATA.sql:
656-716); here they raise before any write, after a cheap distributed
check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


class LoadValidationError(RuntimeError):
    """Raised when a reference abort-condition fires (duplicate numeric
    rows, inconsistent visit names, non-unique study id)."""


def find_duplicates(df: DataFrame, keys: list[str]) -> DataFrame:
    """A7: key groups with >1 row
    (I2B2_LOAD_CLINICAL_DATA.sql:656-693)."""
    return df.groupBy(*keys).agg(F.count("*").alias("dup_count")).filter(F.col("dup_count") > 1)


# the reference's duplicates.csv column layout (ClinicalDataProcessor
# checkDuplicates path; fixture ExpectedDuplicates.csv)
DUPLICATES_REPORT_COLUMNS = [
    "site_id",
    "subject_id",
    "visit_name",
    "data_label",
    "category_cd",
    "modifier_cd",
    "link_value",
]


def duplicates_report(df: DataFrame, keys: list[str]) -> DataFrame:
    """Distinct duplicate key tuples in the reference's
    ``duplicates.csv`` column layout — columns outside ``keys`` are
    null, mirroring the reference's empty fields."""
    out = find_duplicates(df, keys).select(*keys)
    for c in DUPLICATES_REPORT_COLUMNS:
        if c not in keys:
            out = out.withColumn(c, F.lit(None).cast("string"))
    return out.select(*DUPLICATES_REPORT_COLUMNS)


def assert_no_duplicates(df: DataFrame, keys: list[str], report: bool = False) -> None:
    """Abort on duplicate keys. With ``report``, the raised error
    carries a ``duplicates`` attribute listing the distinct duplicate
    key tuples (reference: config.checkDuplicates writes
    duplicates.csv before failing the load). Capped at 10k rows — the
    report is a driver-side artifact by design, as in the reference."""
    dups = find_duplicates(df, keys).limit(1).collect()
    if dups:
        err = LoadValidationError(f"duplicate rows for keys {keys}: {dups[0].asDict()}")
        if report:
            err.duplicates = duplicates_report(df, keys).limit(10000).collect()
        raise err


def dedup_keep_one(
    df: DataFrame, keys: list[str], order_col: str | list[str] | None = None
) -> DataFrame:
    """A8/W2: keep one row per key — DISTINCT ON equivalent
    (I2B2_LOAD_CLINICAL_DATA.sql:634-645). With ``order_col`` (one
    column or a list) the kept row is deterministic: lexicographic min
    over the order columns then over the remaining payload, like W5's
    MIN(RECORD_ID) (I2B2_CREATE_FULL_TREE.sql:21-28). Without,
    arbitrary like the reference.

    Implemented as ``min(struct(...))`` aggregation, not a
    row_number window: partial aggregation collapses each group
    map-side, so the shuffle carries one row per key per input
    partition instead of every input row — the difference between a
    sort-based and an agg-based plan at 100 TB. (Also strictly more
    deterministic than row_number, which breaks order ties
    arbitrarily.)"""
    if order_col is None:
        return df.dropDuplicates(keys)
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    payload = order_cols + [c for c in df.columns if c not in keys and c not in order_cols]
    picked = df.groupBy(*keys).agg(
        F.min(F.struct(*[F.col(c) for c in payload])).alias("_m")
    )
    return picked.select(
        *[F.col(f"_m.{c}").alias(c) if c in payload else F.col(c) for c in df.columns]
    )


def visit_consistency_report(
    df: DataFrame,
    group_cols: list[str] | None = None,
    visit_col: str = "visit_name",
) -> DataFrame:
    """A9 violation report: groups where ``visit_col`` is PARTIALLY
    null — the rows that WOULD abort the load
    (I2B2_LOAD_CLINICAL_DATA.sql:697-716).  Returns
    ``(group_cols..., n_null bigint, n_set bigint)``; an empty frame
    means the load is consistent.

    Scale shape: one map-side-combined aggregate on the group key —
    the same single shuffle the abort probe already paid."""
    group_cols = group_cols or ["category_cd", "data_label", "data_value"]
    return (
        df.groupBy(*group_cols)
        .agg(
            F.sum(F.when(F.col(visit_col).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null"),
            F.sum(F.when(F.col(visit_col).isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_set"),
        )
        .filter((F.col("n_null") > 0) & (F.col("n_set") > 0))
    )


def assert_visit_name_consistency(
    df: DataFrame,
    group_cols: list[str] | None = None,
    visit_col: str = "visit_name",
) -> None:
    """A9: per (category,label,value) group, visit_name must be all-null
    or all-non-null (I2B2_LOAD_CLINICAL_DATA.sql:697-716)."""
    bad = visit_consistency_report(df, group_cols, visit_col).limit(1).collect()
    if bad:
        raise LoadValidationError(f"inconsistent visit names in group {bad[0].asDict()}")


def study_id_report(
    df: DataFrame,
    study_col: str = "study_id",
    file_col: str | None = None,
) -> DataFrame:
    """A10 violation report: the distinct study ids a load would
    carry, with row counts (and, when ``file_col`` is given, how many
    source files each id appears in) — more than one output row, or a
    null/empty id, is the condition the reference aborts on
    (etl/ClinicalDataProcessor.groovy:253-277).  Returns
    ``(study_id, n_rows bigint[, n_files bigint])``.

    Scale shape: one aggregate on the study id — |distinct ids| rows
    out (normally 1)."""
    aggs = [F.count("*").cast("long").alias("n_rows")]
    if file_col is not None:
        aggs.append(F.count_distinct(F.col(file_col)).cast("long").alias("n_files"))
    return df.groupBy(F.col(study_col).alias("study_id")).agg(*aggs)
