"""Columnar interchange — ORC alongside parquet, and schema-evolved
reads across dataset generations (reference analogue: the loader's
tolerance for per-study files whose column sets drift between
uploads, CsvLikeFile + mapping projection; re-expressed here at the
table level, the way a 100 TB corpus actually drifts: daily drops
that gain/lose/retype columns over months).

Scale notes: parquet schema evolution uses the native
``mergeSchema`` reader option (footer-only work — the schema union
happens over file metadata, no data scan); the generic path
(``read_evolved``) unions per-generation frames **byName** with
missing columns nulled and integral→wider numeric casts applied,
which stays a zero-shuffle scan-union (UnionExec concatenates
partitions; no exchange). Type WIDENING only — conflicting
incompatible types raise rather than silently coerce (the
reference's strictness: CsvLikeFile aborts on malformed cells,
sources/jsonl.py aborts above max_corrupt_fraction).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tmdataloader_spark.session import local_frame

#: numeric widening lattice — a type may be cast UP this chain only
_NUMERIC_ORDER = [
    T.ByteType(),
    T.ShortType(),
    T.IntegerType(),
    T.LongType(),
    T.FloatType(),
    T.DoubleType(),
]


def _widen(a: T.DataType, b: T.DataType) -> T.DataType:
    """Common supertype of two column types, widening only."""
    if a == b:
        return a
    if a in _NUMERIC_ORDER and b in _NUMERIC_ORDER:
        return max(a, b, key=_NUMERIC_ORDER.index)
    raise TypeError(
        f"incompatible column types across generations: {a.simpleString()} "
        f"vs {b.simpleString()} — widening covers numeric chains only; "
        "migrate the column explicitly"
    )


def common_schema(dfs: list[DataFrame]) -> T.StructType:
    """Union-of-columns schema across frames: first-seen column order,
    numeric types widened, conflicts raised."""
    fields: dict[str, T.DataType] = {}
    order: list[str] = []
    for df in dfs:
        for f in df.schema.fields:
            if f.name not in fields:
                fields[f.name] = f.dataType
                order.append(f.name)
            else:
                fields[f.name] = _widen(fields[f.name], f.dataType)
    return T.StructType([T.StructField(n, fields[n], True) for n in order])


def align_to(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto ``schema``: missing columns become typed
    nulls, present columns cast to the widened type — a pure
    per-partition projection (no shuffle)."""
    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in schema.fields:
        if f.name in have:
            c = F.col(f.name)
            if have[f.name] != f.dataType:
                c = c.cast(f.dataType)
            cols.append(c.alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def read_evolved(
    spark: SparkSession, paths: list[str], fmt: str = "parquet"
) -> DataFrame:
    """Read several dataset generations whose schemas drifted and
    return one frame on the widened common schema.

    For parquet the fast path is the native footer-merging reader
    (``mergeSchema``) — used when no generation needs a numeric
    widen; otherwise (and always for ORC, whose Spark reader does not
    merge schemas across files) each generation is read separately,
    aligned with :func:`align_to`, and unioned byName — still a flat
    scan-union, no exchange."""
    if not paths:
        raise ValueError("read_evolved needs at least one path")
    dfs = [getattr(spark.read, fmt)(p) for p in paths]
    schema = common_schema(dfs)  # raises on incompatible drift
    if fmt == "parquet" and all(
        {f.name: f.dataType for f in df.schema.fields}
        == {
            f.name: f.dataType
            for f in schema.fields
            if f.name in df.columns
        }
        for df in dfs
    ):
        merged = spark.read.option("mergeSchema", "true").parquet(*paths)
        # mergeSchema's column order is file-dependent; pin ours
        return align_to(merged, schema)
    return reduce(
        lambda a, b: a.unionByName(b),
        [align_to(df, schema) for df in dfs],
    )


def write_orc(df: DataFrame, path: str, mode: str = "error") -> None:
    """ORC sink (zlib default) — the second columnar interchange
    format next to parquet; same predicate-pushdown/column-pruning
    contract (asserted in tests via PushedFilters on the ORC scan)."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def schema_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Column-level drift report between two dataset generations:
    ``(column, status, old_type, new_type)`` with status ∈ added /
    removed / retyped / unchanged — the metadata twin of
    ``operators.diff.snapshot_diff`` (pure schema work, no data
    scan; the report a nightly loader logs before deciding whether
    :func:`read_evolved`'s widening covers the drift or a migration
    is due)."""
    o = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    n = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    order = list(o) + [c for c in n if c not in o]
    rows = []
    for c in order:
        if c not in n:
            rows.append((c, "removed", o[c], None))
        elif c not in o:
            rows.append((c, "added", None, n[c]))
        elif o[c] != n[c]:
            rows.append((c, "retyped", o[c], n[c]))
        else:
            rows.append((c, "unchanged", o[c], n[c]))
    return local_frame(
        old.sparkSession,
        rows,
        "column string, status string, old_type string, new_type string",
    )
