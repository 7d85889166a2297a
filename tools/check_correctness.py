"""Oracle check for the gate queries: run each
``__spark_entry__.queries()`` entry on Spark AND its
``oracle_sql()`` twin on DuckDB at the same sf, then compare
column names + COLUMN TYPES + row count + order-insensitive values.

The type check comes first because a result is only interchangeable
if it is the same at the Arrow level: DuckDB widens integer ``sum()``
to HUGEINT, which Arrow exports as decimal128(38,0), so bit-identical
values can still hash differently from Spark's bigint.  Any oracle
column whose DuckDB type has no matching Spark type fails BEFORE
values are compared — HUGEINT always fails with a CAST hint.

Value comparison is float-hex exact (``float.hex()``; ``-0.0``
distinct from ``0.0``), not 6dp-rounded: the partition-invariance
test already holds every query to bit-exactness, so the oracle twin
should too.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

#: DuckDB type (upper, parameter-free) -> Spark dtypes that compare
#: as the same physical type.  HUGEINT is deliberately absent: it means
#: an integer sum() the oracle forgot to CAST(... AS BIGINT).
#: All 64-bit-or-narrower integer types surface as plain Python ints in
#: both engines, so widths are one equivalence class.  HUGEINT is NOT
#: in the class: Arrow has no int128, so DuckDB exports it as
#: decimal128(38,0), a Decimal where Spark gives an int.
_INTS = {"tinyint", "smallint", "int", "bigint"}
_DUCK_TO_SPARK = {
    "BOOLEAN": {"boolean"},
    "TINYINT": _INTS,
    "SMALLINT": _INTS,
    "INTEGER": _INTS,
    "BIGINT": _INTS,
    "UBIGINT": set(),  # unsigned → Arrow uint64: always a bug
    "HUGEINT": set(),
    "FLOAT": {"float"},
    "DOUBLE": {"double"},
    "VARCHAR": {"string"},
    "DATE": {"date"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "TIMESTAMP WITH TIME ZONE": {"timestamp"},
}


def _spark_types_for(duck_type: str) -> set[str]:
    """Spark dtypes compatible with a DuckDB result type."""
    t = str(duck_type).upper().strip()
    if t.startswith("DECIMAL"):
        return {t.lower().replace(" ", "")}
    return _DUCK_TO_SPARK.get(t, set())


def is_complex_dtype(dtype: str) -> bool:
    """True for Spark/DuckDB output types a row-sorting canonicalizer
    cannot order (pandas ``sort_values`` over list/dict values raises
    ``unhashable type``).  Gate queries must emit only scalar
    columns."""
    t = str(dtype).lower().replace(" ", "")
    return (
        t.endswith("[]")
        or t.startswith(("array<", "map<", "struct<", "list(", "map(", "struct("))
    )


def check_types(spark_dtypes, duck_cols, duck_types) -> str | None:
    """Compare Spark schema against DuckDB oracle types by column
    name.  Returns a failure description or None."""
    sd = dict(spark_dtypes)
    problems = []
    for col, dtype in sd.items():
        if is_complex_dtype(dtype):
            problems.append(
                f"{col}: spark output type {dtype} is ARRAY/MAP/STRUCT — "
                f"rows cannot be canonicalized by sorting; flatten to "
                f"scalar columns"
            )
    for col, dtype in zip(duck_cols, duck_types):
        t = str(dtype).upper().strip()
        if is_complex_dtype(t):
            problems.append(
                f"{col}: oracle type {t} is a LIST/STRUCT/MAP — "
                f"flatten to scalar columns"
            )
            continue
        allowed = _spark_types_for(t)
        if t == "HUGEINT":
            problems.append(
                f"{col}: oracle HUGEINT (integer sum() widening) — "
                f"wrap as CAST(... AS BIGINT)"
            )
            continue
        got = sd.get(col)
        if got is None:
            continue  # column-name mismatch reported elsewhere
        if not allowed:
            problems.append(
                f"{col}: no Spark mapping for DuckDB type {t} (spark={got})"
            )
        elif got.replace(" ", "") not in allowed:
            problems.append(f"{col}: oracle {t} vs spark {got}")
    return "; ".join(problems) if problems else None


def _norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v.hex()
    if hasattr(v, "quantize"):  # Decimal — same (p,s) both sides
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    return str(v)


def normalize(rows, columns):
    """Sort columns by name, normalize values (float-hex exact), sort
    rows — the order-insensitive comparison shape."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        out.append(tuple(_norm_value(row[i]) for i in order))
    out.sort()
    return [columns[i] for i in order], out


def oracle_connection(sf_dir: str):
    """DuckDB connection with the standard table views registered."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_query(spark, con, name: str, sf_dir: str) -> str | None:
    """Run one gate query on Spark and its oracle on DuckDB, compare
    (columns, types, rowcount, order-insensitive float-hex values).
    Returns None on match, else a failure description.  Importable —
    tests/test_oracle.py runs it over every query."""
    import __spark_entry__ as entry

    sdf = entry.queries()[name](spark, sf_dir)
    scols = sdf.columns
    rel = con.sql(entry.oracle_sql()[name])
    dcols = list(rel.columns)
    terr = check_types(sdf.dtypes, dcols, rel.types)
    if terr:
        return f"types: {terr}"
    srows = sdf.collect()
    drows = rel.fetchall()
    sc, sv = normalize([tuple(r) for r in srows], scols)
    dc, dv = normalize(drows, dcols)
    if sc != dc:
        return f"columns {sc} != {dc}"
    if len(sv) != len(dv):
        return f"rowcount {len(sv)} != {len(dv)}"
    if sv != dv:
        diff = [(a, b) for a, b in zip(sv, dv) if a != b][:3]
        return f"values differ, first diffs: {diff}"
    return None


def main():
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entry

    unknown = only - set(entry.queries())
    if unknown:
        # silently matching an empty set would report success for a
        # query that was never wired into queries() — fail loudly
        print(f"unknown queries (not in __spark_entry__.queries()): {sorted(unknown)}")
        sys.exit(2)
    from tmdataloader_spark.session import get_spark

    spark = get_spark("check-correctness")
    con = oracle_connection(sf_dir)

    failed = []
    for name in entry.queries():
        if only and name not in only:
            continue
        try:
            err = check_query(spark, con, name, sf_dir)
        except Exception as e:
            err = f"error: {e}"
        if err:
            print(f"FAIL  {name}: {err}")
            failed.append(name)
        else:
            print(f"ok    {name}")
    print()
    if failed:
        print(f"FAILED ({len(failed)}): {', '.join(failed)}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
