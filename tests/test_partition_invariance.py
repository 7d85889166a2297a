"""Partition-invariance property: every gate query must produce
BIT-IDENTICAL output under different physical partitionings.

This is the failure class the round-4 driver caught in ``sessionize``:
``round(sum(<double>), 6)`` depends on partial-aggregation order, so
the same query on the same data could hash differently between runs /
engines. The repo's determinism recipe (decimal(38,6) sums, micro-unit
quantized long sums, integer-exact kmeans) exists precisely so this
test can demand EXACT equality — full float precision via ``hex()``,
not 6dp rounding — between:

* config A: 2 shuffle partitions, default input splits;
* config B: 13 shuffle partitions, 64 KiB input splits (small parquet
  files fan out into several scan tasks, changing partial-agg order).

Runs at sf0.001 so the whole 88-query sweep stays minutes, not hours;
the cross-engine (DuckDB) check at sf0.01 lives in
tests/test_oracle.py. Spark-vs-Spark order-invariance at ANY sf
is exactly what rounding-based checks cannot see, which is why this
compares exact bits.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

CONF_A = {
    "spark.sql.shuffle.partitions": "2",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.files.openCostInBytes": "4194304",
}
CONF_B = {
    "spark.sql.shuffle.partitions": "13",
    "spark.sql.files.maxPartitionBytes": "65536",
    "spark.sql.files.openCostInBytes": "0",
}


def _names():
    import __spark_entry__ as entry

    return list(entry.queries())


def _exact(rows, columns):
    """Order-insensitive but VALUE-EXACT normalization: floats keep
    full precision (IEEE hex), so a single-ulp partial-agg difference
    fails the comparison instead of hiding under 6dp rounding."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = v.hex()
            elif isinstance(v, list):
                v = str([x.hex() if isinstance(x, float) else x for x in v])
            elif v is None:
                v = "NULL"
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort()
    return out


def _run(spark, name, conf):
    import __spark_entry__ as entry

    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        df = entry.queries()[name](spark, SF)
        return _exact([tuple(r) for r in df.collect()], df.columns)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", _names())
def test_partition_invariant(spark, name):
    a = _run(spark, name, CONF_A)
    b = _run(spark, name, CONF_B)
    assert len(a) == len(b), f"{name}: rowcount {len(a)} != {len(b)}"
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        pytest.fail(f"{name}: output depends on partitioning; first diffs: {diffs}")
