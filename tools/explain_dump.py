"""Dump ``explain("formatted")`` for every (or a subset of) gate
query to ``OUT_DIR/<query>.txt``.

Plan capture is driver-side only (no job execution): each query
function builds its DataFrame lazily and we print the pre-execution
formatted plan.

Usage: python tools/explain_dump.py OUT_DIR [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    names = sys.argv[3:]

    import __spark_entry__ as entry
    from tmdataloader_spark.session import get_spark

    spark = get_spark("explain_dump")
    os.makedirs(out_dir, exist_ok=True)

    qs = entry.queries()
    if names:
        qs = {n: qs[n] for n in names}
    for name, fn in qs.items():
        path = os.path.join(out_dir, f"{name}.txt")
        try:
            df = fn(spark, sf_dir)
            jdf = df._jdf
            txt = jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001 - record the failure in place
            txt = f"EXPLAIN FAILED: {e}\n"
        with open(path, "w") as fh:
            fh.write(txt)
        print(name, flush=True)


if __name__ == "__main__":
    main()
