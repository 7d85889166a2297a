"""Every gate query in ``__spark_entry__.queries()`` checked against its
DuckDB oracle: column types first (the HUGEINT rule and the
complex-dtype rule), then row count and float-hex-exact values.

Scale factor: sf0.01. sf0.001 (~500 docs) can miss
cardinality-dependent divergence, such as a float sum whose order
flips only at the larger scale. Override with
SPARK_GRAFT_TAIL_SF_DIR for a quick local loop.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from conftest import SF_SMOKE  # noqa: E402

#: the sf0.01 tables next to the sf0.001 smoke tables
SF = os.environ.get(
    "SPARK_GRAFT_TAIL_SF_DIR", os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
)


@pytest.fixture(scope="module")
def oracle_con():
    from tools.check_correctness import oracle_connection

    con = oracle_connection(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(entry.queries()))
def test_query_matches_oracle(spark, oracle_con, name):
    from tools.check_correctness import check_query

    err = check_query(spark, oracle_con, name, SF)
    assert err is None, f"{name}: {err}"
