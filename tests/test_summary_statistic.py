"""Golden-file test: SummaryStatistic.txt byte-compare against the
reference's shipped expectation (SURVEY.md §5, ClinicalDataProcessorTest
.groovy:48-61)."""

import io

from conftest import needs_reference

from tmdataloader_spark.statistic.summary import summary_statistics, write_report

MAPPING = (
    "/root/reference/fixtures/Test Studies/Test Study_GSE0/"
    "ClinicalDataToUpload/Test Study_GSE0_Mapping_File.txt"
)
GOLDEN = (
    "/root/reference/fixtures/Test Studies/Test Study_GSE0/"
    "ClinicalDataToUpload/ExpectedSummaryStatistic.txt"
)


@needs_reference
def test_summary_statistic_golden(spark):
    rows = summary_statistics(spark, MAPPING)
    buf = io.StringIO()
    write_report(rows, buf)
    actual = buf.getvalue().splitlines()
    expected = open(GOLDEN, encoding="utf-8").read().splitlines()
    assert len(actual) == len(expected), (
        f"line count {len(actual)} != {len(expected)}\n" + "\n".join(actual)
    )
    for i, (a, e) in enumerate(zip(actual, expected)):
        assert a == e, f"line {i} differs:\n  actual:   {a!r}\n  expected: {e!r}"


def test_exact_stats_guard_rejects_oversized_file(spark, monkeypatch, gse0_mapping):
    """The exact-median kernel is contract-bounded: a file larger than
    MAX_EXACT_STAT_ROWS fails fast with LoadValidationError instead of
    materializing a giant collect_list buffer."""
    import pytest

    from tmdataloader_spark.operators.dedup import LoadValidationError
    from tmdataloader_spark.sources.mapping import parse_mapping_file
    from tmdataloader_spark.statistic import summary
    from pathlib import Path

    monkeypatch.setattr(summary, "MAX_EXACT_STAT_ROWS", 5)
    mapping = Path(gse0_mapping)
    fname, fm = next(iter(parse_mapping_file(mapping).items()))
    with pytest.raises(LoadValidationError, match="exact-statistics"):
        summary.collect_file_statistics(spark, mapping.parent / fname, fm)


import pytest
from pyspark.sql import functions as F


@pytest.mark.parametrize(
    "values,lower,upper,iqr",
    [
        ([100.0], 100.0, 100.0, 0.0),
        ([100.0, 500.0], 100.0, 500.0, 400.0),
        ([100.0, 500.0, 300.0], 200.0, 400.0, 200.0),
        ([100.0, 500.0, 300.0, 200.0, 400.0], 200.0, 400.0, 200.0),
        ([100.0, 500.0, 300.0, 200.0, 400.0, 600.0], 200.0, 500.0, 300.0),
    ],
)
def test_tukey_hinges_mirror_reference_iqr(spark, values, lower, upper, iqr):
    """Mirrors StatisticCollectorTest.groovy 'it should calculate IQR'
    step by step: the hinge slices must reproduce the reference's
    incremental lower/upper quartiles exactly."""
    from tmdataloader_spark.statistic.summary import _median_of_slice

    df = spark.createDataFrame([(v,) for v in values], "value_d double")
    arr = F.sort_array(F.collect_list("value_d"))
    n = F.size(arr)
    row = df.agg(
        _median_of_slice(arr, F.lit(1), F.floor((n + 1) / 2).cast("int")).alias("lo"),
        _median_of_slice(
            arr, (F.floor(n / 2) + 1).cast("int"), (n - F.floor(n / 2)).cast("int")
        ).alias("hi"),
    ).first()
    assert (row["lo"], row["hi"], row["hi"] - row["lo"]) == (lower, upper, iqr)
