"""``read_tsv`` builds a single file's header on the driver: the same
columns and rows as Spark's own header inference, and no Spark job."""

import pytest

from tmdataloader_spark.sources.tsv import read_tsv

CASES = {
    "comments_and_blank_lines": (
        "# STUDY_ID: S1\n\n#another comment\n   \n"
        "A\tB\tC\n1\t2\t3\n# a comment row\n\n4\t5\t6\n"
    ),
    # Spark trims only spaces when it skips blank lines
    "tab_only_line_is_the_header": "\n\t\t\nA\tB\tC\n1\t2\t3\n",
    "names_differing_in_case": "id\tName\tNAME\tname\tother\n1\ta\tb\tc\td\n",
    "exact_duplicates": "x\tx\ty\n1\t2\t3\n",
    "empty_header_cells": "\tA\t\tB\t\n1\t2\t3\t4\t5\n",
    "quoted_names": '"Quoted Name"\t"with ""quotes"""\tplain\n"a b"\t"c"\td\n',
    "ragged_rows": "A\tB\tC\n1\n1\t2\n1\t2\t3\t4\t5\n\t\t\n",
    "crlf_line_ends": "# meta\r\n\r\nA\tB\r\n1\t2\r\n3\t4\r\n",
    "byte_order_mark": "\ufeffA\tB\n1\t2\n",
    "duplicate_of_generated_name": "_c0\t\tb\n1\t2\t3\n",
    "header_only": "A\tB\n",
}


def _spark_read(spark, path):
    """Spark's own header inference (no schema) with read_tsv's options."""
    return (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .option("comment", "#")
        .option("quote", '"')
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .option("encoding", "UTF-8")
        .csv(str(path))
    )


@pytest.mark.parametrize("case", sorted(CASES))
def test_read_tsv_header_matches_spark(spark, tmp_path, case):
    path = tmp_path / f"{case}.txt"
    path.write_bytes(CASES[case].encode("utf-8"))
    expected = _spark_read(spark, path)
    sc = spark.sparkContext
    group = f"read_tsv_header_{case}"
    sc.setJobGroup(group, "read_tsv")
    try:
        got = read_tsv(spark, path)
        columns, schema = got.columns, got.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert columns == expected.columns
    assert schema == expected.schema
    assert got.collect() == expected.collect()


@pytest.mark.parametrize("setting", ["true", "TRUE", " True"])
def test_read_tsv_header_case_sensitive(spark, tmp_path, setting):
    """Under spark.sql.caseSensitive only exact repeats are renamed;
    Spark reads the setting case-insensitively."""
    path = tmp_path / "case.txt"
    path.write_text(CASES["names_differing_in_case"] + "x\tx\tx\tx\tx\n")
    spark.conf.set("spark.sql.caseSensitive", setting)
    try:
        got, expected = read_tsv(spark, path), _spark_read(spark, path)
        assert got.columns == expected.columns == ["id", "Name", "NAME", "name", "other"]
        assert got.collect() == expected.collect()
    finally:
        spark.conf.set("spark.sql.caseSensitive", "false")


def test_read_tsv_many_paths_keep_spark_header(spark, tmp_path):
    paths = []
    for i in range(2):
        p = tmp_path / f"part{i}.txt"
        p.write_text(f"# part {i}\nA\ta\tB\n{i}\tx\ty\n")
        paths.append(p)
    got = read_tsv(spark, paths)
    assert got.columns == ["A0", "a1", "B"]
    assert sorted(r[0] for r in got.collect()) == ["0", "1"]


def test_read_tsv_given_schema_wins(spark, tmp_path):
    p = tmp_path / "s.txt"
    p.write_text("A\tB\n1\t2\n")
    got = read_tsv(spark, p, schema="x string, y string")
    assert got.columns == ["x", "y"]
    assert [tuple(r) for r in got.collect()] == [("1", "2")]
