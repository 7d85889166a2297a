"""The subject-sample mapping aborts of the HDD loaders
(ExpressionDataProcessor.groovy:98-156, I2B2_LOAD_SAMPLES.sql:94-193),
each raised from a tiny mapping file with its exact message, through
``read_sample_mapping``, ``validate_sample_mapping`` and a
whole ``load_hdd``."""

import ast
import os

import pytest
from conftest import write_lines

from tmdataloader_spark.operators.dedup import LoadValidationError
from tmdataloader_spark.plans.hdd import (
    load_hdd,
    read_sample_mapping,
    validate_sample_mapping,
)
from tmdataloader_spark.session import local_frame

HEADER = (
    "STUDY_ID\tSITE_ID\tSUBJECT_ID\tSAMPLE_ID\tPLATFORM\tTISSUETYPE"
    "\tATTR1\tATTR2\tCATEGORY_CD"
)
CATEGORY = "Biomarker_Data+PLATFORM+TISSUETYPE"
TOP = "\\Test Studies\\Guard Study\\"


def _row(study, subject, sample, platform, category=CATEGORY):
    return f"{study}\t\t{subject}\t{sample}\t{platform}\tBlood\t\t\t{category}"


def _mapping(tmp_path, rows):
    return write_lines(tmp_path / "S1_Subject_Sample_Mapping_File.txt", [HEADER, *rows])


def _expression_dir(tmp_path, rows, platforms=("GPL1",)):
    """An ExpressionDataToUpload dir: the mapping, one GPL file per
    platform titled ``Array <gpl>``, and a raw matrix over the mapping's
    samples. Every platform annotates probes 1_at and 2_at; the ones
    after the first also annotate 3_at, which the matrix holds too."""
    d = tmp_path / "ExpressionDataToUpload"
    d.mkdir()
    write_lines(d / "S1_Subject_Sample_Mapping_File.txt", [HEADER, *rows])
    for gpl in platforms:
        write_lines(d / f"{gpl}.txt", [
            f"#PLATFORM_TITLE: Array {gpl}",
            "ID\tGene Symbol\tENTREZ_GENE_ID\tSpecies Scientific Name",
            "1_at\tTP53\t7157\tHomo sapiens",
            "2_at\tEGFR\t1956\tHomo sapiens",
            *(["3_at\tKRAS\t3845\tHomo sapiens"] if gpl != platforms[0] else []),
        ])
    samples = sorted({r.split("\t")[3] for r in rows})
    write_lines(d / "S1_Gene_Expression_Data_R.txt", [
        "\t".join(["ID_REF", *samples]),
        "\t".join(["1_at", *("5.0" for _ in samples)]),
        "\t".join(["2_at", *("7.0" for _ in samples)]),
        "\t".join(["3_at", *("9.0" for _ in samples)]),
    ])
    return str(d)


def _raises(fn, *args, **kwargs) -> str:
    with pytest.raises(LoadValidationError) as err:
        fn(*args, **kwargs)
    return str(err.value)


@pytest.mark.parametrize("column", ["subject", "sample", "platform", "category"])
def test_blank_mandatory_column_aborts(spark, tmp_path, column):
    fields = {"subject": "P1", "sample": "SMP1", "platform": "GPL1", "category": CATEGORY}
    fields[column] = ""
    rows = [
        _row("S1", "P0", "SMP0", "GPL1"),
        _row("S1", fields["subject"], fields["sample"], fields["platform"], fields["category"]),
    ]
    msg = _raises(read_sample_mapping, spark, _mapping(tmp_path, rows), "S1")
    assert msg == "Incorrect mapping file: mandatory columns not defined"


def test_two_studies_in_one_file_abort(spark, tmp_path):
    rows = [_row("S1", "P0", "SMP0", "GPL1"), _row("S2", "P1", "SMP1", "GPL1")]
    msg = _raises(read_sample_mapping, spark, _mapping(tmp_path, rows))
    prefix = "Multiple studies in one mapping file: "
    assert msg.startswith(prefix)
    assert sorted(ast.literal_eval(msg[len(prefix):])) == ["S1", "S2"]


def test_blank_study_counts_as_a_second_study(spark, tmp_path):
    """A blank STUDY_ID is a null trial name, and a null is one of the
    distinct studies the guard lists."""
    rows = [_row("S1", "P0", "SMP0", "GPL1"), _row("", "P1", "SMP1", "GPL1")]
    msg = _raises(read_sample_mapping, spark, _mapping(tmp_path, rows))
    prefix = "Multiple studies in one mapping file: "
    assert msg.startswith(prefix)
    assert sorted(ast.literal_eval(msg[len(prefix):]), key=str) == [None, "S1"]


def test_blank_column_aborts_before_two_studies(spark, tmp_path):
    rows = [_row("S1", "P0", "SMP0", "GPL1"), _row("S2", "", "SMP1", "GPL1")]
    msg = _raises(read_sample_mapping, spark, _mapping(tmp_path, rows))
    assert msg == "Incorrect mapping file: mandatory columns not defined"


def test_study_id_mismatch_aborts(spark, tmp_path):
    rows = [_row("s1", "P0", "SMP0", "GPL1"), _row("s1", "P1", "SMP1", "GPL1")]
    path = _mapping(tmp_path, rows)
    msg = _raises(read_sample_mapping, spark, path, "OTHER")
    assert msg == "Study ID S1 doesn't match expected OTHER"
    # the study id is compared upper-cased
    out = read_sample_mapping(spark, path, "s1")
    assert out.trial_id == "S1"
    assert sorted(r[0] for r in out.frame.select("sample_cd").collect()) == ["SMP0", "SMP1"]


def test_sample_on_two_platforms_aborts(spark, tmp_path):
    rows = [
        _row("S1", "P0", "SMP0", "GPL1"),
        _row("S1", "P1", "SMP1", "GPL1"),
        _row("S1", "P1", "SMP1", "GPL2"),
    ]
    mapping = read_sample_mapping(spark, _mapping(tmp_path, rows), "S1")
    assert mapping.multi_platform
    msg = _raises(validate_sample_mapping, mapping)
    assert msg == "Multiple platforms for single sample SMP1"


def test_platform_missing_from_gpl_info_aborts(spark, tmp_path):
    rows = [_row("S1", "P0", "SMP0", "GPL1"), _row("S1", "P1", "SMP1", "GPL3")]
    mapping = read_sample_mapping(spark, _mapping(tmp_path, rows), "S1")
    assert not mapping.multi_platform
    assert mapping.platforms == ["GPL1", "GPL3"]
    gpl_info = local_frame(
        spark,
        [("GPL1", "Gene Expression"), ("GPL3", "SNP")],
        "platform string, marker_type string",
    )
    validate_sample_mapping(mapping, gpl_info)  # every platform is known
    msg = _raises(validate_sample_mapping, mapping, gpl_info, "Gene Expression")
    assert msg == "de_gpl_info entry missing for platform GPL3"


def test_load_hdd_aborts_on_sample_with_two_platforms(spark, tmp_path):
    rows = [
        _row("S1", "P0", "SMP0", "GPL1"),
        _row("S1", "P1", "SMP1", "GPL1"),
        _row("S1", "P1", "SMP1", "GPL2"),
    ]
    d = _expression_dir(tmp_path, rows, platforms=("GPL1", "GPL2"))
    msg = _raises(load_hdd, spark, d, "S1", TOP)
    assert msg == "Multiple platforms for single sample SMP1"


def test_load_hdd_mapping_aborts_come_first(spark, tmp_path):
    """The mapping's own aborts fire before the matrix is looked at:
    a blank column wins over a missing matrix."""
    rows = [_row("S1", "P0", "SMP0", "GPL1"), _row("S1", "P1", "", "GPL1")]
    d = _expression_dir(tmp_path, rows)
    os.remove(os.path.join(d, "S1_Gene_Expression_Data_R.txt"))
    msg = _raises(load_hdd, spark, d, "S1", TOP)
    assert msg == "Incorrect mapping file: mandatory columns not defined"


def test_load_hdd_resolves_trial_from_mapping(spark, tmp_path):
    """With no study id the mapping's STUDY_ID governs, upper-cased."""
    rows = [_row("s1", "P0", "SMP0", "GPL1"), _row("s1", "P1", "SMP1", "GPL1")]
    res = load_hdd(spark, _expression_dir(tmp_path, rows), None, TOP)
    assert res.trial_id == "S1"
    assert {r[0] for r in res.sample_mapping.select("trial_name").collect()} == {"S1"}
    assert res.data.count() == 4


def test_load_hdd_reads_every_platform(spark, tmp_path):
    """A mapping whose samples sit on two platforms reads both platform
    files: each sample's concept path carries its own platform's title,
    the ontology has both subtrees, and each assay keeps exactly the
    probes its own platform annotates (3_at is on GPL2 only)."""
    rows = [_row("S1", "P0", "SMP0", "GPL1"), _row("S1", "P1", "SMP1", "GPL2")]
    d = _expression_dir(tmp_path, rows, platforms=("GPL1", "GPL2"))
    res = load_hdd(spark, d, "S1", TOP)
    paths = dict(res.sample_mapping.select("sample_cd", "concept_path").collect())
    assert paths == {
        "SMP0": TOP + "Biomarker Data\\Array GPL1\\Blood\\",
        "SMP1": TOP + "Biomarker Data\\Array GPL2\\Blood\\",
    }
    nodes = {r[0] for r in res.i2b2.select("c_fullname").collect()}
    assert set(paths.values()) <= nodes
    sample_of = dict(res.sample_mapping.select("assay_id", "sample_cd").collect())
    probes = {}
    for assay, probe in res.data.select("assay_id", "probeset_id").collect():
        probes.setdefault(sample_of[assay], set()).add(probe)
    assert probes == {"SMP0": {"1_at", "2_at"}, "SMP1": {"1_at", "2_at", "3_at"}}
    assert [p.title for p in res.platforms] == ["Array GPL1", "Array GPL2"]
