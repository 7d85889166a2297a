r"""VCF pipeline e2e on the reference fixture, mirroring the
assertions of src/test/groovy/.../etl/VCFDataProcessorTest.groovy
(311 LoC) — no database, all on DataFrames."""

import os

import pytest
from conftest import (
    REFERENCE_FIXTURES,
    needs_reference,
    node_rows,
    sample_row,
    sorted_rows,
    write_lines,
)
from pyspark.sql import functions as sf

from tmdataloader_spark.plans.vcf import load_vcf_study

FIXTURE = (
    "/root/reference/fixtures/Test Studies/Test Study_GSE0/VCFDataToUpload"
)
MULTI_FIXTURE = (
    "/root/reference/fixtures/Test Studies/Test Study_GSE0/MultiVCFDataToUpload"
)
TOP = "\\Test Studies\\Test Study\\"


@pytest.fixture(scope="module")
def result(spark):
    return load_vcf_study(spark, FIXTURE, TOP)


def rows(df, **filters):
    out = df
    for k, v in filters.items():
        out = out.filter(out[k].isNull() if v is None else (out[k] == v))
    return [r.asDict() for r in out.collect()]


def one(df, **filters):
    r = rows(df, **filters)
    assert len(r) == 1, f"expected 1 row for {filters}, got {len(r)}: {r}"
    return r[0]


@needs_reference
def test_mapping_and_platform(result):
    # VCFDataProcessorTest: platform VCF_hg36 from GENOME_BUILD header
    assert result.study_id == "GSE0"
    assert result.platform_id == "VCF_hg36"
    assert len(result.datasets) == 1
    assert result.datasets[0].dataset_id == "GSE0:VCFTEST"


@needs_reference
def test_subject_idx(result):
    ds = result.datasets[0]
    assert one(ds.subject_idx, subject_id="VCF_TST001")["position"] == 1
    assert one(ds.subject_idx, subject_id="VCF_TST002")["position"] == 2


@needs_reference
def test_subject_summary_subject1(result):
    ss = result.datasets[0].subject_summary
    r = one(ss, subject_id="VCF_TST001", pos=16050408)
    assert (r["rs_id"], r["variant_type"], r["reference"]) == ("rs149201999", "SNV", True)
    assert (r["variant"], r["variant_format"], r["allele1"], r["allele2"]) == (
        "T|T", "R|R", 0, 0,
    )
    r = one(ss, subject_id="VCF_TST001", pos=16050612)
    assert (r["variant"], r["variant_format"], r["reference"]) == ("G/C", "V/R", False)
    assert (r["allele1"], r["allele2"]) == (1, 0)
    # haploid GT '1'
    r = one(ss, subject_id="VCF_TST001", pos=16050616)
    assert (r["variant"], r["variant_format"], r["reference"]) == ("G", "V", False)
    assert (r["allele1"], r["allele2"]) == (1, None)
    # multi-allelic 2/1 -> DIV
    r = one(ss, subject_id="VCF_TST001", pos=16050620)
    assert (r["variant"], r["variant_format"], r["variant_type"]) == ("T/G", "V/V", "DIV")
    assert (r["allele1"], r["allele2"]) == (2, 1)
    # FORMAT without GT -> no summary rows at all
    assert rows(ss, pos=16050624) == []


@needs_reference
def test_subject_summary_subject2(result):
    ss = result.datasets[0].subject_summary
    r = one(ss, subject_id="VCF_TST002", pos=16050408)
    assert (r["variant"], r["variant_format"], r["reference"]) == ("T|C", "R|V", False)
    assert (r["allele1"], r["allele2"]) == (0, 1)
    # './0' -> missing left allele, reference overall
    r = one(ss, subject_id="VCF_TST002", pos=16050612)
    assert (r["variant"], r["variant_format"], r["reference"]) == ("/C", "/R", True)
    assert (r["allele1"], r["allele2"]) == (None, 0)
    # haploid '0'
    r = one(ss, subject_id="VCF_TST002", pos=16050616)
    assert (r["variant"], r["variant_format"], r["reference"]) == ("C", "R", True)
    assert (r["allele1"], r["allele2"]) == (0, None)


@needs_reference
def test_assay_linkage(result):
    # J10: every summary row carries the assay of its sample mapping
    ss = result.datasets[0].subject_summary
    samples = {r["sample_cd"]: r["assay_id"] for r in rows(result.sample_mapping)}
    for r in rows(ss, pos=16050408):
        assert r["assay_id"] == samples[r["subject_id"]]


@needs_reference
def test_population_info(result):
    pi = one(result.datasets[0].population_info, info_name="LDAF")
    assert pi["description"] == "MLE Allele Frequency Accounting for LD"
    assert (pi["type"], pi["number"]) == ("Float", "1")


@needs_reference
def test_population_data(result):
    pd_ = result.datasets[0].population_data
    # undeclared INFO field dropped
    assert rows(pd_, info_name="UNKNW") == []
    # flag with explicit value
    r = one(pd_, pos=16050624, info_name="TST_FLAG", info_index=0)
    assert (r["integer_value"], r["float_value"], r["text_value"]) == (0, None, None)
    # bare flag reads as 1
    r = one(pd_, pos=16050624, info_name="DB", info_index=0)
    assert r["integer_value"] == 1
    # typed routing
    r = one(pd_, pos=16050408, info_name="LDAF", info_index=0)
    assert r["integer_value"] is None and abs(r["float_value"] - 0.0649) < 1e-6
    r = one(pd_, pos=16050408, info_name="AN", info_index=0)
    assert (r["integer_value"], r["float_value"]) == (2184, None)
    r = one(pd_, pos=16050408, info_name="VT", info_index=0)
    assert r["text_value"] == "SNP"


@needs_reference
def test_subject_detail(result):
    sd = result.datasets[0].subject_detail
    r = one(sd, pos=16050408, rs_id="rs149201999")
    assert (r["ref"], r["alt"], r["qual"], r["filter"]) == ("T", "C", "100", "PASS")
    assert r["format"] == "GT:DS:GL"
    assert r["variant_value"] == "0|0:0.050:-0.03,-1.17,-5.00\t0|1:0.900:-0.71,-0.09,-5.00"
    r = one(sd, pos=16050620, rs_id="rs146752880")
    assert r["alt"] == "G,T"
    # multi-probeset ID explodes to one detail row per rs id
    for rs in ("rs146752878", "rs146752879"):
        r = one(sd, pos=16050624, rs_id=rs)
        assert r["ref"] == "C" and r["format"] == "DS:GL"


@needs_reference
def test_sample_nodes(result):
    # hasNode('\Test Studies\Test Study\VCF\VCFTest\'): category VCF+VCFTest
    paths = [r["c_fullname"] for r in rows(result.i2b2)]
    assert TOP + "VCF\\VCFTest\\" in paths
    sm = one(result.sample_mapping, sample_cd="VCF_TST001")
    assert sm["platform"] == "VCF"  # marker type
    assert sm["gpl_id"] == "VCF_hg36"
    assert sm["concept_path"] == TOP + "VCF\\VCFTest\\"


@needs_reference
def test_multi_vcf(spark):
    res = load_vcf_study(spark, MULTI_FIXTURE, TOP)
    assert res.platform_id == "VCF"  # no GENOME_BUILD header
    ids = sorted(ds.dataset_id for ds in res.datasets)
    assert ids == ["GSE0:VCFTEST1", "GSE0:VCFTEST2"]
    by_id = {ds.dataset_id: ds for ds in res.datasets}
    # per-file sample sets
    assert [r["subject_id"] for r in rows(by_id["GSE0:VCFTEST1"].subject_idx)] == [
        "VCF_TST001"
    ]
    assert [r["subject_id"] for r in rows(by_id["GSE0:VCFTEST2"].subject_idx)] == [
        "VCF_TST002"
    ]
    r = one(by_id["GSE0:VCFTEST1"].subject_detail, pos=16050408, rs_id="rs149201999")
    assert r["variant_value"] == "0|0:0.050:-0.03,-1.17,-5.00"


def _unmapped_sample_dir(tmp_path):
    """A VCF upload dir whose VCF holds sample S2, which the mapping
    lacks."""
    d = tmp_path / "vcf"
    d.mkdir()
    (d / "Subject_Sample_Mapping_File.txt").write_text(
        "# STUDY_ID: T1\nSUBJECT_ID\tSAMPLE_CD\nSubj0\tS1\n"
    )
    (d / "bad.vcf").write_text(
        "##fileformat=VCFv4.1\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\n"
        "1\t100\trs1\tA\tG\t50\tPASS\t.\tGT\t0/0\t0/1\n"
    )
    return str(d)


def test_invalid_study_fixture_fails(spark, tmp_path):
    """VCFDataProcessorTest.testItNotLoadsStudyWithWrongMapping: a study
    with a wrong mapping aborts on its mapping, not for want of one. The
    study is the reference's Invalid Studies fixture where that tree
    exists, else one whose VCF holds a sample the mapping lacks."""
    from tmdataloader_spark.operators.dedup import LoadValidationError

    study = os.path.join(REFERENCE_FIXTURES, "Invalid Studies", "VCF", "Study with Wrong Mapping")
    if not os.path.isdir(REFERENCE_FIXTURES):
        study = _unmapped_sample_dir(tmp_path)
    with pytest.raises(LoadValidationError) as err:
        load_vcf_study(spark, study, "\\Invalid Studies\\Study with Wrong Mapping\\")
    assert "Mapping file not found" not in str(err.value)


def test_unmapped_samples_fail(spark, tmp_path):
    from tmdataloader_spark.operators.dedup import LoadValidationError

    with pytest.raises(LoadValidationError, match="S2"):
        load_vcf_study(spark, _unmapped_sample_dir(tmp_path), TOP)


@needs_reference
def test_multi_vcf_with_configured_paths(spark):
    """VCFDataProcessorTest.testItLoadsMultipleVcfFilesWithConfiguredPaths
    (:248-303): the subject-sample mapping's CATEGORY_CD overrides the
    default VCF+<file> node — Subject0 holds 1 patient, Other holds 2,
    all three samples land on platform VCF, and the per-dataset detail
    rows still load."""
    res = load_vcf_study(
        spark,
        "/root/reference/fixtures/Test Studies/Test Study_GSE0/"
        "MultiVCFDataWithConfiguredPaths",
        TOP,
    )
    nodes = {r["c_fullname"] for r in rows(res.i2b2.select("c_fullname"))}
    assert TOP + "VCF\\Subjects\\Subject0\\" in nodes
    assert TOP + "VCF\\Subjects\\Other\\" in nodes

    per_cat = {
        r["category_cd"]: r["n"]
        for r in rows(
            res.sample_mapping.groupBy("category_cd").agg(
                sf.countDistinct("patient_id").alias("n")
            )
        )
    }
    assert per_cat == {"VCF+Subjects+Subject0": 1, "VCF+Subjects+Other": 2}
    samples = {
        (r["sample_cd"], r["platform"]) for r in rows(res.sample_mapping)
    }
    assert samples == {
        ("VCF_TST001", "VCF"), ("VCF_TST002", "VCF"), ("VCF_TST003", "VCF")
    }
    ids = sorted(ds.dataset_id for ds in res.datasets)
    assert ids == ["GSE0:VCFTEST1", "GSE0:VCFTEST2", "GSE0:VCFTEST3"]
    by_id = {ds.dataset_id: ds for ds in res.datasets}
    r = one(by_id["GSE0:VCFTEST1"].subject_detail, pos=16050408, rs_id="rs149201999")
    assert r["variant_value"] == "0|0:0.050:-0.03,-1.17,-5.00"
    r2 = one(by_id["GSE0:VCFTEST2"].subject_detail, pos=16050408, rs_id="rs149201999")
    assert r2["variant_value"] == "0|1:0.900:-0.71,-0.09,-5.00"


def test_small_study_samples_and_nodes(spark, tmp_path):
    """A sample with a CATEGORY_CD is placed by it; one without lands
    under ``VCF+<file name>``. The platform is ``VCF_<GENOME_BUILD>``
    and each sample's source is the file's name, upper-cased."""
    d = tmp_path / "VCFDataToUpload"
    d.mkdir()
    write_lines(d / "Subject_Sample_Mapping_File.txt", [
        "# STUDY_ID: vcf1",
        "# GENOME_BUILD: hg19",
        "SUBJECT_ID\tSAMPLE_CD\tCATEGORY_CD",
        "P1\tS1\tVCF+Subjects+First",
        "P2\tS2\t",
    ])
    write_lines(d / "small.v1.vcf", [
        "##fileformat=VCFv4.1",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2",
        "1\t100\trs1\tA\tG\t50\tPASS\t.\tGT\t0/0\t0/1",
    ])
    res = load_vcf_study(spark, str(d), TOP)
    path1 = TOP + "VCF\\Subjects\\First\\"
    path2 = TOP + "VCF\\small v1\\"
    assert sorted_rows(res.sample_mapping) == sorted([
        sample_row(spark, "VCF1", "P1", "S1", "VCF_hg19", "VCF", "VCF+Subjects+First",
                   path1, source="SMALL_V1"),
        sample_row(spark, "VCF1", "P2", "S2", "VCF_hg19", "VCF", "VCF+small_v1",
                   path2, source="SMALL_V1"),
    ], key=repr)
    assert sorted_rows(res.i2b2, "c_fullname", "c_visualattributes", "c_basecode") == (
        node_rows(path1, path2)
    )
