"""GWAS PLINK loader + process lock tests."""

import pytest
from conftest import needs_reference, node_rows, sample_row, sorted_rows, write_lines

from tmdataloader_spark.operators.dedup import LoadValidationError
from tmdataloader_spark.plans.gwas import load_gwas_plink, validate_fam
from tmdataloader_spark.sinks import ProcessLockError, process_lock

FIX = (
    "/root/reference/fixtures/Test Studies/"
    "Test Study With GWAS Plink_GSE0GWASPLINK/GWASPlinkDataToUpload"
)
TOP = "\\Test Studies\\Test GWAS Study\\"


@needs_reference
def test_gwas_plink_load(spark):
    from tmdataloader_spark.functions.lzo import decompress

    res = load_gwas_plink(spark, FIX, TOP)
    assert res.study_id == "GSE0GWASPLINK"
    row = res.plink_data.collect()[0]
    assert row["study_id"] == "GSE0GWASPLINK"
    assert row["codec"] == "lzo"
    # blobs are raw LZO1X streams (the reference's bytea format) that
    # decode back to the on-disk file bytes
    import os

    for col, ext in (("bed", ".bed"), ("bim", ".bim"), ("fam", ".fam")):
        src = next(
            os.path.join(FIX, f) for f in sorted(os.listdir(FIX)) if f.endswith(ext)
        )
        with open(src, "rb") as fh:
            assert decompress(bytes(row[col])) == fh.read()
    samples = res.sample_mapping.collect()
    assert len(samples) > 0
    paths = {r["concept_path"] for r in samples}
    assert all(p.startswith(TOP + "GWAS\\") for p in paths)

    verbatim = load_gwas_plink(spark, FIX, TOP, codec="none").plink_data.collect()[0]
    assert decompress(bytes(row["bed"])) == bytes(verbatim["bed"])


def test_gwas_plink_small_study_samples_and_nodes(spark, tmp_path):
    """Every fam subject is a sample of itself, on no platform, under
    the default ``GWAS+GWAS Plink`` category."""
    d = tmp_path / "GWASPlinkDataToUpload"
    d.mkdir()
    write_lines(d / "GWAS_MappingFile.txt", ["# STUDY_ID: gwas1"])
    (d / "small.bed").write_bytes(b"\x6c\x1b\x01\x00")
    write_lines(d / "small.bim", ["1\trs1\t0\t100\tA\tG"])
    write_lines(d / "small.fam", ["F1 I1 0 0 1 -9", "F2 I2 0 0 2 -9"])
    res = load_gwas_plink(spark, str(d), TOP, codec="none")
    assert res.study_id == "GWAS1"
    path = TOP + "GWAS\\GWAS Plink\\"
    assert sorted_rows(res.sample_mapping) == sorted([
        sample_row(spark, "GWAS1", iid, iid, "", "GWAS", "GWAS+GWAS Plink", path)
        for iid in ("I1", "I2")
    ], key=repr)
    assert sorted_rows(res.i2b2, "c_fullname", "c_visualattributes", "c_basecode") == (
        node_rows(path)
    )


def test_fam_validation(tmp_path):
    good = tmp_path / "a.fam"
    good.write_text("F1 I1 0 0 1 -9\nF2 I2 0 0 2 -9\n")
    assert validate_fam(str(good)) == ["I1", "I2"]

    bad_cols = tmp_path / "b.fam"
    bad_cols.write_text("F1 I1 0 0 1\n")
    with pytest.raises(LoadValidationError, match="Invalid columns count"):
        validate_fam(str(bad_cols))

    bad_iid = tmp_path / "c.fam"
    bad_iid.write_text("F1 0 0 0 1 -9\n")
    with pytest.raises(LoadValidationError, match="Invalid IID"):
        validate_fam(str(bad_iid))

    bad_sex = tmp_path / "d.fam"
    bad_sex.write_text("F1 I1 0 0 5 -9\n")
    with pytest.raises(LoadValidationError, match="Invalid sex value"):
        validate_fam(str(bad_sex))


def test_process_lock(tmp_path):
    lock = str(tmp_path / "loader.lock")
    with process_lock(lock):
        with pytest.raises(ProcessLockError):
            with process_lock(lock):
                pass
    # released after the context exits
    with process_lock(lock):
        pass
