r"""Reference-parity e2e loads of the clinical edge-case fixture
studies, mirroring the reference's own integration assertions
(ClinicalDataProcessorTest.groovy — line refs per test): terminator
paths, data-value-in-path categories, $$TAG substitution, case-mixed
values, repeated labels before a terminator, and the wrong-mapping-
file negative.
"""

import pytest
from conftest import needs_reference
from pyspark.sql import functions as F

from tmdataloader_spark.plans.clinical import load_clinical
from tmdataloader_spark.sources.mapping import melt_clinical_study

FIX = "/root/reference/fixtures/Test Studies/"


def _counts(spark, dirname, mapname, study_id, study_name):
    mapping = f"{FIX}{dirname}/ClinicalDataToUpload/{mapname}"
    top = f"\\Test Studies\\{study_name}\\"
    res = load_clinical(spark, melt_clinical_study(spark, mapping), study_id, top)
    return res, {
        r["concept_path"]: r["patient_count"] for r in res.concept_counts.collect()
    }


@needs_reference
def test_terminator_paths(spark):
    """ClinicalDataProcessorTest.groovy:372-399 — `+$` terminates the
    category path: no visit/terminal nodes appear below it."""
    _, c = _counts(
        spark,
        "Test Study With Terminator_GSE0TERMINATOR",
        "Test Study With Terminator_GSE0TERMINATOR_Mapping_File.txt",
        "GSE0TERMINATOR",
        "Test Study With Terminator",
    )
    d = "\\Test Studies\\Test Study With Terminator\\Subjects\\Demographics\\"
    expected = {
        d: 9,
        d + "Language\\": 5,
        d + "Language\\English\\": 2,
        d + "Language\\Spanish\\": 1,
        d + "Language\\French\\": 1,
        d + "Language\\Russian\\": 1,
        d + "Language\\Russian\\v1\\": 1,
        d + "Language\\Russian\\v2\\": 1,
        d + "Sex (SEX)\\Male\\Spanish\\": 1,
        d + "Sex (SEX)\\Female\\": 2,
        d + "Sex (SEX)\\Female\\French\\": 1,
        d + "Age (AGE)\\Male\\": 2,
        d + "Age (AGE)\\Female\\": 5,
    }
    for path, n in expected.items():
        assert c.get(path) == n, f"{path}: got {c.get(path)}, want {n}"
    for absent in [
        d + "Sex (SEX)\\Female\\French\\$\\",
        d + "Sex (SEX)\\Female\\French\\v1\\",
        d + "Age (AGE)\\Female\\$\\",
        d + "Age (AGE)\\Female\\v1\\",
    ]:
        assert absent not in c, f"terminated path grew a child: {absent}"


@needs_reference
def test_data_value_in_path(spark):
    """ClinicalDataProcessorTest.groovy:401-424 — DATALABEL/DATAVALUE
    placeholders inside category_cd place values mid-path."""
    _, c = _counts(
        spark,
        "Test Study With Data Value In Path_GSE0DVINPATH",
        "Test Study With Data Value In Path_GSE0DVINPATH_Mapping_File.txt",
        "GSE0DVINPATH",
        "Test Study With Data Value In Path",
    )
    d = "\\Test Studies\\Test Study With Data Value In Path\\Subjects\\Demographics\\"
    expected = {
        d + "Female\\Baseline\\French\\Sex (SEX)\\": 2,
        d + "Female\\Visit 7\\French\\Sex (SEX)\\": 1,
        d + "Female\\Baseline\\English\\Sex (SEX)\\": 1,
        d + "Age (AGE)\\Baseline\\": 9,
        d + "Age (AGE)\\Visit 7\\": 2,
        d + "French\\Language\\Baseline\\": 2,
        d + "French\\Language\\Visit 7\\": 1,
        "\\Test Studies\\Test Study With Data Value In Path\\Clinical Data\\"
        "Datavalue5\\Baseline\\TAG test 2\\Test data label\\": 1,
    }
    for path, n in expected.items():
        assert c.get(path) == n, f"{path}: got {c.get(path)}, want {n}"


@needs_reference
def test_tag_substitution(spark):
    """ClinicalDataProcessorTest.groovy:149-167 — $$TAG values from
    the tags file substitute into leaf paths."""
    res, c = _counts(
        spark,
        "Test Study Tag_GSE0TAG",
        "Test Study_GSE0TAG_Mapping_File.txt",
        "GSE0TAG",
        "Test Study Tag",
    )
    e = "\\Test Studies\\Test Study Tag\\GSE0TAG\\eText\\"
    expected = {
        e + "tag1\\": 8,
        e + "tag2\\": 4,
        e + "tag1 tag and Spain language\\": 1,
        e + "tag2 tag and English language\\": 2,
    }
    for path, n in expected.items():
        assert c.get(path) == n, f"{path}: got {c.get(path)}, want {n}"
    pats = {r["sourcesystem_cd"] for r in res.patient_dimension.collect()}
    assert "GSE0TAG:HCC2935" in pats
    assert "GSE0TAG:2SKMEL28" in pats


@needs_reference
def test_upper_and_lower_case_values_stay_distinct(spark):
    """ClinicalDataProcessorTest.groovy:743-757 — case-differing
    values produce distinct leaves (no case collapsing)."""
    _, c = _counts(
        spark,
        "Test Study With Upper and Lower Case_GSE0ULC",
        "custom_test_Mapping_File.txt",
        "GSE0ULC",
        "Test Study With Upper and Lower Case",
    )
    node = "\\Test Studies\\Test Study With Upper and Lower Case\\Subjects\\Node\\"
    for v in ["abilify", "Abilify", "ABILIFY"]:
        assert node + v + "\\" in c, f"missing case-distinct leaf {v}"


@needs_reference
def test_repeating_labels_before_terminator(spark):
    """ClinicalDataProcessorTest.groovy:777-795 — visit_name equal to
    data_label with an unlabelled terminator path keeps the reference
    counts."""
    _, c = _counts(
        spark,
        "Test Study With Repeating Labels In Path_GSE0REPEATLABPATH",
        "Test Study With Terminator_GSE0REPEATLABPATH_Mapping_File.txt",
        "GSE0REPEATLABPATH",
        "Test Study With Terminator",
    )
    d = "\\Test Studies\\Test Study With Terminator\\Subjects\\Demographics\\"
    expected = {
        d: 9,
        d + "v1\\": 7,
        d + "v1\\Male\\": 2,
        d + "v1\\Female\\": 5,
        d + "v2\\": 1,
    }
    for path, n in expected.items():
        assert c.get(path) == n, f"{path}: got {c.get(path)}, want {n}"


@needs_reference
def test_wrong_mapping_file_name_fails(spark):
    """ClinicalDataProcessorTest.groovy:797-805 — a mapping file that
    doesn't match `*_Mapping_File.txt` fails the clinical job (the
    orchestrator records FAIL in the manifest, like the reference's
    DataProcessingException)."""
    from tmdataloader_spark.plans.study import load_study

    res = load_study(
        spark,
        FIX + "Test Study With Wrong Mapping File_Name_GSE0WRONGMAPF",
        parent_node="\\Test Studies",
    )
    clinical = [m for m in res.manifest if m[0] == "Clinical"]
    assert clinical, "clinical dir not visited"
    assert clinical[0][2] == "FAIL"
    assert "no mapping file" in (clinical[0][3] or "")


@needs_reference
def test_duplicated_patient_id_fails_with_reference_report(spark):
    """ClinicalDataProcessorTest.groovy:455-468 — the duplicated-
    patient study fails the load and the duplicates listing matches
    the fixture's ExpectedDuplicates.csv row-for-row."""
    import csv

    from tmdataloader_spark.operators.dedup import LoadValidationError

    d = FIX + "Test Study With Duplicated Patient ID_GSE0DUPPID/ClinicalDataToUpload/"
    with pytest.raises(LoadValidationError) as exc:
        load_clinical(
            spark,
            melt_clinical_study(
                spark, d + "Test Study With Dublicated Patiend ID_GSE0DUB_Mapping_File.txt"
            ),
            "GSE0DUPPID",
            "\\Test Studies\\Test Study With Duplicated Patient ID\\",
        )
    got = {
        tuple((row[c] or "") for c in
              ["site_id", "subject_id", "visit_name", "data_label", "category_cd"])
        for row in exc.value.duplicates
    }
    with open(d + "ExpectedDuplicates.csv", newline="") as fh:
        expected = {
            (r["site_id"], r["subject_id"], r["visit_name"], r["data_label"], r["category_cd"])
            for r in csv.DictReader(fh)
        }
    assert got == expected


@needs_reference
def test_plus_sign_paths(spark):
    """ClinicalDataProcessorTest.groovy:359-369 — `+` separates path
    components, `(plus)` escapes a literal plus, value pluses become
    ' and ' in leaves but stay literal in $$-substituted components."""
    _, c = _counts(
        spark,
        "Test Study With Plus Sign_GSE0PLS",
        "Test Study With Plus Sign_GSE0PLS_Mapping_File.txt",
        "GSE0PLS",
        "Test Study With Plus Sign",
    )
    top = "\\Test Studies\\Test Study With Plus Sign\\"
    expected = {
        top + "Subjects+\\Demographics+\\": 1,
        top + "Subjects+\\Demographics+\\Language++\\": 1,
        top + "Subjects+\\Demographics+\\Language++\\Spain and English and German+\\": 1,
        top + "Subjects\\Demographics\\Spain+English+German+\\Assessment Date\\10/01/2014\\": 1,
    }
    for path, n in expected.items():
        assert c.get(path) == n, f"{path}: got {c.get(path)}, want {n}"


@needs_reference
def test_long_category_cd_aborts(spark):
    """ClinicalDataProcessorTest.groovy:804-813 — CATEGORY_CD over 250
    chars fails mapping validation with the reference's message."""
    from tmdataloader_spark.sources.mapping import MappingError

    d = FIX + "Test Study With Long CategoryCD_GSE0LONGCCD/ClinicalDataToUpload/"
    with pytest.raises(MappingError, match=r"CATEGORY_CD is too long \(311 > 250\) for row \[5\]"):
        melt_clinical_study(
            spark, d + "Test Study With Long CategoryCD_GSE0LONGCCD_Mapping_File.txt"
        )


@needs_reference
def test_non_visual_symbols_abort(spark):
    """ClinicalDataProcessorTest.groovy:815-823 (SkipLinesReader) —
    bytes that don't decode as UTF-8 abort the load."""
    from tmdataloader_spark.operators.dedup import LoadValidationError

    d = FIX + "Test Study With Non Visial Symbols In Header_GSE0NOVIS/ClinicalDataToUpload/"
    with pytest.raises(LoadValidationError, match="non visual symbol"):
        melt_clinical_study(spark, d + "ERROR-GSE0NOVIS_Mapping_File.txt")


@needs_reference
def test_different_study_id_in_file_aborts(spark):
    """ClinicalDataProcessorTest.groovy:825-833 — a row whose STUDY_ID
    differs from the file's first aborts with the reference's exact
    message (line 13 of TST001.txt)."""
    from tmdataloader_spark.operators.dedup import LoadValidationError

    d = FIX + "Test Study With Different StudyID_GSE0DIFFSID/ClinicalDataToUpload/"
    with pytest.raises(
        LoadValidationError,
        match=r"STUDY_ID differs from previous in 13 line in TST001\.txt file\.",
    ):
        melt_clinical_study(
            spark, d + "Test Study With Different_StudyID_GSE0DIFFSID_Mapping_File.txt"
        )


@needs_reference
def test_different_study_id_two_files_aborts(spark):
    """ClinicalDataProcessorTest.groovy:835-845 — Var.2: the second
    file's STUDY_ID differs (line 2 of TST_DEMO.txt)."""
    from tmdataloader_spark.operators.dedup import LoadValidationError

    d = FIX + "Test Study With Different StudyID In Two Files_GSE0DIFFSIDVAR2/ClinicalDataToUpload/"
    import glob

    mapping = glob.glob(d + "*_Mapping_File.txt")[0]
    with pytest.raises(LoadValidationError, match=r"STUDY_ID differs from previous"):
        melt_clinical_study(spark, mapping).count()


@needs_reference
def test_non_utf8_study_aborts(spark):
    """ClinicalDataProcessorTest.groovy:759-766 — the Non-UTF8 study's
    data file fails the byte-level validation."""
    from tmdataloader_spark.operators.dedup import LoadValidationError

    d = FIX + "Test Study With Non-UTF8 symbols_GSE0/ClinicalDataToUpload/"
    with pytest.raises(LoadValidationError, match="non visual symbol"):
        melt_clinical_study(spark, d + "ERROR-UNF8_Mapping_File.txt")


@needs_reference
def test_non_unique_column_names_load(spark):
    """ClinicalDataProcessorTest.groovy:350-357 — duplicate data-file
    column names load fine WITH the --allow-non-unique-columns flag
    (the Groovy passes allowNonUniqueColumnNames: true; the mapping is
    positional, 1-based indexes). The default-abort side lives in
    test_groovy_mirrors.test_non_unique_column_names_gate."""
    m = (
        "/root/reference/fixtures/Additional Test Studies/"
        "Test Study With Non Unique Column Names_GSE0NQCN/ClinicalDataToUpload/"
        "Test Study_GSE0NQCN_Mapping_File.txt"
    )
    res = load_clinical(
        spark,
        melt_clinical_study(spark, m, allow_non_unique_columns=True),
        "GSE0NQCN",
        "\\Test Studies\\Test Study With Non Unique Column Names\\",
    )
    assert res.observation_fact.count() > 0


@needs_reference
def test_extra_level_top_node_keeps_upper_levels_studyless(spark):
    r"""ClinicalDataProcessorTest.groovy:847-857 — loading under a
    DEEPER top node (\Test Studies\Extra Level\<study>\) must not set
    the study id on upper-level directories: the reference adds them
    via i2b2_fill_in_tree(null, tPath)
    (I2B2_LOAD_CLINICAL_DATA.sql:196-213), so '\Test Studies\Extra
    Level\' exists exactly once with NULL sourcesystem_cd, while the
    study subtree carries the trial id; the Age node still counts all
    9 patients."""
    study = "Test Study Deeper in the Tree"
    mapping = (
        f"{FIX}Test Study Deeper in the Tree_GSE0EL/ClinicalDataToUpload/"
        "Test Study Deeper in the Tree_GSE0EL_Mapping_File.txt"
    )
    top = f"\\Test Studies\\Extra Level\\{study}\\"
    res = load_clinical(spark, melt_clinical_study(spark, mapping), "GSE0EL", top)

    counts = {
        r["concept_path"]: r["patient_count"] for r in res.concept_counts.collect()
    }
    assert counts[top + "Subjects\\Demographics\\Age (AGE)\\"] == 9

    upper = res.concept_dimension.filter(
        F.col("concept_path") == "\\Test Studies\\Extra Level\\"
    ).collect()
    assert len(upper) == 1 and upper[0]["sourcesystem_cd"] is None
    root = res.concept_dimension.filter(
        F.col("concept_path") == "\\Test Studies\\"
    ).collect()
    assert len(root) == 1 and root[0]["sourcesystem_cd"] is None
    # the study node itself and everything below carry the trial id
    tagged = {
        r["concept_path"]: r["sourcesystem_cd"]
        for r in res.concept_dimension.collect()
    }
    assert tagged[top] == "GSE0EL"
    assert all(
        v == "GSE0EL" for p, v in tagged.items() if p.startswith(top)
    )


def test_serial_ldd_timestamps_with_per_subject_baseline(spark, tmp_path):
    r"""ClinicalDataProcessorTest.groovy:860-915 ('Serial LDD data with
    timestamp different baseline in one column'), replicated byte-for-
    byte from the reference's builder: the mapped variable's value is
    the Days column, the PATH timepoint comes from the $$Timestamp tag
    column, and the leaf is renamed to the interval vs the per-subject
    Baseline column ('Baseline', '1 minute', '-5 minutes', '2 hours').
    Counts and per-subject facts must land under the RENAMED leaves —
    r10 caught fact assembly joining on the un-renamed timestamp leaf,
    which silently dropped every timestamp fact."""
    mapping = tmp_path / "TS_Mapping_File.txt"
    data = tmp_path / "TEST.txt"
    mapping.write_text(
        "filename\tcategory_cd\tcol_nbr\tdata_label\tbaseline\tvariable_type\n"
        "TEST.txt\t\t1\tSTUDY_ID\t\t\n"
        "TEST.txt\t\t2\tSUBJ_ID\t\t\n"
        "TEST.txt\tVars+DATALABEL+$$Timestamp\t3\tTimestamp\tBaseline\tTimestamp\n"
        "TEST.txt\t\t4\tTimestamp\t\tTimestamp\n"
        "TEST.txt\tVars\t5\tSex\t\t\n"
        "TEST.txt\t\t6\tBaseline\t\t\n"
    )
    rows = [
        ("SUBJ1", "0", "2000-12-31 12:00", "Female", "2000-12-31 12:00"),
        ("SUBJ1", "10", "2000-12-31 12:01", "Female", "2000-12-31 12:00"),
        ("SUBJ1", "12", "2000-12-31 12:02", "Female", "2000-12-31 12:00"),
        ("SUBJ1", "10", "2000-12-31 12:05", "Female", "2000-12-31 12:00"),
        ("SUBJ2", "5", "2000-12-31 12:00", "Male", "2000-12-31 12:05"),
        ("SUBJ2", "13", "2000-12-31 12:02", "Male", "2000-12-31 12:05"),
        ("SUBJ2", "15", "2000-12-31 12:05", "Male", "2000-12-31 12:05"),
        ("SUBJ3", "7", "2000-12-31 11:00", "Male", "2000-12-31 11:05"),
        ("SUBJ3", "8", "2000-12-31 11:02", "Male", "2000-12-31 11:05"),
        ("SUBJ3", "9", "2000-12-31 11:05", "Male", "2000-12-31 11:05"),
        ("SUBJ4", "17", "2000-12-31 13:00", "Male", "2000-12-31 11:05"),
        ("SUBJ4", "18", "2000-12-31 13:02", "Male", "2000-12-31 11:05"),
        ("SUBJ4", "19", "2000-12-31 13:05", "Male", "2000-12-31 11:05"),
    ]
    data.write_text(
        "STUDY_ID\tSUBJ_ID\tDays\tTimestamp\tSex\tBaseline\n"
        + "".join(f"GSE0SLDDWTS\t{s}\t{d}\t{t}\t{x}\t{b}\n" for s, d, t, x, b in rows)
    )
    top = "\\Test Studies\\TS Study\\"
    res = load_clinical(
        spark, melt_clinical_study(spark, str(mapping)), "GSE0SLDDWTS", top
    )
    tp = top + "Vars\\Timestamp\\"
    counts = {
        r["concept_path"]: r["patient_count"] for r in res.concept_counts.collect()
    }
    assert counts[tp + "Baseline\\"] == 3
    assert counts[tp + "1 minute\\"] == 1

    pats = {
        r["sourcesystem_cd"]: r["patient_num"]
        for r in res.patient_dimension.collect()
    }
    facts = {
        (r["concept_path"], r["patient_num"]): r["nval_num"]
        for r in res.observation_fact.collect()
    }
    subj = lambda s: pats[f"GSE0SLDDWTS:{s}"]  # noqa: E731
    assert facts[(tp + "Baseline\\", subj("SUBJ1"))] == 0
    assert facts[(tp + "Baseline\\", subj("SUBJ2"))] == 15
    assert facts[(tp + "Baseline\\", subj("SUBJ3"))] == 9
    assert facts[(tp + "1 minute\\", subj("SUBJ1"))] == 10
    assert facts[(tp + "-5 minutes\\", subj("SUBJ3"))] == 7
    assert facts[(tp + "2 hours\\", subj("SUBJ4"))] == 19

    # checkMetaDataXMLForTimestamp (ClinicalDataProcessorTest.groovy:
    # 1368-1380): the timepoint nodes carry the reference-verbatim
    # SeriesMeta XML — Oktousevalues Y, Value = minutes, Unit minutes,
    # DisplayName = the node name (negatives and hour conversion incl.)
    import xml.etree.ElementTree as ET

    xmls = {
        r["c_fullname"]: r["c_metadataxml"]
        for r in res.i2b2.filter("c_metadataxml is not null").collect()
    }
    for display, value in [
        ("Baseline", "0"), ("1 minute", "1"), ("-5 minutes", "-5"),
        ("2 hours", "120"), ("-1 hour", None), ("5 minutes", "5"),
    ]:
        path = tp + display + "\\"
        if value is None:
            continue  # node not present in this fixture
        if path not in xmls:
            continue
        meta = ET.fromstring(xmls[path])
        assert meta.findtext("Oktousevalues") == "Y"
        series = meta.find("SeriesMeta")
        assert series.findtext("Value") == value, (display, xmls[path])
        assert series.findtext("Unit") == "minutes"
        assert series.findtext("DisplayName") == display
    assert ET.fromstring(xmls[tp + "Baseline\\"]).find("SeriesMeta") is not None


def test_serial_ldd_timestamps_with_terminator(spark, tmp_path):
    r"""ClinicalDataProcessorTest.groovy:956-994: the `+$` terminator
    composes with the $$Timestamp tag — the category ends with the
    terminator (no visit-name suffix), and the timestamp component is
    still renamed to its interval label."""
    mapping = tmp_path / "TS_Mapping_File.txt"
    data = tmp_path / "TEST.txt"
    mapping.write_text(
        "filename\tcategory_cd\tcol_nbr\tdata_label\tbaseline\tvariable_type\n"
        "TEST.txt\t\t1\tSTUDY_ID\t\t\n"
        "TEST.txt\t\t2\tSUBJ_ID\t\t\n"
        "TEST.txt\tVars+DATALABEL+$$Timestamp+$\t3\tTimestamp\tBaseline\tTimestamp\n"
        "TEST.txt\t\t4\tTimestamp\t\tTimestamp\n"
        "TEST.txt\tVars\t5\tSex\t\t\n"
        "TEST.txt\t\t6\tBaseline\t\t\n"
    )
    rows = [
        ("SUBJ1", "0", "2000-12-31 12:00", "Female", "2000-12-31 12:00"),
        ("SUBJ1", "10", "2000-12-31 12:01", "Female", "2000-12-31 12:00"),
        ("SUBJ1", "12", "2000-12-31 12:02", "Female", "2000-12-31 12:00"),
        ("SUBJ1", "10", "2000-12-31 12:05", "Female", "2000-12-31 12:00"),
        ("SUBJ2", "5", "2000-12-31 12:00", "Male", "2000-12-31 12:00"),
        ("SUBJ2", "13", "2000-12-31 12:02", "Male", "2000-12-31 12:00"),
        ("SUBJ2", "15", "2000-12-31 12:05", "Male", "2000-12-31 12:00"),
    ]
    data.write_text(
        "STUDY_ID\tSUBJ_ID\tDays\tTimestamp\tSex\tBaseline\n"
        + "".join(f"GSE0SLDDWTS\t{s}\t{d}\t{t}\t{x}\t{b}\n" for s, d, t, x, b in rows)
    )
    top = "\\Test Studies\\TS Study\\"
    res = load_clinical(
        spark, melt_clinical_study(spark, str(mapping)), "GSE0SLDDWTS", top
    )
    counts = {
        r["concept_path"]: r["patient_count"] for r in res.concept_counts.collect()
    }
    tp = top + "Vars\\Timestamp\\"
    assert counts[tp + "Baseline\\"] == 2
    assert counts[tp + "1 minute\\"] == 1


def _ts_study(tmp_path, rows, race=False, name="TS"):
    """Write the reference's serial-LDD-with-timestamp builder study
    (ClinicalDataProcessorTest.groovy:917-1021 DSL) as fixture files."""
    d = tmp_path / name
    d.mkdir()
    mapping = d / "TS_Mapping_File.txt"
    label = "Race" if race else "Sex"
    mapping.write_text(
        "filename\tcategory_cd\tcol_nbr\tdata_label\tbaseline\tvariable_type\n"
        "TEST.txt\t\t1\tSTUDY_ID\t\t\n"
        "TEST.txt\t\t2\tSUBJ_ID\t\t\n"
        "TEST.txt\tVars+DATALABEL+$$Timestamp\t3\tTimestamp\tBaseline\tTimestamp\n"
        "TEST.txt\t\t4\tTimestamp\t\tTimestamp\n"
        f"TEST.txt\tVars\t5\t{label}\t\t\n"
        "TEST.txt\t\t6\tBaseline\t\t\n"
    )
    (d / "TEST.txt").write_text(
        f"STUDY_ID\tSUBJ_ID\tDays\tTimestamp\t{label}\tBaseline\n"
        + "".join(f"GSE0SLDDWTS\t{s}\t{dd}\t{t}\t{x}\t{b}\n" for s, dd, t, x, b in rows)
    )
    return str(mapping)


def _series_meta(result, path):
    import xml.etree.ElementTree as ET

    row = result.i2b2.filter(F.col("c_fullname") == path).collect()
    assert row and row[0]["c_metadataxml"], path
    meta = ET.fromstring(row[0]["c_metadataxml"])
    s = meta.find("SeriesMeta")
    return (s.findtext("Value"), s.findtext("Unit"), meta.findtext("Oktousevalues"))


def test_serial_ldd_timestamp_append_merge(spark, tmp_path):
    r"""ClinicalDataProcessorTest.groovy:995-1125 — APPEND-merging new
    timestamp data creates timepoint nodes relative to the same
    baseline, with SeriesMeta minutes: all-new-greater (13:00/14:00 →
    '1 hour' 60 / '2 hours' 120) and some-lesser (11:00..11:05 →
    '-1 hour' -60 / '-55 minutes' -55, Baseline still 0)."""
    from tmdataloader_spark.plans.merge import MergeMode, merge_clinical_load

    top = "\\Test Studies\\TS Study\\"
    tp = top + "Vars\\Timestamp\\"
    first_rows = [
        ("SUBJ1", "0", "2000-12-31 12:00", "Female", "2000-12-31 12:00"),
        ("SUBJ1", "10", "2000-12-31 12:01", "Female", "2000-12-31 12:00"),
        ("SUBJ2", "5", "2000-12-31 12:00", "Male", "2000-12-31 12:00"),
        ("SUBJ2", "15", "2000-12-31 12:05", "Male", "2000-12-31 12:00"),
    ]
    base = load_clinical(
        spark,
        melt_clinical_study(spark, _ts_study(tmp_path, first_rows, name="first")),
        "GSE0SLDDWTS",
        top,
    )
    # :995 all new timestamps greater than the old min
    greater = [
        ("SUBJ1", "0", "2000-12-31 13:00", "One", "2000-12-31 12:00"),
        ("SUBJ1", "12", "2000-12-31 14:00", "One", "2000-12-31 12:00"),
        ("SUBJ2", "5", "2000-12-31 13:00", "Two", "2000-12-31 12:00"),
    ]
    inc = load_clinical(
        spark,
        melt_clinical_study(
            spark, _ts_study(tmp_path, greater, race=True, name="greater")
        ),
        "GSE0SLDDWTS",
        top,
    )
    merged = merge_clinical_load(base, inc, MergeMode.APPEND, "GSE0SLDDWTS", top)
    assert inc.trial_id == merged.trial_id == "GSE0SLDDWTS"
    assert _series_meta(merged, tp + "1 hour\\") == ("60", "minutes", "Y")
    assert _series_meta(merged, tp + "2 hours\\") == ("120", "minutes", "Y")
    # pre-existing nodes keep their XML through the merge union
    assert _series_meta(merged, tp + "Baseline\\") == ("0", "minutes", "Y")

    # :1057 some new timestamps lesser than the old min
    lesser = [
        ("SUBJ1", "5", "2000-12-31 11:00", "One", "2000-12-31 12:00"),
        ("SUBJ1", "2", "2000-12-31 11:05", "One", "2000-12-31 12:00"),
        ("SUBJ2", "10", "2000-12-31 11:00", "Two", "2000-12-31 12:00"),
    ]
    inc2 = load_clinical(
        spark,
        melt_clinical_study(
            spark, _ts_study(tmp_path, lesser, race=True, name="lesser")
        ),
        "GSE0SLDDWTS",
        top,
    )
    merged2 = merge_clinical_load(base, inc2, MergeMode.APPEND, "GSE0SLDDWTS", top)
    assert _series_meta(merged2, tp + "-1 hour\\") == ("-60", "minutes", "Y")
    assert _series_meta(merged2, tp + "-55 minutes\\") == ("-55", "minutes", "Y")
    assert _series_meta(merged2, tp + "Baseline\\") == ("0", "minutes", "Y")

    # A path present in BOTH warehouses must keep the INCOMING XML
    # deterministically — the reference UPDATEs existing i2b2 rows
    # from the new load (I2B2_LOAD_CLINICAL_DATA.sql:989-994), so an
    # old NULL-xml row may never win the union (regression for the
    # former dropDuplicates-based carry, which kept an arbitrary
    # side). Re-load the SAME rows so every timepoint path is shared,
    # and strip the existing side's XML: the merge must still show it.
    import dataclasses

    stripped = dataclasses.replace(
        base,
        i2b2=base.i2b2.withColumn("c_metadataxml", F.lit(None).cast("string")),
    )
    inc_same = load_clinical(
        spark,
        melt_clinical_study(spark, _ts_study(tmp_path, first_rows, name="again")),
        "GSE0SLDDWTS",
        top,
    )
    merged3 = merge_clinical_load(
        stripped, inc_same, MergeMode.APPEND, "GSE0SLDDWTS", top
    )
    assert _series_meta(merged3, tp + "Baseline\\") == ("0", "minutes", "Y")
    assert _series_meta(merged3, tp + "1 minute\\") == ("1", "minutes", "Y")


#: Optimized-plan characters. A plan that re-embeds the cleansing
#: lineage in each consumer measures 0.29-13 MB on this study; planned
#: from the materialized work frame each stays under 60 kB.
PLAN_CHARS_MAX = 100_000


def test_clinical_and_merge_plans_stay_small(spark, tmp_path):
    r"""Spark renders a plan's text on every action and adaptive
    re-plan, so plan size is driver time. The clinical outputs and an
    APPEND merge of them must plan from the materialized work frame,
    not re-embed the melt+cleanse lineage and the Timestamp leaf
    rename in every consumer."""
    from tmdataloader_spark.plans.merge import MergeMode, merge_clinical_load

    top = "\\Test Studies\\TS Study\\"
    rows = [
        ("SUBJ1", "0", "2000-12-31 12:00", "Female", "2000-12-31 12:00"),
        ("SUBJ1", "10", "2000-12-31 12:01", "Female", "2000-12-31 12:00"),
        ("SUBJ2", "5", "2000-12-31 12:05", "Male", "2000-12-31 12:00"),
    ]
    res = load_clinical(
        spark,
        melt_clinical_study(spark, _ts_study(tmp_path, rows, name="plan")),
        "GSE0SLDDWTS",
        top,
    )
    merged = merge_clinical_load(res, res, MergeMode.APPEND, "GSE0SLDDWTS", top)
    sizes = {
        name: len(df._jdf.queryExecution().optimizedPlan().toString())
        for name, df in [
            ("observation_fact", res.observation_fact),
            ("i2b2", res.i2b2),
            ("concept_counts", res.concept_counts),
            ("merged_facts", merged.observation_fact),
        ]
    }
    assert max(sizes.values()) < PLAN_CHARS_MAX, sizes


SINGLEVN = (
    "/root/reference/fixtures/Test Studies/"
    "Test Study With Single Visit Name_GSE0SINGLEVN/ClinicalDataToUpload/"
    "Test Study With Single Visit Name_GSE0SINGLEVN_Mapping_File.txt"
)


def _singlevn_counts(spark, always_set):
    res = load_clinical(
        spark,
        melt_clinical_study(spark, SINGLEVN),
        "GSE0SINGLEVN",
        "\\Test Studies\\Test Study With Single Visit Name\\",
        always_set_visit_name=always_set,
    )
    return {
        r["concept_path"]: r["patient_count"]
        for r in res.concept_counts.collect()
    }


@needs_reference
def test_single_visit_name_removed_by_default(spark):
    r"""ClinicalDataProcessorTest.groovy:421-438 ('it should remove
    single visit name by default'): a study whose only visit name is
    'Baseline' drops it from every path — node counts land at the
    visit-less paths and no '...\Baseline\' nodes exist."""
    counts = _singlevn_counts(spark, always_set=False)
    demo = (
        "\\Test Studies\\Test Study With Single Visit Name\\Subjects"
        "\\Demographics"
    )
    assert counts[demo + "\\Female\\French\\Sex (SEX)\\"] == 2
    assert counts[demo + "\\Female\\English\\Sex (SEX)\\"] == 1
    assert counts[demo + "\\Russian language\\Age (AGE)\\"] == 1
    assert demo + "\\Russian language\\Age (AGE)\\Baseline\\" not in counts
    assert counts[demo + "\\Language\\French\\"] == 2
    assert demo + "\\Language\\French\\Baseline\\" not in counts


@needs_reference
def test_single_visit_name_kept_with_option(spark):
    r"""ClinicalDataProcessorTest.groovy:439-455 ('it should always
    set visit name if option specified'): with alwaysSetVisitName the
    'Baseline' visit stays in every path — including between DATAVALUE
    and the $$Language tag, and after the Age label."""
    counts = _singlevn_counts(spark, always_set=True)
    demo = (
        "\\Test Studies\\Test Study With Single Visit Name\\Subjects"
        "\\Demographics"
    )
    assert counts[demo + "\\Female\\Baseline\\French\\Sex (SEX)\\"] == 2
    assert counts[demo + "\\Female\\Baseline\\English\\Sex (SEX)\\"] == 1
    assert counts[demo + "\\Russian language\\Age (AGE)\\Baseline\\"] == 1
    assert counts[demo + "\\Language\\French\\Baseline\\"] == 2


def _ts2_study(tmp_path, separate_baseline, name):
    r"""The two-timestamp-column builder studies
    (ClinicalDataProcessorTest.groovy:1276-1369 DSL): a second
    $$Timestamp2 group, sharing the first group's baseline column or
    carrying its own 'Baseline2' column."""
    d = tmp_path / name
    d.mkdir()
    mapping = d / "TS2_Mapping_File.txt"
    b2_label = "Baseline2" if separate_baseline else "Baseline"
    lines = [
        "filename\tcategory_cd\tcol_nbr\tdata_label\tbaseline\tvariable_type",
        "TEST.txt\t\t1\tSTUDY_ID\t\t",
        "TEST.txt\t\t2\tSUBJ_ID\t\t",
        "TEST.txt\tVars+DATALABEL+$$Timestamp\t3\tTimestamp\tBaseline\tTimestamp",
        "TEST.txt\t\t4\tTimestamp\t\tTimestamp",
        "TEST.txt\tVars\t5\tSex\t\t",
        "TEST.txt\t\t6\tBaseline\t\t",
        f"TEST.txt\tOther+DATALABEL+$$Timestamp2\t7\tTimestamp2\t{b2_label}\tTimestamp",
        "TEST.txt\t\t8\tTimestamp2\t\tTimestamp",
    ]
    header = "STUDY_ID\tSUBJ_ID\tDays\tTimestamp\tSex\tBaseline\tCount\tTimestamp2"
    if separate_baseline:
        lines.append("TEST.txt\t\t9\tBaseline2\t\t")
        header += "\tBaseline2"
    mapping.write_text("\n".join(lines) + "\n")
    rows = [
        ("SUBJ1", "0", "2000-12-31 12:00", "Female", "1", "2000-12-31 14:00"),
        ("SUBJ1", "10", "2000-12-31 12:01", "Female", "2", "2000-12-31 14:01"),
        ("SUBJ1", "12", "2000-12-31 12:02", "Female", "3", "2000-12-31 14:02"),
        ("SUBJ1", "10", "2000-12-31 12:05", "Female", "4", "2000-12-31 14:03"),
        ("SUBJ2", "5", "2000-12-31 12:00", "Male", "1", "2000-12-31 14:00"),
        ("SUBJ2", "13", "2000-12-31 12:02", "Male", "10", "2000-12-31 14:01"),
        ("SUBJ2", "15", "2000-12-31 12:05", "Male", "100", "2000-12-31 14:02"),
    ]
    body = ""
    for s, days, ts, sex, cnt, ts2 in rows:
        line = f"GSE0SLDDW2TS\t{s}\t{days}\t{ts}\t{sex}\t2000-12-31 12:00\t{cnt}\t{ts2}"
        if separate_baseline:
            line += "\t2000-12-31 13:00"
        body += line + "\n"
    (d / "TEST.txt").write_text(header + "\n" + body)
    return str(mapping)


@pytest.mark.parametrize(
    "separate_baseline,second_expect",
    [
        # :1276 shared baseline (12:00): Timestamp2 at 14:00.. → 2 hours
        (False, {"2 hours": ("120", 2), "2 hours 3 minutes": ("123", 1)}),
        # :1321 own Baseline2 column (13:00): same stamps → 1 hour
        (True, {"1 hour": ("60", 2), "1 hour 3 minutes": ("63", 1)}),
    ],
)
def test_serial_ldd_two_timestamp_columns(spark, tmp_path, separate_baseline, second_expect):
    r"""ClinicalDataProcessorTest.groovy:1276-1369 ('two timestamp
    column' / 'two timestamp and baseline'): each $$Timestamp group
    resolves against ITS OWN baseline column, so the same wall-clock
    stamps land at different timepoint nodes per group, each with the
    reference SeriesMeta XML."""
    top = "\\Test Studies\\TS2 Study\\"
    name = "sep" if separate_baseline else "shared"
    res = load_clinical(
        spark,
        melt_clinical_study(spark, _ts2_study(tmp_path, separate_baseline, name)),
        "GSE0SLDDW2TS",
        top,
    )
    counts = {
        r["concept_path"]: r["patient_count"] for r in res.concept_counts.collect()
    }
    tp1 = top + "Vars\\Timestamp\\"
    tp2 = top + "Other\\Timestamp2\\"
    assert counts[tp1 + "Baseline\\"] == 2
    assert counts[tp1 + "1 minute\\"] == 1
    for nodename, (_, n) in second_expect.items():
        assert counts[tp2 + nodename + "\\"] == n, nodename
    # checkMetaDataXMLForTimestamp: reference-verbatim SeriesMeta
    assert _series_meta(res, tp1 + "Baseline\\") == ("0", "minutes", "Y")
    assert _series_meta(res, tp1 + "5 minutes\\") == ("5", "minutes", "Y")
    for nodename, (minutes, _) in second_expect.items():
        assert _series_meta(res, tp2 + nodename + "\\") == (minutes, "minutes", "Y")


def _fact_vals(result, path):
    """{subject_suffix: nval} for facts at one concept path."""
    rows = (
        result.observation_fact.filter(F.col("concept_path") == path)
        .join(
            result.patient_dimension.select(
                "patient_num", F.col("sourcesystem_cd").alias("_src")
            ),
            on="patient_num",
        )
        .collect()
    )
    return {r["_src"].split(":")[-1]: r["nval_num"] for r in rows}


def test_serial_ldd_timestamp_update_merge(spark, tmp_path):
    r"""ClinicalDataProcessorTest.groovy:1126-1275 — the UPDATE-mode
    twins of the APPEND timestamp merges: re-loading SUBJ1 replaces
    its facts at the NEW timepoints (negative when the new stamps
    precede the shared baseline, '1 hour ...' when they follow),
    SUBJ2's original Baseline fact survives, and the brand-new SUBJ3
    lands alongside — each node carrying the reference SeriesMeta."""
    from tmdataloader_spark.plans.merge import MergeMode, merge_clinical_load

    top = "\\Test Studies\\TS Study\\"
    tp = top + "Vars\\Timestamp\\"
    first_rows = [
        ("SUBJ1", "0", "2000-12-31 12:00", "Female", "2000-12-31 12:00"),
        ("SUBJ1", "10", "2000-12-31 12:01", "Female", "2000-12-31 12:00"),
        ("SUBJ1", "12", "2000-12-31 12:02", "Female", "2000-12-31 12:00"),
        ("SUBJ1", "10", "2000-12-31 12:05", "Female", "2000-12-31 12:00"),
        ("SUBJ2", "5", "2000-12-31 12:00", "Male", "2000-12-31 12:00"),
        ("SUBJ2", "13", "2000-12-31 12:02", "Male", "2000-12-31 12:00"),
        ("SUBJ2", "15", "2000-12-31 12:05", "Male", "2000-12-31 12:00"),
    ]
    base = load_clinical(
        spark,
        melt_clinical_study(spark, _ts_study(tmp_path, first_rows, name="ufirst")),
        "GSE0SLDDWTS",
        top,
    )
    # :1126 some new timestamps lesser than the shared baseline
    lesser = [
        ("SUBJ1", "5", "2000-12-31 11:00", "Male", "2000-12-31 12:00"),
        ("SUBJ1", "7", "2000-12-31 12:03", "Male", "2000-12-31 12:00"),
        ("SUBJ1", "2", "2000-12-31 11:02", "Male", "2000-12-31 12:00"),
        ("SUBJ1", "4", "2000-12-31 11:05", "Male", "2000-12-31 12:00"),
        ("SUBJ3", "0", "2000-12-31 11:00", "Male", "2000-12-31 12:00"),
        ("SUBJ3", "1", "2000-12-31 11:02", "Male", "2000-12-31 12:00"),
        ("SUBJ3", "2", "2000-12-31 11:05", "Male", "2000-12-31 12:00"),
    ]
    inc = load_clinical(
        spark,
        melt_clinical_study(spark, _ts_study(tmp_path, lesser, name="ulesser")),
        "GSE0SLDDWTS",
        top,
    )
    merged = merge_clinical_load(base, inc, MergeMode.UPDATE, "GSE0SLDDWTS", top)
    assert _fact_vals(merged, tp + "-1 hour\\")["SUBJ1"] == 5
    assert _fact_vals(merged, tp + "-58 minutes\\") == {"SUBJ1": 2, "SUBJ3": 1}
    assert _fact_vals(merged, tp + "3 minutes\\")["SUBJ1"] == 7
    assert _fact_vals(merged, tp + "-55 minutes\\")["SUBJ1"] == 4
    assert _fact_vals(merged, tp + "Baseline\\")["SUBJ2"] == 5
    assert _series_meta(merged, tp + "-55 minutes\\") == ("-55", "minutes", "Y")
    assert _series_meta(merged, tp + "3 minutes\\") == ("3", "minutes", "Y")
    assert _series_meta(merged, tp + "Baseline\\") == ("0", "minutes", "Y")

    # :1202 all new timestamps greater than the old min
    greater = [
        ("SUBJ1", "5", "2000-12-31 13:00", "Male", "2000-12-31 12:00"),
        ("SUBJ1", "7", "2000-12-31 13:01", "Male", "2000-12-31 12:00"),
        ("SUBJ1", "2", "2000-12-31 13:02", "Male", "2000-12-31 12:00"),
        ("SUBJ1", "4", "2000-12-31 13:05", "Male", "2000-12-31 12:00"),
        ("SUBJ3", "0", "2000-12-31 13:00", "Male", "2000-12-31 12:00"),
        ("SUBJ3", "1", "2000-12-31 13:02", "Male", "2000-12-31 12:00"),
    ]
    inc2 = load_clinical(
        spark,
        melt_clinical_study(spark, _ts_study(tmp_path, greater, name="ugreater")),
        "GSE0SLDDWTS",
        top,
    )
    merged2 = merge_clinical_load(base, inc2, MergeMode.UPDATE, "GSE0SLDDWTS", top)
    assert _fact_vals(merged2, tp + "1 hour\\") == {"SUBJ1": 5, "SUBJ3": 0}
    assert _fact_vals(merged2, tp + "1 hour 1 minute\\")["SUBJ1"] == 7
    assert _fact_vals(merged2, tp + "1 hour 2 minutes\\") == {"SUBJ1": 2, "SUBJ3": 1}
    assert _fact_vals(merged2, tp + "1 hour 5 minutes\\")["SUBJ1"] == 4
    assert _fact_vals(merged2, tp + "Baseline\\")["SUBJ2"] == 5
    assert _series_meta(merged2, tp + "1 hour\\") == ("60", "minutes", "Y")
    assert _series_meta(merged2, tp + "1 hour 5 minutes\\") == ("65", "minutes", "Y")
    assert _series_meta(merged2, tp + "Baseline\\") == ("0", "minutes", "Y")


def test_empty_header_cells_are_not_duplicate_names(spark, tmp_path):
    """commons-csv runs withAllowMissingColumnNames(true)
    (CsvLikeFile.groovy:32): EMPTY header cells — e.g. trailing tabs —
    are allowed any number of times; only duplicate NON-empty names
    abort.  A data file whose header ends in two empty cells must load
    WITHOUT --allow-non-unique-columns."""
    mapping = tmp_path / "EH_Mapping_File.txt"
    data = tmp_path / "TEST.txt"
    mapping.write_text(
        "filename\tcategory_cd\tcol_nbr\tdata_label\n"
        "TEST.txt\t\t1\tSTUDY_ID\n"
        "TEST.txt\t\t2\tSUBJ_ID\n"
        "TEST.txt\tVars\t3\tSex\n"
    )
    data.write_text(
        "STUDY_ID\tSUBJ_ID\tSex\t\t\n"
        "GSE0EH\tSUBJ1\tMale\t\t\n"
        "GSE0EH\tSUBJ2\tFemale\t\t\n"
    )
    landing = melt_clinical_study(spark, str(mapping))
    assert landing.filter(F.col("data_value") == "Male").count() == 1


def test_timepoint_abort_fires_without_duplicate_checking(spark, tmp_path):
    """The reference's RAISE 'Check date format'
    (I2B2_BUILD_METADATA_XML.sql:52) is UNCONDITIONAL — it fires from
    metadata-XML construction regardless of duplicate-fact checking.
    A caller disabling check_duplicates must still abort on a
    TIMEPOINT display name that matches neither series path (here a
    pure sub-minute '30 seconds' interval), not silently sink a NULL
    c_metadataxml."""
    from tmdataloader_spark.operators.dedup import LoadValidationError

    mapping = tmp_path / "TS_Mapping_File.txt"
    data = tmp_path / "TEST.txt"
    mapping.write_text(
        "filename\tcategory_cd\tcol_nbr\tdata_label\tbaseline\tvariable_type\n"
        "TEST.txt\t\t1\tSTUDY_ID\t\t\n"
        "TEST.txt\t\t2\tSUBJ_ID\t\t\n"
        "TEST.txt\tVars+DATALABEL+$$Timestamp\t3\tTimestamp\tBaseline\tTimestamp\n"
        "TEST.txt\t\t4\tTimestamp\t\tTimestamp\n"
        "TEST.txt\t\t5\tBaseline\t\t\n"
    )
    data.write_text(
        "STUDY_ID\tSUBJ_ID\tDays\tTimestamp\tBaseline\n"
        "GSE0TSB\tSUBJ1\t0\t2000-12-31 12:00:00\t2000-12-31 12:00:00\n"
        "GSE0TSB\tSUBJ1\t10\t2000-12-31 12:00:30\t2000-12-31 12:00:00\n"
    )
    with pytest.raises(LoadValidationError, match="Check date format"):
        load_clinical(
            spark,
            melt_clinical_study(spark, str(mapping)),
            "GSE0TSB",
            "\\Test Studies\\TS Abort Study\\",
            check_duplicates=False,
        ).observation_fact.count()
