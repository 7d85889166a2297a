r"""Move/delete operations e2e over a loaded fixture study, mirroring
MoveStudyOperationTest.groovy (408 LoC) and DeleteOperationTestCase
assertions — on warehouse DataFrames."""

import pytest
from conftest import needs_reference

from pyspark.sql import functions as F

from tmdataloader_spark.operators.dedup import LoadValidationError
from tmdataloader_spark.plans.clinical import load_clinical
from tmdataloader_spark.plans.operations import (
    StudyWarehouse,
    delete_all_data,
    move_study_by_path,
    normalize_path,
)
from tmdataloader_spark.sources.mapping import melt_clinical_study

ROOT = "Test Studies Move Test"
ORIGINAL = f"\\{ROOT}\\Test Study\\"


@pytest.fixture(scope="module")
def wh(spark, gse0_mapping):
    res = load_clinical(
        spark, melt_clinical_study(spark, gse0_mapping), "GSE0", ORIGINAL
    )
    table_access = (
        res.i2b2.filter(F.col("c_hlevel") == 0)
        .select("c_fullname", "c_name")
        .distinct()
    )
    return StudyWarehouse(
        i2b2=res.i2b2,
        concept_dimension=res.concept_dimension,
        observation_fact=res.observation_fact,
        patient_dimension=res.patient_dimension,
        concept_counts=res.concept_counts,
        table_access=table_access,
        deapp={"de_subject_sample_mapping": res.observation_fact.sparkSession.createDataFrame(
            [("OTHER", "S1")], "trial_name string, sample_cd string")},
        variants={},
    )


def paths(df, col):
    return {r[0] for r in df.select(col).distinct().collect()}


def count_at(wh_, path):
    rows = wh_.concept_counts.filter(F.col("concept_path") == path).collect()
    return rows[0]["patient_count"] if rows else 0


def test_normalize_path():
    assert normalize_path("a\\b") == "\\a\\b\\"
    assert normalize_path("\\a\\b\\") == "\\a\\b\\"
    assert normalize_path(" \\a\\\\b ") == "\\a\\b\\"


@needs_reference
def test_move_in_one_root(wh):
    new = f"\\{ROOT}\\Test Study Update\\"
    out = move_study_by_path(wh, ORIGINAL, new)
    i2b2_paths = paths(out.i2b2, "c_fullname")
    cd_paths = paths(out.concept_dimension, "concept_path")
    assert new in i2b2_paths and new in cd_paths
    assert not any(p.startswith(ORIGINAL) for p in i2b2_paths)
    assert not any(p.startswith(ORIGINAL) for p in cd_paths)
    # c_name of the moved node renamed to the new leaf name
    name = out.i2b2.filter(F.col("c_fullname") == new).collect()[0]["c_name"]
    assert name == "Test Study Update"
    assert count_at(out, new) == 9


def test_move_creates_new_root(wh):
    new = "\\Test Studies Move Test Update\\Test Study Update\\"
    out = move_study_by_path(wh, ORIGINAL, new)
    new_root = "\\Test Studies Move Test Update\\"
    old_root = f"\\{ROOT}\\"
    assert new_root in paths(out.i2b2, "c_fullname")
    assert new_root in paths(out.table_access, "c_fullname")
    # old root had no other children -> removed everywhere
    assert old_root not in paths(out.i2b2, "c_fullname")
    assert old_root not in paths(out.table_access, "c_fullname")


@needs_reference
def test_move_creates_new_level_and_counts(wh):
    new = f"\\{ROOT}\\New Level\\Test Study\\"
    out = move_study_by_path(wh, ORIGINAL, new)
    level = f"\\{ROOT}\\New Level\\"
    assert level in paths(out.i2b2, "c_fullname")
    assert level in paths(out.concept_dimension, "concept_path")
    assert count_at(out, new) == 9
    # hlevels recomputed along the deeper path
    levels = {
        r["c_fullname"]: r["c_hlevel"]
        for r in out.i2b2.filter(
            F.col("c_fullname").isin([f"\\{ROOT}\\", level, new])
        ).collect()
    }
    assert levels == {f"\\{ROOT}\\": 0, level: 1, new: 2}


def test_move_deletes_empty_level(wh):
    mid = f"\\{ROOT}\\New Level\\Test Study\\"
    short = f"\\{ROOT}\\Test Study\\Sub\\"
    out1 = move_study_by_path(wh, ORIGINAL, mid)
    out2 = move_study_by_path(out1, mid, f"\\{ROOT}\\Test Study Back\\")
    gone = f"\\{ROOT}\\New Level\\"
    assert gone not in paths(out2.i2b2, "c_fullname")
    assert gone not in paths(out2.concept_dimension, "concept_path")
    assert not any(
        p.startswith(gone) for p in paths(out2.concept_counts, "concept_path")
    )
    _ = short


def test_move_without_trailing_slash(wh):
    out = move_study_by_path(
        wh, ORIGINAL[:-1], f"\\{ROOT}\\Test Study Wo Slash"
    )
    assert f"\\{ROOT}\\Test Study Wo Slash\\" in paths(out.i2b2, "c_fullname")


@needs_reference
def test_move_validations(wh):
    with pytest.raises(LoadValidationError, match="different old and new"):
        move_study_by_path(wh, ORIGINAL, ORIGINAL)
    with pytest.raises(LoadValidationError, match="exists study path"):
        move_study_by_path(wh, f"\\{ROOT}\\No Such Study\\", f"\\{ROOT}\\X\\")
    with pytest.raises(LoadValidationError, match="root node"):
        move_study_by_path(wh, ORIGINAL, f"\\{ROOT}\\")
    # target exists: the study's own demographics folder
    with pytest.raises(LoadValidationError, match="already exists"):
        move_study_by_path(
            wh, ORIGINAL + "Subjects\\", ORIGINAL + "Biomarker Data\\"
        )


@needs_reference
def test_move_subfolder_within_study(wh):
    # sub-node move must stay inside the study root
    with pytest.raises(LoadValidationError, match="inside of study root"):
        move_study_by_path(wh, ORIGINAL + "Subjects\\", f"\\{ROOT}\\Elsewhere\\")
    out = move_study_by_path(
        wh, ORIGINAL + "Subjects\\", ORIGINAL + "Participants\\"
    )
    assert ORIGINAL + "Participants\\Demographics\\" in paths(out.i2b2, "c_fullname")


def test_delete_all_data(wh):
    out = delete_all_data(wh, trial_id="GSE0", path=ORIGINAL)
    assert not any(
        p.startswith(ORIGINAL) for p in paths(out.i2b2, "c_fullname")
    )
    assert out.observation_fact.count() == 0
    assert out.patient_dimension.count() == 0
    assert not any(
        p.startswith(ORIGINAL)
        for p in paths(out.concept_dimension, "concept_path")
    )
    # unrelated deapp trials survive
    assert out.deapp["de_subject_sample_mapping"].count() == 1


def test_delete_by_path_resolves_trial(wh):
    out = delete_all_data(wh, path=ORIGINAL)
    assert out.observation_fact.count() == 0


def test_move_over_existing_with_keep_security(spark):
    """MoveStudyOperationTest.testMoveStudyWithSaveSecurity: with
    keep-security the existing study at the target path is deleted
    first and the moved study lands there; without it the move aborts
    ('Study target path is already exists')."""

    def node(path, hlevel, name, trial):
        return (path, hlevel, name, None, None, trial)

    i2b2 = spark.createDataFrame(
        [
            node("\\R\\", 0, "R", None),
            node("\\R\\A\\", 1, "A", "TA"),
            node("\\R\\A\\x\\", 2, "x", "TA"),
            node("\\R\\B\\", 1, "B", "TB"),
            node("\\R\\B\\y\\", 2, "y", "TB"),
        ],
        "c_fullname string, c_hlevel int, c_name string, c_basecode string, "
        "valtype_cd string, sourcesystem_cd string",
    )
    cd = spark.createDataFrame(
        [
            ("\\R\\A\\", "ca", "A", "TA"),
            ("\\R\\A\\x\\", "cx", "x", "TA"),
            ("\\R\\B\\", "cb", "B", "TB"),
            ("\\R\\B\\y\\", "cy", "y", "TB"),
        ],
        "concept_path string, concept_cd string, name_char string, sourcesystem_cd string",
    )
    facts = spark.createDataFrame(
        [
            (1, "cx", "TA", "T", "v", None, "TA", None, "\\R\\A\\x\\"),
            (2, "cy", "TB", "T", "v", None, "TB", None, "\\R\\B\\y\\"),
        ],
        "patient_num long, concept_cd string, modifier_cd string, valtype_cd string, "
        "tval_char string, nval_num double, sourcesystem_cd string, sample_cd string, "
        "concept_path string",
    )
    patients = spark.createDataFrame(
        [(1, "M", None, None, "TA:1"), (2, "F", None, None, "TB:2")],
        "patient_num long, sex_cd string, age_in_years_num int, race_cd string, "
        "sourcesystem_cd string",
    )
    wh0 = StudyWarehouse(
        i2b2=i2b2, concept_dimension=cd, observation_fact=facts,
        patient_dimension=patients,
        concept_counts=spark.createDataFrame(
            [], "concept_path string, patient_count long"),
    )

    with pytest.raises(LoadValidationError, match="already exists"):
        move_study_by_path(wh0, "\\R\\A\\", "\\R\\B\\")

    out = move_study_by_path(wh0, "\\R\\A\\", "\\R\\B\\", keep_security=True)
    got = paths(out.i2b2, "c_fullname")
    assert "\\R\\B\\x\\" in got and "\\R\\A\\" not in got
    assert "\\R\\B\\y\\" not in got, "old target study deleted"
    fact_paths = paths(out.observation_fact, "concept_path")
    assert fact_paths == {"\\R\\B\\x\\"}


def test_delete_lowercase_id(wh):
    """DeleteOperationTestCase.testItDeleteDataSensitiveCase: a
    lowercase study id still deletes (DeleteDataProcessor.groovy:21
    upper-cases before the call)."""
    out = delete_all_data(wh, trial_id="gse0")
    assert out.observation_fact.count() == 0
    assert not paths(out.i2b2, "c_fullname") & paths(wh.i2b2, "c_fullname") or \
        ORIGINAL not in paths(out.i2b2, "c_fullname")


def test_delete_path_without_trailing_slash(wh):
    """testDeleteDataByNameWOSlash: the path normalizes to the
    slash-terminated form before matching."""
    out = delete_all_data(wh, path=f"\\{ROOT}\\Test Study")
    assert out.observation_fact.count() == 0
    assert ORIGINAL not in paths(out.i2b2, "c_fullname")


def test_delete_last_study_removes_empty_top_node(wh):
    """testItDeleteTopNode: removing the only study under a program
    folder removes the folder node too
    (I2B2_DELETE_ALL_DATA.sql:300-331)."""
    out = delete_all_data(wh, trial_id="GSE0", path=ORIGINAL)
    remaining = paths(out.i2b2, "c_fullname")
    assert f"\\{ROOT}\\" not in remaining, "childless top node must be deleted"
    assert out.table_access.filter(
        F.col("c_fullname") == f"\\{ROOT}\\"
    ).count() == 0


def test_delete_keeps_top_node_with_sibling(spark, wh):
    """testItNotDeleteTopNode: the program folder survives while a
    second study still lives under it."""
    from pyspark.sql import Row

    sibling = spark.createDataFrame(
        [Row(c_fullname=f"\\{ROOT}\\Other Study\\", c_hlevel=1,
             c_name="Other Study", sourcesystem_cd="GSE1")]
    )
    wh2 = StudyWarehouse(
        i2b2=wh.i2b2.unionByName(sibling, allowMissingColumns=True),
        concept_dimension=wh.concept_dimension,
        observation_fact=wh.observation_fact,
        patient_dimension=wh.patient_dimension,
        concept_counts=wh.concept_counts,
        table_access=wh.table_access,
        deapp=wh.deapp,
        variants=wh.variants,
    )
    out = delete_all_data(wh2, trial_id="GSE0", path=ORIGINAL)
    remaining = paths(out.i2b2, "c_fullname")
    assert f"\\{ROOT}\\" in remaining, "top node with a sibling must survive"
    assert f"\\{ROOT}\\Other Study\\" in remaining


def has_count_row(wh_, path):
    return wh_.concept_counts.filter(F.col("concept_path") == path).count() > 0


@needs_reference
def test_move_subfolder_demographics_counts(wh):
    r"""MoveStudyOperationTest.groovy:253-270 (testMoveSubfolder): move
    Language under a NEW 'Demographics new' folder; the recomputed
    counts match the reference's exact map — the moved subtree's 3
    patients land under the new folder, the old Demographics keeps its
    other leaves' counts."""
    old = ORIGINAL + "Subjects\\Demographics\\Language\\"
    new = ORIGINAL + "Subjects\\Demographics new\\Language\\"
    out = move_study_by_path(wh, old, new)
    base = ORIGINAL + "Subjects\\"
    for suffix, n in {
        "Demographics new\\": 3,
        "Demographics new\\Language\\": 3,
        "Demographics new\\Language\\English\\": 2,
        "Demographics new\\Language\\Spain\\": 1,
        "Demographics\\Sex (SEX)\\Female\\": 5,
        "Demographics\\Sex (SEX)\\": 7,
        "Demographics\\Assessment Date\\": 9,
    }.items():
        assert count_at(out, base + suffix) == n, suffix


@pytest.mark.parametrize(
    "new_mid",
    [
        "Subjects new\\Demographics\\",  # testMoveSubfolder2 (:282)
        "Subjects new\\Demographics new\\",  # testMoveSubfolder3 (:299)
    ],
)
@needs_reference
def test_move_subfolder_new_parent_levels_counts(wh, new_mid):
    r"""MoveStudyOperationTest.groovy:282-315: moving Language under
    one or two NEW intermediate folders fills the levels in and rolls
    the 3 Language patients up through each new folder, while the old
    Demographics subtree keeps its remaining counts."""
    old = ORIGINAL + "Subjects\\Demographics\\Language\\"
    new = ORIGINAL + new_mid + "Language\\"
    out = move_study_by_path(wh, old, new)
    for suffix, n in {
        new_mid: 3,
        new_mid + "Language\\": 3,
        new_mid + "Language\\English\\": 2,
        new_mid + "Language\\Spain\\": 1,
        "Subjects\\Demographics\\Sex (SEX)\\Female\\": 5,
        "Subjects\\Demographics\\Sex (SEX)\\Male\\": 2,
    }.items():
        assert count_at(out, ORIGINAL + suffix) == n, suffix
    # the new intermediate level is a real node
    assert ORIGINAL + new_mid in paths(out.i2b2, "c_fullname")


@needs_reference
def test_move_subfolder_mutation_leaf_counts(wh):
    r"""MoveStudyOperationTest.groovy:271-281 (testMoveSubfolder4):
    moving the 3-patient ELREA746del mutation leaf out from under
    Biomarker Data drops that node's rollup to 6 distinct patients."""
    old = (
        ORIGINAL + "Biomarker Data\\Mutations\\TST001 (Entrez ID: 1956)\\"
        "AA mutation\\ELREA746del\\"
    )
    new = ORIGINAL + "test\\ELREA746del\\"
    out = move_study_by_path(wh, old, new)
    assert count_at(out, ORIGINAL + "Biomarker Data\\") == 6
    assert count_at(out, new) == 3


@needs_reference
def test_move_study_with_few_levels_chained(wh):
    r"""MoveStudyOperationTest.groovy:115-135 (testMoveStudyWithFewLevels,
    single-study adaptation): chained moves through multi-level paths
    — each move fills the new levels in, prunes the emptied old ones,
    and keeps the study's 9-patient count intact."""
    p1 = f"\\{ROOT}\\A\\B\\Test Study"
    out1 = move_study_by_path(wh, ORIGINAL, p1)
    assert f"\\{ROOT}\\A\\B\\Test Study\\" in paths(out1.i2b2, "c_fullname")
    assert ORIGINAL not in paths(out1.i2b2, "c_fullname")

    p2 = f"\\{ROOT}\\A\\C\\Another Test Study\\"
    out2 = move_study_by_path(out1, f"\\{ROOT}\\A\\B\\Test Study\\", p2)
    got = paths(out2.i2b2, "c_fullname")
    assert p2 in got
    # the emptied B level is pruned; A survives (C lives under it)
    assert f"\\{ROOT}\\A\\B\\" not in got
    assert f"\\{ROOT}\\A\\" in got
    assert count_at(out2, p2) == 9


@needs_reference
def test_move_double_change_top_counts_scope(wh):
    r"""MoveStudyOperationTest.groovy:333-366
    (testItCheckUpdateConceptCountsWIthDoubleChangeTop +
    ...WithAddHierarchyLevel): after moving the study to a deep path
    under a NEW root, counts exist for the study subtree but NOT for
    the intermediate folders above it — the reference re-runs
    I2B2_CREATE_CONCEPT_COUNTS scoped to the study path (:457), so
    '\Root Update\C\' (and '\C\D\' in the deeper variant) never get a
    counts row."""
    new_root = f"\\{ROOT} Update"
    for new in (f"{new_root}\\C\\D\\", f"{new_root}\\C\\D\\E\\"):
        out = move_study_by_path(wh, ORIGINAL, new)
        assert count_at(out, new + "Subjects\\Demographics\\") == 9
        assert count_at(out, new) == 9
        # intermediate folders above the moved study: nodes exist,
        # counts rows do NOT
        inter = [p for p in (f"{new_root}\\C\\", f"{new_root}\\C\\D\\") if p != new]
        node_paths = paths(out.i2b2, "c_fullname")
        for p in inter:
            assert p in node_paths, p
            assert not has_count_row(out, p), p
        assert not has_count_row(out, new_root + "\\")


def test_delete_part_data_by_id_without_path(spark, wh):
    r"""DeleteOperationTestCase.groovy:411-421
    (testItDeletePartDataByIdWithoutPath): deleting by id with NO path
    — even after the study's concept_dimension rows were removed
    externally — still clears the trial's deapp sample mapping."""
    import dataclasses

    sm = spark.createDataFrame(
        [("GSE0", "TST1000000719"), ("OTHER", "S1")],
        "trial_name string, sample_cd string",
    )
    wh2 = dataclasses.replace(
        wh,
        concept_dimension=wh.concept_dimension.filter(
            F.col("sourcesystem_cd") != "GSE0"
        ),
        deapp={"de_subject_sample_mapping": sm},
    )
    out = delete_all_data(wh2, trial_id="GSE0", path=None)
    left = out.deapp["de_subject_sample_mapping"]
    assert left.filter(F.col("trial_name") == "GSE0").count() == 0
    assert left.filter(F.col("sample_cd") == "TST1000000719").count() == 0
    assert left.count() == 1  # unrelated trial survives


def _mini_wh(spark, i2b2_rows, deapp=None):
    empty = lambda s: spark.createDataFrame([], s)  # noqa: E731
    return StudyWarehouse(
        i2b2=spark.createDataFrame(
            i2b2_rows,
            "c_fullname string, c_hlevel int, c_name string, c_basecode string, "
            "valtype_cd string, sourcesystem_cd string, c_visualattributes string",
        ),
        concept_dimension=empty(
            "concept_path string, concept_cd string, name_char string, "
            "sourcesystem_cd string"
        ),
        observation_fact=empty(
            "patient_num long, concept_cd string, modifier_cd string, "
            "valtype_cd string, tval_char string, nval_num double, "
            "sourcesystem_cd string, sample_cd string, concept_path string"
        ),
        patient_dimension=empty("patient_num long, sourcesystem_cd string"),
        concept_counts=empty("concept_path string, patient_count long"),
        deapp=deapp or {},
    )


def test_delete_all_data_skips_frames_without_trial_name(spark):
    """Regression (r13): delete-by-id must pass platform registries
    through untouched — de_gpl_info has no trial_name column and
    I2B2_DELETE_ALL_DATA never deletes from it; before the fix the
    filter raised UNRESOLVED_COLUMN the moment a warehouse with a
    registered platform deleted (or re-uploaded) any study."""
    from tmdataloader_spark.sources.gpl import add_platform

    gpl = add_platform(spark, None, "GPL96", "t", "Homo Sapiens", "Gene Expression")
    data = spark.createDataFrame(
        [("GSE1", "p1", 1.0)], "trial_name string, probeset_id string, zscore double"
    )
    wh0 = _mini_wh(
        spark,
        [("\\S\\A\\", 1, "A", "b", "T", "GSE1", "FAS")],
        deapp={"de_gpl_info": gpl, "de_subject_expression_data": data},
    )
    out = delete_all_data(wh0, trial_id="GSE1")
    assert out.deapp["de_gpl_info"].count() == 1
    assert out.deapp["de_subject_expression_data"].count() == 0


def test_check_study_conflicts_guards(spark):
    """AbstractDataProcessor.groovy:80-116 parity: multi-id path abort,
    different-id path abort vs --replace-study removal, and the
    same-id-different-path abort (reference message formats)."""
    import pytest as _pytest

    from tmdataloader_spark.plans.operations import check_study_conflicts
    top = "\\R\\Study\\"
    one = _mini_wh(spark, [
        ("\\R\\", 0, "R", None, None, None, "CA "),
        ("\\R\\Study\\", 1, "Study", None, None, "OLD1", "FAS"),
        ("\\R\\Study\\x\\", 2, "x", None, None, "OLD1", "LA "),
    ])
    # same id at the same path: clean pass-through
    same = check_study_conflicts(one, "OLD1", top)
    assert same.i2b2.count() == 3

    # one OTHER id: abort without --replace-study...
    with _pytest.raises(LoadValidationError, match=r"Other study by the same path .* old = 'OLD1', new = 'NEW1'"):
        check_study_conflicts(one, "NEW1", top)
    # ...delete-then-proceed with it (T9's childless-ancestor
    # recursion may also prune the now-empty root — only the
    # old study must be GONE)
    pruned = check_study_conflicts(one, "NEW1", top, replace_study=True)
    left = {r.c_fullname for r in pruned.i2b2.collect()}
    assert not any(p.startswith(top) for p in left)
    assert pruned.i2b2.filter(F.col("sourcesystem_cd") == "OLD1").count() == 0

    # two different ids under the path: always aborts
    two = _mini_wh(spark, [
        ("\\R\\Study\\a\\", 2, "a", None, None, "OLD1", "LA "),
        ("\\R\\Study\\b\\", 2, "b", None, None, "OLD2", "LA "),
    ])
    with _pytest.raises(LoadValidationError, match="path contains several different studyIds"):
        check_study_conflicts(two, "NEW1", top)

    # the incoming id already rooted elsewhere: abort with its path
    elsewhere = _mini_wh(spark, [
        ("\\R\\Other\\", 1, "Other", None, None, "NEW1", "FAS"),
    ])
    with _pytest.raises(LoadValidationError, match=r"Other study with same id found by different path: \\R\\Other\\"):
        check_study_conflicts(elsewhere, "NEW1", top)

    # sibling path prefixes must NOT collide (the trailing-backslash
    # normalization the Groovy does at :55)
    sibling = _mini_wh(spark, [
        ("\\R\\Study 2\\", 1, "Study 2", None, None, "OTHER", "FAS"),
    ])
    assert check_study_conflicts(sibling, "NEW1", top).i2b2.count() == 1
