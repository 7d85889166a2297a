r"""Merge-mode e2e on the reference's merge fixtures, mirroring
ClinicalDataProcessorTest.groovy:193-350 ('it should load study with
REPLACE/UPDATE/UPDATE VARIABLES/APPEND merge mode') — DataFrames only.
"""

import pytest
from conftest import needs_reference

from pyspark.sql import functions as F

from tmdataloader_spark.operators.dedup import LoadValidationError
from tmdataloader_spark.plans.clinical import load_clinical
from tmdataloader_spark.plans.merge import MergeMode, merge_clinical_load
from tmdataloader_spark.sources.mapping import melt_clinical_study
from tmdataloader_spark.sources.tsv import read_head_meta

BASE = (
    "/root/reference/fixtures/Test Studies/Test Study_GSE0/ClinicalDataToUpload/"
    "Test Study_GSE0_Mapping_File.txt"
)
MERGE_DIR = "/root/reference/fixtures/Test Studies For Merge"
TOP = "\\Test Studies\\Test Study\\"
ROOT = TOP


def load(spark, mapping_path, trial="GSE0", top=TOP):
    return load_clinical(spark, melt_clinical_study(spark, mapping_path), trial, top)


def merge_with(spark, base_result, subdir, trial="GSE0", top=TOP,
               study_dir="Test Study_GSE0"):
    mapping = (
        f"{MERGE_DIR}/{subdir}/{study_dir}/ClinicalDataToUpload/"
        f"{study_dir.rsplit('_', 1)[-1] and study_dir}_Mapping_File.txt"
    )
    mapping = (
        f"{MERGE_DIR}/{subdir}/{study_dir}/ClinicalDataToUpload/"
        f"{study_dir}_Mapping_File.txt"
    )
    mode = MergeMode.parse(read_head_meta(mapping).get("MERGE_MODE"))
    incoming = load(spark, mapping, trial, top)
    return merge_clinical_load(base_result, incoming, mode, trial, top), mode


def patient_count(result, path):
    rows = result.concept_counts.filter(F.col("concept_path") == path).collect()
    return rows[0]["patient_count"] if rows else 0


def fact_value(result, path, subj):
    rows = (
        result.observation_fact.filter(
            (F.col("concept_path") == path)
            & F.col("sourcesystem_cd").isNotNull()
        )
        .join(
            result.patient_dimension.filter(
                F.col("sourcesystem_cd").endswith(":" + subj)
            ).select("patient_num"),
            on="patient_num",
        )
        .collect()
    )
    assert rows, f"no fact at {path} for {subj}"
    return rows[0]["nval_num"]


@pytest.fixture(scope="module")
def base(spark):
    return load(spark, BASE)


@needs_reference
def test_replace_mode(spark, base):
    demographic = ROOT + "Subjects\\Demographics\\"
    assert patient_count(base, demographic) == 9
    merged, mode = merge_with(spark, base, "Replace")
    assert mode is MergeMode.REPLACE
    assert patient_count(merged, demographic) == 1


@needs_reference
def test_update_mode(spark, base):
    male = ROOT + "Subjects\\Demographics\\Sex (SEX)\\Male\\"
    female = ROOT + "Subjects\\Demographics\\Sex (SEX)\\Female\\"
    language = ROOT + "Subjects\\Demographics\\Language\\"
    age = ROOT + "Subjects\\Demographics\\Age (AGE)\\"
    assessment = ROOT + "Subjects\\Demographics\\Assessment Date\\"
    biomarker = (
        ROOT + "Biomarker Data\\Mutations\\TST001 (Entrez ID: 1956)\\AA mutation\\"
        "ELREA746del\\Variant Type\\DEL\\"
    )
    assert patient_count(base, male) == 2
    assert patient_count(base, female) == 5
    assert patient_count(base, language) == 3
    assert patient_count(base, assessment + "09/15/2014\\") > 0
    assert fact_value(base, age, "HCC2935") == 20
    assert patient_count(base, biomarker) == 3

    merged, mode = merge_with(spark, base, "Update")
    assert mode is MergeMode.UPDATE
    assert patient_count(merged, male) == 3
    assert patient_count(merged, female) == 4
    assert patient_count(merged, language) == 4
    assert patient_count(merged, assessment + "09/15/2015\\") > 0
    assert fact_value(merged, age, "HCC2935") == 21
    assert patient_count(merged, biomarker) == 2


@needs_reference
def test_update_variables_mode(spark, base):
    male = ROOT + "Subjects\\Demographics\\Sex (SEX)\\Male\\"
    female = ROOT + "Subjects\\Demographics\\Sex (SEX)\\Female\\"
    language = ROOT + "Subjects\\Demographics\\Language\\"
    age = ROOT + "Subjects\\Demographics\\Age (AGE)\\"
    assessment = ROOT + "Subjects\\Demographics\\Assessment Date\\"
    biomarker = (
        ROOT + "Biomarker Data\\Mutations\\TST001 (Entrez ID: 1956)\\AA mutation\\"
        "ELREA746del\\Variant Type\\DEL\\"
    )
    merged, mode = merge_with(spark, base, "UpdateVariables")
    assert mode is MergeMode.UPDATE_VARIABLES
    assert patient_count(merged, male) == 3
    assert patient_count(merged, female) == 4
    assert patient_count(merged, language) == 4
    # unlike UPDATE, untouched variables keep their old facts
    assert patient_count(merged, assessment + "09/15/2014\\") > 0
    assert fact_value(merged, age, "HCC2935") == 21
    assert patient_count(merged, biomarker) == 3


@needs_reference
def test_update_variables_single_visit_name(spark):
    top = "\\Test Studies\\Test Study With Single Visit Name\\"
    base_mapping = (
        "/root/reference/fixtures/Test Studies/"
        "Test Study With Single Visit Name_GSE0SINGLEVN/ClinicalDataToUpload/"
        "Test Study With Single Visit Name_GSE0SINGLEVN_Mapping_File.txt"
    )
    female = top + "Subjects\\Demographics\\Female\\French\\Sex (SEX)\\"
    male = top + "Subjects\\Demographics\\Male\\French\\Sex (SEX)\\"
    base = load(spark, base_mapping, "GSE0SINGLEVN", top)
    assert patient_count(base, female) == 2
    merged, mode = merge_with(
        spark, base, "UpdateVariables", "GSE0SINGLEVN", top,
        study_dir="Test Study With Single Visit Name_GSE0SINGLEVN",
    )
    assert mode is MergeMode.UPDATE_VARIABLES
    assert patient_count(merged, female) == 1
    assert patient_count(merged, male) == 1


@needs_reference
def test_update_variables_duplicate_path_aborts(spark):
    top = "\\Test Studies\\Test Study With Duplicate Category Path\\"
    study_dir = "Test Study With Duplicate Category Path_GSE0WDCP"
    first = load(
        spark,
        f"{MERGE_DIR}/First Load/{study_dir}/ClinicalDataToUpload/{study_dir}_Mapping_File.txt",
        "GSE0WDCP",
        top,
    )
    with pytest.raises(LoadValidationError, match="several categorical value"):
        merge_with(
            spark, first, "UpdateVariables", "GSE0WDCP", top, study_dir=study_dir
        )


@needs_reference
def test_append_mode(spark, base):
    male = ROOT + "Subjects\\Demographics\\Sex (SEX)\\Male\\"
    female = ROOT + "Subjects\\Demographics\\Sex (SEX)\\Female\\"
    language = ROOT + "Subjects\\Demographics\\Language\\"
    age = ROOT + "Subjects\\Demographics\\Age (AGE)\\"
    another_age = ROOT + "Ages\\Demographics\\Age (AGE)\\"
    assessment = ROOT + "Subjects\\Demographics\\Assessment Date\\"
    assert fact_value(base, another_age, "HCC2935") == 20

    merged, mode = merge_with(spark, base, "Append")
    assert mode is MergeMode.APPEND
    assert patient_count(merged, male) == 3
    assert patient_count(merged, female) == 5
    assert patient_count(merged, language) == 4
    assert patient_count(merged, assessment + "09/15/2014\\") > 0
    assert patient_count(merged, assessment + "09/15/2015\\") > 0
    assert fact_value(merged, age, "HCC2935") == 21
    assert fact_value(merged, another_age, "HCC2935") == 20


def test_concept_dimension_merge_existing_wins(spark):
    """concept_dimension reload semantics are insert-only NOVELTY —
    the reference's WHERE NOT EXISTS on concept_path
    (I2B2_LOAD_CLINICAL_DATA.sql:966-972) never updates a row already
    in the warehouse, so when existing and incoming share a path with
    a DIFFERING sourcesystem_cd the existing row must survive
    deterministically (not whichever partition dropDuplicates saw
    first — the i2b2 r11 fix's failure class, opposite winner)."""
    from tmdataloader_spark.plans.merge import merge_concept_dimension

    cols = ["concept_path", "concept_cd", "name_char", "sourcesystem_cd"]
    existing = spark.createDataFrame(
        [
            ("\\T\\Shared\\", "c1", "Shared", "GSE_OLD"),
            ("\\T\\OldOnly\\", "c2", "OldOnly", "GSE_OLD"),
        ],
        cols,
    )
    incoming = spark.createDataFrame(
        [
            ("\\T\\Shared\\", "c1", "Shared", "GSE_NEW"),
            ("\\T\\NewOnly\\", "c3", "NewOnly", "GSE_NEW"),
        ],
        cols,
    )
    for ex, inc in [(existing, incoming), (existing.repartition(7), incoming.repartition(3))]:
        got = {
            r["concept_path"]: r["sourcesystem_cd"]
            for r in merge_concept_dimension(ex, inc).collect()
        }
        assert got == {
            "\\T\\Shared\\": "GSE_OLD",  # existing wins
            "\\T\\OldOnly\\": "GSE_OLD",
            "\\T\\NewOnly\\": "GSE_NEW",  # novelty inserted
        }


@needs_reference
def test_merge_security_facts_delete_then_insert(spark, base):
    """i2b2_create_security_for_trial.sql:62-98 delete-then-insert
    parity: a merge reload DELETEs every SECURITY fact of the trial
    (CASE WHEN modifier_cd='@' THEN sourcesystem_cd ELSE modifier_cd
    END = TrialId) and re-inserts one per POST-merge patient_dimension
    patient with the incoming run's token.  A --secure-study flip
    between loads must therefore leave exactly ONE (modifier_cd,
    tval_char) token row — two would make load_security_data's
    sourcesystem_cd join fan out every i2b2 row of the study in
    i2b2_secure — and an APPEND reload must not leave duplicate
    SECURITY facts for re-loaded patients."""
    mapping = (
        f"{MERGE_DIR}/Append/Test Study_GSE0/ClinicalDataToUpload/"
        "Test Study_GSE0_Mapping_File.txt"
    )
    mode = MergeMode.parse(read_head_meta(mapping).get("MERGE_MODE"))
    assert mode is MergeMode.APPEND
    incoming = load_clinical(
        spark, melt_clinical_study(spark, mapping), "GSE0", TOP,
        secure_study=True,  # the flip: `base` loaded public
    )
    merged = merge_clinical_load(base, incoming, mode, "GSE0", TOP)

    sec = merged.observation_fact.filter(F.col("concept_cd") == "SECURITY")
    tokens = sec.select("modifier_cd", "tval_char").distinct().collect()
    assert [(t.modifier_cd, t.tval_char) for t in tokens] == [("GSE0", "EXP:GSE0")]

    # exactly one SECURITY fact per post-merge patient of the trial
    per_patient = sec.groupBy("patient_num").count().collect()
    assert per_patient and all(r["count"] == 1 for r in per_patient)
    trial_patients = {
        r["patient_num"]
        for r in merged.patient_dimension.filter(
            F.col("sourcesystem_cd").startswith("GSE0:")
        )
        .select("patient_num")
        .collect()
    }
    assert {r["patient_num"] for r in per_patient} == trial_patients

    # i2b2_secure stays one row per i2b2 row, all on the new token
    assert merged.i2b2_secure.count() == merged.i2b2.count()
    study_tokens = {
        r["secure_obj_token"]
        for r in merged.i2b2_secure.filter(
            F.col("sourcesystem_cd") == "GSE0"
        ).collect()
    }
    assert study_tokens == {"EXP:GSE0"}


@needs_reference
def test_merge_preserves_highlight_flag(spark, base):
    """A merge-mode reload of a --highlight-clinical-data study keeps
    the top node FAJ (highlight_study='Y' routes through
    i2b2_load_clinical_data on reloads too; ClinicalDataProcessor.
    groovy:290) instead of silently reverting it to FAS."""
    mapping = (
        f"{MERGE_DIR}/Update/Test Study_GSE0/ClinicalDataToUpload/"
        "Test Study_GSE0_Mapping_File.txt"
    )
    mode = MergeMode.parse(read_head_meta(mapping).get("MERGE_MODE"))
    incoming = load(spark, mapping)
    merged = merge_clinical_load(
        base, incoming, mode, "GSE0", TOP, highlight_study=True
    )
    row = merged.i2b2.filter(F.col("c_fullname") == TOP).collect()
    assert len(row) == 1 and row[0]["c_visualattributes"] == "FAJ"
    plain = merge_clinical_load(base, incoming, mode, "GSE0", TOP)
    row = plain.i2b2.filter(F.col("c_fullname") == TOP).collect()
    assert len(row) == 1 and row[0]["c_visualattributes"] == "FAS"
