r"""End-to-end clinical load of `Test Study_GSE0` (SURVEY.md §7 step 2):
the reference fixture study where it is present, else the generated
stand-in (``gse0_study`` in conftest.py).

The flagship assertion mirrors the reference's own integration test
(ClinicalDataProcessorTest.groovy:142-146):

    patient_count("\Test Studies\Test Study\Biomarker Data\Mutations\
                   TST001 (Entrez ID: 1956)\AA mutation\") == 9
"""

import pytest
from conftest import needs_reference
from pyspark.sql import functions as F

from tmdataloader_spark.plans.clinical import load_clinical
from tmdataloader_spark.sources.mapping import melt_clinical_study

TOP = "\\Test Studies\\Test Study\\"


@pytest.fixture(scope="module")
def result(spark, gse0_mapping):
    landing = melt_clinical_study(spark, gse0_mapping)
    return load_clinical(spark, landing, "GSE0", TOP)


@needs_reference
def test_flagship_patient_count(result):
    path = TOP + "Biomarker Data\\Mutations\\TST001 (Entrez ID: 1956)\\AA mutation\\"
    rows = result.concept_counts.filter(F.col("concept_path") == path).collect()
    assert len(rows) == 1, f"node not found: {path}"
    assert rows[0].patient_count == 9


@needs_reference
def test_patient_dimension(result):
    pd = result.patient_dimension.collect()
    ids = sorted(r.sourcesystem_cd for r in pd)
    assert len(ids) == len(set(ids))
    assert "GSE0:HCC2935" in ids
    by_id = {r.sourcesystem_cd: r for r in pd}
    assert by_id["GSE0:HCC2935"].sex_cd == "Female"
    assert by_id["GSE0:HCC2935"].age_in_years_num == 20
    assert by_id["GSE0:HCC827"].sex_cd == "Male"
    # subjects with no SEX value get the reference's 'Unknown' default
    assert by_id["GSE0:HCC4006"].sex_cd == "Unknown"


@needs_reference
def test_numeric_type_inference(result):
    # Age In Years is all-numeric → 'N' facts with nval_num
    age_facts = (
        result.observation_fact.filter(F.col("valtype_cd") == "N")
        .join(
            result.concept_dimension.withColumnRenamed("concept_path", "p"),
            on="concept_cd",
        )
        .filter(F.col("p").contains("Age (AGE)"))
    )
    rows = age_facts.collect()
    assert rows, "no numeric Age facts"
    assert all(r.tval_char == "E" and r.nval_num is not None for r in rows)


@needs_reference
def test_text_facts_store_value(result):
    sex_facts = result.observation_fact.filter(
        (F.col("valtype_cd") == "T") & F.col("concept_path").contains("Sex (SEX)")
    ).collect()
    assert {r.tval_char for r in sex_facts} == {"Female", "Male"}


@needs_reference
def test_tree_is_complete_and_counts_monotone(result):
    counts = {r.concept_path: r.patient_count for r in result.concept_counts.collect()}
    # every node's count >= any of its children's counts
    for path, n in counts.items():
        parents = [p for p in counts if path.startswith(p) and p != path]
        for p in parents:
            assert counts[p] >= n, f"{p} < child {path}"
    # study root covers all 9+ patients
    assert counts[TOP] >= 9


@needs_reference
def test_i2b2_visual_attributes(result):
    """Folder/leaf attrs plus the study-root flag:
    ClinicalDataProcessorTest.groovy:145-146 asserts exactly ONE node
    under the study subtree carries 'FAS' — the top node
    (I2B2_LOAD_CLINICAL_DATA.sql:1460)."""
    rows = {r.c_fullname: r.c_visualattributes for r in result.i2b2.collect()}
    path = TOP + "Biomarker Data\\Mutations\\TST001 (Entrez ID: 1956)\\AA mutation\\"
    assert rows[path] == "FA"  # folder with children
    leaves = [p for p, a in rows.items() if a == "LA"]
    assert leaves, "no leaf nodes"
    assert all(not any(o != p and o.startswith(p) for o in rows) for p in leaves)
    fas = [p for p, a in rows.items() if a == "FAS" and p.startswith(TOP)]
    assert fas == [TOP]  # exactly one study node, the top node


def test_highlight_clinical_data_sets_faj(spark, gse0_mapping):
    """The --highlight-clinical-data flag turns the top node's third
    visual-attribute character into 'J' (highlight_study='Y' at
    I2B2_LOAD_CLINICAL_DATA.sql:1460, wired from
    ClinicalDataProcessor.groovy:290)."""
    landing = melt_clinical_study(spark, gse0_mapping)
    res = load_clinical(
        spark, landing, "GSE0", TOP, highlight_study=True, check_duplicates=False
    )
    rows = {r.c_fullname: r.c_visualattributes for r in res.i2b2.collect()}
    assert rows[TOP] == "FAJ"
    assert "FAS" not in set(rows.values())


def test_security_facts_and_i2b2_secure(result, spark, gse0_mapping):
    """The load tail (I2B2_LOAD_CLINICAL_DATA.sql:1526-1527): one
    SECURITY fact per patient — token EXP:PUBLIC by default,
    EXP:<trial> with --secure-study — and i2b2_secure = i2b2 +
    secure_obj_token (I2B2_LOAD_SECURITY_DATA.sql:80-98)."""
    from pyspark.sql import functions as F

    sec = result.observation_fact.filter(F.col("concept_cd") == "SECURITY")
    n_patients = result.patient_dimension.count()
    assert sec.count() == n_patients
    assert {r.tval_char for r in sec.select("tval_char").collect()} == {"EXP:PUBLIC"}
    toks = {
        r.secure_obj_token
        for r in result.i2b2_secure.select("secure_obj_token").collect()
    }
    assert toks == {"EXP:PUBLIC"}
    assert result.i2b2_secure.count() == result.i2b2.count()

    secured = load_clinical(
        spark, melt_clinical_study(spark, gse0_mapping), "GSE0", TOP,
        secure_study=True, check_duplicates=False,
    )
    sec2 = secured.observation_fact.filter(F.col("concept_cd") == "SECURITY")
    assert {r.tval_char for r in sec2.select("tval_char").collect()} == {"EXP:GSE0"}
    study_tokens = {
        r.secure_obj_token
        for r in secured.i2b2_secure.filter(
            F.col("c_fullname").startswith(TOP)
        ).select("secure_obj_token").collect()
    }
    assert study_tokens == {"EXP:GSE0"}
