"""Expression (HDD) pipeline e2e on the GSE0 study (``gse0_study``),
with a pure-pandas z-score oracle (SURVEY.md §5 strategy points 1–2)."""

import glob
import math
import os

import pandas as pd
import pytest
from conftest import needs_reference
from pyspark.sql import functions as F

from tmdataloader_spark.plans.hdd import load_hdd, write_partitioned

TOP = "\\Test Studies\\Test Study\\"


@pytest.fixture(scope="module")
def data_dir(gse0_study):
    return os.path.join(gse0_study, "ExpressionDataToUpload")


@pytest.fixture(scope="module")
def result(spark, data_dir):
    return load_hdd(spark, data_dir, "GSE0", TOP)


def _oracle_zscores(data_dir):
    """Pandas twin of the kernel: log2 → per-probe median/stddev →
    clamp ±2.5 (I2B2_PROCESS_MRNA_DATA.sql:318-326)."""
    (matrix,) = glob.glob(
        os.path.join(glob.escape(data_dir), "*_Gene_Expression_Data_R.txt")
    )
    wide = pd.read_csv(matrix, sep="\t")
    long = wide.melt(id_vars=wide.columns[0], var_name="sample", value_name="x")
    long = long[pd.to_numeric(long.x, errors="coerce").notna()]
    long["x"] = long.x.astype(float)
    long = long[long.x > 0]
    long["log2"] = long.x.map(math.log2)
    probe_col = wide.columns[0]
    stats = long.groupby(probe_col).log2.agg(["median", "std"])
    out = long.join(stats, on=probe_col)
    out["z"] = ((out.log2 - out["median"]) / out["std"]).clip(-2.5, 2.5)
    out.loc[out["std"] == 0, "z"] = 0.0
    return out, probe_col


@needs_reference
def test_sample_mapping(result):
    sm = result.sample_mapping.toPandas()
    assert sm.trial_name.unique().tolist() == ["GSE0"]
    assert sm.sample_cd.is_unique
    assert (sm.tissue_type == "Blood").all()  # defaulting
    assert sm.gpl_id.unique().tolist() == ["GEX_TST"]
    assert sm.concept_path.str.startswith(TOP + "Biomarker Data\\").all()


@needs_reference
def test_nodes(result):
    nodes = {r.c_fullname: r for r in result.i2b2.collect()}
    leaf = TOP + "Biomarker Data\\Test GEX Platform\\Blood\\"
    assert leaf in nodes
    assert nodes[leaf].c_visualattributes == "LAH"
    assert nodes[TOP + "Biomarker Data\\"].c_visualattributes == "FA"


def test_zscore_values_match_oracle(result, data_dir):
    oracle, probe_col = _oracle_zscores(data_dir)
    got = result.data.toPandas()
    assert len(got) == len(oracle)
    sm = result.sample_mapping.toPandas().set_index("sample_cd").assay_id
    oracle = oracle.assign(assay_id=oracle["sample"].map(sm))
    merged = got.merge(
        oracle.rename(columns={probe_col: "probeset_id"}),
        on=["probeset_id", "assay_id"],
        how="inner",
    )
    assert len(merged) == len(got)
    assert (merged.zscore - merged.z).abs().max() < 1e-9
    assert merged.zscore.between(-2.5, 2.5).all()
    assert (merged.log_intensity - merged.log2).abs().max() < 1e-9


def test_partitioned_write_roundtrip(result, spark, tmp_path):
    out = str(tmp_path / "de_subject_microarray_data")
    write_partitioned(result.data, out)
    back = spark.read.parquet(out)
    assert back.count() == result.data.count()
    assert back.filter(F.col("trial_name") == "GSE0").count() == back.count()


def test_gpl_info_join(spark):
    """J8: mapping LEFT JOIN de_gpl_info (broadcast dimension)."""
    from tmdataloader_spark.sources.gpl import (
        GplPlatform, attach_platform_info, gpl_info_frame,
    )

    p = GplPlatform("GPL1", "Title 1", "Homo sapiens", "Gene Expression", None)
    info = gpl_info_frame(spark, [p])
    mapping = spark.createDataFrame(
        [("S1", "GPL1"), ("S2", "GPL_UNKNOWN")], "sample_cd string, platform string"
    )
    out = {r.sample_cd: r.platform_title for r in attach_platform_info(mapping, info).collect()}
    assert out == {"S1": "Title 1", "S2": None}


@needs_reference
def test_reference_expression_assertions(result):
    """ExpressionDataProcessorTest.testItLoadsData parity: known
    sample/subject pairs, per-sample attribute routing into
    sample_type/timepoint, the Blood node's 32 distinct patients, and
    one exact raw intensity."""
    sm = result.sample_mapping.toPandas().set_index("sample_cd")
    assert "TST1000000719" in sm.index
    assert sm.loc["TST1000000808"].sourcesystem_cd.endswith("453PMS")
    r808 = sm.loc["TST1000000808"]
    assert (r808.sample_type, r808.timepoint, r808.tissue_type) == (
        "Attr1Value", "Attr2Value", "Blood",
    )
    r809 = sm.loc["TST1000000809"]
    assert (r809.sample_type, r809.timepoint) == ("Attr1Value", None)
    r810 = sm.loc["TST1000000810"]
    assert (r810.sample_type, r810.timepoint) == (None, "Attr2Value")

    # the node count is subtree-aggregated: ATTR samples live on
    # deeper leaves under Blood\ and still count toward it
    blood = sm[sm.concept_path.str.contains(r"Test GEX Platform\\Blood\\", regex=True)]
    assert blood.sourcesystem_cd.nunique() == 32

    assay = sm.loc["TST1000000719"].assay_id
    d = result.data
    row = d.filter(
        (F.col("assay_id") == int(assay)) & (F.col("probeset_id") == "1007_s_at")
    ).collect()
    assert len(row) == 1
    assert abs(row[0]["raw_intensity"] - 6.624529839) < 1e-9


@needs_reference
def test_merge_samples_reload(spark, result):
    """ExpressionDataProcessorTest.testItMergeSamples parity: the
    additional-studies reload replaces overlapping samples' values,
    adds new samples, keeps the rest, and the Blood subtree grows from
    32 to 33 distinct patients."""
    from tmdataloader_spark.plans.hdd import load_hdd, merge_hdd_samples

    second = load_hdd(
        spark,
        "/root/reference/fixtures/Additional Test Studies/Test Study_GSE0/"
        "ExpressionDataToUpload",
        "GSE0",
        TOP,
    )
    from tmdataloader_spark.plans.hdd import sample_facts, upsert_sample_patients

    old_patients = upsert_sample_patients(result.sample_mapping, None)
    old_facts = sample_facts(result.sample_mapping)
    merged = merge_hdd_samples(
        result.data, result.sample_mapping, second.data, second.sample_mapping,
        old_patients=old_patients, old_facts=old_facts,
    )
    data, mapping = merged
    sm = mapping.toPandas()

    def raw(sample_cd, probe):
        match = sm[(sm.sample_cd == sample_cd) & (sm.gpl_id == "GEX_TST")]
        assert len(match) == 1
        assay = int(match.iloc[0].assay_id)
        rows = data.filter(
            (F.col("assay_id") == assay) & (F.col("probeset_id") == probe)
        ).collect()
        assert len(rows) == 1, f"{sample_cd}/{probe}: {len(rows)} rows"
        return rows[0]["raw_intensity"]

    assert abs(raw("TST1000000719", "1007_s_at") - 6.624529839) < 1e-9  # kept
    assert abs(raw("TST2000000719", "1007_s_at") - 7.624529839) < 1e-9  # added
    assert abs(raw("TST1000000722", "1007_s_at") - 5.374219894) < 1e-9  # replaced
    assert abs(raw("TST1000000723", "1007_s_at") - 6.653120041) < 1e-9  # kept
    blood = sm[sm.concept_path.str.contains(r"Test GEX Platform\\Blood\\", regex=True)]
    assert blood.sourcesystem_cd.nunique() == 33

    # the reference reload also grows patient_dimension by the new
    # subject behind TST2000000719 (I2B2_LOAD_SAMPLES.sql:211-260) …
    pd_rows = merged.patient_dimension.toPandas()
    assert pd_rows.sourcesystem_cd.nunique() == old_patients.count() + 1
    added_subject = sm[sm.sample_cd == "TST2000000719"].iloc[0].sourcesystem_cd
    assert (pd_rows.sourcesystem_cd == added_subject).any()
    # … and refreshes per-sample facts: every merged sample has exactly
    # one fact row at its sample concept
    facts = merged.sample_facts.toPandas()
    assert set(facts.sample_cd) == set(sm.sample_cd)
    assert len(facts) == len(facts[["sample_cd", "concept_cd"]].drop_duplicates())


@needs_reference
def test_same_samples_different_platforms(spark):
    """ExpressionDataProcessorTest.testItLoadsSameSamplesForDifferentPlatforms:
    the same sample codes loaded on two platforms coexist as distinct
    assays with their own values and their own platform subtrees."""
    from tmdataloader_spark.plans.hdd import load_hdd, merge_hdd_samples

    base = "/root/reference/fixtures/Additional Test Studies/Test Study_GSE0/"
    a = load_hdd(spark, base + "ExpressionDataToUpload", "GSE0", TOP)
    b = load_hdd(spark, base + "ExpressionDataToUpload_OtherPlatform", "GSE0", TOP)
    data, mapping = merge_hdd_samples(a.data, a.sample_mapping, b.data, b.sample_mapping)
    sm = mapping.toPandas()

    def raw(sample_cd, gpl, probe):
        assay = int(sm[(sm.sample_cd == sample_cd) & (sm.gpl_id == gpl)].iloc[0].assay_id)
        rows = data.filter(
            (F.col("assay_id") == assay) & (F.col("probeset_id") == probe)
        ).collect()
        assert len(rows) == 1
        return rows[0]["raw_intensity"]

    assert abs(raw("TST2000000719", "GEX_TST", "1007_s_at") - 7.624529839) < 1e-9
    assert abs(raw("TST2000000719", "GEX_TST2", "1007_s_at") - 1.624529839) < 1e-9
    assert abs(raw("TST1000000722", "GEX_TST", "1007_s_at") - 5.374219894) < 1e-9
    assert abs(raw("TST1000000722", "GEX_TST2", "1007_s_at") - 1.374219894) < 1e-9
    p1 = sm[sm.concept_path.str.contains(r"Test GEX Platform\\Blood\\", regex=True)]
    p2 = sm[sm.concept_path.str.contains(r"Test GEX Platform 2\\Blood\\", regex=True)]
    assert p1.sourcesystem_cd.nunique() == 3
    assert p2.sourcesystem_cd.nunique() == 3


def test_merge_hdd_samples_facts_scoped_to_trial(spark):
    """Reloading a sample in one trial must not delete the same
    sample_cd's facts belonging to OTHER trials/platforms/source_cds:
    the reference scopes the fact delete to the incoming trial/source/
    platform (I2B2_LOAD_SAMPLES.sql:269-275), so the merge anti-join
    must use (sourcesystem_cd, sample_cd, concept_cd), not bare
    sample_cd."""
    from tmdataloader_spark.plans.hdd import merge_hdd_samples, sample_facts

    schema = (
        "trial_name string, sample_cd string, gpl_id string, source_cd string, "
        "assay_id long, patient_id long, concept_code string, concept_path string, "
        "sourcesystem_cd string"
    )
    old_mapping = spark.createDataFrame(
        [
            ("GSE1", "S1", "GPL1", "STD", 1, 101, "C_GSE1", "\\p\\GSE1\\", "GSE1:S1"),
            # same sample code, different trial — must be untouched
            ("OTHER", "S1", "GPL1", "STD", 2, 201, "C_OTHER", "\\p\\OTHER\\", "OTHER:S1"),
        ],
        schema,
    )
    new_mapping = spark.createDataFrame(
        [("GSE1", "S1", "GPL1", "STD", 3, 101, "C_GSE1", "\\p\\GSE1\\", "GSE1:S1")],
        schema,
    )
    dschema = "assay_id long, probeset_id string, raw_intensity double"
    old_data = spark.createDataFrame([(1, "p", 1.0), (2, "p", 2.0)], dschema)
    new_data = spark.createDataFrame([(3, "p", 3.0)], dschema)

    merged = merge_hdd_samples(
        old_data,
        old_mapping,
        new_data,
        new_mapping,
        old_facts=sample_facts(old_mapping),
    )
    facts = merged.sample_facts.toPandas()
    other = facts[facts.sourcesystem_cd == "OTHER"]
    assert len(other) == 1, "foreign-trial fact for the same sample_cd must survive"
    gse1 = facts[facts.sourcesystem_cd == "GSE1"]
    assert len(gse1) == 1 and gse1.iloc[0].concept_cd == "C_GSE1"
    # data side: the foreign trial's assay survives, the replaced one is gone
    assays = {r.assay_id for r in merged.data.collect()}
    assert assays == {2, 3}


def test_load_samples_node_templating_mirrors_reference(spark):
    """Mirrors I2B2LoadSamplesTest.testItLoadSamples: PLATFORM resolves
    to the per-row gpl title (empty for a null platform), TISSUETYPE to
    the tissue or its default, and the two samples' subtrees never
    cross (no combined platform+Blood node)."""
    from tmdataloader_spark.plans.hdd import build_hdd_nodes, build_sample_mapping
    from tmdataloader_spark.sources.gpl import GplPlatform

    top = "\\Test Studies\\Loader Test\\"
    mapping = spark.createDataFrame(
        [
            ("GSE_TST_LDR", "LDR_TST_SUBJ_001", "LDR_TST_SMP_001",
             "LDR_TST", None, None, None, "LDR+PLATFORM+TISSUETYPE"),
            ("GSE_TST_LDR", "LDR_TST_SUBJ_002", "LDR_TST_SMP_002",
             None, "Blood", None, None, "LDR+PLATFORM+TISSUETYPE"),
        ],
        "trial_name string, subject_id string, sample_cd string, "
        "platform string, tissue_type string, attribute_1 string, "
        "attribute_2 string, category_cd string",
    ).withColumns({"site_id": F.lit(None).cast("string"), "source_cd": F.lit("STD")})
    gpl = GplPlatform(
        platform="LDR_TST", title="Loader Test Platform", organism="Homo sapiens",
        marker_type="Gene Expression", annotation=None,
    )
    samples = build_sample_mapping(mapping, top, [gpl])
    nodes = {r["c_fullname"] for r in build_hdd_nodes(samples).collect()}
    # reference assertions (hasNode / not(hasNode))
    assert f"{top}LDR\\Loader Test Platform\\" in nodes
    assert f"{top}LDR\\Blood\\" in nodes
    assert f"{top}LDR\\Loader Test Platform\\Blood\\" not in nodes
    # null tissue follows the 'Unspecified Tissue Type' default
    # (I2B2_LOAD_SAMPLES.sql:330) under the resolved platform title
    assert f"{top}LDR\\Loader Test Platform\\Unspecified Tissue Type\\" in nodes


@needs_reference
def test_platform_multiple_gene_ids(spark):
    """PlatformLoaderTest.groovy:28-44 (testMultipleGeneIds) on the
    reference's own fixtures/Platforms/TST.txt: with
    use_first_gene_id, '123 /// 456' keeps the first id (123) and the
    symbol truncates at the same '///'; an empty id lands as NULL; ALL
    6 rows load. Without the flag (default), the non-numeric multi-id
    row is skipped entirely (GexPlatform.eachEntry:70) and the empty
    id still lands as NULL."""
    from tmdataloader_spark.sources.gpl import read_gpl

    path = "/root/reference/fixtures/Platforms/TST.txt"
    first = read_gpl(spark, path, "TST", use_first_gene_id=True).annotation
    rows = {r.gene_symbol: r.entrez_gene_id for r in first.collect()}
    assert first.count() == 6
    assert rows["MULTID"] == "123"
    assert rows["ARX"] is None

    default = read_gpl(spark, path, "TST").annotation
    drows = {r.gene_symbol: r.entrez_gene_id for r in default.collect()}
    assert default.count() == 5 and "MULTID" not in drows
    assert drows["ARX"] is None


def test_platform_symbol_blanking_without_flag(spark, tmp_path):
    """normalizeGeneIdAndSymbol runs on kept rows even WITHOUT
    --use-first-gene-id (GexPlatform.groovy:73-74): a symbol with no
    word character blanks to '' (PlatformProcessor.groovy:68-70).
    A space-padded id is kept: the reference's commons-csv parser is
    withIgnoreSurroundingSpaces(true) (CsvLikeFile.groovy:28-31), so
    ' 123 ' reaches the numeric skip test already trimmed."""
    from tmdataloader_spark.sources.gpl import read_gpl

    p = tmp_path / "BLK.txt"
    p.write_text(
        "# PLATFORM_ID: blk\n"
        "ID\tENTREZ_GENE_ID\tGene Symbol\n"
        "1\t11\t---\n"
        "2\t 22 \tGOOD\n"
        "3\t33\t\n"
    )
    for flag in (False, True):
        ann = read_gpl(spark, str(p), "BLK", use_first_gene_id=flag).annotation
        rows = {r.probeset_id: (r.gene_symbol, r.entrez_gene_id) for r in ann.collect()}
        assert rows["1"] == ("", "11"), (flag, rows)
        assert rows["2"] == ("GOOD", "22"), (flag, rows)
        assert rows["3"] == ("", "33"), (flag, rows)


def test_load_serial_hdd_threads_use_t_and_gene_id_flags():
    """--use-t / --use-first-gene-id must reach the serial route's
    inner load_hdd call (the T->Z force guard lives there,
    ExpressionDataProcessor.groovy:72-75, and the serial processors
    inherit it) — a serial load must not silently force T->Z when the
    CLI ran with --use-t."""
    import tmdataloader_spark.plans.hdd as hdd

    captured = {}

    class _Probe(Exception):
        pass

    real = hdd.load_hdd

    def fake(spark, data_dir, trial_id, top_node, omics="expression",
             log_base=2.0, use_first_gene_id=False, use_t=False):
        captured["use_t"] = use_t
        captured["use_first_gene_id"] = use_first_gene_id
        raise _Probe()

    hdd.load_hdd = fake
    try:
        with pytest.raises(_Probe):
            hdd.load_serial_hdd(
                None, "/nonexistent", "T", "\\X\\", "expression",
                use_first_gene_id=True, use_t=True,
            )
    finally:
        hdd.load_hdd = real
    assert captured == {"use_t": True, "use_first_gene_id": True}
