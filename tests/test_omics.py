"""Parameterized omics (HDD) loads over the reference fixtures —
RNASeq / protein / metabolomics / miRNA-qPCR instantiations of the
shared kernel (SURVEY.md §2.10d), each checked against a pure-pandas
z-score oracle."""

import math

import pandas as pd
import pytest
from conftest import needs_reference

from tmdataloader_spark.plans.hdd import OMICS_TYPES, load_hdd

FIX = "/root/reference/fixtures/Test Studies"
TOP = "\\Test Studies\\Omics Study\\"

CASES = {
    "rnaseq": (
        f"{FIX}/Test RNASeq Study/RNASeqDataToUpload",
        "GSE_A_37424",
        "Test Study_GSE_A_37424_RNASeq_Data_R.txt",
        0,
        1,
    ),
    "protein": (
        f"{FIX}/Test Protein Study_GSE37425/ProteinDataToUpload",
        "GSE37425",
        "Test Study_GSE37425_PROTEIN_Data_R.txt",
        0,
        2,
    ),
    "metabolomics": (
        f"{FIX}/Test Metabolomics Study/MetabolomicsDataToUpload",
        "GSE37427",
        "Test Study_GSE37427_METABOLOMICS_Data_R.txt",
        1,
        12,
    ),
    # ProteinDataProcessorTest.testItLoadsDataWithoutPeptide (:83):
    # the platform/data files have NO peptide column — the protein id
    # itself is the probe (component == gene_symbol)
    "protein2": (
        f"{FIX}/Test Protein Study 2_GSE374251/ProteinDataToUpload",
        "GSE374251",
        "Test Study_GSE374251_PROTEIN_Data_R.txt",
        0,
        1,
    ),
    # ProteinDataProcessorTest.testItLoadsDataWithoutDuplicates (:111):
    # one row per (probe, sample) — 5 samples => 5 rows per protein
    "protein3": (
        f"{FIX}/Test Protein Study 3_GSE374253/ProteinDataToUpload",
        "GSE374253",
        "Test Study_GSE374253_PROTEIN_Data_R.txt",
        0,
        1,
    ),
    "mirna_qpcr": (
        f"{FIX}/Test MirnaQpcr Study/MIRNA_QPCRDataToUpload",
        "TEST005",
        "Test Study_TEST005_MIRNA_Data_R.txt",
        0,
        1,
    ),
}


def _oracle(data_path, probe_idx, first_sample_idx, platform_probes,
            r_zero="filter", log_round=None, negative_filter=False):
    wide = pd.read_csv(data_path, sep="\t", dtype=str)
    probe_col = wide.columns[probe_idx]
    samples = list(wide.columns[first_sample_idx:])
    long = wide.melt(
        id_vars=[probe_col], value_vars=samples, var_name="sample", value_name="x"
    )
    long = long[long[probe_col].isin(platform_probes)]
    long = long[pd.to_numeric(long.x, errors="coerce").notna()]
    long["x"] = long.x.astype(float)
    if negative_filter:  # miRNA R files: sign(x) <> -1 pre-collapse
        long = long[long.x >= 0]
    # collapse duplicate probes per sample to their mean (A4), then the
    # per-family R transform (see operators/zscore.log_transform):
    # filter/shift/zero zero-policies, optional log rounding, per-probe
    # median/std, clamp
    long = (
        long.groupby([probe_col, "sample"], as_index=False).x.mean()
    )
    if r_zero == "dct":  # miRNA qPCR: value IS a negative log
        long["log2"] = -long.x
    elif r_zero == "filter":
        long = long[long.x > 0]
        long["log2"] = long.x.map(math.log2)
    elif r_zero == "shift_all":
        long["log2"] = (long.x + 0.001).map(math.log2)
    elif r_zero == "shift_nonpos":
        long["log2"] = long.x.where(long.x > 0, long.x + 0.001).map(math.log2)
    elif r_zero == "zero":
        long["log2"] = long.x.map(lambda v: math.log2(v) if v > 0 else 0.0)
    if log_round is not None:
        # pandas round is half-even like Spark's ROUND? Spark F.round is
        # HALF_UP — use explicit decimal-free float rounding that
        # matches F.round on these magnitudes
        long["log2"] = long.log2.map(lambda v: float(f"%.{log_round}f" % v)
                                     if v >= 0 else -float(f"%.{log_round}f" % -v))
    stats = long.groupby(probe_col).log2.agg(["median", "std"])
    out = long.join(stats, on=probe_col)
    out["z"] = ((out.log2 - out["median"]) / out["std"].where(out["std"] > 0)).clip(
        -2.5, 2.5
    )
    out.loc[out["std"].isna() | (out["std"] == 0), "z"] = 0.0
    return out, probe_col


@pytest.mark.parametrize("omics", list(CASES))
@needs_reference
def test_omics_load_matches_oracle(spark, omics):
    data_dir, trial, data_file, probe_idx, first_sample_idx = CASES[omics]
    kind = omics.rstrip("23")
    res = load_hdd(spark, data_dir, trial, TOP, kind)
    assert res.platforms[0].marker_type == OMICS_TYPES[kind].marker_type

    got = res.data.toPandas()
    assert (got.trial_name == trial).all()

    probes = set(
        r[0] for r in res.platforms[0].annotation.select("probeset_id").distinct().collect()
    )
    ot = OMICS_TYPES[kind]
    style = "dct" if ot.data_type_override == "C" else ot.r_zero
    oracle, probe_col = _oracle(
        f"{data_dir}/{data_file}", probe_idx, first_sample_idx, probes,
        r_zero=style, log_round=ot.log_round,
        negative_filter=ot.negative_r_filter,
    )
    sm = res.sample_mapping.toPandas().set_index("sample_cd").assay_id
    oracle = oracle.assign(assay_id=oracle["sample"].map(sm))
    oracle = oracle[oracle.assay_id.notna()]
    merged = got.merge(
        oracle.rename(columns={probe_col: "probeset_id"}),
        on=["probeset_id", "assay_id"],
        how="outer",
        indicator=True,
    )
    assert (merged._merge == "both").all(), merged[merged._merge != "both"].head()
    assert (merged.zscore - merged.z).abs().max() < 1e-9
    if omics == "protein3":
        # testItLoadsDataWithoutDuplicates: exactly one row per
        # (probe, sample) — 5 samples => 5 rows for O002311
        assert len(got[got.probeset_id == "O002311"]) == 5


@needs_reference
def test_rbm_long_format(spark):
    """RBM arrives already-long (sampid/Analyte/avalue columns —
    RBMDataProcessor.groovy:185-205)."""
    res = load_hdd(
        spark, f"{FIX}/Test RBM Study/RBMDataToUpload", "TESTRBM", TOP, "rbm"
    )
    pdf = res.data.toPandas()
    assert len(pdf) > 0
    assert res.platforms[0].marker_type == "RBM"
    # probes come from the platform's antigen_name column
    probes = {
        r[0] for r in res.platforms[0].annotation.select("probeset_id").collect()
    }
    assert set(pdf.probeset_id).issubset(probes)
    assert pdf.zscore.between(-2.5, 2.5).all()


@needs_reference
def test_serial_hdd_series_meta(spark):
    """X11: SeriesMeta c_metadataxml lands on the matching ontology
    nodes (I2B2_PROCESS_SERIAL_HDD_DATA.sql:62-74)."""
    from tmdataloader_spark.plans.hdd import load_serial_hdd

    res = load_serial_hdd(
        spark,
        f"{FIX}/Test ExpressionSerialHDD Study/ExpressionSerialHDDDataToUpload",
        None,
        TOP,
        "expression",
    )
    rows = {
        r.c_name: r.c_metadataxml
        for r in res.i2b2.filter("c_metadataxml is not null").collect()
    }
    assert rows, "no SeriesMeta nodes attached"
    one = rows["Sample Factors Week 1"]
    assert "<Value>7</Value>" in one and "<Unit>days</Unit>" in one
    assert "<DisplayName>Week 1</DisplayName>" in one


@pytest.mark.parametrize("omics", ["protein", "metabolomics"])
@needs_reference
def test_omics_nodes_and_samples(spark, omics):
    data_dir, trial, *_ = CASES[omics]
    res = load_hdd(spark, data_dir, trial, TOP, omics)
    sm = res.sample_mapping.toPandas()
    assert sm.trial_name.unique().tolist() == [trial]
    assert (sm.platform == OMICS_TYPES[omics].marker_type).all()
    leaf_paths = {
        r.c_fullname
        for r in res.i2b2.filter("c_visualattributes = 'LAH'").collect()
    }
    assert all(p.startswith(TOP) for p in leaf_paths) and leaf_paths


def test_quantile_normalize_equal_depth(spark):
    """Two samples of equal depth: after normalization both samples
    carry the identical distribution (the across-sample rank means)."""
    from tmdataloader_spark.operators.zscore import quantile_normalize

    rows = [
        ("s1", 1, 2.0), ("s1", 2, 4.0), ("s1", 3, 6.0),
        ("s2", 4, 3.0), ("s2", 5, 5.0), ("s2", 6, 100.0),
    ]
    df = spark.createDataFrame(rows, "sample string, rid long, v double")
    got = quantile_normalize(df, "sample", "v", tie_cols=("rid",))
    by = {(r.sample, r.rnk): r.norm_value for r in got.collect()}
    # rank means: (2+3)/2, (4+5)/2, (6+100)/2
    assert by[("s1", 1)] == by[("s2", 1)] == 2.5
    assert by[("s1", 2)] == by[("s2", 2)] == 4.5
    assert by[("s1", 3)] == by[("s2", 3)] == 53.0


def test_quantile_normalize_unequal_depth_and_prune(spark):
    from tmdataloader_spark.operators.zscore import quantile_normalize

    rows = [
        ("a", 1, 1.0), ("a", 2, 9.0),
        ("b", 3, 3.0),  # depth 1: rank 2 averages over sample a only
    ]
    df = spark.createDataFrame(rows, "sample string, rid long, v double")
    by = {
        (r.sample, r.rnk): r.norm_value
        for r in quantile_normalize(df, "sample", "v", tie_cols=("rid",)).collect()
    }
    assert by[("a", 1)] == by[("b", 1)] == 2.0  # mean(1, 3)
    assert by[("a", 2)] == 9.0
    pruned = quantile_normalize(
        df, "sample", "v", tie_cols=("rid",), max_rank=1
    ).collect()
    assert {r.rnk for r in pruned} == {1} and len(pruned) == 2


@needs_reference
def test_mirna_seq_reference_numbers(spark):
    """MIRNASeqDataProcessorTest.groovy:64-69 pins exact warehouse
    numbers for sample GSM918944 probe '16': raw 0.163313108,
    log_intensity -2.61429 (the 5dp rounding the miRNA zscore calc
    applies — I2B2_MIRNA_ZSCORE_CALC.sql:121-122), zscore 1.05828."""
    res = load_hdd(
        spark,
        f"{FIX}/Test MirnaSeq Study/MIRNA_SEQDataToUpload",
        "MIRNASEQBASED",
        TOP,
        "mirna_seq",
    )
    sm = {
        r.sample_cd: r.assay_id
        for r in res.sample_mapping.select("sample_cd", "assay_id").collect()
    }
    row = (
        res.data.filter(
            (res.data.probeset_id == "16")
            & (res.data.assay_id == sm["GSM918944"])
        )
        .collect()
    )
    assert len(row) == 1
    r = row[0]
    assert abs(r.raw_intensity - 0.163313108) < 1e-12
    assert abs(r.log_intensity - (-2.61429)) < 1e-12
    assert abs(r.zscore - 1.05828) < 5e-6


@needs_reference
def test_mirna_qpcr_reference_numbers(spark):
    """MIRNAQpcrDataProcessorTest.groovy:49-68 pins the dCt semantics:
    sample GSM918938 (subject S57023) probe '1' lands with raw
    0.113408, log_intensity -0.113408 (NOT log2 — qPCR dCt values are
    negative logs, I2B2_MIRNA_ZSCORE_CALC.sql:159-170), zscore
    0.70711 (two samples per probe => +-1/sqrt(2))."""
    data_dir, trial, *_ = CASES["mirna_qpcr"]
    res = load_hdd(spark, data_dir, trial, TOP, "mirna_qpcr")
    sm = {
        r.sample_cd: r.assay_id
        for r in res.sample_mapping.select("sample_cd", "assay_id").collect()
    }
    row = res.data.filter(
        (res.data.probeset_id == "1") & (res.data.assay_id == sm["GSM918938"])
    ).collect()
    assert len(row) == 1
    r = row[0]
    assert abs(r.raw_intensity - 0.113408) < 1e-12
    assert abs(r.log_intensity - (-0.113408)) < 1e-12
    assert abs(r.zscore - 0.70711) < 5e-6


def _copy_seq_fixture(tmp_path, data_edit=None, rename_to=None):
    """Clone the MirnaSeq fixture into tmp_path, optionally rewriting
    the R data file (data_edit: text -> text) and/or renaming it."""
    import shutil

    src = f"{FIX}/Test MirnaSeq Study/MIRNA_SEQDataToUpload"
    dst = tmp_path / "MIRNA_SEQDataToUpload"
    shutil.copytree(src, dst)
    data = dst / "Test Study_mirnaseqbased_MIRNA_Data_R.txt"
    if data_edit is not None:
        data.write_text(data_edit(data.read_text()))
    if rename_to is not None:
        data.rename(dst / rename_to)
    return str(dst)


@needs_reference
def test_mirna_negative_r_rows_dropped_before_collapse(spark, tmp_path):
    """I2B2_PROCESS_QPCR_MIRNA_DATA.sql:1002 drops sign(intensity)=-1
    rows for a dataType-R file (both MIRNA_QPCR and MIRNA_SEQ) BEFORE
    the probe collapse — a negative raw must not surface as a data row
    (previously miRNA-seq kept it with log 0, qPCR kept it as dCt)."""

    def negate_first_value(text):
        lines = text.splitlines(True)
        # row for probe '1': make GSM918942's value negative
        cells = lines[1].rstrip("\n").split("\t")
        cells[1] = "-" + cells[1]
        lines[1] = "\t".join(cells) + "\n"
        return "".join(lines)

    data_dir = _copy_seq_fixture(tmp_path, data_edit=negate_first_value)
    res = load_hdd(spark, data_dir, "MIRNASEQBASED", TOP, "mirna_seq")
    sm = {
        r.sample_cd: r.assay_id
        for r in res.sample_mapping.select("sample_cd", "assay_id").collect()
    }
    got = res.data.filter(res.data.probeset_id == "1").collect()
    # 8 samples in the file, the negated one dropped pre-collapse
    assert len(got) == 7
    assert sm["GSM918942"] not in {r.assay_id for r in got}
    # zeros are KEPT (sign(0)=0 <> -1): floor a value to 0 instead
    def zero_first_value(text):
        lines = text.splitlines(True)
        cells = lines[1].rstrip("\n").split("\t")
        cells[1] = "0"
        lines[1] = "\t".join(cells) + "\n"
        return "".join(lines)

    data_dir2 = _copy_seq_fixture(tmp_path / "z", data_edit=zero_first_value)
    res2 = load_hdd(spark, data_dir2, "MIRNASEQBASED", TOP, "mirna_seq")
    sm2 = {
        r.sample_cd: r.assay_id
        for r in res2.sample_mapping.select("sample_cd", "assay_id").collect()
    }
    kept = res2.data.filter(
        (res2.data.probeset_id == "1")
        & (res2.data.assay_id == sm2["GSM918942"])
    ).collect()
    assert len(kept) == 1 and kept[0].log_intensity == 0.0


@needs_reference
def test_mirna_seq_l_branch_not_rounded(spark, tmp_path):
    """The miRNA zscore calc's L branch stores intensity_value as
    log_intensity UNROUNDED (I2B2_MIRNA_ZSCORE_CALC.sql:132-151) —
    the 5dp round exists only in its R branch (:118-121), unlike
    proteomics which rounds both."""
    data_dir = _copy_seq_fixture(
        tmp_path, rename_to="Test Study_mirnaseqbased_MIRNA_Data_L.txt"
    )
    res = load_hdd(spark, data_dir, "MIRNASEQBASED", TOP, "mirna_seq")
    sm = {
        r.sample_cd: r.assay_id
        for r in res.sample_mapping.select("sample_cd", "assay_id").collect()
    }
    row = res.data.filter(
        (res.data.probeset_id == "1") & (res.data.assay_id == sm["GSM918942"])
    ).collect()
    assert len(row) == 1
    # the file value 0.002908561 has >5dp: unrounded pass-through,
    # raw = 2^log (would be 0.00291 if the R-branch round leaked in)
    assert row[0].log_intensity == 0.002908561
    assert abs(row[0].raw_intensity - 2.0 ** 0.002908561) < 1e-15


@pytest.mark.parametrize(
    "omics,fixture_dir,expect_samples",
    [
        # MIRNASerialHDDDataProcessorTest.groovy:19-46
        ("mirna_qpcr", "Test MirnaQpcr Study/MIRNA_QPCRSerialHDDDataToUpload",
         {"GSM918938", "GSM918939"}),
        # RNASeqSerialHDDDataProcessorTest.groovy:19-46
        ("rnaseq", "Test RNASeq Study/RNASegSerialHDDDataToUpload",
         {"S57023", "S57024"}),
        # ProteinSerialHDDDataProcessorTest.groovy:21-49
        ("protein", "Test Protein Study_GSE37425/ProteinSerialHDDDataToUpload",
         {"P516591", "O002311", "P504401", "P378021", "P026471"}),
        # MetabolomicsSerialHDDDataProcessorTest.groovy:19-50
        ("metabolomics", "Test Metabolomics Study/MetabolomicsSerialHDDDataToUpload",
         {"10CP", "12PP", "18PP"}),
    ],
)
@needs_reference
def test_serial_hdd_per_family(spark, omics, fixture_dir, expect_samples):
    """The four per-family SerialHDD processor tests share one
    contract: the dimension file's SeriesMeta XML lands on the
    matching 'Sample Factors Week 1' node, the node hides (LAH), and
    per-sample observation facts carry each fixture sample's
    sample_cd."""
    from tmdataloader_spark.plans.hdd import load_serial_hdd

    res = load_serial_hdd(
        spark,
        f"{FIX}/{fixture_dir}",
        None,
        TOP,
        omics,
    )
    import xml.etree.ElementTree as ET

    rows = {
        r.c_name: r
        for r in res.i2b2.filter("c_metadataxml is not null").collect()
    }
    node = rows["Sample Factors Week 1"]
    meta = ET.fromstring(node.c_metadataxml)
    assert meta.findtext("Oktousevalues") == "Y"
    s = meta.find("SeriesMeta")
    assert (s.findtext("Value"), s.findtext("Unit"), s.findtext("DisplayName")) == (
        "7", "days", "Week 1",
    )
    assert node.c_visualattributes == "LAH"
    # sample_dimension / per-sample facts: every fixture sample
    # present with sample_cd routed through (the
    # i2b2demodata.observation_fact hasRecord sample_cd assertions)
    samples = {r.sample_cd for r in res.sample_mapping.collect()}
    assert expect_samples <= samples
    fact_samples = {
        r.sample_cd
        for r in res.observation_fact.select("sample_cd").distinct().collect()
    }
    assert expect_samples <= fact_samples


def test_annotation_probe_trim_per_family(spark, tmp_path):
    """Only the proteomics and metabolomics annotation loaders TRIM
    the probe id at insert (trim(d.peptide),
    I2B2_LOAD_PROTEOMICS_ANNOT.sql:38; trim(d.biochemical_name),
    I2B2_LOAD_METABOLOMICS_ANNOT.sql:141) — the RNA loader
    (I2B2_RNA_ANNOTATION.sql:47) inserts verbatim. The data side
    joins raw on both engines (d.peptide = m.probeset,
    I2B2_PROCESS_PROTEOMICS_DATA.sql:1025), so a padded data probe
    misses its annotation in the reference too."""
    from tmdataloader_spark.plans.hdd import OMICS_TYPES, read_omics_platform

    p = tmp_path / "PLAT1.txt"
    p.write_text(
        "#PLATFORM_TITLE: t\n#SPECIES: Homo Sapiens\n"
        "peptide\tmajority_protein_id\torganism\n"
        "  P1234  \tU1\tHuman\n"
    )
    assert OMICS_TYPES["protein"].trim_probe
    assert OMICS_TYPES["metabolomics"].trim_probe
    assert not OMICS_TYPES["rnaseq"].trim_probe
    trimmed = read_omics_platform(
        spark, str(p), "PLAT1", "PROTEOMICS",
        trim_probe=OMICS_TYPES["protein"].trim_probe,
    ).annotation
    assert [r.probeset_id for r in trimmed.collect()] == ["P1234"]
    verbatim = read_omics_platform(
        spark, str(p), "PLAT1", "RNASEQ",
        trim_probe=OMICS_TYPES["rnaseq"].trim_probe,
    ).annotation
    assert [r.probeset_id for r in verbatim.collect()] == ["  P1234  "]


def test_probe_header_bare_and_family_ids(spark, tmp_path):
    """The reference's platform header matchers are FULL matches that
    also accept a bare 'ID' and family-prefixed ids
    (MIRNAPlatform.groovy:50 '(MIRNA[\\s_]*)*ID',
    RNASeqPlatform.groovy:44 '(TRANSCRIPT[\\s_]*)*ID') — wherever the
    column sits, it wins over the column-0 fallback; and 'GENE_ID'
    must NOT match (it is the payload, not the probe)."""
    from tmdataloader_spark.plans.hdd import read_omics_platform

    p = tmp_path / "M1.txt"
    p.write_text(
        "#PLATFORM_TITLE: t\n"
        "organism\tMIRNA_ID\tGENE_ID\n"
        "Human\thsa-miR-1\t99\n"
    )
    ann = read_omics_platform(spark, str(p), "M1", "MIRNA_QPCR").annotation
    assert [r.probeset_id for r in ann.collect()] == ["hsa-miR-1"]

    p2 = tmp_path / "R1.txt"
    p2.write_text(
        "#PLATFORM_TITLE: t\norganism\tID\nHuman\tTR_7\n"
    )
    ann2 = read_omics_platform(spark, str(p2), "R1", "RNASEQ").annotation
    assert [r.probeset_id for r in ann2.collect()] == ["TR_7"]
