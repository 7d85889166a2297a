"""SNP and aCGH pipeline e2e on the reference fixtures
(SNPDataProcessorTest / ACGH assertions re-expressed on DataFrames),
and on tiny hand-written upload directories (FIXTURES.md §7-8)."""

import pytest
from conftest import needs_reference, node_rows, sample_row, sorted_rows, write_lines

from pyspark.sql import functions as F

from tmdataloader_spark.plans.acgh import load_acgh
from tmdataloader_spark.plans.snp import load_snp, snp_gene_map_novelty

FIX = "/root/reference/fixtures/Test Studies/Test Study_GSE0"
TOP = "\\Test Studies\\Test Study\\"


@pytest.fixture(scope="module")
def snp(spark):
    return load_snp(spark, f"{FIX}/SNPDataToUpload", "GSE0", TOP)


@pytest.fixture(scope="module")
def acgh(spark):
    return load_acgh(spark, f"{FIX}/ACGHDataToUpload", "TSTA", TOP)


@needs_reference
def test_snp_sample_data_full_join(snp):
    pdf = snp.sample_snp_data.toPandas()
    assert set(pdf.gsm_num.unique()) == {"TST001", "TST002", "TST003"}
    # full-join: one row per (sample, probe) key from EITHER side
    assert not pdf.duplicated(["gsm_num", "snp_name"]).any()
    one = pdf[(pdf.gsm_num == "TST002") & (pdf.snp_name == "CN_473963")]
    assert len(one) == 1 and abs(one.iloc[0].copy_number - 0.396867) < 1e-9
    assert one.iloc[0].snp_calls == "1"


@needs_reference
def test_snp_dataset_registry(snp):
    rows = snp.snp_dataset.collect()
    assert len(rows) == 3
    assert {r["sample_cd"] for r in rows} == {"TST001", "TST002", "TST003"}
    assert all(r["trial_name"] == "GSE0" for r in rows)


@needs_reference
def test_snp_zscore_kernel(snp):
    pdf = snp.data.toPandas()
    assert pdf.zscore.between(-2.5, 2.5).all()
    # L path covers exactly the copy-number rows (calls-only keys from
    # the full join have nothing to score)
    cn_rows = snp.sample_snp_data.filter(F.col("copy_number").isNotNull()).count()
    assert len(pdf) == cn_rows


@needs_reference
def test_snp_gene_map_novelty(spark, snp):
    inc = spark.createDataFrame(
        [("s1", 10), ("s2", 20)], "snp_name string, entrez_gene_id long"
    )
    existing = spark.createDataFrame([("s1", 10)], "snp_name string, entrez_gene_id long")
    out = snp_gene_map_novelty(inc, existing).collect()
    assert [(r.snp_name, r.entrez_gene_id) for r in out] == [("s2", 20)]


@needs_reference
def test_acgh_regions(acgh):
    regions = acgh.chromosomal_region.toPandas()
    assert (regions.gpl_id == "TST_ACGH").all()
    assert "chromosome" in regions.columns and "start_bp" in regions.columns
    assert regions.region_id.is_unique


@needs_reference
def test_acgh_data_typed_metrics(acgh):
    pdf = acgh.data.toPandas()
    # 2 samples (both mapped) x regions present in the platform
    assert set(pdf.columns) >= {
        "chip", "segmented", "flag", "probloss", "probnorm", "probgain", "probamp",
    }
    assert pdf.flag.isin([0, 1, 2, -1]).all()
    row = pdf[(pdf.region_name == "chr1:554268-639640")]
    assert len(row) == 2  # one per sample
    by_assay = row.set_index("assay_id")
    assert abs(sorted(by_assay.chip.tolist())[0] - 0.666) < 1e-9


@needs_reference
def test_acgh_no_zscore(acgh):
    # the reference keeps aCGH values as loaded (no z-score column)
    assert "zscore" not in acgh.data.columns


@needs_reference
def test_snp_merge_samples(spark, snp):
    """SNPDataProcessorTest.testItMergeSamples: reloading the
    additional-studies SNP directory replaces the overlapping sample's
    values (TST001 0.628913 → 0.528913 for SNP_A-4265338), keeps the
    untouched sample's (TST002 CN_497981 0.057206), adds the new
    sample's rows (TST001 SNP_A-2176913 0.018677 comes from the new
    file set), and the Unknown-tissue node grows from 3 to 4 distinct
    patients."""
    from tmdataloader_spark.plans.hdd import merge_hdd_samples

    def cn(df, s, p):
        vals = {
            r["copy_number"]
            for r in df.filter(
                (F.col("gsm_num") == s) & (F.col("snp_name") == p)
            ).collect()
        }
        # the additional fixture's TST004 calls file carries TST001
        # sample ids IN-FILE; the reference loads gsm_num verbatim and
        # its FULL-JOIN insert has no dedup (I2B2_PROCESS_SNP_DATA.sql:
        # 108-118), so a key can hold several identical rows — the
        # Groovy hasCopyNumber matcher checks one value exists, as here
        assert len(vals) == 1, (s, p, vals)
        return vals.pop()

    # first-load pinned values (:53-55)
    assert abs(cn(snp.sample_snp_data, "TST001", "SNP_A-4265338") - 0.628913) < 1e-9
    assert abs(cn(snp.sample_snp_data, "TST002", "CN_497981") - 0.057206) < 1e-9
    assert snp.sample_mapping.select("sourcesystem_cd").distinct().count() == 3

    second = load_snp(
        spark,
        "/root/reference/fixtures/Additional Test Studies/Test Study_GSE0/"
        "SNPDataToUpload",
        "GSE0",
        TOP,
    )
    # the kernel-scored frame merges through the shared sample-level
    # upsert (assay-keyed, I2B2_LOAD_SAMPLES.sql:659-830)...
    merged = merge_hdd_samples(
        snp.data, snp.sample_mapping, second.data, second.sample_mapping
    )
    # ...and de_sample_snp_data by the incoming MAPPING's sample_cds —
    # the reference deletes reloaded samples' rows by lt_src_mrna_subj_
    # samp_map.sample_cd, NOT by the in-file gsms
    # (I2B2_PROCESS_SNP_DATA.sql:99-103) — then inserts the new rows
    new_samples = second.sample_mapping.select(
        F.col("sample_cd").alias("gsm_num")
    ).distinct()
    merged_snp_data = snp.sample_snp_data.join(
        new_samples, on="gsm_num", how="left_anti"
    ).unionByName(second.sample_snp_data)

    assert abs(cn(merged_snp_data, "TST001", "SNP_A-4265338") - 0.528913) < 1e-9
    assert abs(cn(merged_snp_data, "TST002", "CN_497981") - 0.057206) < 1e-9
    assert abs(cn(merged_snp_data, "TST001", "SNP_A-2176913") - 0.018677) < 1e-9
    # :56 the Unknown node's patient count grows 3 → 4 (TST004's subject)
    assert merged.mapping.select("sourcesystem_cd").distinct().count() == 4
    unknown = merged.mapping.filter(F.col("concept_path").contains("\\Unknown\\"))
    assert unknown.select("sourcesystem_cd").distinct().count() == 4


def test_acgh_region_gene_backfill(spark):
    """I2B2_LOAD_CHROM_REGION.sql:173-235: regions with a gene_symbol
    but NULL gene_id take min(primary_external_id) from the GENE
    bio_markers (case-insensitive organism match); regions with a
    gene_id but NULL symbol take min(bio_marker_name); complete rows
    and unmatched rows are untouched."""
    from tmdataloader_spark.plans.acgh import backfill_region_genes

    regions = spark.createDataFrame(
        [
            ("r1", "TP53", None, "Homo sapiens"),     # id backfilled
            ("r2", None, 7157, "HOMO SAPIENS"),       # symbol backfilled
            ("r3", "BRCA1", 672, "Homo sapiens"),     # complete — untouched
            ("r4", "NOSUCH", None, "Homo sapiens"),   # no match — stays NULL
            ("r5", "TP53", None, "Mus musculus"),     # organism mismatch
        ],
        "region_name string, gene_symbol string, gene_id long, organism string",
    )
    bio_marker = spark.createDataFrame(
        [
            ("TP53", "7157", "GENE", "Homo Sapiens"),
            ("TP53", "9999", "GENE", "Homo Sapiens"),  # min() wins → 7157
            ("TP53", "22059", "GENE", "Mus Musculus"),
            ("ZZZ_LAST", "7157", "GENE", "Homo Sapiens"),  # min(name) → TP53
            ("TP53", "1111", "PROTEIN", "Homo Sapiens"),  # wrong type ignored
        ],
        "bio_marker_name string, primary_external_id string, "
        "bio_marker_type string, organism string",
    )
    out = {
        r.region_name: (r.gene_symbol, r.gene_id)
        for r in backfill_region_genes(regions, bio_marker).collect()
    }
    assert out["r1"] == ("TP53", 7157)
    assert out["r2"] == ("TP53", 7157)
    assert out["r3"] == ("BRCA1", 672)
    assert out["r4"] == ("NOSUCH", None)
    assert out["r5"] == ("TP53", 22059)


MAPPING_HEADER = (
    "STUDY_ID\tSITE_ID\tSUBJECT_ID\tSAMPLE_ID\tPLATFORM\tTISSUETYPE\tATTR1\tATTR2"
    "\tCATEGORY_CD"
)
SNP_CATEGORY = "Biomarker_Data+SNP+PLATFORM+TISSUETYPE+ATTR1"


def _snp_dir(tmp_path, platforms=("GPL101",)):
    """An SNPDataToUpload dir: sample SMP1 (subject P1, Tumor, ATTR1
    Primary) on the first platform and SMP2 (P2, no tissue) on the last,
    each with a calls file and a copy-number file, and one GPL file per
    platform titled ``SNP Array <gpl>``."""
    d = tmp_path / "SNPDataToUpload"
    d.mkdir()
    rows = []
    for n, gpl, tissue, attr1 in ((1, platforms[0], "Tumor", "Primary"), (2, platforms[-1], "", "")):
        rows.append(
            f"SMP{n}_Calls.txt\tSMP{n}_CopyNumber.txt\tsnp1\t\tP{n}\tSMP{n}\t{gpl}"
            f"\t{tissue}\t{attr1}\t\t{SNP_CATEGORY}"
        )
        write_lines(d / f"SMP{n}_Calls.txt", [
            "SAMPLE_ID\tPROBESET_ID\tCALLS", f"SMP{n}\tSNP_1\t1", f"SMP{n}\tSNP_2\t2",
        ])
        write_lines(d / f"SMP{n}_CopyNumber.txt", [
            "SAMPLE_ID\tPROBESET_ID\tCHROM\tCHROM_POS\tCOPY_NUMBER",
            f"SMP{n}\tSNP_1\t1\t1000\t0.{n}",
            f"SMP{n}\tSNP_2\t1\t2000\t-0.{n}",
        ])
    write_lines(d / "snp1_Subject_Sample_Mapping_File.txt", [
        "CALLS_FILE_NAME\tCOPY_NUMBER_FILE_NAME\t" + MAPPING_HEADER, *rows,
    ])
    for gpl in platforms:
        write_lines(d / f"{gpl}.txt", [
            f"#PLATFORM_TITLE: SNP Array {gpl}",
            "ID\tGene Symbol\tENTREZ_GENE_ID",
            "SNP_1\tTP53\t7157",
            "SNP_2\tEGFR\t1956",
        ])
    return str(d)


def test_snp_small_study_samples_and_nodes(spark, tmp_path):
    """Each sample's concept path is its category with PLATFORM,
    TISSUETYPE and ATTR1 filled in (an empty tissue is Blood, an empty
    ATTR1 drops out), and the ontology is those leaves and their
    folders."""
    res = load_snp(spark, _snp_dir(tmp_path), "SNP1", TOP)
    path1 = TOP + "Biomarker Data\\SNP\\SNP Array GPL101\\Tumor\\Primary\\"
    path2 = TOP + "Biomarker Data\\SNP\\SNP Array GPL101\\Blood\\"
    assert sorted_rows(res.sample_mapping) == sorted([
        sample_row(spark, "SNP1", "P1", "SMP1", "GPL101", "SNP", SNP_CATEGORY, path1,
                   tissue="Tumor", attr1="Primary"),
        sample_row(spark, "SNP1", "P2", "SMP2", "GPL101", "SNP", SNP_CATEGORY, path2,
                   tissue="Blood"),
    ], key=repr)
    assert sorted_rows(res.i2b2, "c_fullname", "c_visualattributes", "c_basecode") == (
        node_rows(path1, path2)
    )
    assert res.sample_snp_data.count() == 4


def test_snp_samples_take_their_own_platform_title(spark, tmp_path):
    """A mapping over two platforms templates each sample's path with
    the title of that sample's platform."""
    res = load_snp(spark, _snp_dir(tmp_path, ("GPL101", "GPL102")), "SNP1", TOP)
    paths = dict(res.sample_mapping.select("sample_cd", "concept_path").collect())
    assert paths == {
        "SMP1": TOP + "Biomarker Data\\SNP\\SNP Array GPL101\\Tumor\\Primary\\",
        "SMP2": TOP + "Biomarker Data\\SNP\\SNP Array GPL102\\Blood\\",
    }


ACGH_CATEGORY = "Biomarker_Data+aCGH+PLATFORM+TISSUETYPE"


def _acgh_dir(tmp_path, platforms=("GPL201",)):
    """An ACGHDataToUpload dir: sample SMP1 (subject P1, Tumor) on the
    first platform and SMP2 (P2, no tissue) on the last, a data file with
    the seven metric columns per sample over two regions, and one region
    file per platform titled ``aCGH Regions <gpl>``. The first platform
    holds both regions, any other only the first."""
    d = tmp_path / "ACGHDataToUpload"
    d.mkdir()
    write_lines(d / "acgh1_Subject_Sample_Mapping_File.txt", [
        MAPPING_HEADER,
        f"acgh1\t\tP1\tSMP1\t{platforms[0]}\tTumor\t\t\t{ACGH_CATEGORY}",
        f"acgh1\t\tP2\tSMP2\t{platforms[-1]}\t\t\t\t{ACGH_CATEGORY}",
    ])
    regions = [
        "chr1:100-200\t1\t100\t200\t5\tp36.33\tTP53",
        "chr1:300-400\t1\t300\t400\t7\tp36.32\tEGFR",
    ]
    for gpl in platforms:
        write_lines(d / f"{gpl}_region_platform.txt", [
            f"#PLATFORM_TITLE: aCGH Regions {gpl}",
            "REGION_NAME\tCHROMOSOME\tSTART_BP\tEND_BP\tNUM_PROBES\tCYTOBAND\tGENE_SYMBOL",
            *(regions if gpl == platforms[0] else regions[:1]),
        ])
    metrics = ["chip", "segmented", "flag", "probloss", "probnorm", "probgain", "probamp"]
    write_lines(d / "acgh1_acgh_data.txt", [
        "\t".join(["region_id"] + [f"{s}.{m}" for s in ("SMP1", "SMP2") for m in metrics]),
        "\t".join(["chr1:100-200"] + ["0.5", "0.25", "1", "0.1", "0.2", "0.3", "0.4"] * 2),
        "\t".join(["chr1:300-400"] + ["-0.5", "-0.25", "-1", "0.4", "0.3", "0.2", "0.1"] * 2),
    ])
    return str(d)


def test_acgh_small_study_samples_and_nodes(spark, tmp_path):
    res = load_acgh(spark, _acgh_dir(tmp_path), None, TOP)
    path1 = TOP + "Biomarker Data\\aCGH\\aCGH Regions GPL201\\Tumor\\"
    path2 = TOP + "Biomarker Data\\aCGH\\aCGH Regions GPL201\\Blood\\"
    assert sorted_rows(res.sample_mapping) == sorted([
        sample_row(spark, "ACGH1", "P1", "SMP1", "GPL201", "aCGH", ACGH_CATEGORY, path1,
                   tissue="Tumor"),
        sample_row(spark, "ACGH1", "P2", "SMP2", "GPL201", "aCGH", ACGH_CATEGORY, path2,
                   tissue="Blood"),
    ], key=repr)
    assert sorted_rows(res.i2b2, "c_fullname", "c_visualattributes", "c_basecode") == (
        node_rows(path1, path2)
    )
    # both samples over both regions, metrics typed
    assert sorted_rows(res.data, "region_name", "chip", "flag") == [
        ("chr1:100-200", 0.5, 1), ("chr1:100-200", 0.5, 1),
        ("chr1:300-400", -0.5, -1), ("chr1:300-400", -0.5, -1),
    ]


def test_acgh_samples_take_their_own_platform(spark, tmp_path):
    """A mapping over two region platforms: each sample's path carries
    its own platform's title, and its data rows cover only the regions
    of its own platform."""
    res = load_acgh(spark, _acgh_dir(tmp_path, ("GPL201", "GPL202")), None, TOP)
    paths = dict(res.sample_mapping.select("sample_cd", "concept_path").collect())
    assert paths == {
        "SMP1": TOP + "Biomarker Data\\aCGH\\aCGH Regions GPL201\\Tumor\\",
        "SMP2": TOP + "Biomarker Data\\aCGH\\aCGH Regions GPL202\\Blood\\",
    }
    sample_of = dict(res.sample_mapping.select("assay_id", "sample_cd").collect())
    regions = sorted(
        (sample_of[a], r) for a, r in res.data.select("assay_id", "region_name").collect()
    )
    assert regions == [
        ("SMP1", "chr1:100-200"), ("SMP1", "chr1:300-400"), ("SMP2", "chr1:100-200"),
    ]
