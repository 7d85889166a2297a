"""SNP and aCGH pipeline e2e on the reference fixtures
(SNPDataProcessorTest / ACGH assertions re-expressed on DataFrames)."""

import pytest
from conftest import needs_reference

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
