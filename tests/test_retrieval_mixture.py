"""Unit tests for the round-4 late additions: BM25 lexical top-k
(llmdata/retrieval.py), temperature-mixture resampling
(llmdata/sampling.py mixture_sample) and the duplicated-n-gram
fraction signal (llmdata/dedup.py dup_ngram_fraction).

The gate queries for all three are oracle-checked per pytest run by
tests/test_oracle.py; these tests pin the semantic invariants on
constructed inputs where the expected answer is derivable by hand.
"""

import math

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


# ---------------------------------------------------------------- bm25


def test_bm25_ranks_rare_term_doc_first(spark):
    from tmdataloader_spark.llmdata.retrieval import bm25_topk

    df = _docs(
        spark,
        [
            (1, "quantum flux and the common word", "en"),
            (2, "the common word appears here too", "en"),
            (3, "another common word document", "en"),
            (4, "common word yet again common", "en"),
        ],
    )
    out = bm25_topk(df, ["quantum"], k=10).collect()
    # only the one document containing the rare term survives the
    # hit filter, and it ranks first
    assert [r.doc_id for r in out] == [1]
    assert out[0].rank == 1 and out[0].n_terms_hit == 1
    assert out[0].score > 0


def test_bm25_tf_saturation_and_idf_ordering(spark):
    from tmdataloader_spark.llmdata.retrieval import bm25_topk

    df = _docs(
        spark,
        [
            (1, "apple apple apple apple", "en"),
            (2, "apple pear pear pear", "en"),
            (3, "pear pear pear pear", "en"),
            (4, "kiwi kiwi kiwi kiwi", "en"),
        ],
    )
    out = {r.doc_id: r for r in bm25_topk(df, ["apple", "pear"], k=10).collect()}
    # doc 2 hits both terms and outranks single-term docs of the same length
    assert out[2].n_terms_hit == 2
    assert out[2].score > out[1].score
    assert out[2].score > out[3].score
    assert 4 not in out  # no query term -> filtered before the k-heap


def test_bm25_matches_hand_computed_score(spark):
    from tmdataloader_spark.llmdata.retrieval import bm25_topk

    df = _docs(spark, [(1, "a b c d", "en"), (2, "a a e f", "en")])
    out = {r.doc_id: r.score for r in bm25_topk(df, ["a"], k=10).collect()}
    # N=2, df=2, avgdl=4, dl=4 -> norm term = tf + k1*(1-b+b*1)
    k1, b = 1.2, 0.75
    idf = math.log(1.0 + (2 - 2 + 0.5) / (2 + 0.5))
    for doc, tf in ((1, 1.0), (2, 2.0)):
        expected = round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * 1.0)), 6)
        assert out[doc] == pytest.approx(expected, abs=1e-9)


def test_bm25_rejects_empty_query(spark):
    from tmdataloader_spark.llmdata.retrieval import bm25_topk

    with pytest.raises(ValueError):
        bm25_topk(_docs(spark, [(1, "x", "en")]), [])


def test_bm25_batch_agrees_with_single_query_form(spark):
    """The indexed many-queries form and the per-row-expression
    single-query form compute identical (doc, hits, score, rank)
    lists for the same terms — the lambda-architecture agreement
    contract."""
    from tmdataloader_spark.llmdata.retrieval import (
        bm25_batch_topk,
        bm25_index,
        bm25_topk,
    )

    df = _docs(
        spark,
        [
            (1, "spark shuffle moves rows between executors", "en"),
            (2, "a vector is a row of numbers", "en"),
            (3, "spark broadcasts the small side", "en"),
            (4, "nothing relevant here at all", "en"),
            (5, "shuffle spark shuffle spark shuffle", "en"),
        ],
    )
    terms = ["spark", "shuffle"]
    single = [
        (r.doc_id, r.n_terms_hit, r.score, r.rank)
        for r in bm25_topk(df, terms, k=10).collect()
    ]
    postings, stats = bm25_index(df)
    queries_df = spark.createDataFrame(
        [(7, t) for t in terms], "query_id int, term string"
    )
    batch = [
        (r.doc_id, r.n_terms_hit, r.score, r.rank)
        for r in sorted(
            bm25_batch_topk(postings, stats, queries_df, k=10).collect(),
            key=lambda r: r.rank,
        )
    ]
    assert single == batch


def test_bm25_batch_normalizes_query_terms(spark):
    """Batch query terms are stripped/lowercased like the single-query
    form — 'Spark ' must match the indexed lowercase token, and
    case-variant duplicates collapse to one term."""
    from tmdataloader_spark.llmdata.retrieval import (
        bm25_batch_topk,
        bm25_index,
        bm25_topk,
    )

    df = _docs(spark, [(1, "Spark shuffle", "en"), (2, "pear plum", "en")])
    postings, stats = bm25_index(df)
    queries_df = spark.createDataFrame(
        [(1, "Spark "), (1, "SPARK")], "query_id int, term string"
    )
    batch = [
        (r.doc_id, r.n_terms_hit, r.score)
        for r in bm25_batch_topk(postings, stats, queries_df, k=5).collect()
    ]
    single = [
        (r.doc_id, r.n_terms_hit, r.score)
        for r in bm25_topk(df, ["Spark ", "SPARK"], k=5).collect()
    ]
    assert batch == single
    assert batch == [(1, 1, batch[0][2])] and batch[0][2] > 0


def test_mixture_sample_caller_stratum_column_name(spark):
    """A caller whose stratum column is literally named 'stratum' must
    not hit an ambiguous-reference error or lose the column."""
    from tmdataloader_spark.llmdata.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(40)], "doc_id long, stratum string"
    )
    kept = mixture_sample(df, "stratum", alpha=1.0, target_rows=40).collect()
    assert len(kept) == 40
    assert set(kept[0].asDict()) == {"doc_id", "stratum"}


def test_bm25_batch_duplicate_query_rows_ignored(spark):
    """Duplicate (query_id, term) rows must not double-count a term's
    contribution."""
    from tmdataloader_spark.llmdata.retrieval import bm25_batch_topk, bm25_index

    df = _docs(spark, [(1, "apple pear", "en"), (2, "pear plum", "en")])
    postings, stats = bm25_index(df)
    once = spark.createDataFrame([(1, "pear")], "query_id int, term string")
    twice = spark.createDataFrame(
        [(1, "pear"), (1, "pear")], "query_id int, term string"
    )
    a = sorted(map(tuple, bm25_batch_topk(postings, stats, once, k=5).collect()))
    b = sorted(map(tuple, bm25_batch_topk(postings, stats, twice, k=5).collect()))
    assert a == b


def test_rrf_fuse_hand_computed(spark):
    """RRF on two 2-row lists matches the 1/(k0+rank) sum by hand;
    a doc present in both lists outranks single-list docs."""
    from tmdataloader_spark.llmdata.retrieval import rrf_fuse

    la = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rank int")
    lb = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rank int")
    out = {r.doc_id: r for r in rrf_fuse([la, lb], k0=60, k=10).collect()}
    assert out[20].n_lists == 2 and out[20].rank == 1
    assert out[20].rrf_score == pytest.approx(
        round(1 / 61 + 1 / 62, 6), abs=1e-9
    )
    assert out[10].rrf_score == pytest.approx(round(1 / 61, 6), abs=1e-9)
    # equal single-list scores tie-break by id: doc 10 (rank 1 in A)
    # and doc 30 (rank... 2 in B) differ; 10 > 30 by score
    assert out[10].rank == 2 and out[30].rank == 3


def test_rrf_fuse_rejects_empty(spark):
    from tmdataloader_spark.llmdata.retrieval import rrf_fuse

    with pytest.raises(ValueError):
        rrf_fuse([])


# ------------------------------------------------------- mixture_sample


def test_mixture_fractions_temperature_upsamples_rare(spark):
    from tmdataloader_spark.llmdata.sampling import mixture_fractions

    rows = [(i, f"doc {i}", "en" if i < 90 else "zh") for i in range(100)]
    fr = {
        r.stratum: r
        for r in mixture_fractions(
            _docs(spark, rows), "lang", alpha=0.5, target_rows=30
        ).collect()
    }
    # weights proportional to sqrt(n), normalized
    wsum = math.sqrt(90) + math.sqrt(10)
    assert fr["en"].weight == pytest.approx(math.sqrt(90) / wsum, abs=1e-6)
    assert fr["zh"].weight == pytest.approx(math.sqrt(10) / wsum, abs=1e-6)
    # alpha=0.5 shifts share toward the rare stratum: zh keep-fraction
    # exceeds en's
    assert fr["zh"].fraction > fr["en"].fraction
    # expected kept total ~= target (sqrt(10)/wsum * 30 / 10 = 0.75,
    # under the 1.0 clamp, so no mass is lost)
    expected_total = fr["en"].fraction * 90 + fr["zh"].fraction * 10
    assert expected_total == pytest.approx(30, abs=0.01)


def test_mixture_fraction_clamped_at_population(spark):
    from tmdataloader_spark.llmdata.sampling import mixture_fractions

    rows = [(i, f"doc {i}", "en" if i < 98 else "zh") for i in range(100)]
    fr = {
        r.stratum: r.fraction
        for r in mixture_fractions(
            _docs(spark, rows), "lang", alpha=0.0, target_rows=1000
        ).collect()
    }
    # alpha=0 -> equal weights; target 1000 over 2 strata would need
    # 500 rows from a 2-row stratum -> clamp to 1.0
    assert fr["zh"] == 1.0


def test_mixture_sample_deterministic_and_subset(spark):
    from tmdataloader_spark.llmdata.sampling import mixture_sample

    rows = [(i, f"doc {i}", ["en", "de", "zh"][i % 3]) for i in range(300)]
    df = _docs(spark, rows)
    a = sorted(
        r.doc_id
        for r in mixture_sample(df, "lang", alpha=0.5, target_rows=100).collect()
    )
    b = sorted(
        r.doc_id
        for r in mixture_sample(
            df.repartition(7), "lang", alpha=0.5, target_rows=100
        ).collect()
    )
    assert a == b  # partitioning-invariant
    assert set(a) <= {i for i in range(300)}
    assert 0 < len(a) < 300


def test_mixture_sample_null_stratum_rows_are_sampled(spark):
    """A NULL stratum is a legitimate group (GROUP BY keeps it); the
    fraction join must be null-safe so those rows are sampled at
    their own stratum's fraction instead of silently dropped."""
    from tmdataloader_spark.llmdata.sampling import mixture_sample

    rows = [(i, f"doc {i}", None if i % 2 else "en") for i in range(100)]
    df = _docs(spark, rows)
    kept = mixture_sample(df, "lang", alpha=1.0, target_rows=100).collect()
    # alpha=1, target=total -> every stratum's fraction is 1.0: all
    # 100 rows survive, including the 50 NULL-stratum ones
    assert len(kept) == 100
    assert sum(1 for r in kept if r.lang is None) == 50


# ----------------------------------------------------- dup_ngram_fraction


def test_dup_ngram_fraction_identical_and_unique_docs(spark):
    from tmdataloader_spark.llmdata.dedup import dup_ngram_fraction

    df = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog", "en"),
            (2, "the quick brown fox jumps over the lazy dog", "en"),
            (3, "completely different words appear in this document here", "en"),
        ],
    )
    out = {r.doc_id: r for r in dup_ngram_fraction(df, n=3, min_df=2).collect()}
    assert out[1].dup_fraction == 1.0 and out[2].dup_fraction == 1.0
    assert out[3].dup_fraction == 0.0
    assert out[1].n_shingles == 7  # 9 tokens -> 7 trigrams, all distinct


def test_dup_ngram_fraction_partial_overlap(spark):
    from tmdataloader_spark.llmdata.dedup import dup_ngram_fraction

    df = _docs(
        spark,
        [
            (1, "a b c d unique tail one x1 y1 z1", "en"),
            (2, "a b c d unique tail two x2 y2 z2", "en"),
        ],
    )
    out = {r.doc_id: r for r in dup_ngram_fraction(df, n=3, min_df=2).collect()}
    # shared prefix "a b c d unique tail" gives trigrams: abc, bcd,
    # "c d unique", "d unique tail" = 4 shared of 8 total per doc
    assert out[1].n_shingles == 8
    assert out[1].n_dup == 4 and out[2].n_dup == 4
    assert out[1].dup_fraction == 0.5


def test_dup_ngram_short_doc_reports_zero(spark):
    from tmdataloader_spark.llmdata.dedup import dup_ngram_fraction

    df = _docs(spark, [(1, "one two", "en"), (2, "one two", "en")])
    out = {r.doc_id: r for r in dup_ngram_fraction(df, n=3, min_df=2).collect()}
    # fewer tokens than n -> zero shingles -> fraction 0, row retained
    assert out[1].n_shingles == 0 and out[1].dup_fraction == 0.0
    assert len(out) == 2


def test_mixture_upsample_expected_copies(spark):
    """E[copies] = f per stratum: output size tracks the target, rare
    strata get >1 copy per doc, and every source doc appears when
    f >= 1 everywhere."""
    from pyspark.sql import functions as F

    from tmdataloader_spark.llmdata.sampling import mixture_upsample

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    up = mixture_upsample(d, "lang", alpha=0.3, target_rows=800)
    n = up.count()
    assert abs(n - 800) <= 40  # bucket-gated extras: binomial noise
    assert up.select("doc_id").distinct().count() == d.count()
    # copy_idx is 1-based and dense per doc
    per = up.groupBy("doc_id").agg(
        F.count("*").alias("k"), F.max("copy_idx").alias("mx"), F.min("copy_idx").alias("mn")
    )
    bad = per.filter((F.col("mx") != F.col("k")) | (F.col("mn") != 1)).count()
    assert bad == 0


def test_mixture_upsample_clamped_equals_mixture_sample(spark):
    """For targets where every fraction <= 1 the kept set (ignoring
    copy_idx) is EXACTLY mixture_sample's — same bucket, same
    threshold algebra."""
    from tmdataloader_spark.llmdata.sampling import mixture_sample, mixture_upsample

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # target 300 over 500 docs with alpha=1 -> every f = 0.6 < 1
    a = {r.doc_id for r in mixture_sample(d, "lang", alpha=1.0, target_rows=300).collect()}
    b = {r.doc_id for r in mixture_upsample(d, "lang", alpha=1.0, target_rows=300).collect()}
    assert a == b


def test_mixture_upsample_max_repeat_cap(spark):
    """A tiny stratum under an aggressive target is capped at
    max_repeat copies per doc, not exploded."""
    from pyspark.sql import functions as F

    from tmdataloader_spark.llmdata.sampling import mixture_upsample

    rows = [(i, "rare" if i < 3 else "common") for i in range(103)]
    d = spark.createDataFrame(rows, "doc_id long, lang string")
    up = mixture_upsample(d, "lang", alpha=0.0, target_rows=100000, max_repeat=4.0)
    mx = up.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    assert mx <= 4
