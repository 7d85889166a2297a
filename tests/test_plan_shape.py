"""Physical-plan regression tests: the properties that make these
operators survive a 1000-executor / 100 TB deployment (SURVEY.md §9)
are asserted mechanically — a broadcast hint lost in a refactor, a
filter that stops reaching the parquet scan, or an inequality join
that degenerates into a nested loop shows up here, not in a cluster
incident.

The checks read the pre-execution plan (``explainString``), so only
EXPLICIT properties are asserted (broadcast hints, pushdown,
join-operator class) — AQE runtime re-planning is out of scope.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(spark, df, mode="formatted") -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_parquet_pushdown_and_pruning(spark):
    """Filters reach the scan (PushedFilters) and only referenced
    columns are read (ReadSchema) — the two properties that turn a
    100 TB scan into a fraction of itself."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select(
        "l_returnflag", "l_quantity"
    )
    plan = _plan(spark, q)
    assert "LessThanOrEqual(l_shipdate" in plan, "shipdate filter not pushed to scan"
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" not in read_schema, "column pruning lost"


def test_fact_assembly_broadcasts_dimensions(spark):
    """J1: observation-fact assembly joins facts against node/patient
    dimensions via explicit broadcast — facts must never sort-merge
    against a dimension (plans/clinical.py:324-346)."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_fact_assembly(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_zscore_stats_join_is_broadcast(spark):
    """A2/J3: the per-probe stats side (one row per probe) broadcasts
    back onto the data (operators/zscore.py:78)."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_zscore(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontamination_broadcasts_benchmark(spark):
    """The eval-set side is distinct'd and broadcast; the corpus never
    shuffles for the join (llmdata/text.py:249)."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_decontamination(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan


def test_temporal_joins_have_no_nested_loop(spark):
    """asof_join (union + carry-forward window) and range_join
    (bucketized equi-join) must plan WITHOUT an inequality join —
    BroadcastNestedLoopJoin/CartesianProduct here means the operator
    degenerated into the O(n*m) theta-join it exists to avoid."""
    import __spark_entry__ as entry

    for q in (entry.q_asof_join, entry.q_range_join):
        plan = _plan(spark, q(spark, SF), "simple")
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__


def test_tree_closure_is_equi_join(spark):
    """T2: the transitive closure is a posexplode prefix equi-join —
    no LIKE-prefix theta join (operators/tree.py:43)."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_tree_closure(spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_wholestage_codegen_covers_cleansing(spark):
    """F1-F9 cleansing is a pure-projection chain — it must stay
    inside WholeStageCodegen (no Python/UDF boundary in the plan)."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_cleansing(spark, SF))
    # formatted mode marks codegen'd operators with "[codegen id : N]"
    assert "[codegen id :" in plan, "cleansing projection fell out of codegen"
    assert "EvalPython" not in plan, "a Python UDF crept into the cleansing chain"


def test_quota_sample_single_exchange_reuse(spark):
    """Quota sampling's two windows must not degenerate into a
    cartesian/nested-loop, and the local (sharded) rank must run
    BEFORE the global one so skewed strata are pre-thinned."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from tmdataloader_spark.llmdata.sampling import quota_sample

    plan = _plan(spark, quota_sample(docs, "source", cap=5))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # two window operators: per-(stratum, shard) then per-stratum
    assert plan.count("Window") >= 2
    # the shard column participates in the first window's partitioning
    assert "_qshard" in plan


def test_semantic_dedup_pairs_only_within_cell(spark):
    """SemDeDup's pair stage must be an equi-cogroup keyed by
    (cell, block-pair) — no cross join, no theta join — and the
    block-pair table must broadcast."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    from tmdataloader_spark.llmdata.clustering import semantic_dedup

    plan = _plan(spark, semantic_dedup(emb, k=4, iters=1, threshold=0.4))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan or "FlatMapCoGroupsIn" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_kmeans_assignment_has_no_shuffle(spark):
    """The final k-means assignment is a mapInPandas over the cached
    quantized frame — scoring must add no Exchange beyond the scan."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    from tmdataloader_spark.llmdata.clustering import kmeans_fit

    plan = _plan(spark, kmeans_fit(emb, k=4, iters=1))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, "assignment stage must not shuffle"


def test_chunk_docs_no_exchange(spark):
    """Chunking is a per-row flatMap (sequence + posexplode +
    substring) — the plan must contain NO Exchange and no Python
    boundary: chunks are emitted in the same scan that reads text."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_chunk_docs(spark, SF), "simple")
    assert "Exchange" not in plan, "chunking must not shuffle"
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_json_rollup_single_parse_single_exchange(spark):
    """Typed JSON extraction parses once (from_json) and aggregates
    with one shuffle on the small group key; only the referenced
    columns reach the scan."""
    import __spark_entry__ as entry

    df = entry.q_json_rollup(spark, SF)
    plan = _plan(spark, df)
    assert plan.count("from_json") <= 2, "per-field re-parsing crept in"
    simple = _plan(spark, df, "simple")
    assert simple.count("Exchange") <= 2  # partial agg + AQE final
    read_schema = next(l for l in _plan(spark, df).splitlines() if "ReadSchema" in l)
    assert "user_id" not in read_schema, "column pruning lost"


def test_vocab_topk_uses_heap_selection(spark):
    """Global top-k must plan as TakeOrderedAndProject (per-task
    k-heaps), never a global Sort of the vocabulary."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_vocab_topk(spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan


def test_zorder_key_is_pure_projection(spark):
    """The Z-order key is straight-line long arithmetic — no shuffle,
    no UDF, single codegen'd projection over the scan."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_zorder(spark, SF), "simple")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    read_schema = next(
        l
        for l in _plan(spark, entry.q_zorder(spark, SF)).splitlines()
        if "ReadSchema" in l
    )
    assert "l_extendedprice" not in read_schema


def test_seq_pack_broadcasts_bucket_bases(spark):
    """Sequence packing phase 2 joins per-bucket base offsets (a
    num_buckets-row frame) back via explicit broadcast — the corpus
    side must never sort-merge against it."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_seq_pack(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_no_explode_heap_selection(spark):
    """BM25 for a bounded query must NOT explode the token stream:
    per-term tfs are per-row array expressions, corpus stats arrive
    via a broadcast one-row aggregate, and top-k selection plans as
    TakeOrderedAndProject (per-task k-heaps, no global sort)."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_bm25(spark, SF), "simple")
    assert "Generate" not in plan, "token-stream explode crept into BM25"
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_bm25_batch_joins_are_broadcast(spark):
    """Indexed batch retrieval: every join against the postings slice
    (query terms, per-term dfs, corpus stats, query set) must be a
    broadcast — the postings side never sort-merges, and the only
    nested-loop is the deliberate one-row stats cross join."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_bm25_batch(spark, SF), "simple")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # one-row stats
    assert "BroadcastHashJoin" in plan


def test_mixture_sample_broadcasts_fractions(spark):
    """The per-stratum fraction table (stratum-cardinality rows)
    broadcasts back onto the corpus; the corpus itself must never
    sort-merge or nested-loop for the join."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_mixture_sample(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_dup_ngrams_semi_join_no_cartesian(spark):
    """The duplicated-gram filter is a LEFT SEMI equi-join of the
    gram stream against the duplicated-gram keys — no cartesian, no
    nested loop, no Python boundary."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_dup_ngrams(spark, SF), "simple")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_incremental_novelty_joins_are_equi(spark):
    """Batch-vs-history candidate generation is an equi-join on
    (band, band_key); verification is an equi-join on ids — no
    cartesian anywhere, and history text columns never reach a scan."""
    import __spark_entry__ as entry

    df = entry.q_incremental_dedup(spark, SF)
    plan = _plan(spark, df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substr_dedup_single_window_no_cartesian(spark):
    """ExactSubstr: the only shuffle-heavy step is the row_number
    window keyed by the gram hash (high-cardinality — spreads
    evenly); the span filter is a per-row array expression, so no
    token-level join and certainly no cartesian product appears."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_substr_dedup(spark, SF), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Window") == 1, "expected exactly one window (gram first-occurrence)"


def test_prototype_scores_broadcasts_centroids(spark):
    """Prototype scores: the groups×dim centroid and group-count
    sides broadcast back onto the corpus — the corpus never
    sort-merges against its own aggregate."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_prototype_scores(spark, SF), "simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_leakage_split_no_cartesian(spark):
    """Leakage-safe split: components + one equi-join + a per-row
    md5 CASE — no cartesian/nested-loop anywhere despite the
    LSH candidate generation feeding it."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_leakage_split(spark, SF), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_ivfpq_probe_is_equi_join_dtabs_broadcast(spark):
    """IVF-PQ: the probe (cell) and codes (id) joins are equi-joins,
    the per-query distance tables broadcast, and nothing degenerates
    into a cartesian/nested-loop despite the ADC lookup expression."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_ann_ivfpq(spark, SF), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_tag_substitution_is_pure_map(spark):
    """F12: $$TAG substitution compiles to one codegen projection —
    no shuffle, no Python boundary, no join (sources/mapping.py
    substitute_tags). At 100 TB this is a zero-cost in-scan rewrite."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_tag_substitution(spark, SF), "simple")
    for bad in ("Exchange", "Join", "EvalPython", "MapInPandas"):
        assert bad not in plan, f"{bad} in tag_substitution plan"


def test_abort_reports_single_keyed_aggregate(spark):
    """A9: the visit-consistency report is ONE map-side-combined
    aggregate on the group key — the same single shuffle the abort
    probe pays; no join, no window."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_visit_consistency(spark, SF), "simple")
    assert plan.count("Exchange") == 1, plan
    for bad in ("Join", "Window", "EvalPython"):
        assert bad not in plan, f"{bad} in visit_consistency plan"


def test_gene_backfill_lookups_are_broadcast(spark):
    """The bio_marker gene backfill joins two dimension-sized lookups
    onto the regions — both must broadcast (hash where the key is an
    equi-column, never a data-sized sort-merge), and the region side
    must not shuffle (plans/acgh.backfill_region_genes)."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_acgh_gene_backfill(spark, SF), "simple")
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_merge_security_rebuild_is_broadcast_and_codegen(spark, gse0_mapping):
    """§2.10a r13 SECURITY delete-then-insert rebuild
    (plans/merge.py:352-392, i2b2_create_security_for_trial.sql
    delete :62-66 / insert :70-98): the per-trial token is a ONE-ROW
    frame cross-joined onto the post-merge patient set — the plan
    must carry it as a broadcast (BroadcastNestedLoopJoin at most
    once, for that join alone), never a CartesianProduct, and the
    SECURITY-fact predicate (CASE modifier_cd='@' → sourcesystem_cd)
    stays pure codegen with no Python boundary.  Pins the shape the
    r13 bench row was never calmly measured against."""
    from tmdataloader_spark.plans.clinical import load_clinical
    from tmdataloader_spark.plans.merge import MergeMode, merge_clinical_load
    from tmdataloader_spark.sources.mapping import melt_clinical_study

    top = "\\Test Studies\\Test Study\\"
    base = load_clinical(
        spark, melt_clinical_study(spark, gse0_mapping), "GSE0", top
    )
    merged = merge_clinical_load(base, base, MergeMode.UPDATE, "GSE0", top)
    plan = _plan(spark, merged.observation_fact, "simple")
    assert "CartesianProduct" not in plan, "token cross join lost its broadcast"
    assert plan.count("BroadcastNestedLoopJoin") <= 1, (
        "more than the one bounded token broadcast degenerated to a "
        "nested loop"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        "SECURITY predicate left codegen"
    )


def test_epoch_hll_gate_pure_codegen_two_scans(spark):
    """The r14 debut gate: both aggregation families (per-shard epoch
    stats, per-key HLL estimate) stay pure codegen — md5/conv/shift
    expressions, no Python boundary, no cartesian — and the events
    relation is scanned once per family (the two group-bys share no
    key, so a shared scan would need a corpus-sized explode)."""
    import __spark_entry__ as entry

    plan = _plan(spark, entry.q_epoch_shuffle_hll(spark, SF), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Scan parquet") == 2, plan
