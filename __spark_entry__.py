"""The engine's gate queries, each registered with its DuckDB oracle.

Each ``@gate(oracle=SQL)`` function exercises one operator family from
SURVEY.md §2 (or an llmdata extension) on the synthetic tables of
TESTDATA.md; its oracle is the DuckDB-equivalent ANSI SQL. Column
names and value rounding are aligned on both sides so the
order-insensitive comparison of ``tools/check_correctness.py`` matches.
``queries()`` and ``oracle_sql()`` are views of the one registry.

Determinism rules used throughout:
- float aggregates rounded to 6 decimals on BOTH sides;
- money sums cast to DECIMAL(18,2) on both sides;
- top-k / keep-one ties broken by a total-order key;
- timestamps surfaced as ISO strings, never raw timestamp values.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tmdataloader_spark.functions.ratio import round6_ratio_sql as _r6
from tmdataloader_spark.llmdata.bpe import bpe_oracle_sql
from tmdataloader_spark.llmdata.clustering import (
    ivfpq_oracle_sql,
    kmeans_oracle_sql,
    semantic_dedup_oracle_sql,
)
from tmdataloader_spark.llmdata.projection import random_projection_oracle_sql
from tmdataloader_spark.llmdata.retrieval import bm25_oracle_sql, rrf_bm25_oracle_sql
from tmdataloader_spark.llmdata.scoring import calibration_curve_oracle_sql
from tmdataloader_spark.llmdata.vocab import pmi_collocations_oracle_sql
from tmdataloader_spark.operators.association import basket_rules_oracle_sql
from tmdataloader_spark.operators.eventflow import (
    attribution_oracle_sql,
    event_transitions_oracle_sql,
    interarrival_profile_oracle_sql,
)
from tmdataloader_spark.operators.graph import (
    common_neighbors_oracle_sql,
    pagerank_oracle_sql,
    triangle_oracle_sql,
)
from tmdataloader_spark.operators.skyline import supplier_frontier_oracle_sql
from tmdataloader_spark.operators.timeseries import cusum_changepoint_oracle_sql
from tmdataloader_spark.operators.zscore import quantile_normalize_oracle_sql
from tmdataloader_spark.statistic.profile import diversity_profile_oracle_sql
from tmdataloader_spark.statistic.regression import grouped_linear_fit_oracle_sql
from tmdataloader_spark.statistic.stattests import chi_square_oracle_sql, ks_test_oracle_sql

Query = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[Query, str]] = {}


def gate(*, oracle: str) -> Callable[[Query], Query]:
    """Register ``q_<name>`` under ``<name>`` with its oracle SQL; the
    function is returned unchanged."""

    def register(fn: Query) -> Query:
        _REGISTRY[fn.__name__.removeprefix("q_")] = (fn, oracle)
        return fn

    return register


def queries() -> dict[str, Query]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items()}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet has stored ts as TIMESTAMP(NANOS) (which Spark's
        # vectorized reader rejects — read nanos as long, truncate to
        # micros, same truncation DuckDB applies) and, in newer driver
        # generations, as plain TIMESTAMP_NTZ micros. Normalize either
        # encoding to session-TZ (UTC) TimestampType.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = dict(df.dtypes)["ts"]
        if ts_type in ("bigint", "long"):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# §2.5 aggregations / z-score kernel
# ---------------------------------------------------------------------------

@gate(oracle="""
            SELECT l_returnflag, l_linestatus,
                   round(sum(CAST(l_quantity AS DOUBLE)), 2) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
                     AS sum_base_price,
                   round(CAST(sum(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE)
                         / count(*), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary (A2-family grouped agg
    with map-side partial aggregation; one shuffle on the tiny group key)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # quantities are integer-valued -> the double sum is exact;
            # money/discount are 2dp doubles whose raw float sums are
            # partial-agg-order-sensitive (the sessionize failure class,
            # latent here for 4 rounds) -> sum in decimal(38,6) and only
            # then surface a double. Output schema stays DOUBLE — the
            # round-1 red row came from returning DECIMAL columns whose
            # widened precision differs between engines, not from
            # decimal-internal summation.
            F.round(F.sum(F.col("l_quantity").cast("double")), 2).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(38,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@gate(oracle="""
            SELECT l_partkey AS probeset_id,
                   round(avg(l_quantity), 6) AS mean_intensity,
                   round(median(l_quantity), 6) AS median_intensity,
                   round(coalesce(stddev_samp(l_quantity), 0), 6) AS stddev_intensity
            FROM lineitem GROUP BY l_partkey
        """)
def q_probe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-probe mean / exact median / sample stddev
    (I2B2_PROCESS_MRNA_DATA.sql:284-297) — probes ≙ part keys."""
    from tmdataloader_spark.operators.zscore import probe_stats

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("probeset_id"),
        F.col("l_quantity").alias("log_intensity"),
    )
    st = probe_stats(li)
    return st.select(
        "probeset_id",
        F.round("mean_intensity", 6).alias("mean_intensity"),
        F.round("median_intensity", 6).alias("median_intensity"),
        F.round("stddev_intensity", 6).alias("stddev_intensity"),
    )


@gate(oracle="""
            WITH logs AS (
              SELECT l_orderkey, l_linenumber, l_partkey AS probeset_id,
                     log2(l_quantity) AS log_intensity
              FROM lineitem WHERE l_quantity > 0
            ), stats AS (
              SELECT probeset_id, median(log_intensity) AS med,
                     coalesce(stddev_samp(log_intensity), 0) AS sd
              FROM logs GROUP BY probeset_id
            )
            SELECT l.l_orderkey, l.l_linenumber, l.probeset_id,
                   round(l.log_intensity, 6) AS log_intensity,
                   round(CASE WHEN s.sd = 0 THEN 0
                         ELSE greatest(least((l.log_intensity - s.med) / s.sd, 2.5), -2.5)
                         END, 6) AS zscore
            FROM logs l JOIN stats s USING (probeset_id)
        """)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The omics z-score kernel (SURVEY.md §2.10): log2 → per-probe
    median/stddev → clamp ±2.5 (I2B2_PROCESS_MRNA_DATA.sql:318-326)."""
    from tmdataloader_spark.operators.zscore import zscore

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_partkey").alias("probeset_id"),
        F.col("l_quantity").alias("intensity"),
    )
    z = zscore(li, data_type="R", probe_col="probeset_id", value_col="intensity")
    return z.select(
        "l_orderkey",
        "l_linenumber",
        "probeset_id",
        F.round("log_intensity", 6).alias("log_intensity"),
        F.round("zscore", 6).alias("zscore"),
    )


@gate(oracle="""
            SELECT l_returnflag,
                   round(median(l_extendedprice), 6) AS median_price,
                   round(median(l_quantity), 6) AS median_qty
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """)
def q_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: exact median UDAF replacement (procedures/median.sql) —
    built-in `median` is exact in Spark 3.4+."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_extendedprice"), 6).alias("median_price"),
            F.round(F.median("l_quantity"), 6).alias("median_qty"),
        )
        .orderBy("l_returnflag")
    )


@gate(oracle="""
            SELECT l_partkey AS probeset_id, l_suppkey AS assay_id,
                   round(avg(l_extendedprice), 6) AS intensity
            FROM lineitem GROUP BY l_partkey, l_suppkey
        """)
def q_probeset_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/J2: duplicate probes per assay collapse to their mean
    (I2B2_PROCESS_MRNA_DATA.sql:143-161)."""
    from tmdataloader_spark.operators.zscore import collapse_probesets

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("probeset_id"),
        F.col("l_suppkey").alias("assay_id"),
        F.col("l_extendedprice").alias("intensity"),
    )
    out = collapse_probesets(li)
    return out.select(
        "probeset_id", "assay_id", F.round("intensity", 6).alias("intensity")
    )


@gate(oracle="""
            SELECT user_id, event_type, count(*) AS dup_count
            FROM events GROUP BY user_id, event_type HAVING count(*) > 1
        """)
def q_duplicate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: key groups with >1 row (the reference aborts on these;
    I2B2_LOAD_CLINICAL_DATA.sql:656-693)."""
    from tmdataloader_spark.operators.dedup import find_duplicates

    ev = _t(spark, sf_dir, "events")
    return find_duplicates(ev, ["user_id", "event_type"]).select(
        "user_id", "event_type", F.col("dup_count").cast("long").alias("dup_count")
    )


@gate(oracle="""
            WITH eav AS (
              SELECT l_returnflag AS category_cd,
                     l_linestatus AS data_label,
                     CAST(CAST(floor(l_quantity) AS BIGINT) % 5 AS VARCHAR) AS data_value,
                     CASE WHEN l_suppkey % 7 = 0 THEN NULL
                          ELSE 'V' || CAST(l_suppkey % 3 AS VARCHAR)
                     END AS visit_name
              FROM lineitem
            )
            SELECT category_cd, data_label, data_value,
                   CAST(sum(CASE WHEN visit_name IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null,
                   CAST(sum(CASE WHEN visit_name IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_set
            FROM eav
            GROUP BY category_cd, data_label, data_value
            HAVING sum(CASE WHEN visit_name IS NULL THEN 1 ELSE 0 END) > 0
               AND sum(CASE WHEN visit_name IS NOT NULL THEN 1 ELSE 0 END) > 0
        """)
def q_visit_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: visit-name consistency violation report — (category, label,
    value) groups whose visit_name is PARTIALLY null are the rows the
    reference aborts on (I2B2_LOAD_CLINICAL_DATA.sql:697-716); the
    report frame is what its exception message samples."""
    from tmdataloader_spark.operators.dedup import visit_consistency_report

    li = _t(spark, sf_dir, "lineitem")
    eav = li.select(
        F.col("l_returnflag").alias("category_cd"),
        F.col("l_linestatus").alias("data_label"),
        # floor both engines: Spark's double->long cast truncates but
        # DuckDB's rounds; floor is identical semantics for these
        # non-negative integral quantities
        (F.floor(F.col("l_quantity")).cast("long") % 5)
        .cast("string")
        .alias("data_value"),
        F.when(F.col("l_suppkey") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("V"), (F.col("l_suppkey") % 3).cast("string")))
        .alias("visit_name"),
    )
    return visit_consistency_report(eav)


@gate(oracle="""
            SELECT 'S' || CAST(o_custkey % 4 AS VARCHAR) AS study_id,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_files
            FROM orders
            GROUP BY 'S' || CAST(o_custkey % 4 AS VARCHAR)
        """)
def q_study_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: study-id uniqueness report — every distinct study id a
    load would carry with row/file counts; >1 output row (or a
    null/empty id) is the reference's cross-file abort condition
    (etl/ClinicalDataProcessor.groovy:253-277)."""
    from tmdataloader_spark.operators.dedup import study_id_report

    o = _t(spark, sf_dir, "orders")
    rows = o.select(
        F.concat(F.lit("S"), (F.col("o_custkey") % 4).cast("string")).alias(
            "study_id"
        ),
        F.col("o_orderpriority").alias("source_file"),
    )
    return study_id_report(rows, file_col="source_file")


@gate(oracle="""
            SELECT c_custkey,
                   'Clinical+$$A' || replace(c_mktsegment, '+', '(plus)')
                   || '+Data+$$B{'
                   || replace('Grp+' || CAST(c_nationkey % 5 AS VARCHAR),
                              '+', '(plus)')
                   || '}' AS category_cd
            FROM customer
            WHERE c_custkey % 11 <> 0
              AND coalesce(c_mktsegment, '') <> ''
        """)
def q_tag_substitution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: ``$$TAG`` / ``$${TAG}`` category_cd substitution with
    mangled ``$$A``/``$$B`` markers, ``+``→``(plus)`` inside values,
    and the empty-tag row drop (TagReplacer.groovy:14-44,104-110) —
    pure per-row codegen, no shuffle."""
    from tmdataloader_spark.sources.mapping import substitute_tags

    c = _t(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit(""))
        .otherwise(
            F.concat(F.lit("Grp+"), (F.col("c_nationkey") % 5).cast("string"))
        )
        .alias("cohort"),
    )
    out = substitute_tags(
        base,
        "Clinical+$$SEGMENT+Data+$${COHORT}",
        {"SEGMENT": "segment", "COHORT": "cohort"},
    )
    return out.select("c_custkey", "category_cd")


@gate(oracle="""
            SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, l_quantity
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY l_partkey, l_suppkey
                ORDER BY l_orderkey, l_linenumber) AS rn
              FROM lineitem
            ) WHERE rn = 1
        """)
def q_dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/W2/W5: DISTINCT ON keep-one with deterministic min-record
    tiebreak (I2B2_LOAD_CLINICAL_DATA.sql:634-645,
    I2B2_CREATE_FULL_TREE.sql:21-28). Uses the library operator's
    min(struct) aggregation form — map-side partial agg instead of a
    full-shuffle row_number sort."""
    from tmdataloader_spark.operators.dedup import dedup_keep_one

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_linenumber", "l_quantity"
    )
    return dedup_keep_one(
        li, ["l_partkey", "l_suppkey"], ["l_orderkey", "l_linenumber"]
    ).select("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber", "l_quantity")


@gate(oracle="""
            WITH eav AS (
              SELECT 'brand' AS data_label, p_brand AS data_value FROM part
              UNION ALL
              SELECT 'size', CAST(p_size AS VARCHAR) FROM part
              UNION ALL
              SELECT 'retail', CAST(p_retailprice AS VARCHAR) FROM part
            )
            SELECT data_label,
                   CASE WHEN sum(CASE WHEN data_value IS NOT NULL
                                       AND try_cast(data_value AS DOUBLE) IS NULL
                                      THEN 1 ELSE 0 END) = 0
                        THEN 'N' ELSE 'T' END AS valtype_cd
            FROM eav GROUP BY data_label ORDER BY data_label
        """)
def q_type_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per concept group, numeric iff every value parses
    (I2B2_LOAD_CLINICAL_DATA.sql:546-585) — groups built by melting
    part attributes to EAV."""
    from tmdataloader_spark.operators.type_inference import infer_group_types

    p = _t(spark, sf_dir, "part")
    eav = p.select(
        F.col("p_partkey"),
        F.expr(
            "stack(3, 'brand', p_brand, 'size', cast(p_size as string), "
            "'retail', cast(p_retailprice as string)) as (data_label, data_value)"
        ),
    )
    types = infer_group_types(eav, "data_value", group_cols=["data_label"])
    return types.select("data_label", "valtype_cd").orderBy("data_label")


@gate(oracle="""
            WITH eav AS (
              SELECT c_custkey, 'mktsegment' AS data_label, c_mktsegment AS data_value FROM customer
              UNION ALL
              SELECT c_custkey, 'acctbal', CAST(c_acctbal AS VARCHAR) FROM customer
              UNION ALL
              SELECT c_custkey, 'name', c_name FROM customer
            ), types AS (
              SELECT data_label,
                     CASE WHEN sum(CASE WHEN data_value IS NOT NULL
                                         AND try_cast(data_value AS DOUBLE) IS NULL
                                        THEN 1 ELSE 0 END) = 0
                          THEN 'N' ELSE 'T' END AS valtype_cd
              FROM eav GROUP BY data_label
            )
            SELECT e.c_custkey, e.data_label, t.valtype_cd,
                   CASE WHEN t.valtype_cd = 'N' THEN 'E' ELSE e.data_value END AS tval_char,
                   round(CASE WHEN t.valtype_cd = 'N'
                         THEN try_cast(e.data_value AS DOUBLE) END, 2) AS nval_num
            FROM eav e JOIN types t USING (data_label)
        """)
def q_clinical_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1+value split: wide customer attributes melted to EAV facts
    with the reference's tval_char/nval_num convention
    (I2B2_LOAD_CLINICAL_DATA.sql:1322-1327)."""
    from tmdataloader_spark.operators.type_inference import tag_value_types

    c = _t(spark, sf_dir, "customer")
    eav = c.select(
        F.col("c_custkey"),
        F.expr(
            "stack(3, 'mktsegment', c_mktsegment, 'acctbal', cast(c_acctbal as string), "
            "'name', c_name) as (data_label, data_value)"
        ),
    )
    out = tag_value_types(eav, "data_value", group_cols=["data_label"])
    return out.select(
        "c_custkey",
        "data_label",
        "valtype_cd",
        "tval_char",
        F.round("nval_num", 2).alias("nval_num"),
    )


@gate(oracle="""
            SELECT user_id,
                   count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
                   count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
                   count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
                   round(max(CASE WHEN event_type = 'purchase' THEN value END), 6) AS max_purchase
            FROM events GROUP BY user_id
        """)
def q_demographics_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4: EAV → wide per-entity row via max(case when ...) pivot
    (I2B2_LOAD_CLINICAL_DATA.sql:805-825) — events per user."""
    ev = _t(spark, sf_dir, "events")
    t = F.col("event_type")
    return ev.groupBy("user_id").agg(
        F.count(F.when(t == "click", 1)).alias("n_click"),
        F.count(F.when(t == "view", 1)).alias("n_view"),
        F.count(F.when(t == "purchase", 1)).alias("n_purchase"),
        F.round(F.max(F.when(t == "purchase", F.col("value"))), 6).alias("max_purchase"),
    )


# ---------------------------------------------------------------------------
# §2.4 joins / §2.7 set ops / §2.6 windows
# ---------------------------------------------------------------------------

@gate(oracle="""
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_facts
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
            GROUP BY n_name
        """)
def q_fact_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: multi-way fact assembly — big fact table joined to broadcast
    dimensions (I2B2_LOAD_CLINICAL_DATA.sql:1313-1356)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .filter(F.col("o_orderdate") >= "1995-01-01")
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_facts"),
        )
    )


@gate(oracle="""
            SELECT c_custkey, c_name, c_mktsegment FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: novelty anti-join — customers with no orders
    (NOT EXISTS, I2B2_LOAD_CLINICAL_DATA.sql:966-972)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@gate(oracle="""
            SELECT p_partkey, p_brand, p_size FROM part
            WHERE EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_partkey = p_partkey
                AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00')
        """)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: EXISTS semi-join — parts that shipped in a window
    (I2B2_LOAD_CLINICAL_DATA.sql:577-585)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_brand", "p_size"
    )


@gate(oracle="""
            SELECT c_custkey AS entity_key FROM customer
            EXCEPT
            SELECT o_custkey FROM orders
        """)
def q_except_dropped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO1: EXCEPT — entity keys present in one set and not another
    (dropped/new patients, I2B2_LOAD_CLINICAL_DATA.sql:851-854)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("entity_key"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("entity_key"))
    return c.distinct().exceptAll(o.distinct()).select("entity_key")


@gate(oracle="""
            SELECT o_custkey AS entity_key FROM orders
            WHERE year(o_orderdate) = 1994
            INTERSECT
            SELECT o_custkey FROM orders
            WHERE year(o_orderdate) = 1995
        """)
def q_intersect_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO4: INTERSECT — entity keys present in BOTH sets (customers
    with orders in consecutive years: the retained-cohort shape that
    completes the set-op family next to EXCEPT/UNION,
    I2B2_LOAD_CLINICAL_DATA.sql's EXISTS-both guards).  Spark
    ``intersect`` = SQL INTERSECT (distinct); Catalyst plans it as a
    partial-aggregated left-semi over the distinct keys — two
    map-side-combined shuffles on the key, no row explosion, the
    shape that holds when each side is a billion orders."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.year("o_orderdate") == 1994).select(
        F.col("o_custkey").alias("entity_key")
    )
    b = o.filter(F.year("o_orderdate") == 1995).select(
        F.col("o_custkey").alias("entity_key")
    )
    return a.intersect(b)


@gate(oracle="""
            SELECT DISTINCT nationkey FROM (
              SELECT s_nationkey AS nationkey FROM supplier
              UNION ALL SELECT c_nationkey FROM customer
              UNION ALL SELECT n_nationkey FROM nation
            )
        """)
def q_union_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO2: multi-way UNION building an exclusion key list
    (I2B2_LOAD_CLINICAL_DATA.sql:1084-1107)."""
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    n = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nationkey"))
    return s.unionByName(c).unionByName(n).distinct()


@gate(oracle="""
            SELECT o_custkey, o_orderkey AS first_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS first_orderdate
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
              FROM orders
            ) WHERE rn = 1
        """)
def q_first_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: first_value per partition with total order — each customer's
    first order (etl/AbstractDataProcessor.groovy:108-113)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_orderdate"),
        )
    )


# ---------------------------------------------------------------------------
# §2.9 tree / ontology
# ---------------------------------------------------------------------------

def _paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Leaf paths ``\region\nation\segment\`` with their customers —
    the geo hierarchy as an i2b2-style materialized-path tree."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.concat(
                F.lit("\\"), "r_name", F.lit("\\"), "n_name", F.lit("\\"),
                "c_mktsegment", F.lit("\\"),
            ).alias("path"),
            F.col("c_custkey").alias("patient_num"),
        )
    )


_PATH_CTE = """
WITH paths AS (
  SELECT DISTINCT '\\' || r.r_name || '\\' || n.n_name || '\\' || c.c_mktsegment || '\\' AS path
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
),
leafcust AS (
  SELECT '\\' || r.r_name || '\\' || n.n_name || '\\' || c.c_mktsegment || '\\' AS path,
         c.c_custkey AS patient_num
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
),
nodes AS (
  SELECT DISTINCT '\\' || r_name || '\\' AS path, 0 AS hlevel, r_name AS name
  FROM region JOIN nation ON n_regionkey = r_regionkey
  JOIN customer ON c_nationkey = n_nationkey
  UNION
  SELECT DISTINCT '\\' || r_name || '\\' || n_name || '\\', 1, n_name
  FROM region JOIN nation ON n_regionkey = r_regionkey
  JOIN customer ON c_nationkey = n_nationkey
  UNION
  SELECT DISTINCT path, 2, string_split(path, '\\')[4] FROM paths
),
closure AS (
  SELECT a.path AS ancestor_path, d.path AS descendant_path
  FROM nodes a JOIN nodes d ON d.path LIKE a.path || '%'
)
"""

@gate(oracle=_PATH_CTE + "SELECT path, hlevel, name FROM nodes")
def q_fill_in_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: every distinct prefix of every leaf becomes a node
    (I2B2_FILL_IN_TREE.sql:52-99)."""
    from tmdataloader_spark.operators.tree import fill_in_tree

    return fill_in_tree(_paths(spark, sf_dir).select("path")).select(
        "path", F.col("hlevel").cast("int").alias("hlevel"), "name"
    )


@gate(oracle=_PATH_CTE + "SELECT ancestor_path, descendant_path FROM closure")
def q_tree_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: transitive closure as prefix-explode equi-pairs — replaces
    the reference's path-length-bucketed LIKE self-join
    (I2B2_CREATE_FULL_TREE.sql:18-89)."""
    from tmdataloader_spark.operators.tree import fill_in_tree, tree_closure

    nodes = fill_in_tree(_paths(spark, sf_dir).select("path"))
    return tree_closure(nodes.select("path")).select("ancestor_path", "descendant_path")


@gate(oracle=_PATH_CTE + """
            SELECT n.path AS concept_path, count(DISTINCT l.patient_num) AS patient_count
            FROM nodes n JOIN leafcust l ON l.path LIKE n.path || '%'
            GROUP BY n.path
        """)
def q_concept_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3/A5/J7: distinct-patient count per ancestor node
    (I2B2_CREATE_CONCEPT_COUNTS.sql:79-102)."""
    from tmdataloader_spark.operators.tree import concept_counts

    return concept_counts(_paths(spark, sf_dir)).select(
        "concept_path", F.col("patient_count").cast("long").alias("patient_count")
    )


@gate(oracle=_PATH_CTE + """
            SELECT a.path, CASE WHEN count(*) <= 1 THEN 'LA' ELSE 'FA' END AS c_visualattributes
            FROM closure c JOIN nodes a ON c.ancestor_path = a.path
            GROUP BY a.path
        """)
def q_visual_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: leaf/folder visual attributes from descendant counts
    (I2B2_LOAD_CLINICAL_DATA.sql:1432-1481)."""
    from tmdataloader_spark.operators.tree import fill_in_tree, visual_attributes

    nodes = fill_in_tree(_paths(spark, sf_dir).select("path"))
    return visual_attributes(nodes.select("path"), "path").select(
        "path", "c_visualattributes"
    )


@gate(oracle=_PATH_CTE + """
            SELECT path,
                   string_split(path, '\\')[2] AS level1,
                   string_split(path, '\\')[3] AS level2,
                   string_split(path, '\\')[4] AS leaf_name,
                   2 AS hlevel
            FROM paths
        """)
def q_path_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X3/X6: parse_nth_value, last component, hlevel over paths."""
    from tmdataloader_spark.functions import (
        get_last_path_component,
        parse_nth_value,
        path_hlevel,
    )

    paths = _paths(spark, sf_dir).select("path").distinct()
    return paths.select(
        "path",
        parse_nth_value("path", 2).alias("level1"),
        parse_nth_value("path", 3).alias("level2"),
        get_last_path_component("path").alias("leaf_name"),
        path_hlevel("path").cast("int").alias("hlevel"),
    )


@gate(oracle=_PATH_CTE + r"""
            SELECT CASE WHEN starts_with(path, '\EUROPE\')
                        THEN '\EU\' || substring(path, 9) ELSE path END AS path
            FROM paths
        """)
def q_move_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: subtree move = literal path-prefix rewrite
    (I2B2_MOVE_STUDY_BY_PATH.sql:408-482)."""
    from tmdataloader_spark.operators.tree import move_subtree

    paths = _paths(spark, sf_dir).select("path").distinct()
    return move_subtree(paths, "\\EUROPE\\", "\\EU\\").select("path")


@gate(oracle=_PATH_CTE + r"""
            SELECT path FROM paths WHERE NOT starts_with(path, '\AFRICA\')
        """)
def q_delete_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9: study delete = subtree filter
    (I2B2_DELETE_ALL_DATA.sql:108-310)."""
    from tmdataloader_spark.operators.tree import delete_subtree

    paths = _paths(spark, sf_dir).select("path").distinct()
    return delete_subtree(paths, "\\AFRICA\\").select("path")


# ---------------------------------------------------------------------------
# §2.2 cleansing / §2.8 scalar functions
# ---------------------------------------------------------------------------

@gate(oracle=r"""
            WITH s0 AS (
              SELECT p_partkey, '|' || p_type || '(|' || p_brand || '%&|' AS v FROM part
            ), s1 AS (  -- F2: trim edge pipes, inner | -> -
              SELECT p_partkey, regexp_replace(regexp_replace(regexp_replace(
                       v, '^\|+', ''), '\|+$', ''), '\|', '-', 'g') AS v
              FROM s0
            ), s2 AS (  -- F3 pass 1: strip '(' on the reference triggers
              SELECT p_partkey, CASE WHEN contains(v, '()') OR contains(v, '( )')
                          OR (contains(v, '(') AND NOT contains(v, ')'))
                     THEN replace(v, '(', '') ELSE v END AS v
              FROM s1
            ), s3 AS (  -- F3 pass 2: strip ')' on the post-pass-1 value
              SELECT p_partkey, CASE WHEN contains(v, '()') OR contains(v, '( )')
                          OR (contains(v, ')') AND NOT contains(v, '('))
                     THEN replace(v, ')', '') ELSE v END AS v
              FROM s2
            ), s4 AS (  -- F5 data_value set: % & + (plus); no _ -> space
              SELECT p_partkey, replace(replace(replace(replace(
                       v, '%', ' Pct'), '&', ' and '), '+', ' and '), '(plus)', '+') AS v
              FROM s3
            )
            SELECT p_partkey,  -- F6: single-pass '  '->' ', ' ,'->',', trim, rtrim ','
                   rtrim(trim(replace(replace(v, '  ', ' '), ' ,', ',')), ',') AS clean_value
            FROM s4
        """)
def q_cleansing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3/F5/F6: the data_value cleansing chain with the reference's
    per-column replace set — pipe fix, two-pass paren fix, value char
    set (lowercase ' and ', no _→space), single-pass whitespace
    (I2B2_LOAD_CLINICAL_DATA.sql:259-461)."""
    from tmdataloader_spark.functions.values import (
        normalize_chars_value,
        normalize_whitespace,
    )
    from tmdataloader_spark.operators.cleansing import fix_parens, fix_pipes

    p = _t(spark, sf_dir, "part")
    dirty = F.concat(F.lit("|"), "p_type", F.lit("(|"), "p_brand", F.lit("%&|"))
    return p.select(
        "p_partkey",
        normalize_whitespace(normalize_chars_value(fix_parens(fix_pipes(dirty)))).alias(
            "clean_value"
        ),
    )


@gate(oracle="""
            WITH d AS (
              SELECT event_id,
                     CAST(floor(epoch(ts)) - floor(epoch(TIMESTAMP '2024-01-01 00:00:00')) AS BIGINT) AS secs
              FROM events
            ), u AS (
              SELECT event_id, secs,
                     abs(secs) // 86400 AS dd,
                     (abs(secs) % 86400) // 3600 AS hh,
                     (abs(secs) % 3600) // 60 AS mm,
                     abs(secs) % 60 AS ss
              FROM d
            )
            SELECT event_id,
                   CASE WHEN secs = 0 THEN 'Baseline'
                        ELSE (CASE WHEN secs < 0 THEN '-' ELSE '' END) ||
                  concat_ws(' ',
                    CASE WHEN dd > 0 THEN dd || ' day' || (CASE WHEN dd > 1 THEN 's' ELSE '' END) END,
                    CASE WHEN hh > 0 THEN hh || ' hour' || (CASE WHEN hh > 1 THEN 's' ELSE '' END) END,
                    CASE WHEN mm > 0 THEN mm || ' minute' || (CASE WHEN mm > 1 THEN 's' ELSE '' END) END,
                    CASE WHEN ss > 0 THEN ss || ' second' || (CASE WHEN ss > 1 THEN 's' ELSE '' END) END)
                   END AS timepoint
            FROM u
        """)
def q_timepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: timestamp → human timepoint interval vs a baseline
    (TIMESTAMP_TO_TIMEPOINT.sql)."""
    from tmdataloader_spark.functions.timepoints import timestamp_to_timepoint

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        timestamp_to_timepoint(F.col("ts"), F.to_timestamp(F.lit("2024-01-01 00:00:00"))).alias(
            "timepoint"
        ),
    )


# ---------------------------------------------------------------------------
# llmdata extensions: dedup / text analysis / similarity
# ---------------------------------------------------------------------------

@gate(oracle="""
            SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content (the 100 TB baseline:
    map-side partial agg, shuffle carries one row per distinct hash)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text")).alias("text_hash")).agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("n_copies"),
    )


@gate(oracle="""
            WITH t AS (
              SELECT doc_id, text,
                     string_split_regex(trim(text), ' +') AS toks
              FROM documents
            ), s AS (
              SELECT doc_id,
                     len(toks) AS n_tokens,
                     length(text) AS n_chars_computed,
                     CAST(list_sum(list_transform(toks, x -> length(x)))
                          AS BIGINT) AS _len_sum,
                     CAST(len(list_filter(toks, x -> list_contains(
                       ['the','a','and','of','to','in','is'], lower(x))))
                          AS BIGINT) AS _n_stop
              FROM t
            )
            SELECT doc_id, n_tokens, n_chars_computed,
                   {mean} AS mean_token_len,
                   {stop} AS stopword_ratio
            FROM s
        """.format(
            mean=_r6("_len_sum", "n_tokens"), stop=_r6("_n_stop", "n_tokens")
        ))
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token/char counts, mean token length,
    stopword ratio — all JVM-side expressions, ratios in the
    integer-exact HALF_UP form (llmdata/text.py quality_metrics,
    functions/ratio.py)."""
    from tmdataloader_spark.llmdata.text import quality_metrics

    return quality_metrics(_t(spark, sf_dir, "documents"))


@gate(oracle="""
            -- texts are ASCII: sha256(varchar) == sha256 of utf-8 bytes
            WITH t AS (
              SELECT doc_id, text,
                     string_split_regex(trim(lower(text)), ' +') AS toks,
                     sha256(text) AS sha,
                     octet_length(encode(text)) AS n_bytes
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpeish_tokens,
                   md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fingerprint,
                   CASE WHEN CAST(len(list_filter(toks, x -> list_contains(
                     ['the','a','and','of','to','in','is','for','on','it'], x))) AS DOUBLE) / len(toks) >= 0.05
                        THEN 'en' ELSE 'und' END AS lang_pred,
                   'image' AS media_type,
                   n_bytes, sha AS sha256,
                   64 + ('0x'||substr(sha, 1, 2))::INT % 192 AS width,
                   64 + ('0x'||substr(sha, 3, 2))::INT % 192 AS height,
                   0::BIGINT AS duration_ms
            FROM t
        """)
def q_text_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged single-scan signal projection (retired gates
    token_count + fingerprint + langid + multimodal_meta, r10): BPE-ish
    token count, normalization fingerprint, stopword language-ID, and
    the multimodal metadata of the text bytes as opaque media content
    (llmdata/text.py text_signals → multimodal.fake_decode_columns).
    One corpus pass instead of four — the 100 TB-relevant shape."""
    from tmdataloader_spark.llmdata.text import text_signals

    return text_signals(_t(spark, sf_dir, "documents"))


@gate(oracle="""
            WITH s1 AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
              FROM documents
            ), s2 AS (  -- rolling 8-gram hashes (portable 32-bit md5)
              SELECT doc_id,
                CASE WHEN length(norm) - 7 >= 1 THEN
                  list_transform(range(1, length(norm) - 7 + 1),
                    i -> ('0x'||left(md5('0:'||substr(norm, i, 8)),8))::bigint)
                ELSE CAST([] AS BIGINT[]) END AS g
              FROM s1
            ), s3 AS (  -- winnow: min per window of 4, dedup
              SELECT doc_id,
                CASE WHEN len(g) - 3 >= 1 THEN
                  list_distinct(list_transform(range(1, len(g) - 3 + 1),
                    j -> list_aggregate(g[j:j+3], 'min')))
                ELSE CAST([] AS BIGINT[]) END AS fps
              FROM s2
            )
            SELECT doc_id, unnest(fps) AS fp_hash FROM s3
        """)
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling k-gram hash, window-min
    selection — Schleimer/Wilkerson/Aiken): position-robust document
    fingerprints; shared substrings ≥ k+w−1 chars guarantee a shared
    selected hash. Pure expressions, portable md5 hashes."""
    from tmdataloader_spark.llmdata.text import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"), k=8, w=4)


@gate(oracle="""
            WITH t AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
              FROM documents
            ), sh AS (
              -- shingles md5-hashed to 32-bit ints (mirrors the Spark side:
              -- the self-join carries bigints, not n-word strings)
              SELECT doc_id, list_distinct(list_transform(list_transform(
                range(1, greatest(len(toks) - 1, 1)),
                i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')),
                s -> ('0x'||left(md5('0:'||s),8))::bigint)) AS shingles
              FROM t
            ), ex0 AS (
              SELECT doc_id, unnest(shingles) AS shingle FROM sh
            ), dfc AS (  -- document frequency per shingle (skew guard)
              SELECT shingle, count(*) AS df FROM ex0 GROUP BY shingle
            ), ex AS (
              SELECT ex0.doc_id, ex0.shingle FROM ex0
              JOIN dfc USING (shingle) WHERE dfc.df <= 50
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id
            ), exn AS (
              SELECT ex.doc_id, sizes.n_sh, ex.shingle FROM ex JOIN sizes USING (doc_id)
            ), inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS n_inter
              FROM exn a JOIN exn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4
            )
            SELECT doc_a, doc_b,
                   {jac} AS jaccard
            FROM inter
            WHERE {jac} >= 0.8
        """.format(jac=_r6("n_inter", "n_a + n_b - n_inter")))
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: 3-word-shingle Jaccard ≥ 0.8 pairs via
    shingle-explode + equi-join with a document-frequency skew guard
    (shingles in > 50 docs dropped from the sets on both engines — a
    hot stop-shingle in k docs emits k² join rows, the classic
    skewed-key shuffle bomb at corpus scale)."""
    from tmdataloader_spark.llmdata.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.8, max_df=50
    )


def _minhash_oracle(num_perms: int = 16, bands: int = 4, threshold: float = 0.8) -> str:
    from tmdataloader_spark.llmdata.dedup import MINHASH_PRIME, minhash_params

    jac = _r6("n_inter", "n_a + n_b - n_inter")
    rows = num_perms // bands
    # shingles arrive pre-hashed (the shingle column IS the 32-bit md5
    # base hash), affine perms with the same constants the Spark side
    # derives in minhash_params()
    mh_cols = ",\n".join(
        f"min(({a} * shingle + {b}) % {MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_perms))
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, n_shingles, {b} AS band, md5({key}) AS band_key FROM sig".format(
            b=b,
            key="||','||".join(
                f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""
        WITH t AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks FROM documents
        ), sh0 AS (
          SELECT doc_id, list_distinct(list_transform(list_transform(
            range(1, greatest(len(toks) - 1, 1)),
            i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')),
            s -> ('0x'||left(md5('0:'||s),8))::bigint)) AS shingles
          FROM t
        ), sh AS (
          SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS shingle FROM sh0
        ), sig AS (
          SELECT doc_id, any_value(n_shingles) AS n_shingles, {mh_cols}
          FROM sh GROUP BY doc_id
        ), bands AS (
          {band_selects}
        ), cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.n_shingles AS n_a, b.n_shingles AS n_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        ), inter AS (
          SELECT c.doc_a, c.doc_b, c.n_a, c.n_b, count(*) AS n_inter
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.doc_a
          JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
          GROUP BY 1, 2, 3, 4
        )
        SELECT doc_a, doc_b,
               {jac} AS jaccard
        FROM inter
        WHERE {jac} >= {threshold}
    """

@gate(oracle=_minhash_oracle())
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → 16 md5-permutations → 4 bands →
    bucket-join candidates → exact-Jaccard verify. Portable md5 hashes
    make every stage oracle-checkable."""
    from tmdataloader_spark.llmdata.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, num_perms=16, bands=4, threshold=0.8)


@gate(oracle="""
            WITH t AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
              FROM documents
            ), w AS (
              SELECT doc_id, unnest(toks) AS w FROM t
            ), wc AS (
              SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2
            ), ws AS (
              SELECT doc_id, max(c) AS maxw, sum(c) AS nw, count(*) AS dn
              FROM wc GROUP BY 1
            ), g AS (
              SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
                list_transform(range(1, len(toks)),
                               i -> list_aggregate(toks[i:i+1], 'string_agg', ' '))
                ELSE [] END) AS g
              FROM t
            ), gc AS (
              SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2
            ), gs AS (
              SELECT doc_id, max(c) AS maxg, sum(c) AS ng FROM gc GROUP BY 1
            )
            SELECT ws.doc_id,
                   {topw} AS top_word_frac,
                   coalesce({topg}, 0.0) AS top_bigram_frac,
                   {dupw} AS dup_word_frac
            FROM ws LEFT JOIN gs ON ws.doc_id = gs.doc_id
        """.format(
            topw=_r6("maxw", "nw"),
            topg=_r6("maxg", "ng"),
            dupw=_r6("nw - dn", "nw"),
        ))
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters at word granularity: top-word /
    top-bigram / duplicate-word fractions per document."""
    from tmdataloader_spark.llmdata.text import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


@gate(oracle=r"""
            WITH dirty AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com or +1 (555) 010-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.1 end' AS t
              FROM documents
            )
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(t,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                         '<EMAIL>', 'g'),
                       '\+?[0-9][0-9() -]{7,}[0-9]', '<PHONE>', 'g'),
                     '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'
                   ) AS clean_text
            FROM dirty
        """)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: email/phone/IPv4 regex redaction (portable
    regexes, no backrefs/lookaround). Synthetic PII is appended from
    the row's own columns so the redaction path actually fires."""
    from tmdataloader_spark.llmdata.text import redact_pii

    d = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 (555) 010-"),
        F.format_string("%04d", F.pmod(F.col("doc_id"), F.lit(10000))),
        F.lit(" ip 10.0."),
        F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
        F.lit(".1 end"),
    )
    return d.select("doc_id", redact_pii(dirty).alias("clean_text"))


# corpus/benchmark word-3-gram overlap on the shared 32-bit
# md5 shingle hash; benchmark = doc_id % 97 == 0
@gate(oracle="""
            WITH t AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
              FROM documents
            ), sh0 AS (
              SELECT doc_id, list_distinct(list_transform(list_transform(
                range(1, greatest(len(toks) - 1, 1)),
                i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')),
                s -> ('0x'||left(md5('0:'||s),8))::bigint)) AS shingles
              FROM t
            ), sh AS (
              SELECT doc_id, unnest(shingles) AS shingle FROM sh0
            ), bench AS (
              SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
            ), hits AS (
              SELECT s.doc_id, count(*) AS n_shared
              FROM sh s JOIN bench b ON s.shingle = b.shingle
              GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(h.n_shared, 0) AS n_shared,
                   CAST(coalesce(h.n_shared, 0) >= 2 AS INT) AS contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        """)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: corpus docs sharing ≥ 2 distinct
    word 3-grams with the pseudo eval set (doc_id % 97 == 0) are
    flagged; the tiny benchmark shingle set is broadcast so the corpus
    never shuffles."""
    from tmdataloader_spark.llmdata.text import benchmark_contamination

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    out = benchmark_contamination(d, bench, n=3, min_shared=2)
    return out.select(
        "doc_id", "n_shared", F.col("contaminated").cast("int").alias("contaminated")
    )


@gate(oracle="""
            WITH t AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), ' +')) AS term
              FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
            ), n AS (
              SELECT count(DISTINCT doc_id) AS nd FROM documents
            ), idf AS (
              SELECT term, ln(CAST(nd + 1 AS DOUBLE) / (count(*) + 1)) + 1 AS idf
              FROM tf, n GROUP BY term, nd
            ), s AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     round(tf.tf * idf.idf, 6) AS tfidf
              FROM tf JOIN idf USING (term)
            ), r AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
              FROM s
            )
            SELECT doc_id, term, tf, tfidf, CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 3
        """)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed scikit-learn IDF);
    vocabulary agg joined back on the term key, ties broken on the
    rounded score then term so both engines rank identically."""
    from tmdataloader_spark.llmdata.text import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def _curate_oracle() -> str:
    return f"""
            WITH RECURSIVE pairs AS (
              {_minhash_oracle()}
            ), edges AS (
              SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION
              SELECT doc_b, doc_a FROM pairs
            ), reach(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            ), labels AS (
              SELECT u AS node, least(u, min(v)) AS component
              FROM reach GROUP BY u
            ), tok AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
              FROM documents
            ), wde AS (
              SELECT doc_id, unnest(toks) AS w FROM tok
            ), wc AS (
              SELECT doc_id, w, count(*) AS c FROM wde GROUP BY 1, 2
            ), ws AS (
              SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS topw FROM wc GROUP BY 1
            ), sh0 AS (
              SELECT doc_id, list_distinct(list_transform(list_transform(
                range(1, greatest(len(toks) - 1, 1)),
                i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')),
                x -> ('0x'||left(md5('0:'||x),8))::bigint)) AS shingles
              FROM tok
            ), shl AS (
              SELECT doc_id, unnest(shingles) AS shingle FROM sh0
            ), bench AS (
              SELECT DISTINCT shingle FROM shl WHERE doc_id % 97 = 0
            ), hits AS (
              SELECT s.doc_id, count(*) AS n_shared
              FROM shl s JOIN bench b ON s.shingle = b.shingle GROUP BY 1
            ), j AS (
              SELECT t.doc_id,
                     CASE WHEN CAST(len(list_filter(t.toks, x -> list_contains(
                       ['the','a','and','of','to','in','is','for','on','it'], x))) AS DOUBLE)
                          / len(t.toks) >= 0.05 THEN 'en' ELSE 'und' END AS lang,
                     len(t.toks) AS n_tokens,
                     ws.topw,
                     coalesce(l.component, t.doc_id) AS cluster_id,
                     coalesce(h.n_shared, 0) >= 2 AS cont
              FROM tok t
              JOIN ws ON ws.doc_id = t.doc_id
              LEFT JOIN labels l ON l.node = t.doc_id
              LEFT JOIN hits h ON h.doc_id = t.doc_id
            )
            SELECT doc_id, reasons, CAST(reasons = '' AS INT) AS kept FROM (
              SELECT doc_id, concat_ws(',',
                CASE WHEN lang != 'en' THEN 'lang' END,
                CASE WHEN n_tokens < 20 THEN 'short' END,
                CASE WHEN n_tokens > 90 THEN 'long' END,
                CASE WHEN topw > 0.15 THEN 'repetitive' END,
                CASE WHEN cluster_id != doc_id THEN 'duplicate' END,
                CASE WHEN cont THEN 'contaminated' END) AS reasons
              FROM j
            )
    """

@gate(oracle=_curate_oracle())
def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship llmdata composition: the full curation pipeline
    (langid → length → repetition → MinHash near-dup keep-one →
    decontamination vs the doc_id%97 pseudo eval set) producing one
    verdict row per document with ordered drop reasons."""
    from tmdataloader_spark.llmdata.curate import curate

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return curate(d, benchmark=bench)


# components via recursive reachability closure over the same
# MinHash pairs; min reachable id (incl. self) = cluster id
@gate(oracle=f"""
            WITH RECURSIVE pairs AS (
              {_minhash_oracle()}
            ), edges AS (
              SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION
              SELECT doc_b, doc_a FROM pairs
            ), reach(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            ), labels AS (
              SELECT u AS node, least(u, min(v)) AS component
              FROM reach GROUP BY u
            )
            SELECT d.doc_id,
                   coalesce(l.component, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN labels l ON l.node = d.doc_id
        """)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS from pairwise matches: hash-min label
    propagation (connected components, one shuffle per round,
    O(diameter) rounds) over the MinHash+LSH pair list, then cluster
    assignment for every document — min-id member is the keep-one
    canonical. The oracle computes the same components with a
    recursive reachability closure over the same pairs."""
    from tmdataloader_spark.llmdata.dedup import dedup_clusters, minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, num_perms=16, bands=4, threshold=0.8)
    return dedup_clusters(d, pairs)


def _simhash_cte(bits: int = 32) -> str:
    s_cols = ",\n".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(bits)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)" for b in range(bits)
    )
    return f"""
        WITH ex AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
          FROM documents
        ), h AS (
          SELECT doc_id, ('0x'||left(md5('0:'||tok),8))::bigint AS h FROM ex
        ), s AS (
          SELECT doc_id, {s_cols} FROM h GROUP BY doc_id
        ), sig AS (
          SELECT doc_id, {sig_expr} AS simhash FROM s
        )
    """

@gate(oracle=_simhash_cte() + "SELECT doc_id, simhash FROM sig")
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures (md5 token hashes, sign-of-sum bits)."""
    from tmdataloader_spark.llmdata.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"))


@gate(oracle=_simhash_cte() + """
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs within Hamming ≤ 3 via lossless pigeonhole
    banding (4 bands ⇒ no cross join, exact results)."""
    from tmdataloader_spark.llmdata.dedup import simhash, simhash_pairs

    sig = simhash(_t(spark, sf_dir, "documents"))
    return simhash_pairs(sig, max_hamming=3)


@gate(oracle="""
            WITH n AS (
              SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                      CAST(embedding AS DOUBLE[])))) AS nv
              FROM embeddings
            )
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                   round(list_dot_product(a.nv, b.nv), 6) AS cosine_sim
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.nv, b.nv) >= 0.4
        """)
def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — exact all-pairs semantics via
    a distributed block-pair NumPy matmul (cogrouped applyInPandas; no
    driver-side collect or corpus broadcast)."""
    from tmdataloader_spark.llmdata.dedup import embedding_dup_pairs

    # synthetic vectors are near-orthogonal (max pairwise cos ≈ 0.51);
    # 0.4 keeps the check non-vacuous
    return embedding_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def _ann_lsh_oracle(
    dim: int = 64, nbits: int = 4, ntables: int = 16, k: int = 5, quant: int = 1000
) -> str:
    """DuckDB twin of llmdata.similarity.lsh_ann: the SAME md5-derived
    integer hyperplanes are emitted as SQL array literals; embeddings
    are quantized with floor(x*quant) so every bucket key is exact
    integer arithmetic — bit-identical to the Spark plan."""
    from tmdataloader_spark.llmdata.similarity import int_hyperplanes

    planes = int_hyperplanes(dim, nbits * ntables)
    table_selects = []
    for t in range(ntables):
        terms = []
        for b in range(nbits):
            lit = "[" + ",".join(str(v) for v in planes[t * nbits + b]) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(qv, {lit}::DOUBLE[]) > 0 "
                f"THEN {1 << b} ELSE 0 END)"
            )
        table_selects.append(
            f"SELECT vec_id, {t} AS tbl, ({' + '.join(terms)})::BIGINT AS bucket FROM e"
        )
    buckets = "\nUNION ALL\n".join(table_selects)
    return f"""
        WITH e AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * {quant})) AS qv,
                 CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings
        ), b AS (
          {buckets}
        ), cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
          FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
                           AND c.vec_id <> q.vec_id
          WHERE q.vec_id < 10
        ), scored AS (
          SELECT cand.query_id, cand.cand_id,
                 round(list_dot_product(eq.v, ec.v) /
                       (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))), 6) AS cosine_sim
          FROM cand
          JOIN e eq ON eq.vec_id = cand.query_id
          JOIN e ec ON ec.vec_id = cand.cand_id
        )
        SELECT query_id, cand_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, cand_id) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """

@gate(oracle=_ann_lsh_oracle())
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: queries score only bucket-sharing
    candidates. Bucket keys are exact integer arithmetic (md5-derived
    integer planes × floor-quantized vectors), so the DuckDB oracle
    reproduces the buckets bit-for-bit."""
    from tmdataloader_spark.llmdata.similarity import lsh_ann

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    # dim pinned to the table's embedding width (the oracle's plane
    # literals are generated for the same dim)
    return lsh_ann(q, e, k=5, dim=64)


# IVF: codebook = rows vec_id<16; cell = argmax exact integer inner
# product on floor(x*1000) quantization (ties → smaller cid);
# queries probe their 4 best cells; exact cosine rerank.
@gate(oracle="""
            WITH cent AS (
              SELECT vec_id AS cid,
                     list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * 1000)) AS cv
              FROM embeddings WHERE vec_id < 16
            ), e AS (
              SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * 1000)) AS qv,
                     CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
            ), ip AS (
              SELECT e.vec_id, cent.cid, list_dot_product(e.qv, cent.cv) AS ip
              FROM e CROSS JOIN cent
            ), ranked AS (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id ORDER BY ip DESC, cid) AS rn
              FROM ip
            ), cassign AS (
              SELECT vec_id AS cand_id, cid AS cell FROM ranked WHERE rn = 1
            ), qprobe AS (
              SELECT vec_id AS query_id, cid AS cell FROM ranked
              WHERE rn <= 4 AND vec_id < 10
            ), cand AS (
              SELECT query_id, cand_id FROM qprobe JOIN cassign USING (cell)
              WHERE query_id <> cand_id
            ), scored AS (
              SELECT cand.query_id, cand.cand_id,
                     round(list_dot_product(eq.v, ec.v) /
                           (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))), 6) AS cosine_sim
              FROM cand
              JOIN e eq ON eq.vec_id = cand.query_id
              JOIN e ec ON ec.vec_id = cand.cand_id
            )
            SELECT query_id, cand_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, cand_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: deterministic 16-cell codebook (vec_id < 16),
    argmax integer-inner-product assignment, nprobe=4 probe join,
    exact cosine rerank — the Faiss-IVF shape as a broadcast +
    narrow-assignment + cell equi-join plan."""
    from tmdataloader_spark.llmdata.similarity import ivf_ann

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return ivf_ann(q, e, k=5, ncentroids=16, nprobe=4)


@gate(oracle="""
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
            ), cd AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
            ), qd AS (
              SELECT query_id, CAST(qv AS DOUBLE[]) AS qv FROM q
            ), scored AS (
              SELECT qd.query_id, cd.vec_id AS cand_id,
                     round(list_dot_product(qd.qv, cd.cv) /
                           (sqrt(list_dot_product(qd.qv, qd.qv)) * sqrt(list_dot_product(cd.cv, cd.cv))), 6) AS cosine_sim
              FROM qd, cd WHERE qd.query_id != cd.vec_id
            )
            SELECT query_id, cand_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, cand_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """)
def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (baseline ANN): query rows × corpus,
    dot/norms via zip_with+aggregate, deterministic tie-break."""
    from tmdataloader_spark.llmdata.similarity import cosine_topk_expr

    e = _t(spark, sf_dir, "embeddings")
    return cosine_topk_expr(e.filter(F.col("vec_id") < 10), e, k=5)


@gate(oracle=r"""
            WITH w AS (
              SELECT l_orderkey, l_linenumber,
                     l_linestatus || '+$$1A{' || l_returnflag || '}' AS category_cd,
                     CASE WHEN l_linestatus = 'O' THEN 'V1'
                          WHEN l_suppkey % 5 = 0 THEN l_returnflag
                          ELSE 'V' || CAST(l_suppkey % 3 AS VARCHAR) END AS visit_name,
                     l_returnflag AS data_label,
                     CAST(l_quantity AS VARCHAR) AS data_value
              FROM lineitem
            ), norm AS (
              SELECT *, regexp_replace(category_cd,
                        '[$][$]([0-9]*[A-Z])([{][^}]+[}]|[^+]+)', '$$\1', 'g') AS cat_norm
              FROM w
            ), singles AS (
              SELECT cat_norm FROM norm
              GROUP BY cat_norm HAVING count(DISTINCT upper(visit_name)) = 1
            ), s1 AS (
              SELECT n.l_orderkey, n.l_linenumber, n.data_label, n.data_value,
                     CASE WHEN s.cat_norm IS NOT NULL THEN NULL
                          ELSE n.visit_name END AS v1
              FROM norm n LEFT JOIN singles s USING (cat_norm)
            )
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN v1 = data_label THEN NULL
                        WHEN v1 = data_value THEN NULL
                        ELSE v1 END AS visit_name
            FROM s1
        """)
def q_visit_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: visit-name suppression — single distinct visit per
    TAG-NORMALIZED category (count(distinct upper)) plus the
    visit=label / visit=value rules
    (I2B2_LOAD_CLINICAL_DATA.sql:344-351, 495-541)."""
    from tmdataloader_spark.operators.cleansing import suppress_visit_names

    li = _t(spark, sf_dir, "lineitem")
    w = li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat(
            F.col("l_linestatus"), F.lit("+$$1A{"), F.col("l_returnflag"), F.lit("}")
        ).alias("category_cd"),
        F.when(F.col("l_linestatus") == "O", F.lit("V1"))
        .when(F.col("l_suppkey") % 5 == 0, F.col("l_returnflag"))
        .otherwise(F.concat(F.lit("V"), (F.col("l_suppkey") % 3).cast("string")))
        .alias("visit_name"),
        F.col("l_returnflag").alias("data_label"),
        F.col("l_quantity").cast("string").alias("data_value"),
    )
    return suppress_visit_names(w).select("l_orderkey", "l_linenumber", "visit_name")


@gate(oracle=r"""
            WITH m AS (
              SELECT s_name AS sample_cd,
                     regexp_replace('T1' || ':' || '' || ':' || s_name,
                                    '(::)+', ':', 'g') AS sourcesystem_cd,
                     CASE WHEN s_nationkey % 3 = 0 THEN 'Blood' END AS tissue_type,
                     CASE WHEN s_suppkey % 2 = 0 THEN 'Primary_Tumor' END AS attribute_1
              FROM supplier
            ), subst AS (
              SELECT sample_cd, sourcesystem_cd,
                     replace(replace(replace(replace(
                       'Biomarker_Data+PLATFORM+TISSUETYPE+ATTR1',
                       'PLATFORM', 'Test GEX Platform'),
                       'ATTR1', coalesce(attribute_1, '')),
                       'ATTR2', ''),
                       'TISSUETYPE', coalesce(tissue_type, 'Unspecified Tissue Type')) AS cat
              FROM m
            )
            SELECT sample_cd, sourcesystem_cd,
                   -- RE2 rewrite needs '\\' for a literal backslash
                   regexp_replace(
                     '\Public Studies\Study X\' ||
                     replace(replace(cat, '+', '\'), '_', ' ') || '\',
                     '(\\){2,}', '\\', 'g') AS concept_path
            FROM subst
        """)
def q_hdd_leaf_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""X8: HDD category templating — PLATFORM/TISSUETYPE/ATTR1/ATTR2
    substitution, ``+``→``\``, ``_``→space, backslash-run collapse
    (I2B2_LOAD_SAMPLES.sql:318-366)."""
    from tmdataloader_spark.plans.hdd import build_sample_mapping
    from tmdataloader_spark.sources.gpl import GplPlatform

    s = _t(spark, sf_dir, "supplier")
    mapping = s.select(
        F.lit("T1").alias("trial_name"),
        F.lit(None).cast("string").alias("site_id"),
        F.col("s_name").alias("subject_id"),
        F.col("s_name").alias("sample_cd"),
        F.lit("GPL1").alias("platform"),
        F.when(F.col("s_nationkey") % 3 == 0, F.lit("Blood")).alias("tissue_type"),
        F.when(F.col("s_suppkey") % 2 == 0, F.lit("Primary_Tumor")).alias("attribute_1"),
        F.lit(None).cast("string").alias("attribute_2"),
        F.lit("Biomarker_Data+PLATFORM+TISSUETYPE+ATTR1").alias("category_cd"),
        F.lit("STD").alias("source_cd"),
    )
    platform = GplPlatform(
        platform="GPL1", title="Test GEX Platform", organism="Homo sapiens",
        marker_type="MRNA", annotation=None,
    )
    samples = build_sample_mapping(mapping, "\\Public Studies\\Study X\\", [platform])
    return samples.select("sample_cd", "sourcesystem_cd", "concept_path")


@gate(oracle="""
            WITH facts AS (
              SELECT 'T1' AS modifier_cd, o_custkey AS patient_num,
                     o_orderpriority AS concept_cd, o_orderstatus AS valtype_cd,
                     round(CAST(o_totalprice AS DOUBLE), 2) AS nval_num,
                     o_orderkey AS fact_id
              FROM orders
            ), upd AS (
              SELECT DISTINCT c_custkey AS patient_num FROM customer
              WHERE c_mktsegment = 'BUILDING'
            ), doomed AS (
              SELECT DISTINCT f.modifier_cd, f.patient_num, f.concept_cd
              FROM facts f JOIN upd USING (patient_num)
              WHERE f.modifier_cd = 'T1' AND f.concept_cd <> '1-URGENT'
            )
            SELECT f.modifier_cd, f.patient_num, f.concept_cd, f.valtype_cd,
                   f.nval_num, f.fact_id
            FROM facts f
            ANTI JOIN doomed d
              ON f.modifier_cd = d.modifier_cd
             AND f.patient_num = d.patient_num
             AND f.concept_cd = d.concept_cd
        """)
def q_merge_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10a/J9: the UPDATE merge-mode fact-deletion scope
    (I2B2_LOAD_CLINICAL_DATA.sql:1124-1166) — facts of updated
    patients deleted by key anti-join, biomarker concepts immune."""
    from tmdataloader_spark.plans.merge import update_scope

    o = _t(spark, sf_dir, "orders")
    facts = o.select(
        F.lit("T1").alias("modifier_cd"),
        F.col("o_custkey").alias("patient_num"),
        F.col("o_orderpriority").alias("concept_cd"),
        F.col("o_orderstatus").alias("valtype_cd"),
        F.round(F.col("o_totalprice").cast("double"), 2).alias("nval_num"),
        F.col("o_orderkey").alias("fact_id"),
    )
    updated = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("patient_num"))
    )
    biomarkers = spark.createDataFrame([("1-URGENT",)], "concept_cd string")
    return update_scope(facts, "T1", updated, biomarkers)


@gate(oracle="""
            WITH g AS (
              SELECT l_orderkey, l_linenumber,
                CASE WHEN l_partkey % 7 = 0 THEN '.'
                     ELSE CAST(l_orderkey % 2 AS VARCHAR) END AS a1s,
                CASE WHEN l_suppkey % 5 = 0 THEN ''
                     WHEN l_linenumber % 2 = 0 THEN '|' ELSE '/' END AS sep,
                CASE WHEN l_suppkey % 5 = 0 THEN ''
                     WHEN l_orderkey % 11 = 0 THEN '.'
                     ELSE CAST(l_partkey % 2 AS VARCHAR) END AS a2s,
                l_returnflag AS ref,
                CASE WHEN l_orderkey % 2 = 0 THEN ['C'] ELSE ['C', 'GG'] END AS alts
              FROM lineitem
            ), t AS (
              SELECT *,
                CASE WHEN regexp_matches(a1s, '^[0-9]+$') THEN CAST(a1s AS INT) END AS a1,
                CASE WHEN regexp_matches(a2s, '^[0-9]+$') THEN CAST(a2s AS INT) END AS a2
              FROM g
            ), s AS (
              SELECT *,
                CASE WHEN a1s = '0' THEN ref WHEN a1 IS NOT NULL THEN alts[a1] ELSE '' END AS lv,
                CASE WHEN a1s = '0' THEN 'R' WHEN a1 IS NOT NULL THEN 'V' ELSE '' END AS lf,
                CASE WHEN a2s = '0' THEN ref WHEN a2 IS NOT NULL THEN alts[a2] ELSE '' END AS rv,
                CASE WHEN a2s = '0' THEN 'R' WHEN a2 IS NOT NULL THEN 'V' ELSE '' END AS rf
              FROM t
            )
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN sep = '' THEN lv ELSE lv || sep || rv END AS variant,
                   CASE WHEN sep = '' THEN lf ELSE lf || sep || rf END AS variant_format,
                   CASE WHEN length(ref) = 1 AND len(alts) = 1 AND length(alts[1]) = 1
                        THEN 'SNV' ELSE 'DIV' END AS variant_type,
                   CASE WHEN sep = '' THEN a1s = '0'
                        ELSE (a1 IS NULL OR a1 = 0) AND (a2 IS NULL OR a2 = 0) END AS reference,
                   a1 AS allele1, a2 AS allele2
            FROM s
        """)
def q_vcf_genotypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3/S4: the VCF genotype-summary assembly
    (etl/VCFDataProcessor.groovy:209-250) driven by synthetic GT
    tokens derived from lineitem keys — variant / variant_format /
    reference / allele columns exactly as the reference builds them."""
    from tmdataloader_spark.sources.vcf import gt_summary_cols, variant_type_col

    li = _t(spark, sf_dir, "lineitem")
    a1s = F.when(F.col("l_partkey") % 7 == 0, F.lit(".")).otherwise(
        (F.col("l_orderkey") % 2).cast("string")
    )
    haploid = F.col("l_suppkey") % 5 == 0
    sep = F.when(haploid, F.lit("")).otherwise(
        F.when(F.col("l_linenumber") % 2 == 0, F.lit("|")).otherwise(F.lit("/"))
    )
    a2s = F.when(haploid, F.lit("")).otherwise(
        F.when(F.col("l_orderkey") % 11 == 0, F.lit(".")).otherwise(
            (F.col("l_partkey") % 2).cast("string")
        )
    )
    ref = F.col("l_returnflag")
    alts = F.when(F.col("l_orderkey") % 2 == 0, F.array(F.lit("C"))).otherwise(
        F.array(F.lit("C"), F.lit("GG"))
    )
    variant, variant_format, reference, a1, a2 = gt_summary_cols(a1s, sep, a2s, ref, alts)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        variant.alias("variant"),
        variant_format.alias("variant_format"),
        variant_type_col(ref, alts).alias("variant_type"),
        reference.alias("reference"),
        a1.alias("allele1"),
        a2.alias("allele2"),
    )


@gate(oracle="""
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
                   event_type, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """)
def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling-window rollup on the events stream table
    (hourly buckets — the batch twin of a streaming windowed agg)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_bucket"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            # exact decimal sum: partial-agg-order-independent (see
            # streaming.sessionize_batch determinism note)
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
    )


# backward-inclusive as-of: DuckDB's native ASOF LEFT JOIN on
# the same deduped right side
@gate(oracle="""
            WITH l AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'
            ), r AS (
              SELECT user_id, ts, max(event_id) AS click_id,
                     strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_ts
              FROM events WHERE event_type = 'click'
              GROUP BY user_id, ts
            )
            SELECT l.event_id, l.user_id,
                   strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   r.click_id, r.click_ts
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (extension): every purchase event attached to the
    user's latest click at-or-before it — union + carry-forward
    window, ONE shuffle on user_id, no inequality theta-join. Right
    side pre-deduped per (user, ts) so ties are deterministic; the
    oracle is DuckDB's native ASOF LEFT JOIN."""
    from tmdataloader_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .withColumn("click_ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
    )
    out = asof_join(left, right, on="user_id", right_prefix="last_")
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("last_click_id").alias("click_id"),
        F.col("last_click_ts").alias("click_ts"),
    )


@gate(oracle="""
            WITH p AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'
            ), i AS (
              SELECT event_id AS signup_id, user_id, ts AS start_ts,
                     ts + INTERVAL 2 HOUR AS end_ts
              FROM events WHERE event_type = 'signup'
            )
            SELECT p.event_id, i.signup_id, p.user_id,
                   strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   strftime(i.start_ts, '%Y-%m-%d %H:%M:%S') AS signup_ts
            FROM p JOIN i ON p.user_id = i.user_id
             AND p.ts >= i.start_ts AND p.ts < i.end_ts
        """)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (extension): purchases inside the 2-hour
    window after each signup of the same user — bucketized equi-join
    + residual filter, no inequality theta-join. Oracle is the plain
    SQL range predicate (fine at oracle scale)."""
    from tmdataloader_spark.operators.asof import range_join

    ev = _t(spark, sf_dir, "events")
    points = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    intervals = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    out = range_join(points, intervals, on="user_id")
    return out.select(
        "event_id",
        "signup_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
    )


# Gap sessionization: integer-micros gap test (epoch_us of the
# micros-truncated timestamp == Spark's unix_micros), running-sum
# session ordinal, per-session aggregate.
@gate(oracle="""
            WITH o AS (
              SELECT user_id, event_id, ts, value,
                     epoch_us(ts) AS us,
                     lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
              FROM events
            ), s AS (
              SELECT *,
                     CAST(sum(CASE WHEN prev_us IS NULL
                              OR us - prev_us > 1800 * 1000000 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
              FROM o
            )
            SELECT user_id, session_seq,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
            FROM s GROUP BY user_id, session_seq
        """)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch twin of the
    applyInPandasWithState streaming operator in streaming.py): one
    shuffle on user_id serves the lag window, the running-sum session
    ordinal, and the per-session aggregate."""
    from tmdataloader_spark.streaming import sessionize_batch

    ev = _t(spark, sf_dir, "events")
    return sessionize_batch(ev, gap_seconds=1800)


@gate(oracle="""
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
            ), cd AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
            ), qd AS (
              SELECT query_id, CAST(qv AS DOUBLE[]) AS qv FROM q
            ), scored AS (
              SELECT qd.query_id, cd.vec_id AS cand_id,
                     round(list_dot_product(qd.qv, cd.cv) /
                           (sqrt(list_dot_product(qd.qv, qd.qv)) * sqrt(list_dot_product(cd.cv, cd.cv))), 6) AS cosine_sim
              FROM qd, cd WHERE qd.query_id != cd.vec_id
            )
            SELECT query_id, cand_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, cand_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """)
def q_ann_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed block top-k (llmdata.similarity.cosine_topk):
    corpus hash-split into blocks, per-block NumPy matmul via cogrouped
    applyInPandas, global window reduce — the exact-ANN scale path (no
    driver collect). Same output contract as brute force, so it shares
    the ann_cosine oracle semantics."""
    from tmdataloader_spark.llmdata.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return cosine_topk(q, e, k=5)


# A11: exact median + Tukey hinges via sorted lists; the slice-median
# convention mirrors _median_of_slice (mid = start + L//2; odd → a[mid],
# even → avg(a[mid-1], a[mid])).
@gate(oracle="""
            WITH s AS (
              SELECT l_suppkey AS var_key,
                     CASE WHEN l_linenumber <> 7 THEN CAST(l_quantity AS DOUBLE) END AS v
              FROM lineitem
            ), g AS (
              SELECT var_key,
                     count(*) AS n_rows,
                     count(*) FILTER (WHERE v IS NULL) AS n_null,
                     round(avg(v), 6) AS mean,
                     list_sort(list(v) FILTER (WHERE v IS NOT NULL)) AS a,
                     round(min(v), 6) AS vmin,
                     round(max(v), 6) AS vmax,
                     round(stddev_samp(v), 6) AS sd
              FROM s GROUP BY var_key
            ), h AS (
              SELECT *, len(a) AS n,
                     1 + len(a) // 2 AS mid_full,
                     1 + ((len(a) + 1) // 2) // 2 AS mid_lo,
                     (len(a) // 2 + 1) + (len(a) - len(a) // 2) // 2 AS mid_up,
                     (len(a) + 1) // 2 AS len_lo,
                     len(a) - len(a) // 2 AS len_up
              FROM g
            )
            SELECT var_key, n_rows, n_null, mean,
                   round(CASE WHEN n = 0 THEN NULL
                              WHEN n % 2 = 1 THEN a[mid_full]
                              ELSE (a[mid_full - 1] + a[mid_full]) / 2.0 END, 6) AS median,
                   round((CASE WHEN len_up = 0 THEN NULL
                               WHEN len_up % 2 = 1 THEN a[mid_up]
                               ELSE (a[mid_up - 1] + a[mid_up]) / 2.0 END)
                       - (CASE WHEN len_lo = 0 THEN NULL
                               WHEN len_lo % 2 = 1 THEN a[mid_lo]
                               ELSE (a[mid_lo - 1] + a[mid_lo]) / 2.0 END), 6) AS iqr,
                   vmin, vmax, sd
            FROM h
        """)
def q_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: the summary-statistics kernel (VariableStatistic.groovy
    :65-98,184-197) — per variable: N, nulls, mean, EXACT median,
    Tukey-hinge IQR, min/max, sample SD. Suppliers ≙ variables, so
    per-group sorted arrays stay small (the statistic module's
    documented contract: clinical-file-sized groups only)."""
    from tmdataloader_spark.statistic.summary import _median_of_slice

    li = _t(spark, sf_dir, "lineitem")
    v = F.when(F.col("l_linenumber") != 7, F.col("l_quantity").cast("double"))
    w = li.select(F.col("l_suppkey").alias("var_key"), v.alias("value_d"))
    # Three stages — raw aggregate, ONE sort_array projection, then
    # the median/IQR algebra over the sorted-array ATTRIBUTE. When
    # the sort_array(collect_list(...)) expression was inlined into
    # every median/hinge term, the (non-codegen) ObjectHashAggregate
    # result projection re-sorted each group's array ~20 times (the
    # r14 before-plan repeats the sort_array call per element_at);
    # CollapseProject will not re-inline a non-cheap alias referenced
    # more than once, so the split pins one sort per group.
    g = w.groupBy("var_key").agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("value_d").isNull(), 1)).alias("n_null"),
        F.avg("value_d").alias("_mean"),
        F.collect_list("value_d").alias("_vals"),
        F.min("value_d").alias("_vmin"),
        F.max("value_d").alias("_vmax"),
        F.stddev_samp("value_d").alias("_sd"),
    )
    s = g.select(
        "var_key", "n_rows", "n_null", "_mean",
        F.sort_array("_vals").alias("_arr"), "_vmin", "_vmax", "_sd",
    )
    arr = F.col("_arr")
    n = F.size(arr)
    upper = _median_of_slice(
        arr, (F.floor(n / 2) + 1).cast("int"), (n - F.floor(n / 2)).cast("int")
    )
    lower = _median_of_slice(arr, F.lit(1), F.floor((n + 1) / 2).cast("int"))
    return s.select(
        "var_key",
        "n_rows",
        "n_null",
        F.round(F.col("_mean"), 6).alias("mean"),
        F.round(_median_of_slice(arr, F.lit(1), n), 6).alias("median"),
        F.round(upper - lower, 6).alias("iqr"),
        F.round(F.col("_vmin"), 6).alias("vmin"),
        F.round(F.col("_vmax"), 6).alias("vmax"),
        F.round(F.col("_sd"), 6).alias("sd"),
    )


# A12: each rule's violation predicate, melted to (rule, id) rows.
@gate(oracle="""
            WITH v AS (
              SELECT c_custkey, c_mktsegment,
                     coalesce(CASE WHEN c_custkey % 97 <> 0
                                   THEN CAST(CAST(c_acctbal AS DOUBLE) AS VARCHAR) END,
                              '') AS val
              FROM customer
            )
            SELECT 'required' AS rule, c_custkey FROM v WHERE val = ''
            UNION ALL
            SELECT 'greater than 0', c_custkey FROM v
            WHERE val <> '' AND TRY_CAST(val AS DOUBLE) IS NOT NULL
              AND NOT (TRY_CAST(val AS DOUBLE) > 0)
            UNION ALL
            SELECT 'between 100 to 9000', c_custkey FROM v
            WHERE val <> '' AND TRY_CAST(val AS DOUBLE) IS NOT NULL
              AND NOT (TRY_CAST(val AS DOUBLE) >= 100 AND TRY_CAST(val AS DOUBLE) <= 9000)
            UNION ALL
            SELECT 'lesser than 9000, when "MKTSEGMENT" is equal to "BUILDING"', c_custkey
            FROM v
            WHERE c_mktsegment = 'BUILDING'
              AND val <> '' AND TRY_CAST(val AS DOUBLE) IS NOT NULL
              AND NOT (TRY_CAST(val AS DOUBLE) < 9000)
        """)
def q_validation_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: validation-rule compiler (ValidationRule.groovy:47-155) —
    required / range grammars with a `when "Field" is` guard, compiled
    to Column predicates in ONE projection; violations melt to
    (rule, id) rows."""
    from tmdataloader_spark.statistic.validation import parse_rules, violation_expr

    c = _t(spark, sf_dir, "customer")
    sentences = (
        'required; greater than 0; between 100 to 9000; '
        'lesser than 9000, when "MKTSEGMENT" is equal to "BUILDING"'
    )
    rules = parse_rules(sentences)
    value = F.when(F.col("c_custkey") % 97 != 0, F.col("c_acctbal").cast("double").cast("string"))
    row = {"MKTSEGMENT": F.col("c_mktsegment")}
    # ONE scan: all rule predicates evaluated in a single projection,
    # melted via explode (a per-rule union would rescan the table).
    # The value expression is projected ONCE into an attribute first:
    # inlined, every rule's coalesce/try_cast repeated it (~12 copies
    # inside the Generate — a 6x bigger codegen tree for no reuse;
    # CollapseProject keeps a non-cheap multiply-referenced alias)
    base = c.select(F.col("c_custkey"), value.alias("_v"), F.col("c_mktsegment"))
    pairs = F.array(
        *[
            F.struct(
                F.lit(r.description).alias("rule"),
                violation_expr(r, F.col("_v"), row).alias("violated"),
            )
            for r in rules
        ]
    )
    return (
        base.select(F.col("c_custkey"), F.explode(pairs).alias("p"))
        .filter(F.col("p.violated"))
        .select(F.col("p.rule").alias("rule"), "c_custkey")
    )


# J8: mapping LEFT JOIN de_gpl_info.
@gate(oracle="""
            WITH info AS (
              SELECT 'GPL' || n_nationkey AS platform, n_name AS title,
                     'Gene Expression' AS marker_type
              FROM nation WHERE n_nationkey % 2 = 0
            )
            SELECT s_suppkey AS sample_cd, 'GPL' || s_nationkey AS platform,
                   info.title AS platform_title,
                   info.marker_type AS platform_marker_type
            FROM supplier LEFT JOIN info ON info.platform = 'GPL' || s_nationkey
        """)
def q_gpl_info_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 (I2B2_LOAD_SAMPLES.sql:334-338): subject-sample mapping LEFT
    JOIN the tiny de_gpl_info dimension (broadcast) — unknown platforms
    keep their mapping row with null platform info."""
    from tmdataloader_spark.sources.gpl import attach_platform_info

    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    mapping = s.select(
        F.col("s_suppkey").alias("sample_cd"),
        F.concat(F.lit("GPL"), F.col("s_nationkey")).alias("platform"),
    )
    info = n.filter(F.col("n_nationkey") % 2 == 0).select(
        F.concat(F.lit("GPL"), F.col("n_nationkey")).alias("platform"),
        F.col("n_name").alias("title"),
        F.lit("Homo sapiens").alias("organism"),
        F.lit("Gene Expression").alias("marker_type"),
    )
    return attach_platform_info(mapping, info).select(
        "sample_cd", "platform", "platform_title", "platform_marker_type"
    )


# X5/X11: minutes normalization (hour×60, day×1440, week×10080,
# month×43200) computed arithmetically — the Spark side must PARSE
# the display string back to the same number.
@gate(oracle="""
            SELECT l_orderkey, l_linenumber,
                   CASE l_orderkey % 5
                     WHEN 0 THEN 'Baseline'
                     WHEN 1 THEN 'Week ' || l_linenumber
                     WHEN 2 THEN CAST(CAST(l_quantity AS INT) AS VARCHAR) || ' days ' ||
                                 l_linenumber || ' hours'
                     WHEN 3 THEN CAST(CAST(l_quantity AS INT) AS VARCHAR) || ' months'
                     ELSE 'Visit ' || l_linenumber
                   END AS timepoint,
                   CAST(CASE l_orderkey % 5
                     WHEN 0 THEN 0
                     WHEN 1 THEN l_linenumber * 10080
                     WHEN 2 THEN CAST(l_quantity AS INT) * 1440 + l_linenumber * 60
                     -- PG EXTRACT(epoch FROM interval) normalizes the
                     -- month field: trunc(M/12) 365.25-day years
                     -- (525960 min) + (M % 12) 30-day months
                     WHEN 3 THEN (CAST(l_quantity AS INT) // 12) * 525960
                                 + (CAST(l_quantity AS INT) % 12) * 43200
                     ELSE NULL
                   END AS DOUBLE) AS minutes
            FROM lineitem
        """)
def q_timepoint_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5/X11: timepoint display-name → minutes sort key
    (I2B2_BUILD_METADATA_XML.sql:24-56; SerialHDD SeriesMeta values) —
    'N days M hours' pair sums, unit-first 'Week 4', 'Baseline' → 0,
    unparseable → null."""
    from tmdataloader_spark.functions.timepoints import timepoint_minutes

    li = _t(spark, sf_dir, "lineitem")
    qn = F.col("l_quantity").cast("int").cast("string")
    ln = F.col("l_linenumber").cast("string")
    name = (
        F.when(F.col("l_orderkey") % 5 == 0, F.lit("Baseline"))
        .when(F.col("l_orderkey") % 5 == 1, F.concat(F.lit("Week "), ln))
        .when(F.col("l_orderkey") % 5 == 2, F.concat(qn, F.lit(" days "), ln, F.lit(" hours")))
        .when(F.col("l_orderkey") % 5 == 3, F.concat(qn, F.lit(" months")))
        .otherwise(F.concat(F.lit("Visit "), ln))
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        name.alias("timepoint"),
        timepoint_minutes(name).alias("minutes"),
    )


# Chromosomal-region gene backfill: the reference's two
# sequential UPDATEs re-expressed as two grouped lookups +
# coalesces (I2B2_LOAD_CHROM_REGION.sql:173-235) — the second
# update only ever touches rows whose gene_id came FROM THE
# LOAD (symbol-null rows can't gain an id in update 1), so
# joining on the original gene_id is exact.
@gate(oracle="""
            WITH regions AS (
              SELECT 'r' || CAST(c_custkey AS VARCHAR) AS region_name,
                     CASE WHEN c_custkey % 3 = 0
                          THEN 'SYM' || CAST(c_custkey % 30 AS VARCHAR) END
                       AS gene_symbol,
                     CASE WHEN c_custkey % 3 = 1
                          THEN CAST(c_custkey % 30 AS BIGINT) END AS gene_id,
                     'Homo sapiens' AS organism
              FROM customer
            ), bio AS (
              SELECT 'SYM' || CAST(n_nationkey AS VARCHAR) AS bio_marker_name,
                     CAST(n_nationkey AS VARCHAR) AS primary_external_id,
                     'GENE' AS bio_marker_type,
                     'Homo Sapiens' AS organism
              FROM nation
            ), by_symbol AS (
              SELECT bio_marker_name AS sym, upper(organism) AS org,
                     min(CAST(primary_external_id AS BIGINT)) AS gid
              FROM bio WHERE upper(bio_marker_type) = 'GENE'
              GROUP BY 1, 2
            ), by_id AS (
              SELECT CAST(primary_external_id AS BIGINT) AS gid,
                     upper(organism) AS org, min(bio_marker_name) AS sym
              FROM bio WHERE upper(bio_marker_type) = 'GENE'
              GROUP BY 1, 2
            )
            SELECT r.region_name,
                   coalesce(r.gene_symbol, bi.sym) AS gene_symbol,
                   coalesce(r.gene_id, bs.gid) AS gene_id,
                   r.organism
            FROM regions r
            LEFT JOIN by_symbol bs
              ON r.gene_symbol = bs.sym AND upper(r.organism) = bs.org
            LEFT JOIN by_id bi
              ON r.gene_id = bi.gid AND upper(r.organism) = bi.org
        """)
def q_acgh_gene_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chromosomal-region gene backfill (plans/acgh.backfill_region_genes,
    I2B2_LOAD_CHROM_REGION.sql:173-235 — the identical update pair also
    serves de_mrna_annotation, I2B2_LOAD_ANNOTATION_DEAPP.sql:236-300):
    symbol-only rows take min(primary_external_id) of the matching GENE
    bio_marker, id-only rows take min(bio_marker_name), organism matched
    case-insensitively; broadcast dimension lookups, no data shuffle."""
    from tmdataloader_spark.plans.acgh import backfill_region_genes

    c = _t(spark, sf_dir, "customer")
    regions = c.select(
        F.concat(F.lit("r"), F.col("c_custkey").cast("string")).alias("region_name"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(F.lit("SYM"), (F.col("c_custkey") % 30).cast("string")),
        ).alias("gene_symbol"),
        F.when(F.col("c_custkey") % 3 == 1, (F.col("c_custkey") % 30).cast("long")).alias(
            "gene_id"
        ),
        F.lit("Homo sapiens").alias("organism"),
    )
    n = _t(spark, sf_dir, "nation")
    bio_marker = n.select(
        F.concat(F.lit("SYM"), F.col("n_nationkey").cast("string")).alias(
            "bio_marker_name"
        ),
        F.col("n_nationkey").cast("string").alias("primary_external_id"),
        F.lit("GENE").alias("bio_marker_type"),
        F.lit("Homo Sapiens").alias("organism"),
    )
    return backfill_region_genes(regions, bio_marker)


@gate(oracle=kmeans_oracle_sql("embeddings", k=8, iters=3, dim=64))
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column —
    integer-exact (floor(x*1000) quantization, integer distances and
    floor-mean centroid updates), fixed 3 iterations, deterministic
    init (vec_id < k). Assignment is one int64 Arrow-batch matmul
    against the shipped centroid table (zero shuffle); the update
    shuffles only per-batch k*dim partial sums. Oracle = the same
    iterations unrolled as DuckDB CTEs."""
    from tmdataloader_spark.llmdata.clustering import kmeans_fit

    return kmeans_fit(_t(spark, sf_dir, "embeddings"), k=8, iters=3)


@gate(oracle=semantic_dedup_oracle_sql("embeddings", k=8, iters=3, threshold=0.4, dim=64))
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023): k-means
    cells bound the pair search, within-cell cosine >= threshold marks
    higher-id members keep=false. Pairwise work is an equi-join on
    cluster — candidates are sum(cell^2), not n^2."""
    from tmdataloader_spark.llmdata.clustering import semantic_dedup

    # synthetic vectors are near-orthogonal (max pairwise cos ~0.51);
    # 0.4 keeps the within-cell pruning non-vacuous
    return semantic_dedup(_t(spark, sf_dir, "embeddings"), k=8, iters=3, threshold=0.4)


@gate(oracle="""
            WITH b AS (
              SELECT doc_id, source,
                     ('0x'||left(md5('quota:'||CAST(doc_id AS VARCHAR)),8))::bigint
                       % 1000000 AS qb
              FROM documents
            )
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source ORDER BY qb, doc_id) AS r
              FROM b
            ) WHERE r <= 10
        """)
def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota sampling: at most N documents per source stratum, chosen
    by ascending md5 bucket (deterministic across runs/engines,
    stable under appends). Two-phase per-shard/global top-k so a
    skewed stratum never single-task sorts."""
    from tmdataloader_spark.llmdata.sampling import quota_sample

    d = _t(spark, sf_dir, "documents")
    return quota_sample(d, "source", cap=10).select("doc_id", "source")


@gate(oracle="""
            WITH base AS (
              SELECT doc_id, n_chars AS n_tok,
                     ('0x'||left(md5('pack-bkt:'||CAST(doc_id AS VARCHAR)),8))::bigint
                       % 256 AS bkt,
                     ('0x'||left(md5('pack-ord:'||CAST(doc_id AS VARCHAR)),8))::bigint
                       AS ordk
              FROM documents WHERE n_chars > 0
            ), loc AS (
              SELECT doc_id, n_tok, bkt,
                     COALESCE(sum(n_tok) OVER (
                       PARTITION BY bkt ORDER BY ordk, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS local_off
              FROM base
            ), bt AS (
              SELECT bkt, sum(n_tok) AS total FROM base GROUP BY bkt
            ), bb AS (
              SELECT bkt,
                     COALESCE(sum(total) OVER (ORDER BY bkt
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS bkt_base
              FROM bt
            )
            SELECT l.doc_id,
                   CAST(l.n_tok AS BIGINT) AS n_chars,
                   CAST(b.bkt_base + l.local_off AS BIGINT) AS global_offset,
                   CAST((b.bkt_base + l.local_off) // 2048 AS BIGINT) AS seq_id,
                   CAST((b.bkt_base + l.local_off) % 2048 AS BIGINT) AS seq_offset,
                   CAST((b.bkt_base + l.local_off + l.n_tok - 1) // 2048
                        - (b.bkt_base + l.local_off) // 2048 + 1 AS BIGINT) AS n_seqs
            FROM loc l JOIN bb b USING (bkt)
        """)
def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (llmdata/packing.py): concat-and-chunk layout
    of documents onto a fixed 2048-token tape via a two-phase
    distributed prefix sum (per-bucket window + broadcast bucket
    bases) — never a global single-partition sort. Deterministic
    md5-derived tape order, so the DuckDB oracle reproduces the exact
    layout. Token counts stand in as ``n_chars`` (the layout machinery
    under test is count-agnostic)."""
    from tmdataloader_spark.llmdata.packing import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, seq_len=2048, token_col="n_chars", id_col="doc_id")


@gate(oracle="""
            SELECT v.user_id,
                   v.event_id AS l_event_id,
                   b.event_id AS r_event_id,
                   strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS l_time,
                   strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS r_time
            FROM events v JOIN events b
              ON v.user_id = b.user_id
             AND b.ts >= v.ts
             AND b.ts <= v.ts + INTERVAL 1800 SECOND
            WHERE v.event_type = 'view' AND b.event_type = 'purchase'
        """)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (streaming.py interval_join_batch —
    batch twin of the watermarked stream-stream join): every view
    paired with the same user's purchases within the next 30 minutes.
    Equi-join on user_id with the time range as residual — never a
    pure theta-join."""
    from tmdataloader_spark.streaming import interval_join_batch

    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    buys = ev.filter(F.col("event_type") == "purchase")
    return interval_join_batch(views, buys, within_seconds=1800)


@gate(oracle="""
            WITH ex AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), ' +')) AS term
              FROM documents
            ), v AS (
              SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
              FROM ex GROUP BY term
            )
            SELECT term, tf, df,
                   CAST(row_number() OVER (ORDER BY tf DESC, term) AS INT) AS rank
            FROM v ORDER BY tf DESC, term LIMIT 50
        """)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy hitters (llmdata/vocab.py): global top-50
    tokens by corpus frequency with document frequency — explode +
    one map-side-combined agg, selection via per-task k-heaps
    (TakeOrderedAndProject), never a global sort."""
    from tmdataloader_spark.llmdata.vocab import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), k=50)


@gate(oracle="""
            SELECT source AS source_group,
                   CAST(length(bin(n_chars)) - 1 AS INT) AS length_bucket,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars
            FROM documents WHERE n_chars > 0
            GROUP BY 1, 2
        """)
def q_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length census (llmdata/vocab.py): per-source log2-bucket
    document-length histogram — integer-exact bucketing via binary
    string length (no float log), one tiny keyed agg."""
    from tmdataloader_spark.llmdata.vocab import length_profile

    return length_profile(_t(spark, sf_dir, "documents"))


def _zorder_oracle(bits: int = 8) -> str:
    """DuckDB twin of llmdata.layout: the same integer quantization
    (floor division, clamped) and Morton shift/mask interleave,
    generated term-by-term so both engines evaluate identical
    algebra."""

    def quant(col: str, lo: int, hi: int) -> str:
        span = hi - lo + 1
        return (
            f"least(greatest((({col} - {lo}) * {1 << bits}) // {span}, 0), "
            f"{(1 << bits) - 1})"
        )

    terms = []
    for c, col in enumerate(("qa", "qb")):
        for b in range(bits):
            terms.append(f"((({col} >> {b}) & 1) * {1 << (b * 2 + c)})")
    key = " + ".join(terms)
    return f"""
        WITH q AS (
          SELECT l_orderkey, l_linenumber,
                 {quant('l_partkey', 0, 19999)} AS qa,
                 {quant('l_suppkey', 0, 999)} AS qb
          FROM lineitem
        )
        SELECT l_orderkey, l_linenumber, CAST({key} AS BIGINT) AS zkey FROM q
    """

@gate(oracle=_zorder_oracle())
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key (llmdata/layout.py): integer-exact quantize
    + Morton bit-interleave of (l_partkey, l_suppkey) — the key
    repartitionByRange clusters on before a write so parquet min/max
    stats prune scans on EITHER column. Pure per-row long arithmetic;
    the oracle replays the identical shift/mask algebra."""
    from tmdataloader_spark.llmdata.layout import quantize, zorder_key

    li = _t(spark, sf_dir, "lineitem")
    # project the quantized values FIRST: zorder_key references each
    # input once per interleaved bit, so inlining the quantize
    # expression here replicated its ~12-node tree 16x (per-row
    # re-evaluation wherever codegen CSE misses, and a 16x bigger
    # plan to compile). Quantize once into attributes; the key is
    # then a flat shift/mask chain over two longs. CollapseProject
    # will not re-inline a non-cheap alias referenced 8 times.
    qcols = li.select(
        "l_orderkey",
        "l_linenumber",
        quantize(F.col("l_partkey"), 0, 19999, 8).alias("_qa"),
        quantize(F.col("l_suppkey"), 0, 999, 8).alias("_qb"),
    )
    return qcols.select(
        "l_orderkey",
        "l_linenumber",
        zorder_key([F.col("_qa"), F.col("_qb")], 8).alias("zkey"),
    )


def _incremental_oracle(
    num_perms: int = 16, bands: int = 4, threshold: float = 0.8
) -> str:
    """DuckDB twin of llmdata.incremental.incremental_novelty on the
    odd-ids-batch / even-ids-history split: same md5 shingle hashes,
    same affine MinHash permutations and band keys, candidates only
    across the batch/history boundary, exact-Jaccard verification,
    per-batch-doc novelty verdict."""
    from tmdataloader_spark.llmdata.dedup import MINHASH_PRIME, minhash_params

    jac_inc = _r6("n_inter", "n_b + n_h - n_inter")

    rows = num_perms // bands
    mh_cols = ",\n".join(
        f"min(({a} * shingle + {b}) % {MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_perms))
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, n_shingles, {b} AS band, md5({key}) AS band_key FROM sig".format(
            b=b,
            key="||','||".join(
                f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""
        WITH t AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks FROM documents
        ), sh0 AS (
          SELECT doc_id, list_distinct(list_transform(list_transform(
            range(1, greatest(len(toks) - 1, 1)),
            i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')),
            s -> ('0x'||left(md5('0:'||s),8))::bigint)) AS shingles
          FROM t
        ), sh AS (
          SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS shingle FROM sh0
        ), sig AS (
          SELECT doc_id, any_value(n_shingles) AS n_shingles, {mh_cols}
          FROM sh GROUP BY doc_id
        ), bands AS (
          {band_selects}
        ), cand AS (
          SELECT DISTINCT b.doc_id AS bid, h.doc_id AS hid,
                 b.n_shingles AS n_b, h.n_shingles AS n_h
          FROM bands b JOIN bands h
            ON b.band = h.band AND b.band_key = h.band_key
          WHERE b.doc_id % 2 = 1 AND h.doc_id % 2 = 0
        ), inter AS (
          SELECT c.bid, c.hid, c.n_b, c.n_h, count(*) AS n_inter
          FROM cand c
          JOIN sh sb ON sb.doc_id = c.bid
          JOIN sh sh2 ON sh2.doc_id = c.hid AND sh2.shingle = sb.shingle
          GROUP BY 1, 2, 3, 4
        ), dups AS (
          SELECT DISTINCT bid FROM inter
          WHERE {jac_inc}
                >= {threshold}
        )
        SELECT d.doc_id, (dups.bid IS NULL) AS novel
        FROM documents d LEFT JOIN dups ON d.doc_id = dups.bid
        WHERE d.doc_id % 2 = 1
    """

@gate(oracle=_incremental_oracle())
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-history near-dedup (llmdata/incremental.py):
    odd-id documents arrive as the new batch, even-id documents are the
    persisted signature store. Verdict per batch doc: novel unless an
    LSH band collision with history exact-verifies to Jaccard >= 0.8.
    History text is never rescanned — the store carries shingle hashes
    + MinHash columns only."""
    from tmdataloader_spark.llmdata.incremental import (
        incremental_novelty,
        signature_store,
    )

    d = _t(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    store = signature_store(history, num_perms=16, ngram=3)
    return incremental_novelty(
        batch, store, num_perms=16, bands=4, threshold=0.8, ngram=3
    )


@gate(oracle="""
            SELECT event_type,
                   count(*) AS n_events,
                   count(CAST(props->>'k' AS BIGINT)) AS n_with_prop,
                   CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
                   min(CAST(props->>'k' AS BIGINT)) AS min_k,
                   max(CAST(props->>'k' AS BIGINT)) AS max_k,
                   round(avg(CAST(props->>'k' AS BIGINT)), 6) AS avg_k
            FROM events GROUP BY event_type
        """)
def q_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured flattening (operators/semistructured.py): typed
    extraction of the events JSON props column — ONE from_json parse
    per row (never per-field re-parsing) — then a map-side-combined
    grouped agg. The reference analogue is typed values in XML blobs
    (I2B2_BUILD_METADATA_XML.sql:57-70)."""
    from tmdataloader_spark.operators.semistructured import json_props_rollup

    return json_props_rollup(_t(spark, sf_dir, "events"))


@gate(oracle="""
            WITH ex AS (
              SELECT doc_id, text,
                     unnest(range(0, CAST(length(text) AS BIGINT), 300)) AS s
              FROM documents WHERE length(text) > 0
            )
            SELECT doc_id,
                   CAST(s // 300 AS INT) AS chunk_id,
                   CAST(s AS BIGINT) AS chunk_start,
                   substr(text, CAST(s + 1 AS INT), 400) AS chunk_text,
                   CAST(length(substr(text, CAST(s + 1 AS INT), 400)) AS BIGINT)
                     AS chunk_len
            FROM ex
        """)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking (llmdata/chunking.py): 400-char windows with
    100-char overlap, offsets + ids, via sequence + posexplode +
    substring — pure codegen expressions, zero extra scans."""
    from tmdataloader_spark.llmdata.chunking import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_chars=400, overlap_chars=100
    )


@gate(oracle="""
            WITH s1 AS (
              SELECT user_id, min(ts) AS t FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
              WHERE e.event_type = 'click' GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
              WHERE e.event_type = 'purchase' GROUP BY e.user_id
            ), counts AS (
              SELECT 1 AS step, 'view' AS step_name, count(*) AS n_users FROM s1
              UNION ALL
              SELECT 2, 'click', count(*) FROM s2
              UNION ALL
              SELECT 3, 'purchase', count(*) FROM s3
            ), base AS (SELECT count(*) AS b FROM s1)
            SELECT CAST(step AS INT) AS step, step_name, n_users,
                   {r6} AS conversion
            FROM counts, base
        """.format(r6=_r6("n_users", "b")))
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (operators/eventflow.py): view → click →
    purchase, step k gated on an event at-or-after the user's earliest
    qualifying step-(k-1) event. One lazy plan: per-step per-user min
    aggregates chained by equi-joins on user_id; counts + conversion
    assembled by union + a broadcast one-row base."""
    from tmdataloader_spark.operators.eventflow import funnel

    return funnel(_t(spark, sf_dir, "events"), ["view", "click", "purchase"])


@gate(oracle="""
            WITH first AS (
              SELECT user_id, date_trunc('week', min(ts)) AS c
              FROM events GROUP BY user_id
            ), act AS (
              SELECT user_id, date_trunc('week', ts) AS w FROM events
            )
            SELECT strftime(f.c, '%Y-%m-%d') AS cohort,
                   CAST(date_diff('day', f.c, a.w) // 7 AS INT) AS period_offset,
                   count(DISTINCT a.user_id) AS n_users
            FROM act a JOIN first f USING (user_id)
            GROUP BY 1, 2
        """)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (operators/eventflow.py): users
    cohorted by first-seen week; distinct active users per (cohort,
    week offset). One per-user min agg + one equi-join back + one
    count-distinct."""
    from tmdataloader_spark.operators.eventflow import retention

    return retention(_t(spark, sf_dir, "events"))


@gate(oracle="""
            WITH t AS (
              SELECT string_split_regex(trim(lower(text)), ' +') AS toks
              FROM documents
            ), p AS (
              SELECT unnest(list_transform(
                range(1, greatest(len(toks), 1)),
                i -> toks[i] || ' ' || toks[i+1])) AS pair
              FROM t WHERE len(toks) >= 2
            ), c AS (
              SELECT pair, count(*) AS n FROM p GROUP BY pair
            )
            SELECT pair, n,
                   CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rank
            FROM c ORDER BY n DESC, pair LIMIT 100
        """)
def q_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate census (llmdata/vocab.py pair_counts):
    top-100 adjacent-token pairs — per-row pair expression, one
    map-side-combined agg, per-task k-heap selection."""
    from tmdataloader_spark.llmdata.vocab import pair_counts

    return pair_counts(_t(spark, sf_dir, "documents"), k=100)


@gate(oracle="""
            WITH b AS (
              SELECT doc_id, lang,
                     ('0x'||left(md5('sample:'||CAST(doc_id AS VARCHAR)),8))::bigint
                       % 1000000 AS sb,
                     ('0x'||left(md5('split:'||CAST(doc_id AS VARCHAR)),8))::bigint
                       % 1000000 AS pb
              FROM documents
            )
            SELECT doc_id, lang,
                   CASE WHEN pb < 800000 THEN 'train'
                        WHEN pb < 900000 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(sb < 250000 AS INT) AS in_25pct
            FROM b
            WHERE sb < (CASE lang WHEN 'en' THEN 200000
                                  WHEN 'zh' THEN 1000000
                                  ELSE 500000 END)
        """)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (llmdata/sampling.py
    stratified_hash_sample): downsample boilerplate languages, keep
    rare ones — one pure per-row expression, no shuffle, no
    per-stratum population scan; stable across runs/engines/appends.
    Absorbs the retired hash_split gate (r10): each kept row also
    carries its train/val/test assignment (split_column) and its
    25%-subsample membership flag (hash_sample_flag — same salt, so
    the flag marks the nested hash_sample(0.25) exactly). Still one
    scan, zero shuffle."""
    from tmdataloader_spark.llmdata.sampling import (
        hash_sample_flag,
        split_column,
        stratified_hash_sample,
    )

    d = _t(spark, sf_dir, "documents")
    return stratified_hash_sample(
        d, {"en": 0.2, "zh": 1.0}, "lang", default_fraction=0.5
    ).select(
        "doc_id",
        "lang",
        split_column("doc_id", [0.8, 0.1, 0.1], ["train", "val", "test"]).alias(
            "split"
        ),
        hash_sample_flag(0.25).alias("in_25pct"),
    )


@gate(oracle="""
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   round(sum(CAST(l_quantity AS DOUBLE)), 2) AS sum_qty,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """)
def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP rollup: subtotal + grand-total rows via GROUPING SETS
    (Spark ``rollup`` ≡ SQL GROUP BY ROLLUP) — single shuffle, the
    grouping-set expansion happens inside the aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("double")), 2).alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


@gate(oracle="""
            SELECT event_id, user_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   round(avg(value) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
                     AS avg_value_4
            FROM events
        """)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed moving average: per-user 4-row trailing mean over
    event time — one shuffle on user_id serves the ordered frame."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-3, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round(F.avg("value").over(w), 6).alias("avg_value_4"),
    )


@gate(oracle=pmi_collocations_oracle_sql("documents", k=50, min_count=5))
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (llmdata/vocab.py pmi_collocations):
    top-50 adjacent pairs by pointwise mutual information with a
    min-count floor — vocabulary-sized aggs + two token-key joins;
    one fixed-shape double expression per row, 6dp-rounded BEFORE
    ranking (single per-row ln: tfidf/mixture_drift precedent)."""
    from tmdataloader_spark.llmdata.vocab import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"), k=50, min_count=5)


@gate(oracle=event_transitions_oracle_sql("events"))
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition census (operators/eventflow.py
    event_transitions): src->dst counts + leave-probabilities over
    per-user ordered streams — one user_id window shuffle, one
    (src,dst) agg; probability = one long/long IEEE division."""
    from tmdataloader_spark.operators.eventflow import event_transitions

    return event_transitions(_t(spark, sf_dir, "events"))


@gate(oracle=interarrival_profile_oracle_sql("events"))
def q_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival cadence stats (operators/eventflow.py
    interarrival_profile): exact integer-microsecond gaps per
    (user, type) stream, one map-side-combined per-type aggregate —
    the threshold probe for throttle/debounce/sessionize gaps."""
    from tmdataloader_spark.operators.eventflow import interarrival_profile

    return interarrival_profile(_t(spark, sf_dir, "events"))


@gate(oracle=attribution_oracle_sql("events"))
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch conversion attribution (operators/eventflow.py
    attribution): per-user min/max pre-conversion touch picked by
    exact (micros, id) struct ordering — one converter aggregate, one
    co-partitioned user_id join, two |types|-sized census aggs."""
    from tmdataloader_spark.operators.eventflow import attribution

    return attribution(_t(spark, sf_dir, "events"))


@gate(oracle=supplier_frontier_oracle_sql("lineitem"))
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier Pareto frontier (operators/skyline.py skyline /
    supplier_frontier): two-phase 2-D skyline — per-x max aggregate
    then a strictly-greater RANGE window over |distinct x| rows,
    equi-join back for ties; all-exact-long comparisons."""
    from tmdataloader_spark.operators.skyline import supplier_frontier

    return supplier_frontier(_t(spark, sf_dir, "lineitem"))


@gate(oracle=basket_rules_oracle_sql("lineitem"))
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (operators/association.py
    basket_rules): co-occurrence self equi-join on the basket key
    (fanout bounded by basket size), support/confidence/lift as
    single mirrored double expressions over exact longs, per-task
    k-heap top-k on (n_xy, pair)."""
    from tmdataloader_spark.operators.association import basket_rules

    return basket_rules(_t(spark, sf_dir, "lineitem"))


@gate(oracle=cusum_changepoint_oracle_sql("events", "event_type"))
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point localization per event type
    (operators/timeseries.py cusum_changepoint): peak of the n-scaled
    cumulative deviation S_i = n·C_i − i·T over micro-unit-quantized
    values — exact decimals until the one report division; earliest-
    position tiebreak."""
    from tmdataloader_spark.operators.timeseries import cusum_changepoint

    return cusum_changepoint(_t(spark, sf_dir, "events"), "event_type")


@gate(oracle=quantile_normalize_oracle_sql(
    "events", "event_type", "value", "event_id", max_rank=100
))
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sample quantile normalization (operators/zscore.py
    quantile_normalize — Bolstad 2003, the preprocessing step upstream
    of the reference's z-score kernel): rank within sample, replace
    with the across-sample rank mean; micro-unit quantization before
    ranking, decimal rank sums, one division; max_rank=100 prunes both
    sides losslessly."""
    from tmdataloader_spark.operators.zscore import quantile_normalize

    return quantile_normalize(
        _t(spark, sf_dir, "events"),
        "event_type",
        "value",
        tie_cols=("event_id",),
        max_rank=100,
    )


@gate(oracle=calibration_curve_oracle_sql(
    "documents",
    "(n_chars % 1000) / CAST(1000 AS DOUBLE)",
    "doc_id % 3 = 0",
    bins=10,
))
def q_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-calibration reliability bins (llmdata/scoring.py
    calibration_curve): equal-width bins over [0,1], per-bin count /
    positives / mean score (decimal-sum) / positive rate; score =
    (n_chars % 1000)/1000, label = doc_id % 3 == 0 (the roc_auc/
    pr_curve synthetic-label convention)."""
    from tmdataloader_spark.llmdata.scoring import calibration_curve

    d = _t(spark, sf_dir, "documents").select(
        ((F.col("n_chars") % 1000) / F.lit(1000.0)).alias("s"),
        (F.col("doc_id") % 3 == 0).cast("long").alias("y"),
    )
    return calibration_curve(d, "s", "y", bins=10)


@gate(oracle=diversity_profile_oracle_sql("documents", ["lang", "source"]))
def q_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-diversity profile (statistic/profile.py
    diversity_profile): Simpson index (pure-integer algebra — no
    transcendentals, so bit-exact cross-engine) per column over an
    in-scan unpivot; one scan for all columns."""
    from tmdataloader_spark.statistic.profile import diversity_profile

    return diversity_profile(
        _t(spark, sf_dir, "documents"), ["lang", "source"]
    )


_BM25_TERMS = ["spark", "shuffle", "vector", "customer"]


# BM25: the oracle is generated from the SAME (terms, k, k1, b)
# constants so the arithmetic shape matches expression-for-
# expression; scores rounded to 6dp before ranking on both sides.
@gate(oracle=bm25_oracle_sql(_BM25_TERMS, k=25))
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-k retrieval (llmdata/retrieval.py): rank the
    corpus against a bounded query-term set with NO explode of the
    token stream — per-term tf as per-row array expressions, corpus
    stats (N, avgdl, per-term df) as ONE one-row broadcast aggregate,
    selection via per-task k-heaps. Scores rounded to 6 decimals
    BEFORE ranking so the ordering itself is engine-portable."""
    from tmdataloader_spark.llmdata.retrieval import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS, k=25)


#: (query_id, term) batch for the indexed-retrieval gate query —
#: mirrored verbatim by the oracle's VALUES list
_BM25_BATCH = [
    (1, "spark"),
    (1, "shuffle"),
    (2, "vector"),
    (3, "customer"),
    (3, "row"),
]


# Indexed batch form: tf/df from unnested postings; identical
# score arithmetic (k1=1.2, b=0.75 -> k1+1=2.2); per-term
# micro-unit (1e6) quantization + exact BIGINT sum mirrors
# bm25_batch_topk — order-insensitive, engine-portable.
@gate(oracle="""
            WITH q(query_id, term) AS (VALUES
              (1,'spark'),(1,'shuffle'),(2,'vector'),(3,'customer'),(3,'row')
            ), t AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), ' +') AS toks
              FROM documents
            ), e AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t
            ), p AS (
              SELECT term, doc_id, CAST(count(*) AS DOUBLE) AS tf,
                     CAST(any_value(dl) AS DOUBLE) AS dl
              FROM e GROUP BY term, doc_id
            ), s AS (
              SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                     avg(len(toks)) AS avgdl
              FROM t
            ), pq AS (
              SELECT * FROM p WHERE term IN (SELECT term FROM q)
            ), d AS (
              SELECT term, CAST(count(*) AS DOUBLE) AS dfr FROM pq GROUP BY term
            ), sc AS (
              SELECT q.query_id, pq.doc_id,
                     CAST(count(*) AS INT) AS n_terms_hit,
                     sum(CAST(round((
                       ln(1.0 + (s.n_docs - d.dfr + 0.5) / (d.dfr + 0.5))
                       * pq.tf * 2.2
                       / (pq.tf + 1.2 * (1.0 - 0.75 + 0.75 * pq.dl / s.avgdl))
                     ) * 1000000.0) AS BIGINT)) / 1000000.0 AS score
              FROM pq JOIN d USING (term) JOIN q USING (term) CROSS JOIN s
              GROUP BY q.query_id, pq.doc_id
            )
            SELECT * FROM (
              SELECT query_id, doc_id, n_terms_hit, score,
                     CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, doc_id
                     ) AS INT) AS rank
              FROM sc
            ) WHERE rank <= 10
        """)
def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed BM25 batch retrieval (llmdata/retrieval.py
    bm25_batch_topk): many queries scored at once over inverted-index
    postings — postings LEFT SEMI pruned to the query vocabulary,
    per-term dfs from one agg over the pruned slice, broadcast query
    set, per-query top-10 window over bounded candidate lists. Same
    arithmetic as the single-query form."""
    from tmdataloader_spark.llmdata.retrieval import bm25_batch_topk, bm25_index

    postings, stats = bm25_index(_t(spark, sf_dir, "documents"))
    queries_df = spark.createDataFrame(_BM25_BATCH, "query_id int, term string")
    return bm25_batch_topk(postings, stats, queries_df, k=10)


_RRF_TERMS_B = ["join", "window", "stream", "batch"]


# RRF hybrid fusion: the two generated BM25 oracles nest as
# CTEs; identical 1/(k0+rank) union-sum-rank algebra on top.
@gate(oracle=rrf_bm25_oracle_sql(_BM25_TERMS, _RRF_TERMS_B, k_in=25, k0=60, k=20))
def q_rrf_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (llmdata/retrieval.py rrf_fuse,
    SIGIR'09): hybrid-retrieval combiner over two BM25 top-25 lists —
    union of 1/(60+rank) contributions, keyed sum, 6dp pre-rank
    rounding. Input lists are top-k frames, so the fusion stage is
    k·N-row work regardless of corpus size. The two BM25 runs share
    ONE stats pass + ONE scoring pass over the union vocabulary
    (bm25_topk_shared — list-for-list bit-identical to two separate
    bm25_topk calls, but the corpus is tokenized 2× total, not 4×)."""
    from tmdataloader_spark.llmdata.retrieval import bm25_topk_shared, rrf_fuse

    d = _t(spark, sf_dir, "documents")
    return rrf_fuse(
        bm25_topk_shared(d, [_BM25_TERMS, _RRF_TERMS_B], k=25),
        k0=60,
        k=20,
    )


@gate(oracle="""
            WITH counts AS (
              SELECT lang, count(*) AS n FROM documents GROUP BY lang
            ), w AS (
              SELECT lang, n, pow(CAST(n AS DOUBLE), 0.5) AS wt FROM counts
            ), tot AS (
              SELECT sum(wt) AS wsum FROM w
            ), thr AS (
              SELECT lang,
                     CAST(round(
                       round(least(1.0, 300.0 * (wt / wsum) / CAST(n AS DOUBLE)), 6)
                       * 1000000) AS BIGINT) AS t
              FROM w CROSS JOIN tot
            )
            SELECT d.doc_id, d.lang
            FROM documents d
            JOIN thr ON d.lang IS NOT DISTINCT FROM thr.lang
            WHERE ('0x'||left(md5('mixture:'||CAST(d.doc_id AS VARCHAR)),8))::bigint
                  % 1000000 < thr.t
        """)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixture resampling (llmdata/sampling.py
    mixture_sample): per-language keep fractions ∝ n^0.5 (rare
    languages upsampled relative to their natural share), scaled to a
    300-row expected total, clamped at 1.0, applied via the portable
    md5 bucket. One tiny agg broadcast back; the corpus never
    shuffles."""
    from tmdataloader_spark.llmdata.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents")
    return mixture_sample(d, "lang", alpha=0.5, target_rows=300).select(
        "doc_id", "lang"
    )


def _curation_report_oracle() -> str:
    from tmdataloader_spark.llmdata.curate import REASONS

    reason_cols = ",\n".join(
        "CAST(sum(CASE WHEN list_contains(string_split(v.reasons, ','), "
        f"'{r}') THEN 1 ELSE 0 END) AS BIGINT) AS n_{r}"
        for r in REASONS
    )
    keep_rate = _r6("sum(v.kept)", "count(*)")
    return f"""
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(v.kept) AS BIGINT) AS n_kept,
               {keep_rate} AS keep_rate,
               {reason_cols}
        FROM ({_curate_oracle()}) v
        JOIN documents d ON d.doc_id = v.doc_id
        GROUP BY d.source
    """

# Per-source rollup of the SAME curate verdicts: the full
# curate oracle nests as a derived table; reason membership
# splits the comma-joined string (so 'duplicate' never
# matches 'semantic_duplicate').
@gate(oracle=_curation_report_oracle())
def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation summary (llmdata/curate.py
    curation_report): keep counts/rates and per-reason tallies over
    the same curate() run the `curate` gate query verifies — one
    equi-join on doc_id + ONE map-side-combined agg down to
    source-cardinality rows (the artifact mixture designers read)."""
    from tmdataloader_spark.llmdata.curate import curate, curation_report

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return curation_report(curate(d, benchmark=bench), d, group_col="source")


# 3-gram shingles: DuckDB list slice l[i:i+2] is INCLUSIVE
# (3 elements); range(1, greatest(L-1, 1)) yields the L-2
# trigram positions — same machinery the minhash oracle proves.
@gate(oracle="""
            WITH t AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
              FROM documents
            ), sh0 AS (
              SELECT doc_id, list_distinct(list_transform(list_transform(
                range(1, greatest(len(toks) - 1, 1)),
                i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')),
                s -> ('0x'||left(md5('0:'||s),8))::bigint)) AS shingles
              FROM t
            ), stream AS (
              SELECT doc_id, unnest(shingles) AS shingle FROM sh0
            ), dup AS (
              SELECT shingle FROM stream GROUP BY shingle HAVING count(*) >= 2
            ), dupc AS (
              SELECT s.doc_id, count(*) AS n_dup
              FROM stream s JOIN dup USING (shingle) GROUP BY s.doc_id
            )
            SELECT sh0.doc_id,
                   CAST(len(sh0.shingles) AS INT) AS n_shingles,
                   CAST(coalesce(dupc.n_dup, 0) AS BIGINT) AS n_dup,
                   round(CASE WHEN len(sh0.shingles) > 0
                         THEN CAST(coalesce(dupc.n_dup, 0) AS DOUBLE) / len(sh0.shingles)
                         ELSE 0.0 END, 6) AS dup_fraction
            FROM sh0 LEFT JOIN dupc USING (doc_id)
        """)
def q_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated n-gram fraction (llmdata/dedup.py
    dup_ngram_fraction): per-document share of distinct 3-gram
    shingles seen in ≥2 documents corpus-wide — the CCNet
    duplicated-line / C4 repeated-content signal at n-gram
    granularity. One df agg over the shared shingle subplan + a
    left-semi join against the duplicated-gram minority."""
    from tmdataloader_spark.llmdata.dedup import dup_ngram_fraction

    return dup_ngram_fraction(_t(spark, sf_dir, "documents"), n=3, min_df=2)


# ExactSubstr: duplicate 10-gram spans (any occurrence after
# the corpus-first in (doc_id, pos) order) are cut before the
# documents are re-joined from the surviving tokens. DuckDB
# list slice t[i:i+9] is INCLUSIVE (10 elements);
# generate_series(1, len-9) is empty when the doc is shorter
# than one span.
@gate(oracle="""
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ), occ AS (
              SELECT doc_id, r.i - 1 AS pos,
                     md5(array_to_string(t[r.i : r.i + 9], ' ')) AS gram
              FROM toks,
                   LATERAL (SELECT unnest(generate_series(1, len(t) - 9)) AS i) r
            ), dup AS (
              SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
                FROM occ
              ) WHERE rn > 1
            ), tokpos AS (
              SELECT doc_id, generate_subscripts(t, 1) - 1 AS i, unnest(t) AS tok
              FROM toks
            ), kept AS (
              SELECT tp.doc_id, tp.i, tp.tok
              FROM tokpos tp
              WHERE NOT EXISTS (
                SELECT 1 FROM dup d
                WHERE d.doc_id = tp.doc_id AND d.pos <= tp.i AND tp.i < d.pos + 10
              )
            ), rebuilt AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT tk.doc_id,
                   coalesce(r.text, '') AS text,
                   CAST(len(tk.t) AS BIGINT) AS n_tokens,
                   CAST(len(tk.t) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
            FROM toks tk LEFT JOIN rebuilt r USING (doc_id)
        """)
def q_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span removal (llmdata/dedup.py
    exact_substring_dedup): every duplicated 10-token span is cut
    from all but its corpus-first occurrence and the documents are
    reassembled — Lee et al. 2021's suffix-array pass re-expressed
    as one row_number window over n-gram occurrences plus a per-row
    array span filter."""
    from tmdataloader_spark.llmdata.dedup import exact_substring_dedup

    return exact_substring_dedup(_t(spark, sf_dir, "documents"), n=10)


# Prototype = per-label centroid from QUANTIZED int64 sums
# (floor(x*1000), exact integer sum, floor(s/n) — the kmeans
# recipe), so the centroid — hence the cosine — is
# bit-identical regardless of summation order or engine.
@gate(oracle="""
            WITH e AS (
              SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
            ), ex AS (
              SELECT label, generate_subscripts(v, 1) AS pos,
                     CAST(floor(unnest(v) * 1000) AS BIGINT) AS q
              FROM e
            ), cent AS (
              SELECT label, pos,
                     floor(CAST(sum(q) AS DOUBLE) / count(*)) AS c
              FROM ex GROUP BY label, pos
            ), cvec AS (
              SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label
            ), grp AS (
              SELECT label, count(*) AS grp_n FROM e GROUP BY label
            )
            SELECT e.vec_id, e.label, grp.grp_n,
                   round(list_dot_product(e.v, cvec.cv)
                         / (sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(cvec.cv, cvec.cv))), 6)
                     AS proto_cos
            FROM e JOIN cvec USING (label) JOIN grp ON grp.label = e.label
        """)
def q_prototype_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototype-distance curation scores (llmdata/clustering.py
    prototype_scores): per-label embedding centroid, each vector's
    cosine to its label prototype — Sorscher et al. 2022's
    self-supervised pruning metric. Centroid = one groups×dim
    map-side-combined agg broadcast back; the corpus never
    shuffles."""
    from tmdataloader_spark.llmdata.clustering import prototype_scores

    return prototype_scores(_t(spark, sf_dir, "embeddings"))


# percent_rank over (score, id) is unique-ordered ⇒ identical
# rationals in both engines; cuts use the same literals.
@gate(oracle="""
            WITH t AS (
              SELECT doc_id, lang,
                     string_split_regex(trim(text), ' +') AS toks
              FROM documents
            ), m AS (
              SELECT doc_id, lang,
                     round(CAST(len(list_filter(toks, x -> list_contains(
                       ['the','a','and','of','to','in','is'], lower(x)))) AS DOUBLE)
                       / len(toks), 6) AS stopword_ratio
              FROM t
            ), r AS (
              SELECT doc_id, stopword_ratio, lang,
                     percent_rank() OVER (
                       PARTITION BY lang ORDER BY stopword_ratio, doc_id) AS pr
              FROM m
            )
            SELECT doc_id, stopword_ratio, lang,
                   round(pr, 6) AS pctile,
                   CASE WHEN pr < 0.333333 THEN 'head'
                        WHEN pr < 0.666667 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM r
        """)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail bucketing (llmdata/sampling.py
    percentile_buckets): per-language percent-rank of the stopword-
    ratio quality signal, deterministic (score, id) ordering — the
    per-language perplexity-percentile split of Wenzek et al. 2020
    with the repo's oracle-portable quality score standing in for
    the LM perplexity."""
    from tmdataloader_spark.llmdata.sampling import percentile_buckets
    from tmdataloader_spark.llmdata.text import quality_metrics

    d = _t(spark, sf_dir, "documents")
    scored = quality_metrics(d).select("doc_id", "stopword_ratio").join(
        d.select("doc_id", "lang"), "doc_id"
    )
    return percentile_buckets(scored, "stopword_ratio", group_col="lang")


@gate(oracle=ivfpq_oracle_sql(
    "embeddings", nq=10, k=5, ncentroids=16, nprobe=4, m=4, ksub=16,
    iters=1, refine=20, dim=64,
))
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (llmdata/similarity.py ivfpq_ann): coarse 16-cell
    routing + per-subspace product-quantization codebooks (4×16,
    integer-exact Lloyd) + per-query ADC distance tables + exact
    rerank of the 20 best candidates — the Faiss IVF-PQ index as a
    narrow-codes probe join. The oracle replays training, encoding,
    and ADC relationally in the same int64 arithmetic."""
    from tmdataloader_spark.llmdata.similarity import ivfpq_ann

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return ivfpq_ann(q, e, k=5, ncentroids=16, nprobe=4, m=4, ksub=16, train_iters=1, refine=20)


# Split keyed on the near-dup cluster id: the dedup_clusters
# closure feeds the same md5-bucket CASE the hash_split oracle
# proves, applied to cluster_id instead of doc_id.
@gate(oracle=f"""
            WITH RECURSIVE pairs AS (
              {_minhash_oracle()}
            ), edges AS (
              SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION
              SELECT doc_b, doc_a FROM pairs
            ), reach(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            ), lab AS (
              SELECT u AS node, least(u, min(v)) AS component
              FROM reach GROUP BY u
            ), cl AS (
              SELECT d.doc_id,
                     coalesce(l.component, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN lab l ON l.node = d.doc_id
            )
            SELECT doc_id, cluster_id,
                   CASE WHEN ('0x'||left(md5('split:'||CAST(cluster_id AS VARCHAR)),8))::bigint
                             % 1000000 < 800000 THEN 'train'
                        WHEN ('0x'||left(md5('split:'||CAST(cluster_id AS VARCHAR)),8))::bigint
                             % 1000000 < 900000 THEN 'val'
                        ELSE 'test' END AS split
            FROM cl
        """)
def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (llmdata/sampling.py
    leakage_safe_split): the split hash keys on the near-dup CLUSTER
    id (MinHash+LSH pairs → connected components), so near-copies
    never straddle train and test. Adds one components pass + one
    equi-join to the plain deterministic split."""
    from tmdataloader_spark.llmdata.dedup import minhash_lsh_pairs
    from tmdataloader_spark.llmdata.sampling import leakage_safe_split

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, num_perms=16, bands=4, threshold=0.8)
    return leakage_safe_split(d, pairs, [0.8, 0.1, 0.1], ["train", "val", "test"])


# BPE: learning AND application unrolled (kmeans-oracle style).
@gate(oracle=bpe_oracle_sql(8, sample_fraction=0.2))
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE (llmdata/bpe.py, Sennrich et al. 2016): learn 8
    merges distributedly on a 20% md5-hash sample (one pair-count
    scan per merge over an incrementally-cached encoding, one row to
    the driver per round — the kmeans control-plane shape), then
    encode EVERY document with pure string-replace expressions (the
    double-space symbol invariant makes left-to-right replace exact
    greedy BPE). Output (doc_id, n_pieces, enc_md5); the oracle
    replays LEARNING (on the identical sample) and application as
    unrolled SQL stages."""
    from tmdataloader_spark.llmdata.bpe import bpe_apply, bpe_learn

    d = _t(spark, sf_dir, "documents")
    return bpe_apply(d, bpe_learn(d, k=8, sample_fraction=0.2))


# Hot-key diagnosis: count + share, (n desc, key) order.
@gate(oracle="""
            WITH c AS (
              SELECT l_orderkey, count(*) AS n_rows FROM lineitem
              GROUP BY l_orderkey
            ), t AS (
              SELECT count(*) AS total FROM lineitem
            )
            SELECT l_orderkey, n_rows,
                   {r6} AS share
            FROM c CROSS JOIN t
            ORDER BY n_rows DESC, l_orderkey LIMIT 5
        """.format(r6=_r6("CAST(n_rows AS DECIMAL(38,0))", "t.total")))
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnosis (operators/skew.py skew_report): top-5
    hottest order keys in lineitem with table share — one map-side
    count + per-task k-heap selection + a one-row total crossed in."""
    from tmdataloader_spark.operators.skew import skew_report

    return skew_report(_t(spark, sf_dir, "lineitem"), "l_orderkey", top=5)


# Salted-join losslessness: the oracle is the PLAIN join — the
# salting rewrite must not change the result multiset.
@gate(oracle="""
            SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
                   strftime(o.o_orderdate, '%Y-%m-%d') AS o_date
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        """)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-join losslessness (operators/skew.py salted_join): the
    hot-key rewrite (deterministic xxhash64 salt, right side
    replicated 4x, join on (key, salt)) must equal the PLAIN join —
    so its oracle IS the plain SQL join, making the equivalence a
    driver-checked contract, not just a pytest."""
    from tmdataloader_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
    )
    return salted_join(li, o, "l_orderkey", salt=4)


# Temperature upsampling: same fraction algebra as
# mixture_sample's proven oracle, UNclamped (capped at 10),
# floor(f) copies via range() + the md5-bucket-gated extra.
@gate(oracle="""
            WITH counts AS (
              SELECT lang, count(*) AS n FROM documents GROUP BY lang
            ), w AS (
              SELECT lang, n, pow(CAST(n AS DOUBLE), 0.3) AS wt FROM counts
            ), tot AS (
              SELECT sum(wt) AS wsum FROM w
            ), fr AS (
              SELECT lang,
                     round(least(10.0, 8000.0 * (wt / wsum) / CAST(n AS DOUBLE)), 6)
                       AS f
              FROM w CROSS JOIN tot
            ), fb AS (
              SELECT lang, CAST(floor(f) AS INT) AS base,
                     CAST(round((f - floor(f)) * 1000000) AS BIGINT) AS thr
              FROM fr
            )
            SELECT d.doc_id, d.lang,
                   CAST(unnest(range(1, fb.base
                     + CASE WHEN ('0x'||left(md5('mixture:'||CAST(d.doc_id AS VARCHAR)),8))::bigint
                            % 1000000 < fb.thr THEN 1 ELSE 0 END + 1)) AS INT)
                     AS copy_idx
            FROM documents d JOIN fb ON d.lang IS NOT DISTINCT FROM fb.lang
        """)
def q_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixture resampling WITH upsampling
    (llmdata/sampling.py mixture_upsample): fractions above 1.0 emit
    repeated rows (floor(f) copies + one md5-bucket-gated extra, so
    E[copies]=f) — the multi-epoch temperature mixture; for f<=1 the
    kept set equals mixture_sample's exactly (pytest-asserted)."""
    from tmdataloader_spark.llmdata.sampling import mixture_upsample

    d = _t(spark, sf_dir, "documents")
    return mixture_upsample(d, "lang", alpha=0.3, target_rows=8000).select(
        "doc_id", "lang", "copy_idx"
    )


# JL ±1 projection: generated oracle embeds the identical
# derived sign literals; exact integer components both sides.
@gate(oracle=random_projection_oracle_sql(64, 16))
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 projection (llmdata/projection.py,
    Achlioptas 2003): 64-dim embeddings → 16 exact int64 components
    via a derived md5 sign matrix baked into the plan as literals —
    a pure per-row codegen map (no shuffle/Python/join; plan-asserted
    in tests), the narrow front end for LSH/IVF candidate stages."""
    from tmdataloader_spark.llmdata.projection import random_projection

    return random_projection(_t(spark, sf_dir, "embeddings"), 64, 16)


# Bigram-LM self-perplexity: identical quantized algebra —
# top-199 vocab + <unk>, lead-window pairs, add-1 smoothing,
# per-bigram-type round(ln(p)*1e6) BIGINT, exact integer sums.
@gate(oracle="""
            WITH tk AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), ' +') AS toks
              FROM documents
            ), tok AS (
              SELECT doc_id, generate_subscripts(toks, 1) AS pos,
                     unnest(toks) AS w
              FROM tk
            ), voc AS (
              SELECT w AS token FROM (
                SELECT w, count(*) AS tf FROM tok GROUP BY w
                ORDER BY tf DESC, w LIMIT 199
              )
            ), mapped AS (
              SELECT doc_id, pos,
                     CASE WHEN v.token IS NOT NULL THEN tok.w
                          ELSE '<unk>' END AS wm
              FROM tok LEFT JOIN voc v ON tok.w = v.token
            ), pairs AS (
              SELECT doc_id, wm AS w1,
                     lead(wm) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
              FROM mapped
            ), p2 AS (
              SELECT doc_id, w1, w2 FROM pairs WHERE w2 IS NOT NULL
            ), uni AS (
              SELECT wm AS w1, count(*) AS c1 FROM mapped GROUP BY wm
            ), vs AS (
              SELECT CAST(count(*) AS DOUBLE) AS v FROM uni
            ), obs AS (
              SELECT bi.w1, bi.w2,
                     CAST(round(ln((bi.cb + 1.0) / (uni.c1 + 1.0 * vs.v))
                                * 1000000.0) AS BIGINT) AS q
              FROM (SELECT w1, w2, count(*) AS cb FROM p2 GROUP BY w1, w2) bi
              JOIN uni USING (w1) CROSS JOIN vs
            ), bo AS (
              SELECT w1,
                     CAST(round(ln(1.0 / (c1 + 1.0 * v)) * 1000000.0)
                          AS BIGINT) AS q
              FROM uni CROSS JOIN vs
            ), sc AS (
              SELECT p2.doc_id, coalesce(obs.q, bo.q) AS q
              FROM p2
              LEFT JOIN obs ON p2.w1 = obs.w1 AND p2.w2 = obs.w2
              LEFT JOIN bo ON p2.w1 = bo.w1
            ), agg AS (
              SELECT doc_id, count(*) AS nb, sum(q) AS sq
              FROM sc GROUP BY doc_id
            ), am AS (
              -- HALF_UP(sq/nb) in exact integers: sq/nb can land
              -- EXACTLY on a .5 micro-unit boundary where double
              -- rounding is engine-dependent (r7, sf0.1)
              SELECT doc_id, nb,
                     CASE WHEN sq >= 0
                          THEN (2 * sq + nb) // (2 * nb)
                          ELSE -(((-2 * sq) + nb) // (2 * nb))
                     END AS avg_micro
              FROM agg
            )
            SELECT d.doc_id,
                   CAST(coalesce(am.nb, 0) AS BIGINT) AS n_bigrams,
                   CAST(am.avg_micro AS DOUBLE) / 1000000.0 AS avg_logprob,
                   round(exp(-(CAST(am.avg_micro AS DOUBLE) / 1000000.0)), 6)
                     AS perplexity
            FROM documents d LEFT JOIN am USING (doc_id)
        """)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM self-perplexity (llmdata/lm.py perplexity_scores):
    the CCNet document-quality score — add-1-smoothed bigram model
    fit in-plan (top-200 vocab + <unk>, lead-window pairs, counts),
    each bigram type's ln-probability quantized to micro-unit longs,
    per-doc EXACT integer sums -> avg_logprob / perplexity. The
    oracle replays the identical quantized algebra."""
    from tmdataloader_spark.llmdata.lm import perplexity_scores

    return perplexity_scores(_t(spark, sf_dir, "documents"), vocab_size=200)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


@gate(oracle=pagerank_oracle_sql(iters=4))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank over the customer↔supplier trading
    graph (distinct pairs from orders⋈lineitem, symmetrized), 4
    iterations. Ranks are micro-unit longs with floor-division
    contributions and exact-rational damping (85/100), so the result
    is bit-identical across engines and partitionings — no float sum
    anywhere. One edge-list shuffle per iteration, lineage broken
    per round (localCheckpoint), the relational Pregel shape."""
    from tmdataloader_spark.operators.graph import bipartite_edges, pagerank

    edges = bipartite_edges(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )
    return pagerank(edges, iters=4)


@gate(oracle=triangle_oracle_sql(year=1995))
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the 1995 co-purchase graph
    (parts shipped together in one order = an undirected edge). The
    Spark plan is the degree-oriented wedge join — out-degree after
    orientation is bounded by O(sqrt(m)), so a skewed hub costs
    sqrt(m) wedges instead of deg², the only subgraph-counting shape
    that survives a power-law link corpus at 100 TB. All-integer
    arithmetic end to end; the oracle replays the id-ordered 3-way
    self-join (orientation is purely physical — same triangle set)."""
    from tmdataloader_spark.operators.graph import (
        cooccurrence_edges,
        triangle_counts,
    )

    return triangle_counts(cooccurrence_edges(_t(spark, sf_dir, "lineitem")))


@gate(oracle=common_neighbors_oracle_sql(year=1995, min_common=3))
def q_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the 1995 co-purchase graph:
    non-adjacent part pairs sharing ≥3 neighbors — the candidate-pair
    generator for recommender / graph-ML training data. Wedge
    equi-join + count + LEFT ANTI vs existing edges, all integers
    (bit-identical under any partitioning). The deg² hub fan-out is
    inherent to the semantics; the operator's ``neighbor_cap`` is the
    documented 100 TB mitigation (deterministic per-center truncation
    — unused here so the oracle is the exact uncapped algebra)."""
    from tmdataloader_spark.operators.graph import (
        common_neighbors,
        cooccurrence_edges,
    )

    return common_neighbors(
        cooccurrence_edges(_t(spark, sf_dir, "lineitem")), min_common=3
    )


@gate(oracle="""
            WITH oldv AS (
              SELECT o_orderkey, o_orderstatus, o_orderpriority
              FROM orders WHERE o_orderkey % 10 < 9
            ),
            newv AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                          ELSE o_orderstatus END AS o_orderstatus,
                     o_orderpriority
              FROM orders WHERE o_orderkey % 10 > 0
            ),
            d AS (
              SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                     CASE
                       WHEN o.o_orderkey IS NULL THEN 'added'
                       WHEN n.o_orderkey IS NULL THEN 'removed'
                       WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                         OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                         THEN 'changed'
                       ELSE 'unchanged'
                     END AS change_type
              FROM oldv o FULL OUTER JOIN newv n
                ON o.o_orderkey = n.o_orderkey
            )
            SELECT * FROM d WHERE change_type <> 'unchanged'
        """)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two derived snapshots of ``orders``: old = keys
    with ``o_orderkey % 10 < 9``, new = keys ``% 10 > 0`` with
    status rewritten to 'X' for keys divisible by 7 — so the diff
    emits added (%10==9), removed (%10==0) and changed rows. ONE
    full-outer equi-join on the key; change classification is a
    codegen CASE over null-safe column equality (native values, no
    stringified-payload md5 — float formatting is engine-specific)."""
    from tmdataloader_spark.operators.diff import snapshot_diff

    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 10 < 9)
    new = orders.filter(F.col("o_orderkey") % 10 > 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    return snapshot_diff(
        old,
        new,
        keys=["o_orderkey"],
        compare_cols=["o_orderstatus", "o_orderpriority"],
    )


@gate(oracle="""
            SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
                   COALESCE(o_orderpriority, 'ALL') AS orderpriority,
                   count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                     AS sum_price
            FROM orders
            GROUP BY CUBE(o_orderstatus, o_orderpriority)
        """)
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over (status, priority): all four grouping sets
    — per-cell, two marginals, grand total — in ONE shuffle (the
    grouping-set expansion happens inside the aggregate, not as four
    scans). Money sums in decimal(38,6) (pricing_summary regime)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            "sum_price",
        )
    )


@gate(oracle="""
            SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                     AS sum_value
            FROM (
              SELECT unnest([date_trunc('hour', ts),
                             date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
                     event_type, value
              FROM events
            )
            GROUP BY ws, event_type
        """)
def q_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window rollup (2-hour windows sliding by 1 hour) — the
    batch twin of the streaming sliding-window aggregate; each event
    lands in exactly two windows. ``F.window`` expands the assignment
    inside the plan (no self-union double scan); sums are
    decimal-exact (sessionize regime)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@gate(oracle="""
            SELECT event_type, count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """)
def q_user_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type audience size: exact count_distinct (expand +
    two-phase agg, one distinct-pair shuffle) — the oracle-checked
    path; the HLL++ sketch twin (approx=True) is the 100 TB one-pass
    shape, agreement-pytested within rsd."""
    from tmdataloader_spark.operators.eventflow import user_cardinality

    return user_cardinality(_t(spark, sf_dir, "events"))


@gate(oracle="""
            SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
                   count(*) - count(o_orderkey) AS n_null,
                   count(DISTINCT o_orderkey) AS n_distinct,
                   CAST(min(o_orderkey) AS VARCHAR) AS min_value,
                   CAST(max(o_orderkey) AS VARCHAR) AS max_value
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
                   count(DISTINCT o_orderstatus),
                   min(o_orderstatus), max(o_orderstatus)
            FROM orders
            UNION ALL
            SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
                   count(DISTINCT o_totalprice),
                   printf('%.6f', min(o_totalprice)),
                   printf('%.6f', max(o_totalprice))
            FROM orders
            UNION ALL
            SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
                   count(DISTINCT o_orderdate),
                   strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
                   strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
            FROM orders
        """)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic table profile over four orders columns: one scan, one
    wide aggregate row (count/nulls/exact distincts/native min-max),
    unpivoted to (column, stats) rows. Float min/max render %.6f so
    the text is engine-portable."""
    from tmdataloader_spark.statistic.profile import profile_table

    return profile_table(
        _t(spark, sf_dir, "orders"),
        cols=["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
    )


@gate(oracle="""
            SELECT count(*) AS n_rows,
                   COALESCE(bit_xor(
                     ('0x' || substr(md5(concat_ws(chr(31),
                        coalesce(CAST(l_orderkey AS VARCHAR), chr(0)||'null'),
                        coalesce(CAST(l_partkey AS VARCHAR), chr(0)||'null'),
                        coalesce(CAST(l_linenumber AS VARCHAR), chr(0)||'null'),
                        coalesce(printf('%.6f', l_quantity), chr(0)||'null'),
                        coalesce(l_returnflag, chr(0)||'null'),
                        coalesce(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S'),
                                 chr(0)||'null'))), 1, 15))::BIGINT
                   ), 0) AS checksum
            FROM lineitem
        """)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint of lineitem: bit_xor of
    60-bit row-md5s — one map-side-combined aggregate, one row out;
    the O(1) anti-entropy probe that pairs with snapshot_diff."""
    from tmdataloader_spark.statistic.profile import table_checksum

    return table_checksum(
        _t(spark, sf_dir, "lineitem"),
        cols=["l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
              "l_returnflag", "l_shipdate"],
    )


#: HTML wrapper used by q_html_extract — both engines wrap the corpus
#: text identically, so the gate exercises every strip rule on real
#: content without needing an HTML column in the testdata
_HTML_PRE = (
    '<html><head><style>p { color: red; }</style>'
    '<script>if (1 < 2 && 2 > 1) { var x = "t"; }</script></head>'
    '<body><h1>Title &amp; Co</h1><p>'
)
_HTML_POST = (
    '</p><!-- hidden comment --><div>tail &lt;stuff&gt;&nbsp;here</div>'
    "<ul><li>a</li><li>b</li></ul></body></html>"
)


def _html_extract_oracle() -> str:
    """DuckDB twin of q_html_extract: the identical RE2-portable
    regexp chain over the identically wrapped text (replacement
    newlines spelled chr(10) — DuckDB string literals do not process
    backslash escapes)."""
    pre = _HTML_PRE.replace("'", "''")
    post = _HTML_POST.replace("'", "''")
    e = f"'{pre}' || text || '{post}'"
    e = f"regexp_replace({e}, '(?is)<script\\b.*?</script\\s*>', ' ', 'g')"
    e = f"regexp_replace({e}, '(?is)<style\\b.*?</style\\s*>', ' ', 'g')"
    e = f"regexp_replace({e}, '(?s)<!--.*?-->', ' ', 'g')"
    e = (
        f"regexp_replace({e}, "
        "'(?is)</?(p|div|h[1-6]|li|tr|table|ul|ol|blockquote)(\\s[^>]*)?>"
        "|<br\\s*/?\\s*>', "
        "chr(1), 'g')"
    )
    e = f"regexp_replace({e}, '(?s)<[^>]*>', ' ', 'g')"
    for ent, rep in [
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&amp;", "&"),
    ]:
        e = f"replace({e}, '{ent}', '{rep}')"
    e = f"regexp_replace({e}, '[ \\t\\f\\r\\n]+', ' ', 'g')"
    e = f"regexp_replace({e}, ' ?\\x01[ \\x01]*', chr(10), 'g')"
    e = f"regexp_replace({e}, '^[\\n ]+|[\\n ]+$', '', 'g')"
    return f"""
        SELECT doc_id,
               CAST(length(ext) AS BIGINT) AS n_chars_extracted,
               md5(ext) AS extract_md5
        FROM (SELECT doc_id, {e} AS ext FROM documents)
    """

@gate(oracle=_html_extract_oracle())
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl boilerplate stripping (llmdata/text.py
    extract_html_text): script/style/comment blocks dropped, block
    closers become newlines, tags stripped, entities decoded — a
    pure regexp_replace chain (codegen, no UDF) with RE2-portable
    patterns so the SQL twin reproduces the bytes."""
    from tmdataloader_spark.llmdata.text import extract_html_text

    d = _t(spark, sf_dir, "documents")
    html = F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST))
    ext = extract_html_text(html)
    return d.select(
        "doc_id",
        F.length(ext).alias("n_chars_extracted"),
        F.md5(ext).alias("extract_md5"),
    )


@gate(oracle="""
            WITH med AS (
              SELECT l_returnflag, median(l_quantity) AS med
              FROM lineitem GROUP BY l_returnflag
            ),
            dev AS (
              SELECT l.l_returnflag, abs(l.l_quantity - m.med) AS adev, m.med
              FROM lineitem l JOIN med m USING (l_returnflag)
            ),
            stats AS (
              SELECT l_returnflag, med, median(adev) AS mad,
                     count(*) AS n_rows
              FROM dev GROUP BY l_returnflag, med
            ),
            outl AS (
              SELECT d.l_returnflag,
                     count(CASE WHEN d.adev > 3.0 * s.mad THEN 1 END)
                       AS n_outliers
              FROM dev d JOIN stats s USING (l_returnflag)
              GROUP BY d.l_returnflag
            )
            SELECT s.l_returnflag, round(s.med, 6) AS median_value,
                   round(s.mad, 6) AS mad, s.n_rows, o.n_outliers
            FROM stats s JOIN outl o USING (l_returnflag)
        """)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier stats (statistic/profile.py
    mad_outliers): exact median + MAD + |x−med| > 3·MAD counts per
    returnflag — exact medians only, no float sums (determinism
    regime); two keyed aggs + broadcast joins, no corpus window."""
    from tmdataloader_spark.statistic.profile import mad_outliers

    return mad_outliers(
        _t(spark, sf_dir, "lineitem"), "l_quantity", "l_returnflag", k=3.0
    )


@gate(oracle="""
            WITH marked AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR event_type IS DISTINCT FROM
                               lag(event_type) OVER w
                          THEN 1 ELSE 0 END AS chg
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            runs AS (
              SELECT user_id, event_type, ts,
                     sum(chg) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS run
              FROM marked
            ),
            grouped AS (
              SELECT user_id, event_type, run, min(ts) AS vf
              FROM runs GROUP BY user_id, event_type, run
            )
            SELECT user_id, event_type,
                   strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
                   strftime(lead(vf) OVER (PARTITION BY user_id ORDER BY vf),
                            '%Y-%m-%d %H:%M:%S') AS valid_to
            FROM grouped
        """)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 (operators/diff.py scd2_history): collapse each
    user's event_type change log into validity intervals — one
    user_id shuffle serves lag/run-sum/agg/lead (exchange reuse),
    null-safe native comparisons, event_id tiebreak pins total
    order."""
    from tmdataloader_spark.operators.diff import scd2_history

    ev = _t(spark, sf_dir, "events")
    hist = scd2_history(
        ev,
        keys=["user_id"],
        attr_cols=["event_type"],
        version_col="ts",
        tiebreak_cols=["event_id"],
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return hist.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format("valid_to", fmt).alias("valid_to"),
    )


@gate(oracle="""
            WITH actual AS (
              SELECT lang AS stratum, count(*) AS n_rows,
                     CAST(sum(n_chars) AS BIGINT) AS sum_tokens
              FROM documents GROUP BY lang
            ),
            spec(stratum, target_tokens) AS (
              VALUES ('en', 30000), ('zh', 15000), ('de', 25000),
                     ('es', 10000), ('fr', 5000)
            )
            SELECT a.stratum, a.n_rows, a.sum_tokens,
                   round(least(CAST(s.target_tokens AS DOUBLE)
                               / CAST(a.sum_tokens AS DOUBLE), 1.0), 6)
                     AS fraction
            FROM actual a JOIN spec s ON a.stratum IS NOT DISTINCT FROM s.stratum
        """)
def q_token_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted mixture spec (llmdata/sampling.py
    mixture_fractions_by_tokens): per-language fractions =
    budget / actual tokens (exact long sums), clamped at 1.0 — the
    'N billion tokens of X' production mixing contract feeding the
    same samplers as the row-count fractions."""
    from tmdataloader_spark.llmdata.sampling import mixture_fractions_by_tokens

    d = _t(spark, sf_dir, "documents")
    targets = spark.createDataFrame(
        [("en", 30000), ("zh", 15000), ("de", 25000), ("es", 10000), ("fr", 5000)],
        "stratum string, target_tokens long",
    )
    return mixture_fractions_by_tokens(
        d, targets, stratum_col="lang", token_col="n_chars"
    )


@gate(oracle="""
            WITH counts AS (
              SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS hour_bucket,
                     event_type, count(*) AS n_events
              FROM events GROUP BY 1, 2
            )
            SELECT hour_bucket, event_type, n_events, rank
            FROM (
              SELECT *, row_number() OVER (
                       PARTITION BY hour_bucket
                       ORDER BY n_events DESC, event_type) AS rank
              FROM counts
            ) WHERE rank <= 3
        """)
def q_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour top-3 event types by count — the trending-dashboard
    shape: one keyed agg to (hour, type, n) then a rank window over
    hour-sized groups (bounded frames — the window input is
    group-cardinality rows, never the event log; tiebreak by type
    pins determinism)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_bucket"
        ),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("hour_bucket").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "hour_bucket", "event_type", "n_events",
            F.col("rank").cast("long").alias("rank"),
        )
    )


@gate(oracle="""
            SELECT user_id, event_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_time,
                   count(*) OVER w AS n_trailing,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
                     AS sum_trailing
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        """)
def q_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour TIME-RANGE window per user (RANGE frame on
    event-time micros, not ROWS — all peers with equal timestamps
    join the frame in every engine, so ties cannot flip results):
    running event count + decimal-exact value sum over
    [ts − 1 h, ts]. One user_id shuffle; the value-based frame is
    the streaming trailing-aggregate twin."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return ev.select(
        "user_id",
        "event_id",
        F.date_format("ts", fmt).alias("event_time"),
        F.count("*").over(w).alias("n_trailing"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("sum_trailing"),
    )


@gate(oracle="""
            WITH cur AS (
              SELECT lang AS stratum, count(*) AS n_current
              FROM documents GROUP BY lang
            ),
            ref AS (
              SELECT lang AS stratum, count(*) AS n_reference
              FROM documents WHERE doc_id % 3 <> 0 GROUP BY lang
            ),
            j AS (
              SELECT COALESCE(c.stratum, r.stratum) AS stratum,
                     COALESCE(c.n_current, 0) AS n_current,
                     COALESCE(r.n_reference, 0) AS n_reference
              FROM cur c FULL OUTER JOIN ref r
                ON c.stratum IS NOT DISTINCT FROM r.stratum
            ),
            t AS (SELECT (SELECT sum(n_current) FROM j) AS ct,
                         (SELECT sum(n_reference) FROM j) AS rt)
            SELECT stratum, n_current, n_reference,
                   {shc} AS share_current,
                   {shr} AS share_reference,
                   CASE WHEN n_current > 0 AND n_reference > 0 THEN
                     round((CAST(n_current AS DOUBLE) / ct)
                           * ln((CAST(n_current AS DOUBLE) / ct)
                                / (CAST(n_reference AS DOUBLE) / rt)), 6)
                   END AS kl_term
            FROM j CROSS JOIN t
        """.format(
            shc=_r6("n_current", "ct"), shr=_r6("n_reference", "rt")
        ))
def q_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture drift monitor (llmdata/sampling.py
    mixture_drift): per-language shares of the current corpus vs a
    reference generation (here: the doc_id % 3 != 0 subset) with the
    KL contribution p*ln(p/q) per stratum — new/vanished strata
    surface as NULL kl_term rows. Two tiny aggs + one-row total
    broadcasts; corpora never shuffle."""
    from tmdataloader_spark.llmdata.sampling import mixture_drift

    d = _t(spark, sf_dir, "documents")
    return mixture_drift(d, d.filter(F.col("doc_id") % 3 != 0), "lang")


@gate(oracle="""
            WITH keyed AS (
              SELECT doc_id, lang, n_chars,
                     CASE WHEN n_chars > 0 THEN
                       round(-ln(((('0x'||left(md5('wsample:'
                                 ||CAST(doc_id AS VARCHAR)),8))::BIGINT
                                 % 1000000) + 0.5) / 1000000.0)
                             / CAST(n_chars AS DOUBLE), 6)
                     END AS wk
              FROM documents
            ),
            ranked AS (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY (wk IS NULL), wk, doc_id) AS r
              FROM keyed
            )
            SELECT doc_id, lang, n_chars FROM ranked WHERE r <= 20
        """)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted without-replacement sampling (llmdata/
    sampling.py weighted_sample): 20 docs per language with
    probability ∝ n_chars via A-Res exponential keys (−ln(u)/w on the
    portable md5 uniform, 6dp-rounded before ranking — the BM25
    ordering regime); two-phase top-k so heavy strata never
    single-task sort."""
    from tmdataloader_spark.llmdata.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_sample(
        d, k=20, weight_col="n_chars", stratum_col="lang"
    ).select("doc_id", "lang", "n_chars")


@gate(oracle="""
            SELECT event_type, count(*) AS n_events,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """)
def q_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-quantile profile per event type (p50/p90/p99 of
    value, linear interpolation — the latency-SLO shape): ONE sort-
    based percentile aggregate per group computes all three cut
    points in a single pass (groups are type-sized, never the log);
    6dp rounding (exact-median precedent: probe_stats r1-green)."""
    ev = _t(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(pct[0], 6).alias("p50"),
        F.round(pct[1], 6).alias("p90"),
        F.round(pct[2], 6).alias("p99"),
    )


@gate(oracle="""
            WITH base AS (
              SELECT n_chars AS s,
                     CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
              FROM documents
            ),
            per_s AS (SELECT s, count(*) AS n, sum(y) AS pos
                      FROM base GROUP BY s),
            c AS (
              SELECT s, n, pos,
                     coalesce(sum(n) OVER (
                       ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS cb
              FROM per_s
            ),
            t AS (SELECT CAST(sum(pos) AS BIGINT) AS np,
                         CAST(sum(n - pos) AS BIGINT) AS nn FROM per_s)
            SELECT t.np AS n_pos, t.nn AS n_neg,
                   round((sum(c.pos * (2 * c.cb + c.n + 1))
                          - t.np * (t.np + 1))
                         / (2.0 * t.np * t.nn), 6) AS auc
            FROM c, t GROUP BY t.np, t.nn
        """)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (llmdata/scoring.py roc_auc): Mann-Whitney
    rank-sum with tie midranks, doubled-rank trick keeps EVERYTHING
    integer until one final division — no float sums; exclusive prefix
    counts via two-phase order-preserving buckets. One scalar row."""
    from tmdataloader_spark.llmdata.scoring import roc_auc

    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("s"),
        (F.col("doc_id") % 3 == 0).cast("long").alias("y"),
    )
    return roc_auc(d, "s", "y")


@gate(oracle="""
            SELECT doc_id,
                   round(0.1
                         + (CAST(n_chars AS DOUBLE) / 1000) * 0.8
                         + (CAST(length(text)
                                 - length(replace(text, ' ', ''))
                                 AS DOUBLE) / 100) * (-0.3), 6) AS score
            FROM documents
        """)
def q_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier scoring (llmdata/scoring.py
    linear_score — the fasttext-style model's public-knowledge core):
    weights fold into plan literals, one codegen projection, no
    UDF/join/shuffle — the right 'score every document' shape.
    Features here: chars/1000 and space-count/100 (space count =
    len(text) − len(replace(text,' ','')) — byte-identical across
    engines, unlike regex word splits)."""
    from tmdataloader_spark.llmdata.scoring import linear_score

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars").cast("double") / 1000).alias("f_len"),
        (
            (
                F.length("text")
                - F.length(F.regexp_replace("text", " ", ""))
            ).cast("double")
            / 100
        ).alias("f_words"),
    )
    return linear_score(
        d, {"f_len": 0.8, "f_words": -0.3}, bias=0.1
    ).select("doc_id", "score")


@gate(oracle="""
            WITH base AS (
              SELECT round(n_chars / 100.0, 6) AS s,
                     CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
              FROM documents
            ),
            per_s AS (SELECT s, count(*) AS n, sum(y) AS pos
                      FROM base GROUP BY s),
            c AS (
              SELECT s,
                     CAST(sum(n) OVER (ORDER BY s DESC) AS BIGINT) AS np,
                     CAST(sum(pos) OVER (ORDER BY s DESC) AS BIGINT) AS tp
              FROM per_s
            ),
            t AS (SELECT sum(pos) AS ap FROM per_s)
            SELECT s AS threshold, np AS n_pred, tp,
                   {prec} AS precision,
                   {rec} AS recall
            FROM c, t
        """.format(prec=_r6("tp", "np"), rec=_r6("tp", "ap")))
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed precision/recall sweep (llmdata/scoring.py
    pr_curve): TP / predicted-positive counts at EVERY distinct score
    threshold via descending two-phase prefix sums (integer-exact; one
    division at the end) — the keep/drop-cut chooser for any quality
    score. Label here: doc_id % 3 == 0 (deterministic synthetic)."""
    from tmdataloader_spark.llmdata.scoring import pr_curve

    d = _t(spark, sf_dir, "documents").select(
        F.round(F.col("n_chars") / 100.0, 6).alias("s"),
        (F.col("doc_id") % 3 == 0).cast("long").alias("y"),
    )
    return pr_curve(d, "s", "y")


@gate(oracle="""
            WITH rng AS (
              SELECT event_type, min(value) AS lo, max(value) AS hi
              FROM events GROUP BY event_type
            ),
            b AS (
              SELECT e.event_type,
                     CASE WHEN r.hi = r.lo THEN 0
                          ELSE CAST(least(11, floor((e.value - r.lo)
                                 / ((r.hi - r.lo) / 12.0))) AS BIGINT)
                     END AS bin,
                     r.lo, r.hi
              FROM events e JOIN rng r USING (event_type)
            ),
            cuts AS (
              SELECT event_type,
                     [round(quantile_cont(value, 0.25), 6),
                      round(quantile_cont(value, 0.5), 6),
                      round(quantile_cont(value, 0.75), 6)] AS cs
              FROM events GROUP BY event_type
            )
            SELECT 'equi_width' AS kind, event_type, bin,
                   round(min(lo + bin * ((hi - lo) / 12.0)), 6) AS bin_lo,
                   count(*) AS n
            FROM b GROUP BY event_type, bin
            UNION ALL
            SELECT 'equi_depth' AS kind, e.event_type,
                   length(list_filter(c.cs, x -> e.value > x)) AS bin,
                   CAST(NULL AS DOUBLE) AS bin_lo,
                   count(*) AS n
            FROM events e JOIN cuts c USING (event_type)
            GROUP BY 2, 3
        """)
def q_value_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged histogram gate (r12 capacity plan — the former
    `histogram` + `equi_depth` gates, one slot; r14: re-expressed as
    the single-pipeline ``value_histograms`` — one combined stats
    agg, both bin indices in one codegen projection, one joint-cell
    count — 2 scans / 2 data-sized shuffles instead of 4 / 4, output
    bit-identical to the old union, pinned by
    test_statistic.py::test_value_histograms_matches_two_query_union).
    `kind` tags the binning: equi_width = per-group (min, max)
    broadcast back, pure-codegen bin math (identical double expression
    shape on both engines so floor() lands on the same IEEE result);
    equi_depth = all cut points from ONE sort-based percentile agg,
    6dp-rounded before comparison, bin = size(filter(cuts, c -> v >
    c)) — the skew-readable companion."""
    from tmdataloader_spark.statistic.profile import value_histograms

    ev = _t(spark, sf_dir, "events")
    return value_histograms(ev, "value", 12, 4, "event_type").select(
        "kind", "event_type", "bin", "bin_lo", "n"
    )


@gate(oracle="""
            WITH ld AS (
              SELECT value, row_number() OVER (ORDER BY value) - 1 AS code
              FROM (SELECT DISTINCT lang AS value FROM documents
                    WHERE lang IS NOT NULL)
            ),
            sd AS (
              SELECT value, row_number() OVER (ORDER BY value) - 1 AS code
              FROM (SELECT DISTINCT source AS value FROM documents
                    WHERE source IS NOT NULL)
            )
            SELECT d.doc_id, d.lang,
                   coalesce(ld.code, -1) AS lang_code,
                   coalesce(sd.code, -1) AS source_code
            FROM documents d
            LEFT JOIN ld ON d.lang = ld.value
            LEFT JOIN sd ON d.source = sd.value
        """)
def q_dict_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dictionary encoding (operators/encode.py): dense
    0..V−1 codes in ascending lexical order (total-ordered — not
    MLlib's frequency-with-arbitrary-ties), ranks from the two-phase
    prefix sum over the vocabulary-sized distinct set, applied by
    broadcast join; unseen/NULL → −1 explicitly."""
    from tmdataloader_spark.operators.encode import (
        build_dictionary,
        encode_column,
    )

    d = _t(spark, sf_dir, "documents")
    out = encode_column(d, "lang", build_dictionary(d, "lang"))
    out = encode_column(out, "source", build_dictionary(d, "source"))
    return out.select("doc_id", "lang", "lang_code", "source_code")


@gate(oracle="""
            SELECT event_type, count(*) AS n_rows,
                   min(value) AS min_value, max(value) AS max_value,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                     AS sum_value,
                   {avg} AS avg_value
            FROM events GROUP BY event_type
        """.format(
            avg=_r6(
                "CAST(sum(CAST(value AS DECIMAL(38,6))) * 1000000"
                " AS DECIMAL(38,0))",
                "count(*) * 1000000",
            )
        ))
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/rollup.py): the
    per-type rollup computed as merge(agg(history), agg(new batch)) —
    cost ∝ batch + state, history never rescanned. The oracle is the
    ONE-SHOT full rollup, so the driver row proves the merge algebra
    (merge(agg(A), agg(B)) == agg(A ∪ B)) on real data; decimal sums
    make the proof exact, not approximate."""
    from tmdataloader_spark.operators.rollup import (
        merge_rollups,
        rollup_report,
        rollup_state,
    )

    ev = _t(spark, sf_dir, "events")
    history = ev.filter(F.col("event_id") % 5 != 4)
    batch = ev.filter(F.col("event_id") % 5 == 4)
    state = merge_rollups(
        rollup_state(history, ["event_type"]),
        rollup_state(batch, ["event_type"]),
        ["event_type"],
    )
    return rollup_report(state)


@gate(oracle="""
            WITH nrow AS (SELECT count(*) AS n FROM documents),
            pos AS (
              SELECT doc_id AS query_id, doc_id + 1 AS pos_id
              FROM documents WHERE doc_id % 10 = 0
            ),
            draws AS (
              SELECT query_id, pos_id,
                     (('0x' || left(md5('negsample:'
                         || CAST(query_id AS VARCHAR) || ':'
                         || CAST(pos_id AS VARCHAR) || ':'
                         || CAST(i AS VARCHAR)), 8))::BIGINT % n) AS neg_id
              FROM pos CROSS JOIN nrow CROSS JOIN range(0, 4) t(i)
            )
            SELECT DISTINCT query_id, pos_id, neg_id FROM draws
            WHERE neg_id <> pos_id
              AND neg_id IN (SELECT doc_id FROM documents)
        """)
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform negative sampling for training pairs
    (llmdata/sampling.py negative_samples): md5-derived draws mapped
    onto the dense corpus index — no rand(), reproducible per pair;
    bounded ×k explode + one semi-join, corpus never shuffled by pair
    count. Positives here: every 10th doc paired with its successor."""
    from tmdataloader_spark.llmdata.sampling import negative_samples

    d = _t(spark, sf_dir, "documents")
    pos = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("query_id"),
        (F.col("doc_id") + 1).alias("pos_id"),
    )
    return negative_samples(pos, d, k=4, query_col="query_id",
                            pos_col="pos_id")


@gate(oracle=ks_test_oracle_sql(
    "documents",
    "(SELECT * FROM documents WHERE doc_id % 3 <> 0)",
    "n_chars",
))
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic on document length, current
    corpus vs a reference generation (statistic/stattests.py ks_test)
    — the NUMERIC drift probe next to mixture_drift's categorical KL.
    Integer numerator (max |C_a·n_b − C_b·n_a|), one double division
    at the end; cumulative counts via the packing.py two-phase prefix
    sum over ORDER-PRESERVING floor buckets — no global single-task
    window."""
    from tmdataloader_spark.statistic.stattests import ks_test

    d = _t(spark, sf_dir, "documents")
    return ks_test(d, d.filter(F.col("doc_id") % 3 != 0), "n_chars")


@gate(oracle=chi_square_oracle_sql("documents", "lang", "source"))
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of language × source (statistic/
    stattests.py chi_square): cell counts + margins as tiny keyed aggs
    with broadcast joins; per-cell (o−e)²/e 6dp-quantized to decimal
    BEFORE the cross-cell sum (exact, order-free — the sessionize
    lesson applied to a statistic)."""
    from tmdataloader_spark.statistic.stattests import chi_square

    return chi_square(_t(spark, sf_dir, "documents"), "lang", "source")


@gate(oracle="""
            WITH lagged AS (
              SELECT event_id, user_id, event_type, ts,
                     lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_us
              FROM events
            )
            SELECT 'debounce' AS rule, event_id, user_id, event_type,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_time
            FROM lagged
            WHERE prev_us IS NULL OR epoch_us(ts) - prev_us > 600000000
            UNION ALL
            SELECT 'throttle' AS rule, event_id, user_id, event_type,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_time
            FROM (
              SELECT event_id, user_id, event_type, ts,
                     row_number() OVER (
                       PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts, event_id) AS rn
              FROM events
            ) WHERE rn <= 3
        """)
def q_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged rate-limiting gate (r12 capacity plan — the former
    `debounce` + `throttle` gates, one slot): both operators share the
    one-window-per-key shape over the same event scan, so one gate
    exercises both.  `rule` tags which operator kept the row:
    debounce = drop an event when the same (user, type) fired within
    the last 10 minutes (lag window, integer-microsecond gap math);
    throttle = deterministic first-3-per-(user, hour) via one
    row_number window — the hot-entity tamer."""
    from tmdataloader_spark.operators.eventflow import debounce, throttle

    ev = _t(spark, sf_dir, "events")
    proj = [
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_time"),
    ]
    deb = debounce(ev, ["user_id", "event_type"], gap_seconds=600).select(
        F.lit("debounce").alias("rule"), *proj
    )
    thr = throttle(ev, ["user_id"], per_hour=3).select(
        F.lit("throttle").alias("rule"), *proj
    )
    return deb.unionByName(thr)


@gate(oracle="""
            WITH pairs AS (
              SELECT DISTINCT date_trunc('hour', ts) AS b, user_id AS e
              FROM events
            ),
            anchors AS (SELECT DISTINCT b AS w FROM pairs),
            contrib AS (
              SELECT b + to_hours(i) AS w, e
              FROM pairs CROSS JOIN range(0, 3) t(i)
            )
            SELECT strftime(c.w, '%Y-%m-%d %H:%M:%S') AS window_end,
                   count(DISTINCT c.e) AS n_distinct
            FROM contrib c JOIN anchors a ON c.w = a.w
            GROUP BY c.w
        """)
def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-3h distinct users per hour (operators/
    eventflow.py sliding_distinct): distinct (hour,user) pairs fan out
    to the ≤3 windows they serve — pair-sized explode, ONE scan of the
    log, no per-window recount. Distincts don't add; this is the shape
    that computes them exactly anyway."""
    from tmdataloader_spark.operators.eventflow import sliding_distinct

    ev = _t(spark, sf_dir, "events")
    return sliding_distinct(ev, "user_id", window_hours=3).select(
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "n_distinct",
    )


@gate(oracle="""
            WITH cuts AS (
              SELECT event_type,
                     round(quantile_cont(value, 0.05), 6) AS lo_cut,
                     round(quantile_cont(value, 0.95), 6) AS hi_cut
              FROM events GROUP BY event_type
            )
            SELECT e.event_id, e.event_type, e.value,
                   round(least(greatest(e.value, c.lo_cut), c.hi_cut), 6)
                     AS winsorized,
                   (e.value < c.lo_cut OR e.value > c.hi_cut) AS was_clipped
            FROM events e JOIN cuts c USING (event_type)
        """)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type percentile winsorization (statistic/profile.py
    winsorize): one sort-based percentile agg per group (both cuts in
    one pass) broadcast back, codegen clamp. Cuts round to 6dp BEFORE
    the clamp so the boundary is the engine-agreed quantity — no raw
    float comparison survives to the output."""
    from tmdataloader_spark.statistic.profile import winsorize

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return winsorize(ev, "value", "event_type", lo=0.05, hi=0.95)


@gate(oracle=grouped_linear_fit_oracle_sql(
    "events",
    "epoch_us(ts) // 1000000 - 1704067200",
    "value",
    "event_type",
))
def q_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of event value over time (statistic/
    regression.py grouped_linear_fit): regr_slope/intercept/corr as ONE
    map-side-combined aggregate of integer-exact moments (x = epoch
    seconds since 2024-01-01, y floor-quantized to 6dp, decimal(38,0)
    sums) with the double closed form mirrored verbatim by the oracle —
    the algebraic-aggregate shape that never re-shuffles at 100 TB."""
    from tmdataloader_spark.statistic.regression import grouped_linear_fit

    ev = _t(spark, sf_dir, "events")
    x = F.expr("unix_micros(ts) div 1000000 - 1704067200")
    return grouped_linear_fit(ev, x, "value", "event_type")


@gate(oracle="""
            WITH agg AS (
              SELECT event_type AS key, date_trunc('hour', ts) AS bucket,
                     count(*) AS n_events,
                     CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                       AS sum_value
              FROM events GROUP BY 1, 2
            ),
            span AS (
              SELECT key, min(bucket) AS lo, max(bucket) AS hi
              FROM agg GROUP BY key
            ),
            grid AS (
              SELECT key,
                     unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
              FROM span
            )
            SELECT g.key AS event_type,
                   strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
                   coalesce(a.n_events, 0) AS n_events,
                   a.sum_value,
                   last_value(a.sum_value IGNORE NULLS) OVER (
                     PARTITION BY g.key ORDER BY g.bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS carried_value,
                   a.n_events IS NULL AS is_gap
            FROM grid g
            LEFT JOIN agg a ON g.key = a.key AND g.bucket = a.bucket
        """)
def q_resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample per event type (operators/
    timeseries.py resample_fill): dense grid from the key-sized span
    table (sequence+explode — grid rows, never event rows), observed
    aggregate decimal-exact, carry-forward via one last(ignorenulls)
    window per key. Empty hours surface with is_gap=true instead of
    silently vanishing."""
    from tmdataloader_spark.operators.timeseries import resample_fill

    r = resample_fill(_t(spark, sf_dir, "events"), "event_type")
    return r.select(
        F.col("key").alias("event_type"),
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "n_events",
        "sum_value",
        "carried_value",
        "is_gap",
    )


@gate(oracle="""
            WITH c AS (
              SELECT event_type AS value, count(*) AS n
              FROM events GROUP BY event_type
            ),
            t AS (SELECT count(*) AS total FROM events)
            SELECT value, n, {r6} AS share
            FROM c, t WHERE n >= total * 0.05
        """.format(r6=_r6("CAST(n AS DECIMAL(38,0))", "total")))
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (statistic/profile.py heavy_hitters): event
    types carrying ≥5% of the log — the hot-key probe that feeds the
    salting decision (operators/skew.py). One map-side-combined count
    per distinct value + a broadcast one-row total; the exact form IS
    the scale shape (see docstring for the sketch trade-off)."""
    from tmdataloader_spark.statistic.profile import heavy_hitters

    return heavy_hitters(_t(spark, sf_dir, "events"), "event_type", 0.05)


@gate(oracle="""
            WITH s AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(substr(text, 1, 64)),
                                         '\\s+', ' ', 'g')) AS t
              FROM documents
            ),
            s2 AS (
              SELECT doc_id, t, substr(t, 1, 8) AS p, length(t) AS l FROM s
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   levenshtein(a.t, b.t) AS dist
            FROM s2 a JOIN s2 b
              ON a.p = b.p AND a.doc_id < b.doc_id AND abs(a.l - b.l) <= 3
            WHERE levenshtein(a.t, b.t) <= 3
        """)
def q_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-dup pairs (llmdata/fuzzy.py): the
    typo-class duplicates exact-hash and shingle-Jaccard both miss on
    short strings. Canonicalized 64-char titles, prefix-8 + length-band
    blocking (one equi-join shuffle, lossless within a block), exact
    JVM levenshtein on blocked candidates only — never all-pairs."""
    from tmdataloader_spark.llmdata.fuzzy import fuzzy_dup_pairs

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 64).alias("title")
    )
    return fuzzy_dup_pairs(
        d, id_col="doc_id", text_col="title", max_dist=3, prefix_len=8
    )


@gate(oracle=r"""
            WITH c AS (
              SELECT c_custkey AS line_no,
                     CAST(c_nationkey AS VARCHAR) AS fid,
                     CASE WHEN c_custkey % 97 = 0 THEN '0'
                          ELSE 'P' || CAST(c_custkey AS VARCHAR) END AS iid_raw,
                     CAST(c_custkey % 4 AS VARCHAR) AS sex,
                     c_custkey % 89 = 0 AS short_line
              FROM customer
            ),
            lines AS (
              SELECT line_no,
                     CASE WHEN short_line
                          THEN fid || ' ' || iid_raw || ' 0 0 ' || sex
                          ELSE fid || ' ' || iid_raw || ' 0 0 ' || sex || ' -9'
                     END AS line
              FROM c
            ),
            t AS (
              SELECT line_no,
                     regexp_split_to_array(trim(line), '\s+') AS toks
              FROM lines WHERE trim(line) <> ''
            )
            SELECT line_no,
                   CASE WHEN len(toks) = 6 THEN toks[2] END AS iid,
                   CASE WHEN len(toks) <> 6 THEN
                          'Invalid columns count: expected 6, but was '
                          || CAST(len(toks) AS VARCHAR)
                        WHEN toks[2] = '0' THEN 'Invalid IID, cannot be ''0'''
                        WHEN toks[5] NOT IN ('0','1','2') THEN
                          'Invalid sex value. Expected ''1'' = male, ''2'' = female, '
                          || '''0'' = unknown, but was ''' || toks[5] || ''''
                   END AS error
            FROM t
        """)
def q_plink_fam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: PLINK .fam manifest validation as per-line verdicts
    (GWASPlinkDataProcessor.groovy:24-49 via plans/gwas.py
    validate_fam_lines) — synthetic fam lines from customer keys
    carry deterministic violations of each rule: a 5-column line
    (custkey % 89), an IID of '0' (custkey % 97), and sex values in
    0..3 where 3 is invalid (custkey % 4). Pure codegen split/
    element_at — no shuffle."""
    from tmdataloader_spark.plans.gwas import validate_fam_lines

    c = _t(spark, sf_dir, "customer")
    iid = F.when((F.col("c_custkey") % 97) == 0, F.lit("0")).otherwise(
        F.concat(F.lit("P"), F.col("c_custkey").cast("string"))
    )
    sex = (F.col("c_custkey") % 4).cast("string")
    line = F.when(
        (F.col("c_custkey") % 89) == 0,
        F.concat_ws(
            " ", F.col("c_nationkey").cast("string"), iid, F.lit("0"), F.lit("0"), sex
        ),
    ).otherwise(
        F.concat_ws(
            " ",
            F.col("c_nationkey").cast("string"),
            iid,
            F.lit("0"),
            F.lit("0"),
            sex,
            F.lit("-9"),
        )
    )
    lines = c.select(F.col("c_custkey").alias("line_no"), line.alias("line"))
    return validate_fam_lines(lines)


@gate(oracle="""
            WITH summary AS (
              SELECT CASE WHEN l_orderkey % 13 = 0
                          THEN 'X' || CAST(l_suppkey AS VARCHAR)
                          ELSE 'S' || CAST(l_suppkey AS VARCHAR) END AS subject_id
              FROM lineitem
            ),
            mapping AS (
              SELECT 'S' || CAST(s_suppkey AS VARCHAR) AS sample_cd,
                     CAST(s_suppkey + 100000 AS BIGINT) AS assay_id
              FROM supplier
            )
            SELECT s.subject_id, m.assay_id,
                   CAST(count(*) AS BIGINT) AS n_variants
            FROM summary s LEFT JOIN mapping m ON m.sample_cd = s.subject_id
            GROUP BY s.subject_id, m.assay_id
        """)
def q_vcf_assay_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: VCF variant-summary → assay linkage
    (I2B2_PROCESS_VCF_DATA.sql:76-85 via sources/vcf.py link_assays)
    — the de_subject_sample_mapping dimension (from supplier) is
    BROADCAST into a left join on sample_cd = subject_id; rows whose
    subject never appears in the mapping (every 13th order) keep a
    NULL assay_id, the reference's unlinked-variant condition."""
    from tmdataloader_spark.sources.vcf import link_assays

    li = _t(spark, sf_dir, "lineitem")
    summary = li.select(
        F.when(
            (F.col("l_orderkey") % 13) == 0,
            F.concat(F.lit("X"), F.col("l_suppkey").cast("string")),
        )
        .otherwise(F.concat(F.lit("S"), F.col("l_suppkey").cast("string")))
        .alias("subject_id"),
    )
    s = _t(spark, sf_dir, "supplier")
    mapping = s.select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("sample_cd"),
        (F.col("s_suppkey") + 100000).cast("long").alias("assay_id"),
    )
    return (
        link_assays(summary, mapping)
        .groupBy("subject_id", "assay_id")
        .agg(F.count("*").cast("long").alias("n_variants"))
    )


@gate(oracle=_PATH_CTE + r""",
            i2b2 AS (
              SELECT path AS c_fullname, CAST(hlevel AS INT) AS c_hlevel,
                     name AS c_name, substr(sha256(path), 1, 16) AS c_basecode,
                     'FA' AS c_visualattributes
              FROM nodes
            ),
            facts AS (
              SELECT substr(sha256(path), 1, 16) AS concept_cd, patient_num
              FROM leafcust
            ),
            newp AS (
              SELECT * FROM (VALUES
                ('\ASIA\CHINA\BUILDING\', 'BUILDING'),
                ('\ASIA\CHINA\NEW FOLDER\', 'NEW FOLDER')) t(p, nm)
            ),
            doomed AS (
              SELECT c_basecode AS concept_cd FROM i2b2
              WHERE c_fullname IN (SELECT p FROM newp)
            ),
            facts2 AS (
              SELECT * FROM facts
              WHERE concept_cd NOT IN (SELECT concept_cd FROM doomed)
            ),
            i2b2_new AS (
              SELECT * FROM i2b2 WHERE c_fullname NOT IN (SELECT p FROM newp)
              UNION ALL
              SELECT p,
                     CAST(length(p) - length(replace(p, '\', '')) - 2 AS INT),
                     nm, substr(sha256(p), 1, 16), 'FA'
              FROM newp
            ),
            pc AS (
              SELECT concept_cd, CAST(count(*) AS BIGINT) AS n_facts
              FROM facts2 GROUP BY concept_cd
            )
            SELECT i.c_fullname, i.c_hlevel, i.c_name, i.c_basecode,
                   i.c_visualattributes,
                   CAST(COALESCE(pc.n_facts, 0) AS BIGINT) AS n_facts
            FROM i2b2_new i LEFT JOIN pc ON pc.concept_cd = i.c_basecode
        """)
def q_add_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""T4: idempotent node insert (I2B2_ADD_NODES.sql:41-100 via
    operators/tree.py add_nodes) — one path that already exists as a
    leaf with facts (\ASIA\CHINA\BUILDING\: its concept rows and
    facts are deleted first, then re-inserted as a folder) and one
    genuinely new folder. Output: the rewritten i2b2 with each
    node's surviving fact count — proves the delete-then-reinsert
    AND the fact anti-join in one frame. sha2-derived basecodes
    match DuckDB's sha256 byte-for-byte."""
    from tmdataloader_spark.operators.tree import add_nodes, fill_in_tree

    paths = _paths(spark, sf_dir)
    nodes = fill_in_tree(paths.select("path"))
    basecode = F.sha2(F.col("path"), 256).substr(1, 16)
    i2b2 = nodes.select(
        F.col("path").alias("c_fullname"),
        F.col("hlevel").cast("int").alias("c_hlevel"),
        F.col("name").alias("c_name"),
        basecode.alias("c_basecode"),
        F.lit("FA").alias("c_visualattributes"),
        F.lit("GSE0").alias("sourcesystem_cd"),
    )
    concept_dim = i2b2.select(
        F.col("c_fullname").alias("concept_path"),
        F.col("c_basecode").alias("concept_cd"),
        F.col("c_name").alias("name_char"),
        "sourcesystem_cd",
    )
    facts = paths.select(
        F.sha2(F.col("path"), 256).substr(1, 16).alias("concept_cd"),
        "patient_num",
        F.lit("GSE0").alias("sourcesystem_cd"),
    )
    new_paths = ["\\ASIA\\CHINA\\BUILDING\\", "\\ASIA\\CHINA\\NEW FOLDER\\"]
    i2b2_new, _cd, facts_new = add_nodes(i2b2, concept_dim, facts, new_paths, "GSE0")
    # concept-cardinality-sized after the agg — broadcast, never SMJ
    per_concept = F.broadcast(
        facts_new.groupBy("concept_cd").agg(
            F.count("*").cast("long").alias("n_facts")
        )
    )
    return (
        i2b2_new.join(
            per_concept, i2b2_new.c_basecode == per_concept.concept_cd, "left"
        )
        .select(
            "c_fullname",
            F.col("c_hlevel").cast("int").alias("c_hlevel"),
            "c_name",
            "c_basecode",
            "c_visualattributes",
            F.coalesce("n_facts", F.lit(0)).cast("long").alias("n_facts"),
        )
    )


@gate(oracle=r"""
            WITH tokens AS (
              SELECT 'GSE1' AS sourcesystem_cd, 'EXP:GSE1' AS secure_obj_token
              WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderkey % 3 = 1)
              UNION ALL
              SELECT 'GSE2', 'EXP:PUBLIC'
              WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderkey % 3 = 2)
            ),
            i2b2 AS (
              SELECT '\' || n_name || '\' AS c_fullname,
                     'GSE' || CAST(n_nationkey % 4 AS VARCHAR) AS sourcesystem_cd
              FROM nation
            )
            SELECT i.c_fullname, i.sourcesystem_cd,
                   COALESCE(t.secure_obj_token, 'EXP:PUBLIC') AS secure_obj_token
            FROM i2b2 i LEFT JOIN tokens t USING (sourcesystem_cd)
        """)
def q_security_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""T10: security-token assembly — create_security_for_trial
    (i2b2_create_security_for_trial, called at
    I2B2_LOAD_CLINICAL_DATA.sql:1526) appends one SECURITY fact per
    patient of the trial (EXP:<trial> when secure, EXP:PUBLIC
    otherwise), then load_security_data
    (I2B2_LOAD_SECURITY_DATA.sql:80-98) broadcast-joins those tokens
    onto i2b2 with an EXP:PUBLIC default for studies that never got
    one (GSE0/GSE3 here)."""
    from tmdataloader_spark.operators.tree import (
        create_security_for_trial,
        load_security_data,
    )

    o = _t(spark, sf_dir, "orders")
    facts = o.select(
        F.col("o_custkey").alias("patient_num"),
        F.lit("ORD").alias("concept_cd"),
        F.lit(None).cast("string").alias("modifier_cd"),
        F.lit(None).cast("string").alias("valtype_cd"),
        F.lit(None).cast("string").alias("tval_char"),
        F.lit(None).cast("double").alias("nval_num"),
        F.concat(F.lit("GSE"), (F.col("o_orderkey") % 3).cast("string")).alias(
            "sourcesystem_cd"
        ),
    )
    facts = create_security_for_trial(facts, "GSE1", secure=True)
    facts = create_security_for_trial(facts, "GSE2", secure=False)
    n = _t(spark, sf_dir, "nation")
    i2b2 = n.select(
        F.concat(F.lit("\\"), F.col("n_name"), F.lit("\\")).alias("c_fullname"),
        F.concat(F.lit("GSE"), (F.col("n_nationkey") % 4).cast("string")).alias(
            "sourcesystem_cd"
        ),
    )
    return load_security_data(i2b2, facts).select(
        "c_fullname", "sourcesystem_cd", "secure_obj_token"
    )


@gate(oracle="""
            WITH incoming AS (
              SELECT DISTINCT 'SNP_' || CAST(l_partkey AS VARCHAR) AS snp_name,
                     CASE WHEN l_linenumber % 7 != 0 THEN l_suppkey END AS entrez_gene_id
              FROM lineitem
            ), existing AS (
              SELECT 'SNP_' || CAST(p_partkey AS VARCHAR) AS snp_name
              FROM part WHERE p_partkey % 3 = 0
            )
            SELECT snp_name, entrez_gene_id FROM incoming i
            WHERE entrez_gene_id IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM existing e WHERE e.snp_name = i.snp_name)
        """)
def q_snp_gene_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 (SNPDataProcessor.groovy:252-260 via plans/snp.py
    snp_gene_map_novelty): only (snp_name, entrez_gene_id) pairs not
    already in de_snp_gene_map are inserted — distinct + NULL-gene
    filter + left-anti vs the existing map. Incoming synthesized from
    lineitem (every 7th line has no gene id), existing map from every
    3rd part."""
    from tmdataloader_spark.plans.snp import snp_gene_map_novelty

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    incoming = li.select(
        F.concat(F.lit("SNP_"), F.col("l_partkey").cast("string")).alias("snp_name"),
        F.when(F.col("l_linenumber") % 7 != 0, F.col("l_suppkey")).alias(
            "entrez_gene_id"
        ),
    )
    existing = p.filter(F.col("p_partkey") % 3 == 0).select(
        F.concat(F.lit("SNP_"), F.col("p_partkey").cast("string")).alias("snp_name")
    )
    return snp_gene_map_novelty(incoming, existing)


@gate(oracle=_PATH_CTE + r"""
            , va AS (
              SELECT a.path, any_value(a.name) AS name,
                     CASE WHEN count(*) <= 1 THEN 'L' ELSE 'F' END AS c1
              FROM closure c JOIN nodes a ON c.ancestor_path = a.path
              GROUP BY a.path
            ), i2b2 AS (
              SELECT path AS c_fullname, name,
                     c1 || (CASE WHEN c1 = 'L' AND starts_with(name, 'B')
                                 THEN 'H' ELSE 'A' END) AS c_visualattributes
              FROM va
            ), s2 AS (  -- delete_subtree(\AMERICA\) then prune_hidden(\ASIA\)
              SELECT * FROM i2b2
              WHERE NOT starts_with(c_fullname, '\AMERICA\')
                AND NOT (starts_with(c_fullname, '\ASIA\')
                         AND substr(c_visualattributes, 2, 1) = 'H')
            ), keep AS (
              SELECT DISTINCT c_fullname FROM s2
              WHERE starts_with(c_fullname, '\EUROPE\')
                AND starts_with(c_visualattributes, 'L')
                AND name IN ('MACHINERY', 'FURNITURE')
            )
            SELECT c_fullname, c_visualattributes FROM s2
            WHERE NOT (starts_with(c_fullname, '\EUROPE\')
                       AND starts_with(c_visualattributes, 'L')
                       AND c_fullname NOT IN (SELECT c_fullname FROM keep))
        """)
def q_prune_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""T6/T7: the three node-removal operators chained on one tree —
    delete_subtree (I2B2_DELETE_1_NODE.sql: drop \AMERICA\ and
    everything under it), prune_hidden_nodes
    (I2B2_LOAD_CLINICAL_DATA.sql:64-70,1513-1524: hidden 'xH' nodes
    deleted, scoped under \ASIA\ — hidden leaves elsewhere must
    survive), and prune_unused_leaves
    (I2B2_LOAD_CLINICAL_DATA.sql:78-92,936-947: \EUROPE\ leaves not in
    the reload's keep-set deleted). Hidden flag synthesized
    deterministically: leaves named B* get 'LH'."""
    from tmdataloader_spark.operators.tree import (
        delete_subtree,
        fill_in_tree,
        prune_hidden_nodes,
        prune_unused_leaves,
        visual_attributes,
    )

    nodes = fill_in_tree(_paths(spark, sf_dir).select("path"))
    attrs = visual_attributes(nodes, "path")
    hide = F.col("c_visualattributes").startswith("L") & F.col("name").startswith("B")
    i2b2 = attrs.select(
        F.col("path").alias("c_fullname"),
        "name",
        F.concat(
            F.substring("c_visualattributes", 1, 1),
            F.when(hide, F.lit("H")).otherwise(F.lit("A")),
        ).alias("c_visualattributes"),
    )
    s1 = delete_subtree(i2b2, "\\AMERICA\\", path_col="c_fullname")
    # s2 feeds BOTH the keep-set and the final anti-join — collapse the
    # shared closure subplan (multi-consumer lazy-plan blowup, r7/r8
    # pattern) instead of recomputing it per consumer
    s2 = prune_hidden_nodes(s1, "\\ASIA\\").localCheckpoint(eager=False)
    keep = s2.filter(
        F.col("c_fullname").startswith("\\EUROPE\\")
        & F.col("c_visualattributes").startswith("L")
        & F.col("name").isin("MACHINERY", "FURNITURE")
    ).select(F.col("c_fullname").alias("leaf_node"))
    s3 = prune_unused_leaves(s2, keep, "\\EUROPE\\")
    return s3.select("c_fullname", "c_visualattributes")


@gate(oracle="""
            SELECT * FROM (
              SELECT 1 AS job_id, 1 AS seq_id, 'LOAD_TPCH' AS "procedure",
                     'load region' AS step_desc,
                     (SELECT CAST(count(*) AS INT) FROM region) AS records,
                     'Done' AS status
              UNION ALL SELECT 1, 2, 'LOAD_TPCH', 'load nation',
                     (SELECT CAST(count(*) AS INT) FROM nation), 'Done'
              UNION ALL SELECT 1, 3, 'LOAD_TPCH', 'load customer',
                     (SELECT CAST(count(*) AS INT) FROM customer), 'Done'
              UNION ALL SELECT 1, 4, 'LOAD_TPCH', 'load orders',
                     (SELECT CAST(count(*) AS INT) FROM orders), 'Done'
              UNION ALL SELECT 1, 5, 'LOAD_TPCH', 'rollback step', 0, 'ERROR'
              UNION ALL SELECT 2, 1, 'RELOAD', 'noop', 0, 'Done'
            ) ORDER BY job_id, seq_id
        """)
def q_audit_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (AUDIT_FUNCTIONS.sql cz_write_audit:58, polled by
    AuditableJobRunner.groovy:62,93 via audit.py): per-job
    monotonically numbered audit steps with per-step rowcounts, the
    replay query being ORDER BY (job_id, seq_id). Steps record the
    driver-side orchestration of a 4-table load (rowcounts are
    data-derived, SQL%ROWCOUNT-style) plus an error step and a second
    job proving seq numbering restarts per job."""
    from tmdataloader_spark.audit import AuditLog

    log = AuditLog()
    job = log.start_job("LOAD_TPCH")
    for tbl in ("region", "nation", "customer", "orders"):
        log.step(job, f"load {tbl}", records=_t(spark, sf_dir, tbl).count())
    log.error(job, "rollback step")
    log.end_job(job, "FAIL")
    job2 = log.start_job("RELOAD")
    log.step(job2, "noop")
    log.end_job(job2)
    return log.job_audit(spark).orderBy("job_id", "seq_id")


# replays epoch_shuffle's md5 key + mod-8 shard and the b=9
# HLL register/estimate arithmetic (operators/cardinality.py)
# digit for digit: 60-bit hash = first 15 md5 hex chars,
# rank = 52 - bit_length(h >> 9), Z = Σ 2^(52-rank) exact
# integer, linear-counting branch when E <= 2.5m with empty
# buckets; the float numerator literal is the same Python
# double Spark inlines (repr round-trips)
@gate(oracle="""
            WITH keyed AS (
              SELECT md5('ep:0:' || CAST(event_id AS VARCHAR)) AS shuffle_key
              FROM events
            ),
            sharded AS (
              SELECT shuffle_key,
                     ('0x' || substr(shuffle_key, 1, 15))::BIGINT % 8 AS shard
              FROM keyed
            ),
            shard_rows AS (
              SELECT 'epoch_shard' AS kind,
                     CAST(shard AS VARCHAR) AS key,
                     count(*) AS n,
                     min(shuffle_key) AS lo_key,
                     max(shuffle_key) AS hi_key,
                     CAST(NULL AS DOUBLE) AS est_distinct
              FROM sharded GROUP BY shard
            ),
            hashed AS (
              SELECT event_type,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                       AS h
              FROM events WHERE user_id IS NOT NULL
            ),
            regs AS (
              SELECT event_type AS key, h % 512 AS bucket,
                     max(CASE WHEN h // 512 = 0 THEN 52
                         ELSE 52 - length(ltrim(bin(h // 512), '0')) END) AS rank
              FROM hashed GROUP BY key, bucket
            ),
            per_key AS (
              SELECT key,
                     SUM(CAST(1 AS BIGINT) << CAST(52 - rank AS INT))::BIGINT
                       + (512 - count(*)) * (CAST(1 AS BIGINT) << 52) AS z_int,
                     512 - count(*) AS zeros
              FROM regs GROUP BY key
            ),
            hll_rows AS (
              SELECT 'hll' AS kind, key,
                     CAST(NULL AS BIGINT) AS n,
                     CAST(NULL AS VARCHAR) AS lo_key,
                     CAST(NULL AS VARCHAR) AS hi_key,
                     round(CASE WHEN 8.497699123215257e+20 / CAST(z_int AS DOUBLE)
                                     <= 1280.0 AND zeros > 0
                           THEN 512.0 * ln(512.0 / CAST(zeros AS DOUBLE))
                           ELSE 8.497699123215257e+20 / CAST(z_int AS DOUBLE)
                           END, 6) AS est_distinct
              FROM per_key
            )
            SELECT * FROM shard_rows UNION ALL SELECT * FROM hll_rows
        """)
def q_epoch_shuffle_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged gate (r14 debut — closes the last oracle-coverage hole
    from the r13 VERDICT): the deterministic epoch shuffle
    (llmdata/layout.epoch_shuffle) and the HLL cardinality family
    (operators/cardinality.hll_registers/hll_estimate) in one frame,
    both previously pytest-only.

    `kind`='epoch_shard' rows pin the shuffle: per shard (md5 60-bit
    hash mod 8 — hash sharding, partitioning-independent), the row
    count and the min/max shuffle_key — any single row's key or shard
    flipping moves a count or an extremum, so the md5 derivation and
    the mod-8 assignment are both oracle-checked end to end.
    `kind`='hll' rows pin the sketch: per event_type, the b=9
    register estimate of distinct user_id — the harmonic sum is an
    exact integer (Z = Σ 2^(w+1−rank)); only the final division/ln
    are float, 6dp-rounded for the cross-engine compare.  The DuckDB
    oracle replays the identical md5/shift/bin-length arithmetic."""
    from tmdataloader_spark.llmdata.layout import epoch_shuffle
    from tmdataloader_spark.operators.cardinality import hll_cardinality

    ev = _t(spark, sf_dir, "events")
    shuffled = epoch_shuffle(
        ev.select("event_id"), id_col="event_id", seed=0, n_shards=8
    )
    shards = shuffled.groupBy("shard").agg(
        F.count("*").alias("n"),
        F.min("shuffle_key").alias("lo_key"),
        F.max("shuffle_key").alias("hi_key"),
    ).select(
        F.lit("epoch_shard").alias("kind"),
        F.col("shard").cast("string").alias("key"),
        "n",
        "lo_key",
        "hi_key",
        F.lit(None).cast("double").alias("est_distinct"),
    )
    hll = hll_cardinality(ev, "event_type", "user_id").select(
        F.lit("hll").alias("kind"),
        "key",
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("string").alias("lo_key"),
        F.lit(None).cast("string").alias("hi_key"),
        F.round("est_distinct", 6).alias("est_distinct"),
    )
    return shards.unionByName(hll)


