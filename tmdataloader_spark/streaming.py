"""Structured Streaming surface (extension — SURVEY.md §2.10 notes the
reference is batch-only, so this is additive, kept out of the
correctness gate).

For a training-data pipeline the same rollups/quality scores run over
a document/event FEED: ``readStream`` on a landing directory →
watermarked windowed aggregation → ``writeStream``. Batch twins of
these transformations are gate queries (``event_rollup``,
``text_quality``), so streaming results can be reconciled against a
batch backfill — the standard lambda-check."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def _micro_q(v: float) -> int | None:
    """Micro-unit quantization with the EXACT semantics of the batch
    twins' ``CAST(value AS DECIMAL(38,6))``: Spark's double→decimal
    cast parses the double's shortest decimal representation
    (``Double.toString``, same digits as Python ``repr``) and
    HALF_UPs that — a DECIMAL-domain operation.  Neither Python's
    builtin ``round()`` (half-to-even) nor ``floor(v*1e6 + 0.5)``
    matches it: the latter rounds the BINARY product, which disagrees
    on ordinary values whose 7th decimal digit is 5 (e.g.
    ``64.0000645`` → 64000064 via the binary product but 64000065 via
    the decimal cast — r8 ADVICE, 148 mismatches in a small scan),
    breaking the documented bit-for-bit stream-vs-batch sum_value
    reconciliation by 1 micro-unit per affected row.

    Overflow mirrors the cast too (r9 ADVICE): |v| ≥ 1e32 does not fit
    decimal(38,6), where Spark (ANSI off) yields NULL and the batch
    SUM skips the row — so this returns ``None`` instead of raising
    (the default 28-digit Decimal context would otherwise blow up at
    |v| ≥ 1e22).  NaN/±inf likewise cast to NULL.  Callers treat
    ``None`` as a zero contribution to the running sum while still
    counting the row, matching SUM(cast)-plus-COUNT(*) exactly."""
    import decimal as _d
    import math

    fv = float(v)
    if math.isnan(fv) or math.isinf(fv) or abs(fv) >= 1e32:
        return None
    with _d.localcontext() as ctx:
        ctx.prec = 60  # 32 integer digits + 6 fraction + slack
        return int(
            Decimal(repr(fv))
            .quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            .scaleb(6)
        )


def read_event_stream(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """File-source event stream: each new parquet dropped in ``path``
    is one micro-batch (at scale: maxFilesPerTrigger bounds batch
    size; the same code reads Kafka by swapping the source)."""
    schema = schema or "event_id long, user_id long, event_type string, ts timestamp, value double"
    return spark.readStream.schema(schema).parquet(path)


def windowed_event_rollup(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window rollup with late-data watermark — the streaming
    twin of the gate's batch ``event_rollup``. State is bounded by the
    watermark: windows older than (max event time − watermark) are
    finalized and dropped from the state store."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # Sum in exact decimal(38,6) so the result is independent of
            # partial-aggregation order (float addition is not associative;
            # see sessionize_batch for the full rationale), then surface
            # the contract's double.
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize_batch(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gap-based sessionization, batch form: consecutive events of one
    user belong to one session while the inter-event gap stays ≤
    ``gap_seconds``; a larger gap opens a new session.

    Plan shape: one shuffle on ``user_id`` serves both the lag window
    and the running-sum window and the final per-session aggregate —
    Spark reuses the exchange, so at 100 TB this is a single
    hash-partition of the event log, no driver state.  Gap arithmetic
    is integer microseconds (``unix_micros``) so an engine reading the
    same micros-truncated timestamps reproduces it exactly.

    Determinism: ``sum_value`` aggregates ``value`` cast to
    ``decimal(38,6)`` — exact scaled-integer arithmetic — so the result
    is bit-identical regardless of partition count or partial-agg
    order.  A raw double ``F.sum`` is order-sensitive (float addition
    is not associative) and rounding the final sum to 6dp does NOT
    remove boundary flips, which is exactly what the oracle check
    caught at sf0.01."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    new_session = F.when(
        prev.isNull() | ((us - prev) > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        events.withColumn("_new", new_session)
        .withColumn("session_seq", F.sum("_new").over(run))
        .groupBy("user_id", "session_seq")
        .agg(
            F.date_format(F.min("ts"), fmt).alias("session_start"),
            F.date_format(F.max("ts"), fmt).alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
    )


# Arrow-side schemas for the stateful operator (kept module-level so the
# batch twin's column contract is visibly identical).
_SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_seq long, session_start string, "
    "session_end string, n_events long, sum_value double"
)
# state: ordinal of the open session, its start/last-event micros,
# running count and the value sum in exact micro-units (_micro_q(v)
# accumulated as an integer — the same per-value 6dp quantization the
# batch twin's decimal(38,6) sum applies, so stream and batch agree
# bit-for-bit, not merely to rounding).
_SESSION_STATE_SCHEMA = (
    "seq long, start_us long, last_us long, n_events long, sum_micro long, "
    "n_vals long"
)


def _session_rows(key, closed):
    import pandas as pd

    (user_id,) = key
    rows = []
    for seq, start_us, last_us, n, sv_micro, n_vals in closed:
        rows.append(
            {
                "user_id": user_id,
                "session_seq": seq,
                "session_start": pd.Timestamp(start_us, unit="us").strftime(
                    "%Y-%m-%d %H:%M:%S"
                ),
                "session_end": pd.Timestamp(last_us, unit="us").strftime(
                    "%Y-%m-%d %H:%M:%S"
                ),
                "n_events": n,
                # all values cast to NULL -> SUM is NULL, not 0.0
                # (r10 ADVICE: matches the batch twin's
                # SUM(CAST(value AS DECIMAL(38,6))) all-NULL semantics)
                "sum_value": sv_micro / 1_000_000.0 if n_vals else None,
            }
        )
    return pd.DataFrame(rows, columns=[c.split()[0] for c in _SESSION_OUTPUT_SCHEMA.split(", ")])


def sessionize_stream(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    — the streaming twin of :func:`sessionize_batch`.

    Per ``user_id`` the state holds the one open session (start, last
    event time, count, value sum, ordinal).  Each micro-batch merges
    its rows in event-time order: rows within ``gap_seconds`` of the
    open session extend it; a larger gap closes it (emitted downstream)
    and opens the next.  An event-time timeout set to
    ``last_event + gap`` closes idle sessions once the watermark passes
    — state is bounded by (active users × one tuple), not by history,
    which is what makes this run indefinitely on an unbounded feed.

    Late rows older than the watermark are dropped by the watermark
    operator before reaching the state function (standard streaming
    contract; the batch twin replayed over the full log is the
    reconciliation path, same as the rollup pair above)."""
    gap_us = gap_seconds * 1_000_000

    def fn(key, pdfs: Iterable, state) -> Iterator:
        import pandas as pd

        if state.hasTimedOut:
            # watermark passed last_event + gap: the open session is final.
            closed = [state.get]
            state.remove()
            yield _session_rows(key, closed)
            return

        if state.exists:
            seq, start_us, last_us, n, sv, nv = state.get
        else:
            seq, start_us, last_us, n, sv, nv = 0, None, None, 0, 0, 0

        closed = []
        # one group's micro-batch rows may span several Arrow chunks and
        # chunk order is not event-time order — concat, then sort once
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
            # normalize to int64 micros regardless of the Arrow-side
            # datetime64 resolution (ns under legacy pandas, us under 2.x)
            ts_us = (
                pd.to_datetime(pdf["ts"]).to_numpy().astype("datetime64[us]").astype("int64")
            )
            vals = pdf["value"].to_numpy()
            for t, v in zip(ts_us, vals):
                # exact micro-units, HALF_UP like batch; None (cast
                # overflow → NULL) contributes 0 to the SUM but the
                # row still counts, same as SUM(cast)+COUNT(*).
                # n_vals counts the non-NULL contributions so an
                # all-NULL session emits a NULL sum, like SUM itself.
                vq0 = _micro_q(v)
                vq, dv = vq0 or 0, 0 if vq0 is None else 1
                if start_us is None:
                    seq, start_us, last_us, n, sv, nv = (
                        seq + 1, int(t), int(t), 1, vq, dv,
                    )
                elif t - last_us > gap_us:
                    closed.append((seq, start_us, last_us, n, sv, nv))
                    seq, start_us, last_us, n, sv, nv = (
                        seq + 1, int(t), int(t), 1, vq, dv,
                    )
                else:
                    last_us, n, sv, nv = int(t), n + 1, sv + vq, nv + dv

        if start_us is not None:
            state.update((seq, start_us, last_us, n, sv, nv))
            state.setTimeoutTimestamp((last_us + gap_us) // 1000)
        if closed:
            yield _session_rows(key, closed)

    return (
        events.withWatermark("ts", f"{gap_seconds} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_SESSION_OUTPUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def stream_quality_scores(docs: DataFrame) -> DataFrame:
    """Stateless per-document quality scoring on a document stream —
    identical expressions to the batch ``text_quality`` gate query
    (stateless ⇒ no watermark needed), including its exact-integer
    HALF_UP ratio form (functions/ratio.py)."""
    from tmdataloader_spark.functions.ratio import round6_ratio

    toks = F.split(F.trim(F.col("text")), " +")
    stop = F.lit(["the", "a", "and", "of", "to", "in", "is"])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, F.lower(t))))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        n_stop.cast("long").alias("_n_stop"),
    ).select(
        "doc_id",
        "n_tokens",
        round6_ratio("_n_stop", "n_tokens").alias("stopword_ratio"),
    )


def stream_mixture_sample(
    docs: DataFrame,
    fractions: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mixture",
) -> DataFrame:
    """Streaming twin of ``llmdata.sampling.mixture_sample``: apply a
    BATCH-COMPUTED per-stratum fraction table to a document stream.

    The lambda split mirrors production reality — temperature
    fractions depend on GLOBAL stratum counts, which a stream cannot
    see, so the nightly batch computes/refreshes ``fractions``
    (:func:`tmdataloader_spark.llmdata.sampling.mixture_fractions`
    output) and the stream applies it as a stream-static broadcast
    join plus the same md5-bucket threshold filter. Stateless ⇒ no
    watermark, and because assignment is content-hashed the stream's
    kept set is EXACTLY the batch twin's kept set for the same
    fraction table (agreement pytest), not merely approximately."""
    from tmdataloader_spark.llmdata.sampling import apply_fractions

    return apply_fractions(
        docs, fractions, stratum_col=stratum_col, id_col=id_col, salt=salt
    )


def stream_mixture_upsample(
    docs: DataFrame,
    fractions: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mixture",
    max_repeat: float = 10.0,
) -> DataFrame:
    """Streaming twin of ``llmdata.sampling.mixture_upsample``: apply
    a batch-computed fraction table (``fraction`` may exceed 1.0) to
    a document stream, emitting floor(f) copies + one bucket-gated
    extra per row with a dense 1-based ``copy_idx``.

    Same lambda contract as :func:`stream_mixture_sample` (the
    nightly batch owns the global counts; the stream applies them via
    a stream-static broadcast join), and the copy set for a given
    fraction table is EXACTLY the batch twin's — assignment is
    content-hashed and the explode is stateless, so no watermark is
    needed."""
    from tmdataloader_spark.llmdata.sampling import _BUCKETS, _bucket

    f = F.least(F.lit(float(max_repeat)), F.round(F.col("fraction"), 6))
    thr = fractions.select(
        F.col("stratum").alias("_mu_stratum"),
        F.floor(f).cast("int").alias("_mu_base"),
        F.round((f - F.floor(f)) * _BUCKETS).cast("long").alias("_mu_thr"),
    )
    # hash once below the join (same fix as the batch twin): the
    # explode's inferred not-empty filter pushes into the join
    # condition and would re-inline the md5 chain ~6x per row
    base = docs.withColumn("_mu_b", _bucket(F.col(id_col), salt))
    n_copies = F.col("_mu_base") + F.when(
        F.col("_mu_b") < F.col("_mu_thr"), 1
    ).otherwise(0)
    copies = F.when(n_copies >= 1, F.sequence(F.lit(1), n_copies)).otherwise(
        F.array().cast("array<int>")
    )
    return (
        base.join(
            F.broadcast(thr),
            F.col(stratum_col).eqNullSafe(F.col("_mu_stratum")),
            "inner",
        )
        .withColumn("_mu_copies", copies)
        .withColumn("copy_idx", F.explode(F.col("_mu_copies")))
        .drop("_mu_stratum", "_mu_base", "_mu_thr", "_mu_copies", "_mu_b")
    )


def stream_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup — the streaming twin of
    ``llmdata.dedup.exact_dedup``: keep the first document per
    normalization fingerprint, drop later duplicates arriving within
    the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keys the state store on the
    fingerprint hash only (not the text), and expires each key once
    the watermark passes its first-seen event time — state is bounded
    by (distinct fingerprints per watermark window), which is what
    lets an unbounded feed run indefinitely. Two occurrences farther
    apart than the watermark can BOTH survive; the batch twin over the
    full log is the reconciliation path (same lambda contract as the
    rollup/sessionize pairs above)."""
    from tmdataloader_spark.llmdata.text import fingerprint

    return (
        docs.withColumn("_fp", fingerprint(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )


def interval_join_batch(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Batch twin of :func:`interval_join_stream`: pair each left event
    with the right events of the same key whose timestamp falls in
    ``[left.ts, left.ts + within_seconds]`` — the attribution shape
    (view → purchase within an hour). Same column contract as the
    streaming form so the two reconcile row-for-row."""
    l = left.select(
        F.col(key).alias("l_key"),
        F.col("event_id").alias("l_event_id"),
        F.col("ts").alias("l_ts"),
    )
    r = right.select(
        F.col(key).alias("r_key"),
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    )
    us = F.unix_micros
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (us(F.col("r_ts")) >= us(F.col("l_ts")))
        & (us(F.col("r_ts")) <= us(F.col("l_ts")) + within_seconds * 1_000_000)
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return l.join(r, cond, how).select(
        F.col("l_key").alias(key),
        "l_event_id",
        "r_event_id",
        F.date_format("l_ts", fmt).alias("l_time"),
        F.date_format("r_ts", fmt).alias("r_time"),
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within_seconds: int = 3600,
    left_watermark: str = "2 hours",
    right_watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: equality on ``key``
    plus the event-time range ``r_ts ∈ [l_ts, l_ts + within]``.

    The range condition + both-side watermarks are what BOUND the join
    state: a buffered left row can only ever match right rows up to
    ``within`` ahead of it, so once the right watermark passes
    ``l_ts + within`` the row is evicted — state is (watermark horizon
    × arrival rate), not history, on both sides. Without the time
    bound Spark would have to keep every row forever (and rejects the
    plan in append mode). Same output contract as
    :func:`interval_join_batch`, so a batch backfill over the full log
    is the reconciliation path (the lambda contract used by every
    streaming twin in this module)."""
    l = left.select(
        F.col(key).alias("l_key"),
        F.col("event_id").alias("l_event_id"),
        F.col("ts").alias("l_ts"),
    ).withWatermark("l_ts", left_watermark)
    r = right.select(
        F.col(key).alias("r_key"),
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    ).withWatermark("r_ts", right_watermark)
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within_seconds} SECONDS"))
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return l.join(r, cond, how).select(
        F.col("l_key").alias(key),
        "l_event_id",
        "r_event_id",
        F.date_format("l_ts", fmt).alias("l_time"),
        F.date_format("r_ts", fmt).alias("r_time"),
    )


# ---------------------------------------------------------------------------
# foreachBatch upsert sink: exactly-once keyed MERGE from a stream into a
# versioned parquet table (the streaming CDC landing shape).


def _snap_dir(target_path: str, batch_id: int) -> str:
    return f"{target_path}/snap={batch_id}"


def _pointer_path(target_path: str) -> str:
    return f"{target_path}/_LATEST"


def read_upserted(spark: SparkSession, target_path: str, batch_id: int | None = None):
    """Read the current (or a historical, ``batch_id``) snapshot of a
    :func:`foreach_batch_upsert` target.  Returns None if no snapshot
    has been committed yet."""
    import os

    ptr = _pointer_path(target_path)
    if batch_id is None:
        if not os.path.exists(ptr):
            return None
        with open(ptr) as fh:
            batch_id = int(fh.read().strip())
    return spark.read.parquet(_snap_dir(target_path, batch_id))


def upsert_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    keys: list[str],
    order_col: str | None = None,
    vacuum_keep: int = 2,
) -> None:
    """Merge one micro-batch into the versioned parquet target —
    the body :func:`foreach_batch_upsert` hands to ``foreachBatch``,
    callable directly for batch backfills.

    Exactly-once WITHOUT a transaction log: after a crash Spark
    replays the last uncommitted batch with the SAME ``batch_id``;
    because the snapshot directory and pointer are keyed on that id
    and the merge reads only snapshots ``< batch_id``, a replay
    overwrites its own partial output and commits the identical
    result — idempotent by construction.  The pointer file is
    written tmp-then-rename (atomic on POSIX), so readers never see
    a half-written snapshot.

    Per batch: batch rows dedupe per key (latest by ``order_col``,
    else first by deterministic key order), the previous snapshot's
    non-matching rows survive via LEFT ANTI join (one broadcast-able
    join keyed on the batch's keys — cost scales with the TARGET
    size, which is why production tables also partition/bucket the
    snapshot by key; ``vacuum_keep`` bounds storage at K snapshots
    while retaining short time travel)."""
    import os
    import shutil

    from pyspark.sql import Window as _W

    if order_col is not None:
        w = _W.partitionBy(*keys).orderBy(F.col(order_col).desc(), *keys)
    else:
        w = _W.partitionBy(*keys).orderBy(*[F.col(k) for k in keys])
    batch = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # previous committed snapshot strictly BEFORE this batch id (a
    # replayed batch must not read its own half-written output)
    prev_ids = []
    if os.path.isdir(target_path):
        for name in os.listdir(target_path):
            if name.startswith("snap="):
                bid = int(name.split("=", 1)[1])
                if bid < batch_id:
                    prev_ids.append(bid)
    if prev_ids:
        prev = spark.read.parquet(_snap_dir(target_path, max(prev_ids)))
        survivors = prev.join(batch.select(*keys), keys, "left_anti")
        merged = survivors.unionByName(batch)
    else:
        merged = batch

    out = _snap_dir(target_path, batch_id)
    merged.write.mode("overwrite").parquet(out)

    ptr, tmp = _pointer_path(target_path), _pointer_path(target_path) + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(batch_id))
    os.replace(tmp, ptr)

    keep = sorted(prev_ids, reverse=True)[: max(0, vacuum_keep - 1)]
    for bid in prev_ids:
        if bid not in keep:
            shutil.rmtree(_snap_dir(target_path, bid), ignore_errors=True)


def foreach_batch_upsert(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
    order_col: str | None = None,
    vacuum_keep: int = 2,
):
    """Attach the upsert sink to a stream: every micro-batch MERGEs
    into the versioned parquet table at ``target_path`` (latest row
    per key wins).  Restarting from ``checkpoint_dir`` resumes after
    the last committed batch; a batch replayed after a crash commits
    identically (see :func:`upsert_batch`).  Returns the started
    StreamingQuery."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        upsert_batch(
            batch_df.sparkSession,
            batch_df,
            batch_id,
            target_path,
            keys,
            order_col=order_col,
            vacuum_keep=vacuum_keep,
        )

    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


_HH_STATE_SCHEMA = "ids array<long>, counts array<long>"
_HH_OUTPUT_SCHEMA = "event_type string, user_id long, est_count long"


def heavy_hitters_stream(events: DataFrame, k: int = 8) -> DataFrame:
    """Streaming heavy hitters per event type via a Misra–Gries
    summary in ``applyInPandasWithState`` state — the streaming twin
    of the gate's exact batch ``heavy_hitters`` (statistic/profile.py:
    the exact census IS the batch scale shape; on an unbounded feed
    the census grows without bound, which is exactly what the k-counter
    sketch caps).

    State per event type is ≤ k (user_id, count) pairs, merged each
    micro-batch with the batch's exact value_counts using the
    mergeable-summaries rule (Agarwal et al., PODS'12): combine
    counts, then subtract the (k+1)-th largest and drop non-positive —
    every surviving count is an UNDERcount by at most (dropped total)/k,
    and any user with true frequency > n/(k+1) is guaranteed present.
    Emission is ``update`` mode: the current candidate set after each
    micro-batch, ordered by (count desc, user_id) downstream of the
    sink.

    Reconciliation: with k ≥ distinct users the sketch is exact and
    must equal the batch census — the lambda check pytest runs.
    """

    def fn(key, pdfs: Iterable, state) -> Iterator:
        import pandas as pd

        (event_type,) = key
        if state.exists:
            ids, counts = state.get
            summary = dict(zip(ids, counts))
        else:
            summary = {}

        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True)
            for uid, c in batch["user_id"].value_counts().items():
                summary[int(uid)] = summary.get(int(uid), 0) + int(c)
            if len(summary) > k:
                # mergeable-summary shrink: subtract the (k+1)-th
                # largest count, drop non-positives (ties at the
                # boundary all drop — deterministic regardless of
                # arrival order)
                cut = sorted(summary.values(), reverse=True)[k]
                summary = {
                    u: c - cut for u, c in summary.items() if c - cut > 0
                }

        items = sorted(summary.items(), key=lambda t: (-t[1], t[0]))
        state.update((
            [u for u, _ in items],
            [c for _, c in items],
        ))
        yield pd.DataFrame(
            [
                {"event_type": event_type, "user_id": u, "est_count": c}
                for u, c in items
            ],
            columns=["event_type", "user_id", "est_count"],
        )

    return events.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=_HH_OUTPUT_SCHEMA,
        stateStructType=_HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


_DRIFT_STATE_SCHEMA = "n long, total long, n_vals long"
_DRIFT_OUTPUT_SCHEMA = (
    "event_type string, batch_n long, batch_mean double, "
    "hist_n long, hist_mean double, drift double, alert boolean"
)


def drift_monitor_stream(
    events: DataFrame, threshold: float = 1.0
) -> DataFrame:
    """Streaming level-shift monitor per event type — the unbounded-
    feed twin of the batch ``cusum_changepoint`` localizer
    (operators/timeseries.py): CUSUM answers "where DID the level
    shift" over a closed log; this answers "is the feed shifting NOW"
    with O(1) state.

    State per key is the running (count, micro-unit sum) of all PRIOR
    micro-batches.  Each micro-batch emits one row comparing the
    batch mean against the historical mean (both exact-integer sums,
    two divisions at emission); ``alert`` fires when the absolute
    drift exceeds ``threshold`` (value units).  The first batch of a
    key seeds history and cannot alert.  State never grows — two
    longs per key — so this runs indefinitely; the batch CUSUM replay
    over the landed log is the reconciliation path that localizes any
    alert precisely.
    """
    thr = float(threshold)

    def fn(key, pdfs: Iterable, state) -> Iterator:
        import pandas as pd

        (event_type,) = key
        hist_n, hist_total, hist_vals = (
            state.get if state.exists else (0, 0, 0)
        )

        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        batch = pd.concat(chunks, ignore_index=True)
        # NULL→0 in the sum, rows still count; n_vals tracks non-NULL
        # contributions so an all-NULL batch/history reports a NULL
        # mean (r10 ADVICE: SUM's all-NULL semantics), not 0.0
        vq0 = [_micro_q(v) for v in batch["value"]]
        bn, btotal = len(vq0), sum(v or 0 for v in vq0)
        bvals = sum(1 for v in vq0 if v is not None)
        bmean = btotal / bn / 1e6 if bvals else None
        if hist_n > 0 and hist_vals > 0 and bvals:
            hmean = hist_total / hist_n / 1e6
            drift = abs(bmean - hmean)
            alert = drift > thr
        elif hist_n > 0 and hist_vals > 0:
            hmean, drift, alert = hist_total / hist_n / 1e6, None, False
        else:
            hmean, drift, alert = None, None, False
        state.update((hist_n + bn, hist_total + btotal, hist_vals + bvals))
        yield pd.DataFrame(
            [
                {
                    "event_type": event_type,
                    "batch_n": bn,
                    "batch_mean": bmean,
                    "hist_n": hist_n,
                    "hist_mean": hmean,
                    "drift": drift,
                    "alert": alert,
                }
            ]
        )

    return events.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=_DRIFT_OUTPUT_SCHEMA,
        stateStructType=_DRIFT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


_QUANTILE_OUTPUT_SCHEMA = (
    "key string, batch_rows long, n_total long, "
    "p50 double, p90 double, p99 double, below long, above long"
)


def quantile_monitor_stream(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 1000.0,
    nbins: int = 64,
) -> DataFrame:
    """Streaming per-key quantile monitor over FIXED histogram bins —
    the distribution member of the bounded-state monitor family
    (drift = mean shift, Misra-Gries = heavy hitters, HLL =
    cardinality, this = p50/p90/p99): ``nbins`` counters plus
    below/above overflow counts as ``applyInPandasWithState`` state
    (nbins+2 longs per key, constant forever), one output row per
    key per micro-batch with running quantile estimates.

    Reconciliation contract: after any prefix of the stream, the
    state counts equal ``statistic.profile.fixed_histogram`` over
    the same landed rows COUNT-FOR-COUNT (fixed edges make counts
    exactly mergeable — data-derived edges would re-bin on every
    batch), the bin arithmetic is the identical IEEE op sequence on
    both engines, and the emitted quantiles come from the SHARED
    ``quantiles_from_counts`` estimator.  The tradeoff vs a KLL/GK
    sketch is deliberate: those compact adaptively and are
    merge-order-DEPENDENT, so batch replay could not reproduce the
    stream's state bit-for-bit — fixed bins give up adaptive
    resolution for an exact lambda-reconciliation story (resolution
    = (hi-lo)/nbins, overflow mass is visible in below/above)."""
    from tmdataloader_spark.statistic.profile import quantiles_from_counts

    m = int(nbins)
    width = (float(hi) - float(lo)) / float(m)

    def fn(key, pdfs: Iterable, state) -> Iterator:
        import math as _math

        import pandas as pd

        (key_val,) = key
        counts, below, above = (
            state.get if state.exists else ([0] * m, 0, 0)
        )
        counts = list(counts)
        n_rows = 0
        for pdf in pdfs:
            n_rows += len(pdf)
            for v in pdf[value_col].astype(float):
                if v < lo:
                    below += 1
                elif v >= hi:
                    above += 1
                else:
                    # same IEEE ops as fixed_histogram's codegen
                    counts[min(m - 1, int(_math.floor((v - lo) / width)))] += 1
        if n_rows == 0:
            return
        state.update((counts, below, above))
        p50, p90, p99 = quantiles_from_counts(
            counts, below, above, lo, hi, [0.5, 0.9, 0.99]
        )
        yield pd.DataFrame(
            [
                {
                    "key": key_val,
                    "batch_rows": n_rows,
                    "n_total": below + above + sum(counts),
                    "p50": p50,
                    "p90": p90,
                    "p99": p99,
                    "below": below,
                    "above": above,
                }
            ]
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=_QUANTILE_OUTPUT_SCHEMA,
        stateStructType="counts array<long>, below long, above long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
