"""Custom stateful streaming operators (SURVEY.md §2.10 T4 extension).

The reference keeps exactly two global counters in process memory
(FD/consumer.py:17-20,127-131) — state that dies with the process and
cannot shard.  Here per-key state lives in Spark's checkpointed state
store: each micro-batch updates only the touched keys (O(delta)), state
shards by the grouping key across executors, and a restart resumes from
the checkpoint.

Two kinds of operator live here:

- MERGEABLE folds (count, sum, max, OR) are native streaming
  aggregations in update mode, keyed by the finest cell:
  ``account_running_stats`` and the sketch duals ``grid_cells_stream``,
  ``cms_sketch_stream``, ``hll_distinct_stream`` and
  ``bloom_filter_stream``.  The engine owns the state layout; estimates
  run the batch estimator over the streamed cells on the read side.
- Folds that are ORDER-DEPENDENT or NOT a monoid run in
  ``applyInPandasWithState`` with a declared state schema:
  ``rapid_repeat_alerts`` (last-seen gap), ``ewma_stream`` and
  ``ewma_stream_ordered`` / ``kalman_stream_ordered`` (recurrences; the
  ordered variants buffer below the watermark), ``kmv_distinct_stream``
  (k smallest hashes) and ``spacesaving_topk_stream`` (evicting top-k).

Alongside: the watermarked stream-stream ``txn_event_interval_join``,
the hot-reloading ``rule_alert_sink`` and the Space-Saving containment
audit (``audit_spacesaving_summary``, ``spacesaving_containment_sink``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def account_running_stats(scored: DataFrame) -> DataFrame:
    """Per-customer running aggregate over the scored stream — the
    per-key generalization of the reference's two global counters.

    Count, sums and max are mergeable, so this is one native streaming
    aggregation (update mode): the state store keeps four scalars per
    customer and each micro-batch folds only the touched keys.  The
    average is derived from the running sums, not stored.
    """
    return (
        scored.groupBy("customer_id")
        .agg(
            F.count("*").alias("n_txn"),
            F.sum("amount").alias("amount_sum"),
            F.sum("prediction").alias("n_fraud"),
            F.max("amount").alias("max_amount"),
        )
        .select(
            "customer_id",
            "n_txn",
            F.round("amount_sum", 2).alias("amount_sum"),
            "n_fraud",
            "max_amount",
            F.round(F.col("amount_sum") / F.col("n_txn"), 2).alias(
                "avg_amount"
            ),
        )
    )


def txn_event_interval_join(
    txns: DataFrame,
    events: DataFrame,
    txn_ts: str = "txn_ts",
    event_ts: str = "event_ts",
    key: str = "customer_id",
    lookback: str = "10 minutes",
    txn_watermark: str = "5 minutes",
    event_watermark: str = "15 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join (§2.4 extension).

    Attaches device/session events to each transaction of the same
    customer that happened within ``lookback`` before the transaction —
    the enrichment the reference faked with in-process dicts.

    Both sides carry watermarks so the state store provably discards
    buffered rows once they can no longer match: an event row is held at
    most ``lookback`` past its watermark; join state is bounded and the
    query can run forever.  The equi-key (customer) drives the shuffle;
    the time bound is evaluated within each key partition.

    ``how="left_outer"`` additionally emits every UNMATCHED transaction
    null-padded — but only once the event-side watermark proves no
    matching event can still arrive (the row waits in state until
    then), which is the defining semantics of watermarked outer
    stream-stream joins: correctness is bought with emission latency of
    one watermark delay, never with a guess.
    """
    t = txns.withWatermark(txn_ts, txn_watermark).alias("t")
    e = events.withWatermark(event_ts, event_watermark).alias("e")
    cond = (
        (F.col(f"t.{key}") == F.col(f"e.{key}"))
        & (F.col(f"e.{event_ts}") >= F.col(f"t.{txn_ts}") - F.expr(f"INTERVAL {lookback}"))
        & (F.col(f"e.{event_ts}") <= F.col(f"t.{txn_ts}"))
    )
    return t.join(e, cond, how).select(
        F.col(f"t.{key}").alias(key),
        F.col(f"t.{txn_ts}").alias(txn_ts),
        "t.transaction_id",
        "t.amount",
        F.col(f"e.{event_ts}").alias(event_ts),
        "e.event_type",
    )


VELOCITY_STATE_SCHEMA = T.StructType([T.StructField("last_us", T.LongType())])

VELOCITY_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("gap_sec", T.LongType()),
    ]
)


def rapid_repeat_alerts(purchases: DataFrame, gap_sec: int = 3600) -> DataFrame:
    """Streaming dual of the batch ``rapid_repeat_purchases`` velocity
    rule (plans/queries_fraud.py): emit an alert row the moment a user's
    purchase lands within ``gap_sec`` of their previous one.

    Per-user state is ONE scalar (last purchase epoch-micros) in the
    checkpointed state store — O(distinct users) total, independent of
    stream length; each micro-batch sorts its own rows per key and folds
    against the carried timestamp, so alerts match the batch lag-window
    exactly when arrival order respects event order per key (the
    parity-tested property).  Out-of-order tails are the stream-stream
    interval join's territory; this operator is the low-latency hot path.
    """

    def update(key, pdfs, state):  # noqa: ANN001 — applyInPandasWithState contract
        rows = pd.concat(list(pdfs))
        if rows.empty:
            return
        rows = rows.sort_values(["ts", "event_id"])
        us = rows["ts"].to_numpy(dtype="datetime64[us]").astype("int64")
        last = state.get[0] if state.exists else None
        alerts_ts, alerts_gap = [], []
        for i, cur in enumerate(us):
            if last is not None:
                gap = (cur - last) // 1_000_000
                if gap <= gap_sec:
                    alerts_ts.append(rows["ts"].iloc[i])
                    alerts_gap.append(gap)
            last = int(cur)
        state.update((last,))
        if alerts_ts:
            yield pd.DataFrame(
                {
                    "user_id": key[0],
                    "ts": alerts_ts,
                    "gap_sec": alerts_gap,
                }
            )

    return (
        purchases.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=VELOCITY_OUTPUT_SCHEMA,
            stateStructType=VELOCITY_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def rule_alert_sink(rules_table, alerts_table, app_id: str):
    """Dynamic-rule scoring with hot reload: a ``foreachBatch`` sink that
    re-reads the RULES TxnTable's latest snapshot at every micro-batch,
    broadcast-joins it into the batch, and appends the flagged rows to
    the ALERTS TxnTable exactly-once.

    This is the ops pattern the reference's hardcoded thresholds
    (FD/producer.py:85-87) cannot do: a fraud analyst commits a new rule
    row (one atomic TxnTable append — no redeploy, no query restart) and
    the NEXT micro-batch scores with it.  Snapshot isolation means a
    batch never sees a half-written rule set; the (app_id, batch_id)
    ledger on the alerts table makes replays idempotent end-to-end.

    Rules schema: (event_type, min_value) — a row flags events of that
    type with ``value >= min_value``.  The rules side is tiny by nature,
    so the join is a broadcast; the stream side never shuffles.

    The replay ledger is probed ONCE (on the sink's first batch after
    start/restart); afterwards the high-water mark lives in the closure
    — only this writer advances it, so per-batch cost is O(1) driver
    I/O, not a log scan that grows with stream lifetime.
    """
    hwm = {"batch": None}  # lazily seeded from the ledger on first batch

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if hwm["batch"] is None:
            hwm["batch"] = alerts_table.last_batch(app_id)
        if batch_id <= hwm["batch"]:
            return  # replayed batch: alerts already committed
        spark = batch_df.sparkSession
        try:
            rules = rules_table.read(spark)
        except ValueError:  # no rules committed yet -> nothing to flag
            return
        flagged = (
            batch_df.join(F.broadcast(rules), "event_type")
            .filter(F.col("value") >= F.col("min_value"))
            .select("event_id", "user_id", "event_type", "value", "min_value")
        )
        alerts_table.append(
            flagged, meta={"app_id": app_id, "batch_id": batch_id}
        )
        hwm["batch"] = batch_id

    return write


# (n_events, ewma) per user — the streaming dual of the batch
# ewma_user_value catalog query (plans/queries_timeseries.py)
EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def ewma_stream(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Per-user EWMA maintained INCREMENTALLY in the state store — the
    streaming dual of the batch fold in ``ewma_user_value``: identical
    recurrence (first observation seeds, then
    ``ewma = (1-α)·ewma + α·x``), so a stream replayed in event-time
    order converges to bit-identical state (parity-tested).

    State per key is TWO scalars — this is why the recurrence beats
    keep-the-history designs in a stream: O(distinct users) total state
    at any stream length.  Rows are folded in (ts, event_id) order
    WITHIN each micro-batch (sorted in the Arrow batch, vectorized-
    cheap); cross-batch order is the source's append order, which holds
    for replayed logs and time-ordered topics — for out-of-order
    streams use :func:`ewma_stream_ordered`, the watermark-buffered
    variant that folds only below-watermark rows in event-time order
    and therefore needs no ingest-order assumption at all.

    Input columns: ``user_id`` (long), ``ts``, ``event_id``, ``value``.
    """

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, ewma = state.get if state.exists else (0, 0.0)
        # BUFFER the whole micro-batch before sorting: the group's rows
        # may arrive as several Arrow chunks whose boundaries do not
        # respect event time (spill/merge dependent, i.e. load
        # dependent) — sorting per chunk would fold out of order
        # exactly when the executor is busiest.  Bounded: one key's
        # share of one micro-batch.
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"])
        for x in pdf["value"]:
            x = float(x)
            ewma = x if n == 0 else (1.0 - alpha) * ewma + alpha * x
            n += 1
        state.update((n, ewma))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma": [ewma]}
        )

    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ordered-variant state: the fold scalars plus the not-yet-folded buffer
# (parallel arrays — applyInPandasWithState state rows support arrays,
# as the KMV sketch below already relies on)
EWMA_ORDERED_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_eid", T.ArrayType(T.LongType())),
        T.StructField("pend_val", T.ArrayType(T.DoubleType())),
    ]
)

EWMA_ORDERED_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
        T.StructField("n_pending", T.LongType()),
    ]
)


def ewma_stream_ordered(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Per-user EWMA for OUT-OF-ORDER sources: the watermark-buffered
    ordered fold that ``ewma_stream``'s contract defers to.

    ``ewma_stream`` folds in (ts, event_id) order within a micro-batch
    and trusts the source for cross-batch order — correct for replayed
    logs and time-ordered topics, wrong the moment a file lands late or
    a topic interleaves.  This variant removes the assumption: each
    micro-batch's rows are BUFFERED in the state store, and only rows at
    or below the current WATERMARK are folded (in (ts, event_id) order)
    — by watermark contract no earlier event can still arrive, so the
    fold order equals global event-time order regardless of how rows
    shard into micro-batches.  The buffer holds exactly the
    watermark-delay window per key (late-bounded by construction:
    anything older is dropped by Spark's watermark filter upstream), so
    state stays O(events within delay) per key, not O(stream).

    Callers MUST set ``withWatermark("ts", delay)`` on ``events``; with
    no watermark nothing ever folds (n_pending just grows), which is
    loud rather than silently order-dependent.  Keys with buffered rows
    but NO new data still fold on time: each key arms an
    EVENT-TIME TIMEOUT at its earliest pending timestamp, so the
    watermark advancing (including Spark's no-data batches) re-invokes
    the key and drains everything the watermark has passed — without
    this, ``applyInPandasWithState`` only visits keys present in the
    current micro-batch and a quiet key's buffer would never flush.
    Emits one row per visited key per micro-batch: folded
    ``n_events``/``ewma`` plus ``n_pending`` still buffered.  The
    recurrence and float-op sequence match the batch ``ewma_user_value``
    fold bit-for-bit (parity-tested across reversed micro-batch
    sharding).
    """

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, ewma, pend_ts, pend_eid, pend_val = state.get
            pend = [list(pend_ts), list(pend_eid), list(pend_val)]
        else:
            n, ewma, pend = 0, 0.0, [[], [], []]
        if not state.hasTimedOut:
            pdf = pd.concat(list(pdfs), ignore_index=True)
            if len(pdf):
                ts_ms = pdf["ts"].astype("datetime64[ms]").astype("int64")
                pend[0].extend(int(t) for t in ts_ms)
                pend[1].extend(int(e) for e in pdf["event_id"])
                pend[2].extend(float(v) for v in pdf["value"])
        wm = state.getCurrentWatermarkMs()
        rows = sorted(zip(*pend))
        # Fold STRICTLY below the watermark: Spark's late filter drops
        # only rows with ts < watermark, so an event timestamped exactly
        # AT the watermark can still arrive in a later micro-batch —
        # folding ts == wm now could fold it after its equal-ts peers
        # (ADVICE r5). Those rows drain one watermark advance later.
        ready = [r for r in rows if r[0] < wm]
        hold = rows[len(ready):]  # sorted, so the split is a prefix
        for _, _, x in ready:
            ewma = x if n == 0 else (1.0 - alpha) * ewma + alpha * x
            n += 1
        state.update(
            (
                n,
                ewma,
                [r[0] for r in hold],
                [r[1] for r in hold],
                [r[2] for r in hold],
            )
        )
        if hold:
            # fires when the watermark passes the earliest still-buffered
            # event; hold may now contain ts == wm rows, and the timeout
            # must stay STRICTLY above the current watermark, hence the
            # max with wm + 1
            state.setTimeoutTimestamp(max(hold[0][0], wm + 1))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "ewma": [ewma],
                "n_pending": [len(hold)],
            }
        )

    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=EWMA_ORDERED_OUTPUT_SCHEMA,
            stateStructType=EWMA_ORDERED_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# k smallest distinct portable-hash values per event_type — the
# streaming dual of the batch kmv_distinct_users catalog query
KMV_STATE_SCHEMA = T.StructType(
    [T.StructField("mins", T.ArrayType(T.LongType()))]
)

KMV_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("nk", T.LongType()),
        T.StructField("kmv_estimate", T.DoubleType()),
    ]
)


def kmv_distinct_stream(events: DataFrame, k: int = 64) -> DataFrame:
    """Per-event-type KMV distinct-user sketch maintained in the state
    store — the streaming dual of the batch ``kmv_distinct_users``
    query, and the reason KMV earns its place in the engine: the state
    (k smallest distinct hash values) is a MERGEABLE, ORDER-INDEPENDENT
    set union, so the stream converges to byte-identical state no
    matter how rows shard into micro-batches — parity with the batch
    sketch is EXACT, not approximate (tested), unlike order-sensitive
    recurrences (``ewma_stream``) that need time-ordered replay.

    State per key is ≤ k longs at any stream length; each micro-batch
    folds only the touched keys.  Estimate: (k-1)/u_k with u_k the k-th
    smallest hash mapped to (0,1] under the portable polynomial hash
    (``functions/hashing.py``) — the same constants the batch tier and
    the DuckDB oracle use.

    Input columns: ``event_type`` (string), ``user_id`` (long).
    """
    from ..functions.hashing import MOD, MULT

    def poly_hash(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * MULT + ord(ch)) % MOD
        return h

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (mins,) = state.get if state.exists else ([],)
        acc = set(mins)
        for pdf in pdfs:
            for uid in pdf["user_id"].dropna():
                acc.add(poly_hash(str(int(uid))))
        mins = sorted(acc)[:k]
        state.update((mins,))
        nk = len(mins)
        est = (k - 1.0) * (MOD + 1) / (mins[-1] + 1) if nk >= k else float(nk)
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "nk": [nk],
                "kmv_estimate": [round(est, 4)],
            }
        )

    return (
        events.select("event_type", "user_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=KMV_OUTPUT_SCHEMA,
            stateStructType=KMV_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


KALMAN_ORDERED_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("variance", T.DoubleType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_eid", T.ArrayType(T.LongType())),
        T.StructField("pend_val", T.ArrayType(T.DoubleType())),
    ]
)

KALMAN_ORDERED_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("variance", T.DoubleType()),
        T.StructField("n_pending", T.LongType()),
    ]
)


def kalman_stream_ordered(
    events: DataFrame,
    q_var: float = 0.5,
    r_var: float = 20.0,
    p0: float = 1000.0,
) -> DataFrame:
    """Per-user local-level Kalman filter over an OUT-OF-ORDER stream —
    the streaming dual of the ``kalman_revenue_smooth`` fold, on the
    ``ewma_stream_ordered`` machinery: rows buffer in state, only rows
    strictly below the watermark fold (in (ts, event_id) order), and an
    event-time timeout drains quiet keys as the watermark advances.

    The predict/update recurrence is the SAME IEEE double op sequence
    as the batch ``aggregate`` expression (init level = first obs,
    variance = p0; then gain = (p+q)/(p+q+r), level += gain*innovation,
    variance = (1-gain)*(p+q)), so after the stream drains, (level,
    variance) per key equals the batch fold bit-for-bit — parity-tested
    against the JVM expression across reversed micro-batch sharding.
    State is O(events within the watermark delay) per key.
    """

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, level, var, pend_ts, pend_eid, pend_val = state.get
            pend = [list(pend_ts), list(pend_eid), list(pend_val)]
        else:
            n, level, var, pend = 0, 0.0, 0.0, [[], [], []]
        if not state.hasTimedOut:
            pdf = pd.concat(list(pdfs), ignore_index=True)
            if len(pdf):
                ts_ms = pdf["ts"].astype("datetime64[ms]").astype("int64")
                pend[0].extend(int(t) for t in ts_ms)
                pend[1].extend(int(e) for e in pdf["event_id"])
                pend[2].extend(float(v) for v in pdf["value"])
        wm = state.getCurrentWatermarkMs()
        rows = sorted(zip(*pend))
        ready = [r for r in rows if r[0] < wm]  # strict: ts == wm may
        hold = rows[len(ready):]                # still arrive (ADVICE r5)
        for _, _, x in ready:
            if n == 0:
                level, var = x, p0
            else:
                pp = var + q_var
                gain = pp / (pp + r_var)
                level = level + gain * (x - level)
                var = (1.0 - gain) * pp
            n += 1
        state.update(
            (
                n,
                level,
                var,
                [r[0] for r in hold],
                [r[1] for r in hold],
                [r[2] for r in hold],
            )
        )
        if hold:
            state.setTimeoutTimestamp(max(hold[0][0], wm + 1))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "level": [level],
                "variance": [var],
                "n_pending": [len(hold)],
            }
        )

    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=KALMAN_ORDERED_OUTPUT_SCHEMA,
            stateStructType=KALMAN_ORDERED_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def hll_distinct_stream(pairs: DataFrame) -> DataFrame:
    """Per-event-type HyperLogLog registers as a native streaming
    aggregation — the streaming dual of the batch ``hll_distinct_users``
    query.  Registers merge by cell-wise MAX, which is order-independent,
    so the streamed (event_type, b, r) cells equal the batch registers
    under ANY micro-batch sharding; reading them through
    ``plans.queries_sketch.hll_estimate`` publishes the batch estimate
    exactly (no second definition of the estimator exists).

    Input: the (event_type, b, rho) register-coordinate stream, built
    with the SAME JVM expressions the batch query uses
    (``plans.queries_sketch.hll_bucket_rank``), so register parity is
    structural.  Null keys hash to null coordinates and are skipped,
    like the batch query's isNotNull filter.  State is one long per live
    register cell.
    """
    return (
        pairs.filter(F.col("b").isNotNull())
        .groupBy("event_type", "b")
        .agg(F.max("rho").alias("r"))
    )


def bloom_filter_stream(words: DataFrame) -> DataFrame:
    """Bloom-filter bitmask as a native streaming aggregation over mask
    WORDS — the streaming dual of ``bloom_semijoin_prune``'s packed mask
    build.  Words merge by cell-wise OR (``bit_or``), order-independent,
    so the stream lands on the exact batch mask words under any
    micro-batch sharding (pure integers — parity is equality, tested).

    Input: the (w, word) contribution stream — w the mask word index
    (bit div 64), word the single-bit contribution (1 << (bit % 64)) —
    built with the SAME JVM bit expressions the batch mask build uses
    (``queries_sketch`` mixer + k affine maps).  State is one long per
    live word.
    """
    return words.groupBy("w").agg(F.bit_or("word").alias("word"))


def cms_sketch_stream(pairs: DataFrame) -> DataFrame:
    """Count-min sketch counters as a native streaming aggregation, one
    state row per (row j, bucket b) cell — the streaming dual of the
    batch ``cms_heavy_hitters`` counter grid.  Counters merge by
    cell-wise SUM, so the streamed (j, b, cnt) cells equal the batch
    grid under any micro-batch sharding (pure integers — parity is
    equality, tested).

    Input: the (j, b) pair stream, built with the SAME JVM bucket
    expressions the batch query uses (``queries_sketch`` mixer + per-row
    affine maps).  Null buckets (null keys) are skipped.
    """
    return (
        pairs.filter(F.col("b").isNotNull())
        .groupBy("j", "b")
        .agg(F.count("*").alias("cnt"))
    )


def grid_cells_stream(cells_in: DataFrame) -> DataFrame:
    """Streaming dual of the ``grid_quantile_sketch`` cell table: the
    sketch IS the (event_type × bucket) count table, maintained as a
    native streaming aggregation with one long per LIVE cell.  Cells
    merge by sum, so the streamed table equals the batch aggregate
    integer-for-integer under any micro-batch sharding (parity is
    equality, tested).  Quantile estimates then run the batch estimator
    over the streamed cells — no second definition of the interpolation
    exists.

    Input: (event_type, b) rows built with the SAME JVM bucket
    expression the batch query uses (``floor(value / W)``).
    """
    return cells_in.groupBy("event_type", "b").agg(F.count("*").alias("cnt"))


SPACESAVING_STATE_SCHEMA = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("errs", T.ArrayType(T.LongType())),
        T.StructField("n_seen", T.LongType()),
    ]
)

SPACESAVING_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("token", T.StringType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("err", T.LongType()),
        T.StructField("ver", T.LongType()),
    ]
)


def spacesaving_topk_stream(tokens_in: DataFrame, k: int = 32) -> DataFrame:
    """Streaming heavy hitters: the Space-Saving summary (Metwally et
    al.) as per-SHARD keyed state — the streaming dual of the batch
    ``heavy_hitter_tokens`` local-top-k plan, and the one sketch in
    the dual family whose state is NOT a monoid cell table (top-k has
    no exact merge), so it carries its own error column instead:
    ``cnt - err <= true count <= cnt`` for every surviving token, and
    any token with true frequency > n_seen/k is GUARANTEED present.

    Input must carry (shard, token) with ``shard = pmod(hash(token),
    P)`` built JVM-side — the same token always lands on the same
    shard, so per-shard summaries are over disjoint vocabularies and
    the final top-k is exact over the union of survivors whenever each
    shard's distinct vocabulary fits its k counters (the parity-test
    property), and ε = n_seen_shard/k otherwise (P× tighter than one
    global summary at equal memory).

    State per shard: THREE parallel arrays (token/count/err — the
    ewma_stream parallel-array state idiom) of at most k entries plus
    the processed-row counter ``ver``; each emitted row carries ``ver``
    so a reader reconstructs the LATEST summary per shard (max-ver
    rows) from an update-mode sink — evicted tokens' stale rows are
    superseded, never merged.

    Batch kernel is vectorized: pandas ``value_counts`` collapses the
    micro-batch per shard BEFORE the O(distinct × log k) summary walk;
    increments apply in (count desc, token) order so replay from a
    checkpoint is deterministic."""

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            toks, counts, errs, n_seen = state.get
            summary = {
                t: [c, e] for t, c, e in zip(toks, counts, errs)
            }
        else:
            summary, n_seen = {}, 0
        for pdf in pdfs:
            vc = pdf["token"].dropna().value_counts()
            n_seen += int(vc.sum())
            # deterministic application order: heaviest first, token
            # tie-break (value_counts order on ties is arrival order)
            for tok, c in sorted(
                vc.items(), key=lambda kv: (-kv[1], kv[0])
            ):
                c = int(c)
                if tok in summary:
                    summary[tok][0] += c
                elif len(summary) < k:
                    summary[tok] = [c, 0]
                else:
                    # evict the min-count entry (token tie-break so
                    # eviction is deterministic), inherit its count
                    # as the new entry's overestimation error
                    m_tok = min(summary, key=lambda t: (summary[t][0], t))
                    m_cnt = summary.pop(m_tok)[0]
                    summary[tok] = [m_cnt + c, m_cnt]
        items = sorted(summary.items(), key=lambda kv: (kv[0],))
        state.update(
            (
                [t for t, _ in items],
                [v[0] for _, v in items],
                [v[1] for _, v in items],
                n_seen,
            )
        )
        yield pd.DataFrame(
            {
                "shard": [int(key[0])] * len(items),
                "token": [t for t, _ in items],
                "cnt": [v[0] for _, v in items],
                "err": [v[1] for _, v in items],
                "ver": [n_seen] * len(items),
            }
        )

    return (
        tokens_in.select("shard", "token")
        .groupBy("shard")
        .applyInPandasWithState(
            update,
            outputStructType=SPACESAVING_OUTPUT_SCHEMA,
            stateStructType=SPACESAVING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def audit_spacesaving_summary(summary: DataFrame, truth: DataFrame,
                              k: int) -> DataFrame:
    """Containment audit of a Space-Saving summary snapshot against
    exact counts — the streaming twin of the batch
    ``heavy_hitter_containment`` audit (VERDICT r10 item 7): the
    sketch's published contract is checked, not trusted.

    Inputs: ``summary`` is the LATEST (shard, token, cnt, err, ver)
    rows per shard from :func:`spacesaving_topk_stream` (``ver`` is the
    shard's processed-row count ``n_seen``); ``truth`` is the exact
    (shard, token, true_cnt) aggregate over the SAME replayed prefix —
    the lambda-architecture reconciliation input (at 100 TB: the
    archived log the stream also consumed).

    Returns VIOLATION rows (empty result == contract holds):

    - ``bound``:     a surviving token with NOT ``cnt - err <= true
      <= cnt`` (Metwally et al.'s overestimation bound — holds for any
      micro-batch sharding because the same token always lands on the
      same shard);
    - ``phantom``:   a surviving token absent from the exact counts
      whose lower bound ``cnt - err`` is still positive (a true=0 bound
      break, split out so the join stays inner+anti);
    - ``guarantee``: a token with ``true_cnt > n_seen/k`` for its shard
      that is NOT in the summary (Space-Saving's presence guarantee).

    Scale shape: the summary is at most P x k rows by construction, so
    it is the broadcast side of every join; ``truth`` (unbounded
    vocabulary) is never shuffled beyond its own aggregation.
    """
    s = summary.select("shard", "token", "cnt", "err")
    n_seen = summary.groupBy("shard").agg(F.max("ver").alias("n_seen"))
    present = (
        truth.join(F.broadcast(s), ["shard", "token"])
        .filter(
            (F.col("true_cnt") > F.col("cnt"))
            | (F.col("true_cnt") < F.col("cnt") - F.col("err"))
        )
        .select(
            F.lit("bound").alias("violation"), "shard", "token",
            "cnt", "err", "true_cnt",
        )
    )
    phantom = (
        s.join(truth, ["shard", "token"], "left_anti")
        .filter(F.col("cnt") - F.col("err") > 0)
        .select(
            F.lit("phantom").alias("violation"), "shard", "token",
            "cnt", "err", F.lit(0).cast("long").alias("true_cnt"),
        )
    )
    missing_heavy = (
        truth.join(F.broadcast(n_seen), "shard")
        .filter(F.col("true_cnt") * k > F.col("n_seen"))
        .join(s, ["shard", "token"], "left_anti")
        .select(
            F.lit("guarantee").alias("violation"), "shard", "token",
            F.lit(None).cast("long").alias("cnt"),
            F.lit(None).cast("long").alias("err"),
            "true_cnt",
        )
    )
    return present.unionAll(phantom).unionAll(missing_heavy)


def spacesaving_containment_sink(summary_stream: DataFrame, truth_fn,
                                 k: int, results: dict,
                                 checkpoint: str | None = None):
    """foreachBatch containment-audit sink over a Space-Saving summary
    stream: per micro-batch, fold the batch's update-mode rows into the
    latest per-shard snapshot (driver-held, bounded at P x k entries by
    the sketch itself — the CC driver-tier sizing argument), rebuild
    the summary frame, and run :func:`audit_spacesaving_summary`
    against ``truth_fn(spark) -> (shard, token, true_cnt)``.

    ``results`` accumulates across batches: ``violations`` (list of
    Row), ``checked`` (tokens audited), ``batches``.  A non-empty
    ``violations`` after ``processAllAvailable()`` is the loud failure
    the parity test pins on zero.
    """
    snapshot: dict = {}  # shard -> (ver, {token: (cnt, err)})
    results.setdefault("violations", [])
    results.setdefault("checked", 0)
    results.setdefault("batches", 0)

    def audit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        by_shard: dict = {}
        for r in batch_df.collect():  # bounded: update rows <= P x k
            ver, summ = by_shard.setdefault(r.shard, (r.ver, {}))
            if r.ver > ver:
                by_shard[r.shard] = (r.ver, {r.token: (r.cnt, r.err)})
            elif r.ver == ver:  # same snapshot; older vers are stale
                summ[r.token] = (r.cnt, r.err)
        for shard, (ver, summ) in by_shard.items():
            if shard not in snapshot or ver > snapshot[shard][0]:
                snapshot[shard] = (ver, summ)
        rows = [
            (shard, tok, cnt, err, ver)
            for shard, (ver, summ) in snapshot.items()
            for tok, (cnt, err) in summ.items()
        ]
        if not rows:
            return
        summary = spark.createDataFrame(
            rows, "shard int, token string, cnt long, err long, ver long"
        )
        found = audit_spacesaving_summary(summary, truth_fn(spark), k).collect()
        results["violations"].extend(found)
        results["checked"] += len(rows)
        results["batches"] += 1

    writer = summary_stream.writeStream.outputMode("update").foreachBatch(audit)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer
