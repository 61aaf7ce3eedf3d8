"""Structured Streaming semantics (SURVEY.md §2.10): scoring, running
counters (T4 monotonicity), dead-letter routing (T6), watermarked windows
(T7) — driven through a deterministic file stream (no wall-clock rate
source), processAllAvailable for synchronous assertions."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from real___time_fraud_detection_using_apache_kafka_spark.schemas import TXN_SCHEMA
from real___time_fraud_detection_using_apache_kafka_spark.sources.generator import (
    batch_transactions,
)
from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
    running_counts,
    score_stream,
    split_dead_letters,
    windowed_counts,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_json_batch(spark, df, path):
    df.select(F.to_json(F.struct(*df.columns)).alias("v")).write.mode(
        "append"
    ).text(path)


def test_score_stream_batch_streaming_parity(spark):
    """The scoring expressions are identical in batch and streaming —
    verify the rule scorer on a batch frame (same code path)."""
    txns = batch_transactions(spark, 300)
    scored = score_stream(txns)
    rows = scored.collect()
    assert all(0.0 <= r["probability_fraud"] <= 1.0 for r in rows)
    assert all(r["prediction"] in (0, 1) for r in rows)
    high = [r for r in rows if r["amount"] >= 8000]
    assert all(r["prediction"] == 1 for r in high)


def test_score_stream_with_fitted_model(spark, tmpdir):
    """``score_stream(..., model=...)`` featurizes like the batch scorer
    ``ml.pipeline.score``: a file stream scored through a fitted
    pipeline model carries the batch probabilities, thresholded.  The
    model is saved and reloaded, as ``stream --model-dir`` does (a
    freshly fitted model keeps a training summary that holds the
    session, which cannot be serialized into tasks once the session has
    created its observation manager)."""
    from pyspark.ml import PipelineModel

    from real___time_fraud_detection_using_apache_kafka_spark.ml.pipeline import (
        score,
        train,
    )

    txns = batch_transactions(spark, 300)
    fitted, _, _ = train(txns, classifier="lr")
    fitted.write().overwrite().save(f"{tmpdir}/model")
    model = PipelineModel.load(f"{tmpdir}/model")
    src_dir = f"{tmpdir}/src"
    _write_json_batch(spark, txns, src_dir)
    stream = (
        spark.readStream.schema("v string").text(src_dir)
        .select(F.from_json(F.col("v"), TXN_SCHEMA).alias("txn"))
        .select("txn.*")
    )
    q = (
        score_stream(stream, model=model)
        .select("transaction_id", "probability_fraud", "prediction")
        .writeStream.format("memory")
        .queryName("model_scored_t")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["transaction_id"]: (r["probability_fraud"], r["prediction"])
            for r in spark.sql("SELECT * FROM model_scored_t").collect()
        }
    finally:
        q.stop()
    expected = {
        r["transaction_id"]: (
            r["probability_fraud"], int(r["probability_fraud"] >= 0.5)
        )
        for r in score(model, txns).collect()
    }
    assert len(got) == 300 and got == expected
    assert {p for _, p in got.values()} == {0, 1}


def test_streaming_counts_monotonic_and_complete(spark, tmpdir):
    """T4: counters only grow as new micro-batches arrive."""
    src_dir = f"{tmpdir}/src"
    ckpt = f"{tmpdir}/ckpt"
    txns = batch_transactions(spark, 100)
    _write_json_batch(spark, txns, src_dir)

    stream = (
        spark.readStream.schema("v string").text(src_dir)
        .select(F.from_json(F.col("v"), TXN_SCHEMA).alias("txn"))
        .select("txn.*")
    )
    q = (
        running_counts(score_stream(stream))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("counts_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r["prediction"]: r["n"]
            for r in spark.sql("SELECT * FROM counts_t").collect()
        }
        assert sum(first.values()) == 100

        _write_json_batch(spark, batch_transactions(spark, 60, seed=7), src_dir)
        q.processAllAvailable()
        second = {
            r["prediction"]: r["n"]
            for r in spark.sql("SELECT * FROM counts_t").collect()
        }
        assert sum(second.values()) == 160
        for k, v in first.items():
            assert second.get(k, 0) >= v  # monotone growth
    finally:
        q.stop()


def test_dead_letter_routing(spark, tmpdir):
    """T6: malformed payloads split to the dead-letter frame, valid rows
    flatten — nothing is silently dropped."""
    src_dir = f"{tmpdir}/src"
    good = batch_transactions(spark, 20)
    _write_json_batch(spark, good, src_dir)
    with open(f"{src_dir}/bad.txt", "w") as f:
        f.write("this is not json\n{\"half\": \n")

    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        parse_txn,
    )

    raw = spark.read.text(src_dir).select(
        F.col("value").alias("raw"),
        parse_txn(F.col("value")).alias("txn"),
    )
    ok, bad = split_dead_letters(raw)
    assert ok.count() == 20
    assert "_corrupt_record" not in ok.columns
    assert bad.count() == 2
    assert bad.columns == ["bad_record", "seen_at"]


def test_windowed_counts_watermark_schema(spark, tmpdir):
    """T7: event-time tumbling window aggregation runs end-to-end in a
    streaming query with watermark state."""
    src_dir = f"{tmpdir}/src"
    ckpt = f"{tmpdir}/ckpt"
    _write_json_batch(spark, batch_transactions(spark, 120), src_dir)
    stream = (
        spark.readStream.schema("v string").text(src_dir)
        .select(F.from_json(F.col("v"), TXN_SCHEMA).alias("txn"))
        .select("txn.*")
    )
    q = (
        windowed_counts(score_stream(stream), window="1 minute")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("win_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # append mode only emits closed windows; schema is the contract
        df = spark.sql("SELECT * FROM win_t")
        assert set(df.columns) == {"window", "prediction", "n", "amount_sum"}
    finally:
        q.stop()


def test_sliding_counts_overlap(spark, tmpdir):
    """T7: sliding windows assign each event to window/slide overlapping
    windows — total count across windows is overlap x the event count."""
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import sliding_counts

    src_dir = f"{tmpdir}/src"
    ckpt = f"{tmpdir}/ckpt"
    _write_json_batch(spark, batch_transactions(spark, 100), src_dir)
    stream = (
        spark.readStream.schema("v string").text(src_dir)
        .select(F.from_json(F.col("v"), TXN_SCHEMA).alias("txn"))
        .select("txn.*")
    )
    q = (
        sliding_counts(score_stream(stream), window="2 minutes", slide="1 minute")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("slide_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM slide_t").collect()
        assert set(rows[0].asDict()) == {"window", "prediction", "n", "amount_sum"}
        # every event is counted exactly twice (2 min window / 1 min slide)
        assert sum(r["n"] for r in rows) == 200
    finally:
        q.stop()


def test_json_parse_corrupt_record_flagging(spark):
    """PERMISSIVE from_json never yields a null struct in Spark 4 — the
    corrupt-record sidecar column is what flags bad payloads (the property
    dead-lettering relies on)."""
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        parse_txn,
    )

    df = spark.createDataFrame([("{bad",), ('{"time": 1}',)], ["value"])
    got = df.select(parse_txn(F.col("value")).alias("txn")).collect()
    corrupt = [r["txn"]["_corrupt_record"] for r in got]
    assert sum(c is not None for c in corrupt) == 1
    assert sum(c is None for c in corrupt) == 1


def test_dedup_stream_drops_redelivered_records(spark, tmpdir):
    """Streaming dedup (D1's streaming dual): an at-least-once redelivery
    of the same transaction_ids within the watermark window must count
    once — the reference double-counts redeliveries."""
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        dedup_stream,
    )

    src_dir = f"{tmpdir}/src"
    ckpt = f"{tmpdir}/ckpt"
    batch = batch_transactions(spark, 50)
    _write_json_batch(spark, batch, src_dir)
    stream = (
        spark.readStream.schema("v string").text(src_dir)
        .select(F.from_json(F.col("v"), TXN_SCHEMA).alias("txn"))
        .select("txn.*")
    )
    q = (
        dedup_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT count(*) AS n FROM dedup_t").first()["n"]
        # simulate at-least-once redelivery: identical batch arrives again
        _write_json_batch(spark, batch, src_dir)
        q.processAllAvailable()
        n_second = spark.sql("SELECT count(*) AS n FROM dedup_t").first()["n"]
        assert n_second == n_first  # duplicates suppressed
        distinct_ids = spark.sql(
            "SELECT count(DISTINCT transaction_id) AS n FROM dedup_t"
        ).first()["n"]
        assert n_second == distinct_ids
    finally:
        q.stop()


def test_session_window_counts(spark, tmpdir):
    """T7: session_window streaming aggregation runs end-to-end; total
    event count across emitted+open sessions reconciles after the stream
    drains (append mode emits only watermark-closed sessions, so drive a
    second batch far in event time to flush the first)."""
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        session_counts,
    )

    src_dir = f"{tmpdir}/src"
    ckpt = f"{tmpdir}/ckpt"
    first = batch_transactions(spark, 100)  # event time ~1700000000
    _write_json_batch(spark, first, src_dir)
    stream = (
        spark.readStream.schema("v string").text(src_dir)
        .select(F.from_json(F.col("v"), TXN_SCHEMA).alias("txn"))
        .select("txn.*")
    )
    q = (
        session_counts(score_stream(stream), gap="1 minute", watermark="2 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # advance event time ~3 days -> watermark passes every first-batch session
        late = batch_transactions(spark, 10).withColumn(
            "time", F.col("time") + F.lit(250000)
        )
        _write_json_batch(spark, late, src_dir)
        q.processAllAvailable()
        emitted = spark.sql(
            "SELECT sum(n_txn) AS n, count(*) AS sessions FROM sess_t"
        ).first()
        assert emitted["n"] == 100  # all first-batch events flushed
        assert emitted["sessions"] >= 1
        df = spark.sql("SELECT * FROM sess_t")
        assert {"customer_id", "session_start", "session_end",
                "n_txn", "amount_sum", "n_fraud"} == set(df.columns)
    finally:
        q.stop()


def test_running_counts_recover_from_checkpoint(spark, tmpdir):
    """T1: checkpointed state must survive a query restart — after stop,
    new data, and relaunch from the same checkpoint, the counters
    CONTINUE from prior state instead of restarting from zero (the
    at-least-once offset + state-store recovery contract the reference
    delegated to Kafka group offsets and in-process globals)."""
    src_dir = f"{tmpdir}/src"
    ckpt = f"{tmpdir}/ckpt"
    snap = f"{tmpdir}/snap"

    def launch():
        stream = (
            spark.readStream.schema("v string").text(src_dir)
            .select(F.from_json(F.col("v"), TXN_SCHEMA).alias("txn"))
            .select("txn.*")
        )
        counts = running_counts(score_stream(stream))
        return (
            counts.writeStream.outputMode("complete")
            .foreachBatch(
                lambda df, _id: df.write.mode("overwrite").parquet(snap)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )

    def total():
        return (
            spark.read.parquet(snap).agg(F.sum("n").alias("t")).first()["t"]
        )

    _write_json_batch(spark, batch_transactions(spark, 200), src_dir)
    q = launch()
    try:
        q.processAllAvailable()
        assert total() == 200
    finally:
        q.stop()

    # new data arrives while the query is DOWN; restart must fold it into
    # recovered state, not recount from scratch or lose the old total
    _write_json_batch(spark, batch_transactions(spark, 80, seed=5), src_dir)
    q2 = launch()
    try:
        q2.processAllAvailable()
        assert total() == 280
    finally:
        q2.stop()


def test_running_confusion_feeds_metric_battery(spark, tmpdir):
    """The streaming 2x2 confusion state must reconcile with the batch
    confusion cells, and the derived metric battery must compute from the
    memory sink without touching raw data."""
    from real___time_fraud_detection_using_apache_kafka_spark.operators.aggregates import (
        classification_metrics,
    )
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        running_confusion,
    )

    src_dir = f"{tmpdir}/src"
    ckpt = f"{tmpdir}/ckpt"
    batch = batch_transactions(spark, 250)
    _write_json_batch(spark, batch, src_dir)
    stream = (
        spark.readStream.schema("v string").text(src_dir)
        .select(F.from_json(F.col("v"), TXN_SCHEMA).alias("txn"))
        .select("txn.*")
    )
    q = (
        running_confusion(score_stream(stream))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("conf_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        state = spark.sql("SELECT * FROM conf_t")
        assert state.count() <= 4
        assert state.agg(F.sum("n")).first()[0] == 250
        # derive the battery from the four state rows only
        cells = state.agg(
            F.sum(F.when((F.col("actual") == 1) & (F.col("predicted") == 1),
                         F.col("n")).otherwise(0)).alias("tp"),
            F.sum(F.when((F.col("actual") == 0) & (F.col("predicted") == 1),
                         F.col("n")).otherwise(0)).alias("fp"),
            F.sum(F.when((F.col("actual") == 1) & (F.col("predicted") == 0),
                         F.col("n")).otherwise(0)).alias("fn"),
            F.sum(F.when((F.col("actual") == 0) & (F.col("predicted") == 0),
                         F.col("n")).otherwise(0)).alias("tn"),
        )
        m = classification_metrics(cells).first()
        # batch ground truth on the same records
        from real___time_fraud_detection_using_apache_kafka_spark.operators.aggregates import (
            confusion_cells,
        )

        batch_m = classification_metrics(
            confusion_cells(
                score_stream(batch), F.col("is_fraud"), F.col("prediction")
            )
        ).first()
        assert m.asDict() == batch_m.asDict()
    finally:
        q.stop()


def test_foreach_batch_dual_sink_counts_match_data(spark, tmpdir):
    """One query, two sinks: the counter ledger's folded totals must equal
    a direct groupBy over the data sink, across multiple micro-batches."""
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        foreach_batch_dual_sink,
        read_running_counts,
    )

    src_dir = f"{tmpdir}/src"
    data_path = f"{tmpdir}/scored"
    counts_path = f"{tmpdir}/counts"
    _write_json_batch(spark, batch_transactions(spark, 80), src_dir)
    stream = (
        spark.readStream.schema("v string").text(src_dir)
        .select(F.from_json(F.col("v"), TXN_SCHEMA).alias("txn"))
        .select("txn.*")
    )
    q = foreach_batch_dual_sink(
        score_stream(stream), data_path, counts_path, f"{tmpdir}/ckpt_dual"
    )
    try:
        q.processAllAvailable()
        _write_json_batch(spark, batch_transactions(spark, 40, seed=9), src_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    data = spark.read.parquet(data_path)
    assert data.count() == 120
    direct = {
        r["prediction"]: r["n"]
        for r in data.groupBy("prediction").agg(F.count("*").alias("n")).collect()
    }
    folded = {
        r["prediction"]: r["count"]
        for r in read_running_counts(spark, counts_path).collect()
    }
    assert folded == direct


def test_binned_pr_threshold_tracks_batch_curve(spark, tmpdir):
    """A14 streaming form: the binned PR state must be maintainable as an
    incremental streaming aggregation (complete mode, <= n_bins state
    rows) and its F1-argmax must match the exact batch PR curve within
    grid resolution."""
    from real___time_fraud_detection_using_apache_kafka_spark.operators.windows import (
        pr_curve_best_threshold,
    )
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        binned_score_counts,
        threshold_from_bins,
    )

    txns = batch_transactions(spark, 2000, seed=7)
    scored = score_stream(txns)  # batch: same exprs as the stream path
    exact = pr_curve_best_threshold(
        scored, F.col("is_fraud"), F.col("probability_fraud")
    ).first()

    data = f"{tmpdir}/scored_json"
    _write_json_batch(spark, scored.select("probability_fraud", "is_fraud"), data)
    stream = (
        spark.readStream.schema("probability_fraud double, is_fraud int")
        .json(data)
    )
    q = (
        binned_score_counts(stream, n_bins=1000)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("pr_bins")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        bins = spark.table("pr_bins")
        assert bins.count() <= 1000
        got = threshold_from_bins(bins, n_bins=1000).first()
    finally:
        q.stop()
    assert abs(got.threshold - exact.threshold) <= 0.002, (got, exact)
    assert abs(got.f1 - exact.f1) <= 0.02, (got, exact)


def test_windowed_counts_drop_late_data_after_watermark(spark, tmpdir):
    """T7 late-data semantics, driven with actual late rows: once the
    watermark passes a window, a record whose event time falls back
    into it is DROPPED — the closed window's emitted counts never
    change, and the late row appears in no other window."""
    src_dir = f"{tmpdir}/src"
    ckpt = f"{tmpdir}/ckpt"
    base = 1_700_000_000  # epoch anchor
    first = batch_transactions(spark, 60).withColumn(
        "time", F.lit(base) + (F.monotonically_increasing_id() % 60)
    )
    _write_json_batch(spark, first, src_dir)
    stream = (
        spark.readStream.schema("v string").text(src_dir)
        .select(F.from_json(F.col("v"), TXN_SCHEMA).alias("txn"))
        .select("txn.*")
    )
    q = (
        windowed_counts(score_stream(stream), window="1 minute",
                        watermark="2 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        # advance event time 1h -> watermark sails past the first window;
        # append-mode emits with the PREVIOUS batch's watermark, so a
        # second nudge batch triggers the eviction that emits window 1
        advance = batch_transactions(spark, 10, seed=5).withColumn(
            "time", F.lit(base + 3600)
        )
        _write_json_batch(spark, advance, src_dir)
        q.processAllAvailable()
        _write_json_batch(
            spark,
            batch_transactions(spark, 3, seed=7).withColumn(
                "time", F.lit(base + 3660)
            ),
            src_dir,
        )
        q.processAllAvailable()
        closed = {
            (r["window"].start.timestamp(), r["prediction"]): r["n"]
            for r in spark.sql("SELECT * FROM late_t").collect()
            if r["window"].start.timestamp() <= base + 60
        }
        assert sum(
            n for (s, _), n in closed.items() if s <= base + 60
        ) == 60, closed  # the whole first batch was emitted on close
        # now a LATE row aimed squarely at the closed first window
        late = batch_transactions(spark, 1, seed=9).withColumn(
            "time", F.lit(base + 10)
        )
        _write_json_batch(spark, late, src_dir)
        q.processAllAvailable()
        # nudge again so any (incorrect) late emission would have flushed
        _write_json_batch(
            spark,
            batch_transactions(spark, 5, seed=11).withColumn(
                "time", F.lit(base + 7200)
            ),
            src_dir,
        )
        q.processAllAvailable()
        after = {
            (r["window"].start.timestamp(), r["prediction"]): r["n"]
            for r in spark.sql("SELECT * FROM late_t").collect()
            if r["window"].start.timestamp() <= base + 60
        }
        assert after == closed  # late row changed nothing, anywhere early
        total_emitted = sum(
            r["n"] for r in spark.sql("SELECT * FROM late_t").collect()
        )
        # 60 (first window) + 10 + 3 (advance/nudge windows, closed by the
        # +7200 batch) emitted; the late row would make 74 — it was
        # dropped; the final 5-row batch's window is still open
        assert total_emitted == 73
    finally:
        q.stop()


def test_dashboard_from_state_matches_batch_snapshot(spark):
    """The streaming dashboard reader must reproduce the batch
    dashboard_snapshot catalog query's full (metric, value) table from
    the single state row.  Counts/ratios/decimal-average metrics are
    exact; avg_probability rides a 12-dp decimal accumulator against
    the batch double avg, so it gets a 1e-9 tolerance at the 6-dp
    surface."""
    from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES
    from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_metrics import (
        scored_events,
    )
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        dashboard_from_state,
        dashboard_state,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r["metric"]: r["value"]
        for r in QUERIES["dashboard_snapshot"].fn(spark, sf).collect()
    }
    state = dashboard_state(
        scored_events(spark, sf),
        proba_col="score", pred_col="predicted",
        label_col="actual", value_col="value",
    )
    got = {
        r["metric"]: r["value"] for r in dashboard_from_state(state).collect()
    }
    assert set(got) == set(batch)
    for k in batch:
        if k == "avg_probability":
            assert got[k] == pytest.approx(batch[k], abs=1e-9), k
        else:
            assert got[k] == batch[k], k


def test_dashboard_state_is_shard_order_independent(spark, tmpdir):
    """Run dashboard_state as a REAL streaming query over two atomic
    micro-batches; the folded state must equal the batch aggregate over
    the union — the O(delta) merge loses nothing and the decimal
    accumulators make the fold independent of sharding."""
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        dashboard_state,
    )
    from tests.stream_io import atomic_json_append

    src_dir = f"{tmpdir}/src"
    ckpt = f"{tmpdir}/ckpt"
    b1 = batch_transactions(spark, 120)
    b2 = batch_transactions(spark, 80, seed=9)
    atomic_json_append(score_stream(b1), src_dir)

    stream = (
        spark.readStream.schema("v string").text(src_dir)
        .select(F.from_json(F.col("v"), score_stream(
            spark.createDataFrame([], TXN_SCHEMA)).schema.simpleString()
        ).alias("t"))
        .select("t.*")
    )
    q = (
        dashboard_state(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("dash_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        atomic_json_append(score_stream(b2), src_dir)
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM dash_t").first().asDict()
    finally:
        q.stop()
    want = dashboard_state(
        score_stream(b1).unionByName(score_stream(b2))
    ).first().asDict()
    assert got == want


def test_session_entry_sessions_parity_with_batch(spark, tmpdir, sf_dir):
    """r9 (VERDICT r8 item 8): replay the events fixture through the
    session_window + arg-min-entry streaming twin, roll the emitted
    sessions up with the SHARED bounce_report, and require exact
    equality with the batch session_bounce_stats rows.  (Boundary note:
    an event at EXACTLY prev+gap would split in session_window but
    merge in the batch sessionizer; the fixture's microsecond
    timestamps cannot land there.)"""
    import datetime

    from real___time_fraud_detection_using_apache_kafka_spark.operators.temporal import (
        bounce_report,
    )
    from real___time_fraud_detection_using_apache_kafka_spark.plans.registry import QUERIES
    from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import (
        load_table,
    )
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        session_entry_sessions,
    )

    src = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "event_type",
    )
    src_dir, ckpt = f"{tmpdir}/events_src", f"{tmpdir}/events_ckpt"
    src.write.parquet(src_dir)
    stream = spark.readStream.schema(src.schema).parquet(src_dir)
    q = (
        session_entry_sessions(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_entry_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # flush: one sentinel event far past the fixture's horizon moves
        # the watermark beyond every real session's close
        max_ts = src.agg(F.max("ts")).first()[0]
        sentinel = spark.createDataFrame(
            [(-999, max_ts + datetime.timedelta(days=30), -1, "flush")],
            schema=src.schema,
        )
        sentinel.write.mode("append").parquet(src_dir)
        q.processAllAvailable()
        emitted = spark.sql(
            "SELECT * FROM sess_entry_t WHERE user_id <> -999"
        )
        got = {
            r["entry_type"]: (r["n_sessions"], r["n_bounce"],
                              r["bounce_rate"], r["avg_events"],
                              r["avg_duration_sec"])
            for r in bounce_report(emitted).collect()
        }
    finally:
        q.stop()
    want = {
        r["entry_type"]: (r["n_sessions"], r["n_bounce"], r["bounce_rate"],
                          r["avg_events"], r["avg_duration_sec"])
        for r in QUERIES["session_bounce_stats"].fn(spark, sf_dir).collect()
    }
    assert got == want
