"""Custom stateful streaming (streaming/stateful.py): per-key state
carries across micro-batches and checkpoint restarts; watermarked
stream-stream interval join matches its batch analog."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from real___time_fraud_detection_using_apache_kafka_spark.schemas import TXN_SCHEMA
from real___time_fraud_detection_using_apache_kafka_spark.sources.generator import (
    batch_transactions,
)
from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
    score_stream,
)
from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
    account_running_stats,
    txn_event_interval_join,
)
from stream_io import atomic_json_append


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stateful_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_json_batch(spark, df, path):
    atomic_json_append(df, path)


def _txn_stream(spark, src_dir):
    return (
        spark.readStream.schema("v string").text(src_dir)
        .select(F.from_json(F.col("v"), TXN_SCHEMA).alias("txn"))
        .select("txn.*")
    )


@pytest.mark.parametrize("restart", [False, True], ids=["straight", "restart"])
def test_account_state_carries_across_microbatches(spark, tmpdir, restart):
    """State folds new micro-batches into existing per-key totals — also
    across a stop and restart from the checkpoint — and the latest row
    per customer equals the batch groupBy over both batches."""
    src_dir = f"{tmpdir}/src"
    ckpt = f"{tmpdir}/ckpt"
    first = batch_transactions(spark, 200)
    second = batch_transactions(spark, 80, seed=9)
    emitted = []

    def start():
        # foreachBatch: the memory sink resumes from a checkpoint only in
        # complete mode
        return (
            account_running_stats(score_stream(_txn_stream(spark, src_dir)))
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _: emitted.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .start()
        )

    def latest():
        # update mode emits each touched key once per micro-batch, in
        # batch order: the last row per key is its current state
        return {r["customer_id"]: r for r in emitted}

    _write_json_batch(spark, first, src_dir)
    q = start()
    try:
        q.processAllAvailable()
        assert sum(r["n_txn"] for r in latest().values()) == 200
        if restart:
            q.stop()
            q = start()
        _write_json_batch(spark, second, src_dir)
        q.processAllAvailable()
        assert sum(r["n_txn"] for r in latest().values()) == 280
    finally:
        q.stop()

    truth = {
        r["customer_id"]: tuple(r[1:])
        for r in score_stream(first.unionByName(second))
        .groupBy("customer_id")
        .agg(
            F.count("*"),
            F.round(F.sum("amount"), 2),
            F.sum("prediction"),
            F.max("amount"),
        )
        .collect()
    }
    got = {
        k: (r["n_txn"], r["amount_sum"], r["n_fraud"], r["max_amount"])
        for k, r in latest().items()
    }
    assert got == truth


def test_interval_join_matches_batch_semantics(spark, tmpdir):
    """The watermarked stream-stream join produces exactly the pairs the
    same interval condition yields in batch."""
    txns = batch_transactions(spark, 60).select(
        "customer_id", "transaction_id", "amount",
        F.timestamp_seconds(F.col("time")).alias("txn_ts"),
    )
    # events: one 'login' 1 min before each txn (match) and one 'logout'
    # 30 min before (outside the 10 min lookback -> no match)
    events = batch_transactions(spark, 60).select(
        "customer_id",
        F.timestamp_seconds(F.col("time") - 60).alias("event_ts"),
        F.lit("login").alias("event_type"),
    ).unionByName(
        batch_transactions(spark, 60).select(
            "customer_id",
            F.timestamp_seconds(F.col("time") - 1800).alias("event_ts"),
            F.lit("logout").alias("event_type"),
        )
    )

    src_t, src_e = f"{tmpdir}/t", f"{tmpdir}/e"
    ckpt = f"{tmpdir}/ckpt"
    txns.select(F.to_json(F.struct(*txns.columns)).alias("v")).write.text(src_t)
    events.select(F.to_json(F.struct(*events.columns)).alias("v")).write.text(src_e)

    t_schema = "customer_id string, transaction_id string, amount double, txn_ts timestamp"
    e_schema = "customer_id string, event_ts timestamp, event_type string"
    st = (
        spark.readStream.schema("v string").text(src_t)
        .select(F.from_json("v", t_schema).alias("r")).select("r.*")
    )
    se = (
        spark.readStream.schema("v string").text(src_e)
        .select(F.from_json("v", e_schema).alias("r")).select("r.*")
    )
    q = (
        txn_event_interval_join(st, se)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("join_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM join_t")
        types = {r["event_type"] for r in got.select("event_type").distinct().collect()}
        assert types == {"login"}  # logout rows fall outside the lookback
        # batch ground truth: same join condition, static frames
        batch = txns.alias("t").join(
            events.alias("e"),
            (F.col("t.customer_id") == F.col("e.customer_id"))
            & (F.col("e.event_ts") >= F.col("t.txn_ts") - F.expr("INTERVAL 10 minutes"))
            & (F.col("e.event_ts") <= F.col("t.txn_ts")),
        )
        assert got.count() == batch.count()
    finally:
        q.stop()


def test_rapid_repeat_alerts_match_batch_rule(spark, tmpdir):
    """The streaming velocity rule emits exactly the gaps the batch
    lag-window query counts, across micro-batch boundaries."""
    from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES
    from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import (
        load_table,
    )
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
        rapid_repeat_alerts,
    )

    sf_dir = "/root/testdata/sf0.001"
    purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
    )
    # three chronological chunks -> state must carry across micro-batches
    rows = purchases.orderBy("ts", "event_id").collect()
    chunks = [rows[: len(rows) // 3], rows[len(rows) // 3 : 2 * len(rows) // 3],
              rows[2 * len(rows) // 3 :]]
    src_dir, ckpt = f"{tmpdir}/src", f"{tmpdir}/ckpt"

    def write_chunk(chunk):
        df = spark.createDataFrame(chunk, "user_id long, ts timestamp, event_id long")
        atomic_json_append(df, src_dir)

    write_chunk(chunks[0])
    stream = (
        spark.readStream.schema("v string").text(src_dir)
        .select(
            F.from_json(
                "v", "user_id long, ts timestamp, event_id long"
            ).alias("r")
        )
        .select("r.*")
    )
    q = (
        rapid_repeat_alerts(stream, gap_sec=3600)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("velocity_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        for c in chunks[1:]:
            write_chunk(c)
            q.processAllAvailable()
        alerts = spark.sql(
            "SELECT user_id, count(*) AS n, min(gap_sec) AS min_gap "
            "FROM velocity_t GROUP BY user_id"
        ).collect()
    finally:
        q.stop()

    batch = {
        r["user_id"]: (r["n_rapid"], r["min_gap_sec"])
        for r in QUERIES["rapid_repeat_purchases"].fn(spark, sf_dir).collect()
    }
    got = {r["user_id"]: (r["n"], r["min_gap"]) for r in alerts}
    assert got == batch
    assert all(g[1] <= 3600 for g in got.values())


def test_rapid_repeat_alerts_survive_restart_exactly_once(spark, tmpdir):
    """Stop the velocity-rule query mid-stream and restart from the
    checkpoint: carried state must resume (no re-alerts, no lost
    alerts) — the recovery semantics the reference's in-process
    counters (FD/consumer.py:17-20) cannot offer."""
    from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES
    from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import (
        load_table,
    )
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
        rapid_repeat_alerts,
    )

    sf_dir = "/root/testdata/sf0.001"
    rows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
        .orderBy("ts", "event_id")
        .collect()
    )
    half = len(rows) // 2
    src_dir, ckpt = f"{tmpdir}/src", f"{tmpdir}/ckpt"

    def write_chunk(chunk):
        df = spark.createDataFrame(chunk, "user_id long, ts timestamp, event_id long")
        atomic_json_append(df, src_dir)

    out_dir = f"{tmpdir}/out"

    def start():
        stream = (
            spark.readStream.schema("v string").text(src_dir)
            .select(F.from_json("v", "user_id long, ts timestamp, event_id long")
                    .alias("r"))
            .select("r.*")
        )
        # file sink: checkpoint-recoverable AND exactly-once across the
        # restart (the memory sink supports neither)
        return (
            rapid_repeat_alerts(stream, gap_sec=3600)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )

    write_chunk(rows[:half])
    q = start()
    try:
        q.processAllAvailable()
        first = spark.read.parquet(out_dir).count()
    finally:
        q.stop()

    # restart against the SAME checkpoint with the second half appended
    write_chunk(rows[half:])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    alerts = spark.read.parquet(out_dir)
    batch = {
        r["user_id"]: r["n_rapid"]
        for r in QUERIES["rapid_repeat_purchases"].fn(spark, sf_dir).collect()
    }
    got = {
        r["user_id"]: r["n"]
        for r in alerts.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == batch          # per-user exact: no dupes, no losses
    assert first <= sum(batch.values())
    assert alerts.filter(F.col("gap_sec") > 3600).count() == 0


def test_rule_alert_sink_hot_reloads_rules_between_batches(spark, tmpdir):
    """Commit a new rule between micro-batches: the next batch scores
    with it, previous alerts are untouched, replays are idempotent."""
    from real___time_fraud_detection_using_apache_kafka_spark.sources.txn_table import (
        TxnTable,
    )
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
        rule_alert_sink,
    )

    rules = TxnTable(f"{tmpdir}/rules")
    alerts = TxnTable(f"{tmpdir}/alerts")
    rules.append(
        spark.createDataFrame(
            [("purchase", 400.0)], "event_type string, min_value double"
        )
    )
    sink = rule_alert_sink(rules, alerts, "alerts-test")

    def batch(rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, value double"
        )

    b0 = batch([(1, 7, "purchase", 450.0), (2, 7, "purchase", 100.0),
                (3, 8, "click", 480.0)])
    sink(b0, 0)
    got0 = {r["event_id"] for r in alerts.read(spark).collect()}
    assert got0 == {1}  # only the purchase rule exists and only 450 >= 400

    # analyst commits a click rule — no restart, next batch picks it up
    rules.append(
        spark.createDataFrame(
            [("click", 300.0)], "event_type string, min_value double"
        )
    )
    b1 = batch([(4, 9, "click", 350.0), (5, 9, "click", 100.0),
                (6, 9, "purchase", 401.0)])
    sink(b1, 1)
    got1 = {r["event_id"] for r in alerts.read(spark).collect()}
    assert got1 == {1, 4, 6}

    # replay of batch 1 (foreachBatch at-least-once window) is a no-op
    sink(b1, 1)
    assert alerts.read(spark).count() == 3


def test_interval_join_left_outer_emits_unmatched_on_watermark(spark, tmpdir):
    """Left-outer stream-stream: a transaction with no event inside its
    lookback must eventually surface NULL-padded — and only after the
    event-side watermark proves no match can still arrive (advanced
    here by feeding later batches)."""
    src_t, src_e = f"{tmpdir}/t", f"{tmpdir}/e"
    ckpt = f"{tmpdir}/ckpt2"
    t_schema = "customer_id string, transaction_id string, amount double, txn_ts timestamp"
    e_schema = "customer_id string, event_ts timestamp, event_type string"

    def jwrite(df, path):
        atomic_json_append(df, path)

    base = 1_700_000_000  # fixed epoch anchor
    t0 = spark.createDataFrame(
        [("A", "tx1", 10.0, base), ("B", "tx2", 20.0, base)],
        "customer_id string, transaction_id string, amount double, sec long",
    ).select("customer_id", "transaction_id", "amount",
             F.timestamp_seconds("sec").alias("txn_ts"))
    e0 = spark.createDataFrame(
        [("A", base - 60, "login")],  # matches tx1; B has nothing
        "customer_id string, sec long, event_type string",
    ).select("customer_id", F.timestamp_seconds("sec").alias("event_ts"),
             "event_type")
    jwrite(t0, src_t)
    jwrite(e0, src_e)

    st = (spark.readStream.schema("v string").text(src_t)
          .select(F.from_json("v", t_schema).alias("r")).select("r.*"))
    se = (spark.readStream.schema("v string").text(src_e)
          .select(F.from_json("v", e_schema).alias("r")).select("r.*"))
    q = (
        txn_event_interval_join(st, se, how="left_outer")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("oj_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # nudge both watermarks far past tx2's match horizon; outer
        # emission may need a couple of batch boundaries to flush
        for hours in (2, 3, 4):
            jwrite(
                spark.createDataFrame(
                    [("Z", f"txZ{hours}", 1.0, base + hours * 3600)],
                    "customer_id string, transaction_id string, amount double, sec long",
                ).select("customer_id", "transaction_id", "amount",
                         F.timestamp_seconds("sec").alias("txn_ts")),
                src_t,
            )
            jwrite(
                spark.createDataFrame(
                    [("Z", base + hours * 3600, "ping")],
                    "customer_id string, sec long, event_type string",
                ).select("customer_id",
                         F.timestamp_seconds("sec").alias("event_ts"),
                         "event_type"),
                src_e,
            )
            q.processAllAvailable()
            unmatched = spark.sql(
                "SELECT * FROM oj_t WHERE transaction_id = 'tx2'"
            ).collect()
            if unmatched:
                break
        assert unmatched, "tx2 never emitted null-padded"
        assert unmatched[0].event_type is None
        assert unmatched[0].event_ts is None
        # the matched row emitted normally
        m = spark.sql(
            "SELECT event_type FROM oj_t WHERE transaction_id = 'tx1'"
        ).collect()
        assert [r.event_type for r in m] == ["login"]
    finally:
        q.stop()
