"""Streaming-path throughput smoke: rate source -> a chosen streaming
pipeline, measured as rows/s actually processed over a fixed wall
window.

Modes (first CLI arg; numeric first arg keeps the legacy default):

- ``scored``  (default) synthetic transactions -> broadcast-model
  scoring -> running class counts — the reference's stream path, which
  is architecturally capped at 0.5 txn/s there (one record per 2 s
  sleep, single process, 1-row pandas frame per message — SURVEY.md §6).
- ``hll``     JVM (event_type, b, rho) register coordinates
  (``hll_bucket_rank``) -> ``hll_distinct_stream`` per-cell max
  aggregation — proves the O(cells)-state HLL dual holds at rate, not
  just at parity.
- ``cms``     JVM (j, b) bucket pairs -> ``cms_sketch_stream`` per-cell
  count — same proof for the count-min dual.
- ``bloom``   JVM (w, word) bit contributions -> ``bloom_filter_stream``
  per-word ``bit_or`` over a 2^20-bit mask (16k words).
- ``kalman``  out-of-order-tolerant per-key Kalman
  (``kalman_stream_ordered``) under a 2 s watermark — the
  watermark-buffered stateful recurrence at rate.

The sketch modes' final check counts the distinct live cells in the
update-mode sink.

Usage: python tools/streaming_throughput.py [mode] [rows_per_second] [seconds]
Prints one markdown row for SCALE.md / BASELINE.md.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from real___time_fraud_detection_using_apache_kafka_spark.session import get_spark
from real___time_fraud_detection_using_apache_kafka_spark.sources.generator import stream_transactions
from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
    running_counts,
    score_stream,
)


def _rate(spark, rows_per_second: float):
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", int(rows_per_second))
        .option("numPartitions", 8)
        .load()
    )


def _pipeline(spark, mode: str, target: float):
    """Returns (streaming DataFrame, outputMode, final-check SQL)."""
    if mode == "scored":
        txns = stream_transactions(spark, rows_per_second=target)
        return (
            running_counts(score_stream(txns)),
            "complete",
            "SELECT sum(n) FROM sink_t",
        )
    if mode == "hll":
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_sketch import (
            hll_bucket_rank,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            hll_distinct_stream,
        )

        pairs = hll_bucket_rank(
            _rate(spark, target).select(
                F.concat(F.lit("t"), F.col("value") % 5).alias("event_type"),
                (F.col("value") % 1_000_000).alias("user_id"),
            ),
            "cast(user_id as string)",
        ).select("event_type", "b", "rho")
        return (
            hll_distinct_stream(pairs),
            "update",
            "SELECT count(DISTINCT event_type, b) FROM sink_t",
        )
    if mode == "cms":
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_sketch import (
            CMS_W,
            _CMS_ROWS,
            _MIX_P,
            _mixed_hash,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            cms_sketch_stream,
        )

        keyed = _mixed_hash(
            _rate(spark, target).select(
                (F.col("value") % 1_000_000).alias("user_id")
            ),
            "cast(user_id as string)",
        )
        pairs = keyed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.pmod(
                                F.pmod(
                                    F.lit(a) * F.col("g") + F.lit(b),
                                    F.lit(_MIX_P),
                                ),
                                F.lit(CMS_W),
                            ).alias("b"),
                        )
                        for j, (a, b) in enumerate(_CMS_ROWS)
                    ]
                )
            ).alias("jb")
        ).select("jb.j", "jb.b")
        return (
            cms_sketch_stream(pairs),
            "update",
            "SELECT count(DISTINCT j, b) FROM sink_t",
        )
    if mode == "bloom":
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_sketch import (
            _BLOOM_KS,
            _MIX_P,
            _mixed_hash,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            bloom_filter_stream,
        )

        m = 1 << 20
        keyed = _mixed_hash(
            _rate(spark, target).select(
                (F.col("value") % 1_000_000).alias("user_id")
            ),
            "cast(user_id as string)",
        )
        bits = keyed.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.pmod(
                                F.lit(a) * F.col("g") + F.lit(b),
                                F.lit(_MIX_P),
                            ),
                            F.lit(m),
                        )
                        for a, b in _BLOOM_KS
                    ]
                )
            ).alias("bit")
        )
        words = bits.select(
            (F.col("bit") / 64).cast("int").alias("w"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(bit % 64 as int))"
            ).alias("word"),
        )
        return (
            bloom_filter_stream(words),
            "update",
            "SELECT count(DISTINCT w) FROM sink_t",
        )
    if mode == "kalman":
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            kalman_stream_ordered,
        )

        events = (
            _rate(spark, target)
            .select(
                (F.col("value") % 1_000).alias("user_id"),
                F.col("timestamp").alias("ts"),
                F.col("value").alias("event_id"),
                ((F.col("value") % 997) * 1.0).alias("value"),
            )
            .withWatermark("ts", "2 seconds")
        )
        return (
            kalman_stream_ordered(events),
            "update",
            "SELECT max(n_events) FROM sink_t",
        )
    raise SystemExit(f"unknown mode {mode!r} (scored|hll|cms|bloom|kalman)")


def main() -> None:
    args = sys.argv[1:]
    mode = "scored"
    if args and not args[0].replace(".", "", 1).isdigit():
        mode, args = args[0], args[1:]
    target = float(args[0]) if args else 200_000
    window_s = float(args[1]) if len(args) > 1 else 30
    spark = get_spark("streaming-throughput")
    out, output_mode, check_sql = _pipeline(spark, mode, target)
    ckpt = tempfile.mkdtemp(prefix="throughput_ckpt_")
    q = (
        out.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName("sink_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    t0 = time.time()
    time.sleep(window_s)
    rows = 0
    for p in q.recentProgress:
        rows += p["numInputRows"]
    elapsed = time.time() - t0
    final = spark.sql(check_sql).first()[0]
    q.stop()
    q.awaitTermination(30)
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)
    rate = rows / elapsed if elapsed else 0.0
    # the 0.5 txn/s reference cap describes the scored pipeline only —
    # the sketch/kalman duals have no reference counterpart to multiply
    ref = f" x{rate / 0.5:,.0f} the reference |" if mode == "scored" else ""
    print(
        f"| {mode} @ {int(target):,} rows/s target | {window_s:.0f} s window | "
        f"{rows:,} rows | {rate:,.0f} rows/s sustained | "
        f"final check {final} |" + ref
    )


if __name__ == "__main__":
    main()
