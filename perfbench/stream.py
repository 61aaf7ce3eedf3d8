"""Stream workloads: the scoring pipeline fed from Kafka-wire JSON files.

The pipeline is the one ``cmd_stream`` runs, built from public engine
calls: text file source -> ``streaming.pipeline.parse_txn`` ->
``split_dead_letters`` -> ``ml.pipeline.score`` (a GBT pipeline fitted
with ``ml.pipeline.train``) -> ``dashboard_state`` in a memory sink, with
the dead letters in a second query.  Inputs come from
``sources.generator.batch_transactions`` + ``to_kafka_json`` with the
workload seed, and a seeded 0.1% of lines are replaced by malformed JSON.

``stream_steady`` feeds one file every 100 ms from a separate process and
times each file from its due time to the end of the micro-batch that
committed it.  A backlog of further lines from the same generator, in
larger files, is drained with ``availableNow``: once untimed to warm the
session, then DRAINS times after the open loop for the drain throughput.
Traced runs add ablated and single-core drains of that backlog.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime, timezone

import numpy as np

from common import ENGINE, ExecMetrics, Tracer, job_counts, quantile

PERIOD_S = 0.1           # one file every 100 ms ...
ROWS_PER_FILE = 250      # ... is an offered rate of 2.5k rows/s, a fifth
                         # to a tenth of the drain rate on 4 cores: the
                         # batches stay small when the host is slow
WARMUP_S = 1.0           # files due in the first second are not timed
MALFORMED_SHARE = 0.001
BACKLOG_ROWS = 40_000    # the backlog: 8 files ...
BACKLOG_FILES = 8
DRAIN_MAX_FILES = 2      # ... drained 2 files per micro-batch
DRAINS = 2               # timed drains of the backlog per run
LOCAL1_FILES = 2         # backlog share drained on local[1]
TRAIN_ROWS = 20_000
TRAIN_SEED = 42
# Malformed-line shapes: truncated JSON, a wrong type, not JSON at all.
BAD_LINES = [
    lambda s: s[: len(s) // 2],
    lambda s: re.sub(r'"amount":[-0-9.eE]+', '"amount":"n/a"', s, count=1),
    lambda s: "not json at all",
]


def _engine(mod: str):
    return importlib.import_module(f"{ENGINE}.{mod}")


def fit_model(spark):
    """``ml.pipeline.train`` on TRAIN_ROWS generated transactions."""
    gen, mlp = _engine("sources.generator"), _engine("ml.pipeline")
    t0 = time.perf_counter()
    model, _, _ = mlp.train(gen.batch_transactions(spark, TRAIN_ROWS, seed=TRAIN_SEED))
    return model, time.perf_counter() - t0


def ensure_model(cache_dir: str, engine_key: str) -> str:
    """Path of the cached GBT model for this engine source.

    The model is fitted once per checkout, like a build step: a scoring
    service loads a fitted model, it does not train at start-up.  The fit
    runs in its own process, because a fit warms the JVM and the run that
    fitted would otherwise read faster than every later run.  The model is
    kept as one Java-serialized object, which loads in well under a
    second; MLlib's directory format costs about 20 Spark jobs (~8 s on a
    fresh session) per load, more than a run's budget allows."""
    path = os.path.join(cache_dir, f"gbt-{engine_key}.ser")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        subprocess.run([sys.executable, os.path.abspath(__file__), path], check=True, timeout=900)
    return path


def _fit_and_save(path: str) -> None:
    from common import start_session, stop_jvm

    spark, _ = start_session(len(os.sched_getaffinity(0)))
    try:
        model, fit_s = fit_model(spark)
        print(f"perfbench: fitted the GBT model in {fit_s:.1f} s (cached)", file=sys.stderr)
        jvm = spark._jvm
        tmp = f"{path}.tmp{os.getpid()}"
        out = jvm.java.io.ObjectOutputStream(jvm.java.io.FileOutputStream(tmp))
        try:
            out.writeObject(model._to_java())
        finally:
            out.close()
        with open(path + ".json", "w") as f:
            json.dump({"fit_s": fit_s, "train_rows": TRAIN_ROWS}, f)
        os.replace(tmp, path)
    finally:
        spark.stop()
        stop_jvm()


def recorded_fit_s(model_path: str) -> float:
    """Fit time recorded when the cached model was built."""
    with open(model_path + ".json") as f:
        return json.load(f)["fit_s"]


def load_model(spark, path: str):
    from pyspark.ml import PipelineModel

    jvm = spark._jvm
    src = jvm.java.io.ObjectInputStream(jvm.java.io.FileInputStream(path))
    try:
        return PipelineModel._from_java(src.readObject())
    finally:
        src.close()


def malformed_positions(n_lines: int, share: float, seed: int) -> list[int]:
    """Sorted line numbers (0-based) that get replaced by malformed JSON."""
    rng = np.random.default_rng(seed)
    k = max(1, round(n_lines * share))
    return np.sort(rng.choice(n_lines, k, replace=False)).tolist()


def _write_files(out_dir: str, lines: list[str], n_files: int) -> None:
    os.makedirs(out_dir)
    per_file = -(-len(lines) // n_files)
    for i in range(n_files):
        with open(os.path.join(out_dir, f"f{i:05d}.json"), "w") as f:
            f.write("\n".join(lines[i * per_file:(i + 1) * per_file]) + "\n")


def write_inputs(spark, work: str, n_files: int, seed: int) -> dict:
    """Kafka-wire JSON lines from the engine's generator, with seeded
    malformed lines, in generation order: ``n_files`` files of
    ROWS_PER_FILE lines for the feeder (``feed``), then BACKLOG_ROWS lines
    in BACKLOG_FILES files for the drains (``backlog``).  Returns each
    part's directory, line count and injected malformed lines, and the
    time taken."""
    gen = _engine("sources.generator")
    t0 = time.perf_counter()
    tmp = os.path.join(work, "generated")
    n_feed = n_files * ROWS_PER_FILE
    n = n_feed + BACKLOG_ROWS
    gen.to_kafka_json(gen.batch_transactions(spark, n, seed=seed)).select("value").write.text(tmp)
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(tmp, "part-*"))):
        with open(part) as f:
            lines.extend(f.read().splitlines())
    shutil.rmtree(tmp)
    if len(lines) != n:
        raise RuntimeError(f"generator wrote {len(lines)} lines, expected {n}")
    bad = malformed_positions(n, MALFORMED_SHARE, seed)
    for i, pos in enumerate(bad):
        lines[pos] = BAD_LINES[i % len(BAD_LINES)](lines[pos])
    in_feed = sum(1 for pos in bad if pos < n_feed)
    out = {"feed": {"dir": os.path.join(work, "feed"), "lines": n_feed, "injected": in_feed},
           "backlog": {"dir": os.path.join(work, "backlog"), "lines": BACKLOG_ROWS,
                       "injected": len(bad) - in_feed}}
    _write_files(out["feed"]["dir"], lines[:n_feed], n_files)
    _write_files(out["backlog"]["dir"], lines[n_feed:], BACKLOG_FILES)
    out["write_s"] = time.perf_counter() - t0
    return out


def pipeline(raw, model, stage: str = "state"):
    """(main, dead letters) frames over a frame of raw JSON lines, streaming
    or batch.  ``stage`` cuts the main branch after parsing ("parse"),
    after scoring ("score") or keeps the state ("state")."""
    from pyspark.sql import functions as F

    sp, mlp = _engine("streaming.pipeline"), _engine("ml.pipeline")
    parsed = raw.select(F.col("value").alias("raw"), sp.parse_txn(F.col("value")).alias("txn"))
    good, bad = sp.split_dead_letters(parsed)
    if stage == "parse":
        return good, bad
    scored = mlp.score(model, good)
    if stage == "score":
        return scored, bad
    return sp.dashboard_state(scored), bad


def stream_pipeline(spark, src_dir: str, model, max_files: int | None = None, stage: str = "state"):
    reader = spark.readStream.format("text")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return pipeline(reader.load(src_dir), model, stage)


def batch_state(spark, src_dir: str, model):
    """The same pipeline as one batch job over the same files: the final
    state rows and the dead-letter count."""
    state, bad = pipeline(spark.read.text(src_dir), model)
    return state.collect(), bad.count()


def warm_up(spark, model, work: str, inputs: dict) -> None:
    """Both streaming queries drain the backlog once, so the timed stream
    does not pay the session's first-use costs (code generation, JIT
    compilation of the parse and score loops, state store, checkpoint and
    sink set-up)."""
    drain(spark, model, inputs["backlog"]["dir"], os.path.join(work, "ck_warm"), "warm")


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


class Progress:
    """A ``StreamingQueryListener`` that keeps every progress event."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events: dict[str, list[dict]] = {}
        lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                p["end_epoch"] = _epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000
                with lock:
                    events.setdefault(p["id"], []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.events = events
        self._lock = lock
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def of(self, query) -> list[dict]:
        with self._lock:
            return [p for p in self.events.get(str(query.id), []) if p["numInputRows"] > 0]

    def wait_for(self, query, batch_id: int, timeout: float = 10.0) -> None:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if any(p["batchId"] >= batch_id for p in self.of(query)):
                return
            time.sleep(0.05)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the checkpoint's source log."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if not os.path.basename(path).split(".")[0].isdigit():  # N and N.compact
            continue
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def start(main_df, bad_df, ckpt: str, available_now: bool, tag: str):
    """Start the two queries: the state into a memory sink, the dead
    letters into another."""
    w = main_df.writeStream.option("checkpointLocation", os.path.join(ckpt, "main"))
    if "total_txn" in main_df.columns:
        w = w.outputMode("complete").format("memory").queryName(f"dash_{tag}")
    else:
        w = w.outputMode("append").format("noop")
    if available_now:
        w = w.trigger(availableNow=True)
    main_q = w.start()
    dead_q = None
    if bad_df is not None:
        dw = (bad_df.writeStream.format("memory").queryName(f"dead_{tag}")
              .option("checkpointLocation", os.path.join(ckpt, "dead")))
        if available_now:
            dw = dw.trigger(availableNow=True)
        dead_q = dw.start()
    return main_q, dead_q


def layer_metrics(progress: list[dict]) -> dict[str, float]:
    """``streaming.*`` numbers from the main query's progress events."""
    def med(key):
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return statistics.median(vals) if vals else 0.0

    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    return {
        "streaming.latestOffset_ms": med("latestOffset"),
        "streaming.queryPlanning_ms": med("queryPlanning"),
        "streaming.walCommit_ms": med("walCommit"),
        "streaming.commitOffsets_ms": med("commitOffsets"),
        "streaming.addBatch_ms": med("addBatch"),
        "streaming.overhead_ms": statistics.median([p["durationMs"].get("triggerExecution", 0)
                                         - p["durationMs"].get("addBatch", 0) for p in progress]),
        "streaming.rows_per_batch": statistics.median([p["numInputRows"] for p in progress]),
        "streaming.batches": len(progress),
        "streaming.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "streaming.state_memory_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "streaming.state_commit_ms": statistics.median([o.get("commitTimeMs", 0) for o in ops]) if ops else 0.0,
    }


def verify(spark, expected: tuple[list, int], inputs: dict, tag: str) -> int:
    """Lines of one input part (``inputs``: its line and injected counts)
    not accounted for: the final streamed state must equal the batch
    recomputation ``expected`` (``batch_state``) over the same lines, and
    the dead letters must be exactly the injected lines.  A differing
    state counts at least one."""
    expect_state, expect_bad = expected
    got_state = spark.table(f"dash_{tag}").collect()
    got_bad = spark.table(f"dead_{tag}").count()
    failed = abs(got_bad - inputs["injected"])
    if [tuple(r) for r in got_state] != [tuple(r) for r in expect_state]:
        print(f"perfbench: {tag} streamed state {got_state} != batch {expect_state}", file=sys.stderr)
        got_n = got_state[0]["total_txn"] if got_state else 0
        failed += max(1, abs(got_n - (inputs["lines"] - inputs["injected"])))
    if failed:
        print(f"perfbench: {tag} dead letters {got_bad} (batch {expect_bad}), injected "
              f"{inputs['injected']}", file=sys.stderr)
    return failed


def run_steady(spark, model, work: str, seconds: float, tracer: Tracer,
               inputs: dict, exclude_pids: set[int]) -> dict:
    """Open loop: a separate feeder renames one feed file in every
    PERIOD_S into ``source``.  Leaves the results in the ``dash_steady``
    and ``dead_steady`` tables."""
    staging, src = inputs["feed"]["dir"], os.path.join(work, "source")
    ckpt, feed_log = os.path.join(work, "ckpt"), os.path.join(work, "feeder.json")
    os.makedirs(src)
    execm = ExecMetrics(spark)
    progress = Progress(spark)
    try:
        main_df, bad_df = stream_pipeline(spark, src, model)
        main_q, dead_q = start(main_df, bad_df, ckpt, available_now=False, tag="steady")
        t0 = time.time() + 1.0
        feeder = subprocess.Popen([sys.executable, os.path.join(os.path.dirname(__file__), "feeder.py"),
                                   staging, src, repr(t0), repr(PERIOD_S), feed_log])
        exclude_pids.add(feeder.pid)
        try:
            with tracer.span("stream.feed") as feed_span:
                rc = feeder.wait(timeout=seconds + WARMUP_S + 60)
        finally:
            if feeder.poll() is None:
                feeder.kill()
                feeder.wait()
        if rc != 0:
            raise RuntimeError(f"feeder exited with {rc}")
        with tracer.span("stream.catch_up"):
            main_q.processAllAvailable()
            dead_q.processAllAvailable()
        batches = file_batches(os.path.join(ckpt, "main"))
        progress.wait_for(main_q, max(batches.values()))
        main_q.stop()
        dead_q.stop()
        events = progress.of(main_q)
    finally:
        progress.close()
    with open(feed_log) as f:
        fed = json.load(f)
    end_of = {p["batchId"]: p["end_epoch"] for p in events}
    lat, lag = [], []
    for name, due, actual in fed:
        lag.append((actual - due) * 1000)
        if due - t0 >= WARMUP_S:
            lat.append((end_of[batches[name]] - due) * 1000)
    for p in events:
        tracer.add("micro_batch", _epoch(p["timestamp"]), p["end_epoch"],
                   feed_span["id"] if feed_span else None, batch=p["batchId"], rows=p["numInputRows"])
    layer = layer_metrics(events)
    layer.update(_exec_layer(spark, execm, main_q, dead_q))
    layer["feeder.lag_p99_ms"] = quantile(lag, 0.99)
    layer["streaming.dead_letters"] = spark.table("dead_steady").count()
    return {"e2e": {"latency_p50_ms": quantile(lat, 0.5), "latency_p99_ms": quantile(lat, 0.99)},
            "layer": layer, "timed_files": len(lat), "source": src}


def timed_drain(spark, model, work: str, inputs: dict, tracer: Tracer) -> dict:
    """Drain the backlog DRAINS times on the warm session, each into fresh
    ``dash_drain<i>`` and ``dead_drain<i>`` tables.  ``pass_s`` is the
    wall time from starting the queries to their end; ``rows_per_s`` is
    the main query's rows over the time its micro-batches took, so query
    start and stop are not in it.  Each is the best over the drains: a
    busy host only ever slows a drain down."""
    walls, rates = [], []
    for i in range(DRAINS):
        with tracer.span("stream.drain", drain=i):
            d = drain(spark, model, inputs["backlog"]["dir"], os.path.join(work, f"ck_drain{i}"),
                      f"drain{i}")
        busy_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in d["events"])
        walls.append(d["wall_s"])
        rates.append(sum(p["numInputRows"] for p in d["events"]) * 1000 / busy_ms)
    return {"pass_s": min(walls), "rows_per_s": max(rates)}


def _exec_layer(spark, execm: ExecMetrics, *queries) -> dict[str, float]:
    execm.read()
    out = {f"exec.{k}": v for k, v in execm.totals.items()}
    jobs = stages = tasks = 0
    for q in queries:
        if q is None:
            continue
        j, s, t = job_counts(spark, str(q.runId))
        jobs, stages, tasks = jobs + j, stages + s, tasks + t
    out.update({"driver.jobs": jobs, "driver.stages": stages, "driver.tasks": tasks})
    return out


def drain(spark, model, src: str, ckpt: str, tag: str, stage: str = "state",
          dead_letters: bool = True, max_files: int = DRAIN_MAX_FILES) -> dict:
    """Drain every file in ``src`` with availableNow; returns wall time,
    main-query progress events and the queries."""
    progress = Progress(spark)
    try:
        main_df, bad_df = stream_pipeline(spark, src, model, max_files, stage)
        t0 = time.perf_counter()
        main_q, dead_q = start(main_df, bad_df if dead_letters else None, ckpt, True, tag)
        main_q.awaitTermination()
        if dead_q is not None:
            dead_q.awaitTermination()
        wall = time.perf_counter() - t0
        last = main_q.lastProgress
        if last is not None:
            progress.wait_for(main_q, last["batchId"])
        events = progress.of(main_q)
    finally:
        progress.close()
    for q in (main_q, dead_q):
        if q is not None and q.exception() is not None:
            raise RuntimeError(f"stream query failed: {q.exception()}")
    return {"wall_s": wall, "events": events, "queries": (main_q, dead_q)}


def subset(src: str, n_files: int) -> tuple[str, int]:
    """A directory holding hard links to the first ``n_files`` files of
    ``src``, and its line count."""
    out = f"{src}.first{n_files}"
    if not os.path.isdir(out):
        os.makedirs(out)
        for name in sorted(os.listdir(src))[:n_files]:
            os.link(os.path.join(src, name), os.path.join(out, name))
    total = 0
    for name in os.listdir(out):
        with open(os.path.join(out, name)) as f:
            total += sum(1 for _ in f)
    return out, total


def traced_drains(spark, model, work: str, inputs: dict, untraced_s: float,
                  tracer: Tracer) -> dict[str, float]:
    """Drains of the backlog on the warm session: cut after parsing, after
    scoring and with the state (the differences give each stage's cost per
    thousand rows), then the full pipeline traced (its wall time against
    ``untraced_s``, the best timed drain's, is the tracing overhead)."""
    src, lines = inputs["backlog"]["dir"], inputs["backlog"]["lines"]
    wall = {}
    for stage in ("parse", "score", "state"):
        with tracer.span("ablation", stage=stage):
            wall[stage] = drain(spark, model, src, os.path.join(work, f"ck_{stage}"),
                                f"abl_{stage}", stage, dead_letters=False)["wall_s"]
    with tracer.span("overhead.traced_drain") as span:
        execm = ExecMetrics(spark)
        d = drain(spark, model, src, os.path.join(work, "ck_traced"), "ovh_t")
        for p in d["events"]:
            tracer.add("micro_batch", _epoch(p["timestamp"]), p["end_epoch"], span["id"],
                       batch=p["batchId"], rows=p["numInputRows"])
        _exec_layer(spark, execm, *d["queries"])
    k = lines / 1000
    return {
        "streaming.parse_ms_per_krow": wall["parse"] * 1000 / k,
        "ml.pipeline.score_ms_per_krow": (wall["score"] - wall["parse"]) * 1000 / k,
        "streaming.state_ms_per_krow": (wall["state"] - wall["score"]) * 1000 / k,
        "streaming.drain_rows_per_s": lines / untraced_s,
        "trace.overhead_rows_per_s": lines / d["wall_s"] - lines / untraced_s,
    }


def single_core_drain(spark, model, backlog: str, tracer: Tracer) -> float:
    """rows/s of the full pipeline over part of the backlog; the caller
    passes a ``local[1]`` session."""
    src, lines = subset(backlog, LOCAL1_FILES)
    with tracer.span("single_core_drain"):
        d = drain(spark, model, src, f"{src}.ckpt", "local1")
    return lines / d["wall_s"]


if __name__ == "__main__":
    # ``python3 perfbench/stream.py MODEL_PATH`` from the repository root:
    # fit the model and write it to MODEL_PATH (see ensure_model).
    sys.path.insert(0, os.getcwd())
    _fit_and_save(sys.argv[1])
