"""Benchmark of the spark-fraud-engine: one workload per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: stream_steady, catalog_sql, catalog_pyiter
(see perfbench/README.md).  Progress goes to stderr; the last line of
stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``).  Every run also writes its full
record (host, cores, calibration, all metrics and, when traced, the
spans) to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (ENGINE, RssSampler, Tracer, calibrate_ms, start_session, stop_jvm,  # noqa: E402
                    write_json)

WORKLOADS = ["stream_steady", "catalog_sql", "catalog_pyiter"]

E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p99_ms": "ms",
             "rows_per_s": "rows/s", "pass_s": "s"}


def layer_units() -> dict[str, str]:
    from catalog import ALL_QUERIES
    from common import EXEC_KEYS

    names = ["plans.build_ms"] + [f"plans.{q}.execute_ms" for q in ALL_QUERIES]
    names += ["driver.jobs", "driver.stages", "driver.tasks"] + [f"exec.{k}" for k in EXEC_KEYS]
    names += [f"streaming.{k}" for k in (
        "latestOffset_ms", "queryPlanning_ms", "walCommit_ms", "commitOffsets_ms",
        "overhead_ms", "addBatch_ms", "rows_per_batch", "batches", "state_rows",
        "state_memory_bytes", "state_commit_ms", "dead_letters", "parse_ms_per_krow",
        "state_ms_per_krow", "drain_rows_per_s", "local1_rows_per_s")]
    names += ["peak_rss_mb", "feeder.lag_p99_ms", "ml.pipeline.score_ms_per_krow", "ml.pipeline.fit_s",
              "sources.generator.write_s", "session.start_s",
              "trace.overhead_pass_s", "trace.overhead_rows_per_s"]

    def unit(n: str) -> str:
        for suffix, u in (("_per_krow", "ms/krow"), ("rows_per_s", "rows/s"), ("_ms", "ms"),
                          ("_s", "s"), ("_bytes", "B"), ("_sent", "B"), ("_received", "B"),
                          ("_written", "B"), ("_mb", "MB")):
            if n.endswith(suffix):
                return u
        return "count"

    return {n: unit(n) for n in names}


def engine_key(root: str) -> str:
    """Hash of the engine's source, keying the per-checkout caches."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(root, ENGINE))):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def run_catalog(spark, args, ctx: dict) -> dict:
    import catalog

    names = catalog.WORKLOADS[args.workload]
    with ctx["tracer"].span("setup.oracle"):
        expected = catalog.expected_digests(names, ctx["cache"], ctx["engine_key"])
    run = catalog.CatalogRun(spark, names, expected, args.seed, ctx["tracer"])
    # Untimed passes first: the timed passes see a warm session (code
    # generation cache, JIT, Python workers), as a dashboard refresh does.
    with ctx["tracer"].span("setup.warm_up"):
        t0 = time.perf_counter()
        for _ in range(catalog.WARM_UP_PASSES):
            run.one_pass(traced=False)
        warm_s = time.perf_counter() - t0
    passes = []
    t_end = time.perf_counter() + args.seconds
    while len(passes) < catalog.TIMED_PASSES[args.workload] or time.perf_counter() < t_end:
        passes.append(run.one_pass(traced=False))
    out = {"setup_s": ctx["start_s"] + warm_s,
           "e2e": catalog.end_to_end(passes),
           "passes": [{k: p[k] for k in ("pass_s", "build_s", "order", "per_query")} for p in passes]}
    if args.trace:
        traced = run.one_pass(traced=True)
        layer = catalog.per_layer(traced)
        layer["trace.overhead_pass_s"] = traced["pass_s"] - passes[-1]["pass_s"]
        out.update(layer=layer, selftest=run.selftest)
    out.update(attempted=run.attempted, failed=len(run.failed), failures=run.failed)
    return out


def run_stream(spark, args, ctx: dict) -> dict:
    import stream

    tracer = ctx["tracer"]
    work = ctx["work"]
    n_files = round((stream.WARMUP_S + args.seconds) / stream.PERIOD_S)
    # The model load and the input write are independent: overlap them.
    with tracer.span("setup.model_and_inputs"):
        t0 = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            loading = pool.submit(stream.load_model, spark, ctx["model_path"])
            inputs = stream.write_inputs(spark, work, n_files, args.seed)
            model = loading.result()
        stream.warm_up(spark, model, work, inputs)
        prep_s = time.perf_counter() - t0
    res = stream.run_steady(spark, model, work, args.seconds, tracer, inputs, ctx["exclude_pids"])
    drained = stream.timed_drain(spark, model, work, inputs, tracer)
    with tracer.span("verify"):
        failed = 0
        for part, src, tags in (("feed", res["source"], ["steady"]),
                                ("backlog", inputs["backlog"]["dir"],
                                 [f"drain{i}" for i in range(stream.DRAINS)])):
            expected = stream.batch_state(spark, src, model)
            failed += abs(expected[1] - inputs[part]["injected"])
            for tag in tags:
                failed += stream.verify(spark, expected, inputs[part], tag)
    attempted = inputs["feed"]["lines"] + stream.DRAINS * inputs["backlog"]["lines"]
    out = {"setup_s": ctx["start_s"] + prep_s, "inputs": inputs, "e2e": dict(res["e2e"], **drained),
           "attempted": attempted, "failed": failed}
    if args.trace:
        layer = res["layer"]
        layer["sources.generator.write_s"] = inputs["write_s"]
        layer["ml.pipeline.fit_s"] = stream.recorded_fit_s(ctx["model_path"])
        layer.update(stream.traced_drains(spark, model, work, inputs, drained["pass_s"], tracer))
        spark.stop()
        spark1, _ = start_session(1, master="local[1]")
        model1 = stream.load_model(spark1, ctx["model_path"])
        layer["streaming.local1_rows_per_s"] = stream.single_core_drain(
            spark1, model1, inputs["backlog"]["dir"], tracer)
        out["layer"] = layer
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"perfbench: no engine package '{ENGINE}' under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(args.trace))
    ctx = {"work": work, "cache": os.path.join(base, "cache"), "engine_key": engine_key(root),
           "tracer": tracer, "exclude_pids": set()}
    calibration_ms = calibrate_ms()
    if args.workload.startswith("stream"):
        # Fitted at most once per checkout, before any measurement starts.
        import stream

        ctx["model_path"] = stream.ensure_model(ctx["cache"], ctx["engine_key"])
    spark = None
    try:
        with RssSampler(ctx["exclude_pids"]) as rss:
            with tracer.span("setup.session"):
                spark, ctx["start_s"] = start_session(cores)
            if args.workload.startswith("catalog"):
                out = run_catalog(spark, args, ctx)
            else:
                out = run_stream(spark, args, ctx)
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
            spark = None
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(out["e2e"], setup_s=out["setup_s"], peak_rss_mb=rss.peak_bytes / 2 ** 20)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": os.cpu_count(), "spark_cores": cores,
              "calibration_ms": calibration_ms, "engine_key": ctx["engine_key"],
              "end_to_end": e2e, **{k: v for k, v in out.items() if k not in ("e2e",)},
              "spans": tracer.spans}
    if args.trace:
        units = layer_units()
        layer = out["layer"]
        layer["session.start_s"] = ctx["start_s"]
        layer["peak_rss_mb"] = e2e["peak_rss_mb"]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in units.items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in E2E_UNITS.items()}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    write_json(os.path.join(base, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"),
               record)
    print(f"perfbench: {args.workload} seed={args.seed} cores={cores} nproc={os.cpu_count()} "
          f"calibration={calibration_ms:.1f}ms e2e={json.dumps(e2e)}", file=sys.stderr)
    failed = int(out["failed"])
    print(json.dumps({"correct": failed == 0, "attempted": int(out["attempted"]),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
