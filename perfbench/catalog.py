"""Catalog workloads: timed passes over a fixed set of catalog queries.

Each query is built through ``plans.queries()[name]`` (the plan-build
layer) and materialized with ``collect()``, which runs the query's own
physical plan in full (``selftest.py`` pins that against ``df.explain()``)
and hands back the rows the analyst's panel would show.  The rows are
hash-compared against the query's DuckDB oracle on the same parquet
files, with ``tools/check_oracle.py``'s canonicalization.

The tables are the engine's sf 0.01 test tables (seed 42), kept under
``perfbench/sf0.01`` so that the benchmark reads the data the catalog was
written and tested against: 60k lineitem, 15k orders, 10k events of 150
users, 500 documents and 500 labelled embeddings.
"""

from __future__ import annotations

import functools
import hashlib
import importlib
import importlib.util
import json
import os
import random
import statistics
import sys
import time
from unittest import mock

import selftest
from common import ENGINE, ExecMetrics, Tracer, job_counts, quantile

# Members are chosen so that a run (session start, an untimed warm-up
# pass and the timed passes) fits the run budget on 4 cores while every
# layer keeps a member that stresses it.
# Evaluation, dashboard and forensics panels of the reference plus TPC-H:
# scans, joins (broadcast, semi/anti, as-of), windows and aggregates, all
# in the JVM.
SQL_QUERIES = [
    "fraud_patterns", "roc_auc", "dashboard_snapshot", "user_sessions",
    "asof_last_error_before_purchase", "q21_waiting_suppliers",
]
# The Python boundary (cogrouped pandas LSH, Arrow hash UDF) and
# driver-side iteration (BPE merge rounds).
PYITER_QUERIES = ["embedding_lsh_recall_audit", "hll_distinct_users", "bpe_merge_table"]
WORKLOADS = {"catalog_sql": SQL_QUERIES, "catalog_pyiter": PYITER_QUERIES}
# One untimed pass compiles (code generation, JIT).  The JVM keeps
# compiling for a few more passes, each 5-15% faster than the last, so a
# run times a fixed number of passes (more than fit in the run's seconds
# on 4 cores) and reports each member's best: every run then ends at the
# same point of that curve.
WARM_UP_PASSES = 1
TIMED_PASSES = {"catalog_sql": 3, "catalog_pyiter": 2}
ALL_QUERIES = SQL_QUERIES + PYITER_QUERIES

# The tables do not depend on the workload seed, so oracle digests can be
# cached and the non-oracled member compared against a recorded result.
# Query cost at this size is mostly per-query overhead (planning,
# scheduling, Python workers), which is what the passes stress.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")
EXPECTED_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


@functools.cache
def _check_oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join("tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(cols: list[str], rows: list) -> str:
    """Order-insensitive digest of a result: sorted column names plus the
    canonical row strings of ``tools/check_oracle.py``."""
    canon = _check_oracle_module().canon
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for line in canon([tuple(r) for r in rows], list(cols)):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def oracle_digests(data_dir: str, names: list[str]) -> dict[str, str]:
    """Digest of each named query's DuckDB oracle result on ``data_dir``.

    The oracle SQL gets the registry's own output-type stabilization,
    introspected against these tables instead of the driver testdata."""
    import duckdb

    registry = importlib.import_module(f"{ENGINE}.plans.registry")
    con = duckdb.connect()
    for t in registry._TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    with mock.patch.object(registry, "_ORACLE_TYPE_SF", data_dir):
        for name in names:
            rel = con.sql(registry._stable_oracle(registry.QUERIES[name].oracle))
            out[name] = digest(rel.columns, rel.fetchall())
    return out


def expected_digests(names: list[str], cache_dir: str, engine_key: str) -> dict[str, str]:
    """Oracle digests (cached per engine source hash) plus the recorded
    digest of every member without an oracle."""
    registry = importlib.import_module(f"{ENGINE}.plans.registry")
    path = os.path.join(cache_dir, f"oracle-{engine_key}-sf0.01.json")
    got: dict[str, str] = {}
    if os.path.exists(path):
        with open(path) as f:
            got = json.load(f)
    missing = [n for n in names if n not in got and registry.QUERIES[n].oracle is not None]
    if missing:
        got.update(oracle_digests(DATA_DIR, missing))
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(got, f)
        os.replace(path + ".tmp", path)
    with open(EXPECTED_FILE) as f:
        recorded = json.load(f)
    for name in names:
        if name not in got:
            got[name] = recorded[name]["digest"]
    return {n: got[n] for n in names}


class CatalogRun:
    """Runs passes of one catalog workload in an open session."""

    def __init__(self, spark, names: list[str], expected: dict[str, str], seed: int,
                 tracer: Tracer):
        plans = importlib.import_module(f"{ENGINE}.plans")
        self.spark = spark
        self.fns = {n: plans.queries()[n] for n in names}
        self.names = names
        self.expected = expected
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.exec = ExecMetrics(spark)
        self.attempted = 0
        self.failed: list[str] = []
        self.selftest = {"mismatched": [], "count_would_prune": []}

    def one_pass(self, traced: bool) -> dict:
        """One pass in a seed-permuted order; returns its timings."""
        order = list(self.names)
        self.rng.shuffle(order)
        sc = self.spark.sparkContext
        build_s = exec_s = 0.0
        per_query = {}
        jobs = stages = tasks = 0
        self.exec.skip_to_now()
        with self.tracer.span("pass", traced=traced):
            for name in order:
                group = f"perfbench-{name}-{time.time_ns()}"
                if traced:
                    sc.setJobGroup(group, name)
                with self.tracer.span("query", query=name):
                    self.attempted += 1
                    try:
                        with self.tracer.span("plans.build"):
                            t0 = time.perf_counter()
                            df = self.fns[name](self.spark, DATA_DIR)
                            t1 = time.perf_counter()
                        with self.tracer.span("execute"):
                            rows = df.collect()
                            t2 = time.perf_counter()
                        with self.tracer.span("verify"):
                            ok = digest(df.columns, rows) == self.expected[name]
                    except Exception as e:  # a failing query is counted, not fatal
                        print(f"perfbench: {name} raised {type(e).__name__}: {e}", file=sys.stderr)
                        self.failed.append(name)
                        continue
                    if not ok:
                        print(f"perfbench: {name} result differs from its oracle", file=sys.stderr)
                        self.failed.append(name)
                build_s += t1 - t0
                exec_s += t2 - t1
                per_query[name] = {"build_ms": (t1 - t0) * 1000, "execute_ms": (t2 - t1) * 1000}
                if traced:
                    per_query[name]["exec"] = self.exec.read()
                    j, s, t = job_counts(self.spark, group)
                    jobs, stages, tasks = jobs + j, stages + s, tasks + t
                    per_query[name].update(jobs=j, stages=s, tasks=t)
                    self._selftest(name, df)
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            scan_rows = sum(q["exec"]["scan_rows"] for q in per_query.values())
        else:
            scan_rows = self.exec.read()["scan_rows"]
        return {"pass_s": build_s + exec_s, "build_s": build_s, "order": order,
                "per_query": per_query, "scan_rows": scan_rows,
                "jobs": jobs, "stages": stages, "tasks": tasks}

    def _selftest(self, name: str, df) -> None:
        """The timed plan must match explain's; a mismatch is a failure."""
        timed, explained, counted = selftest.compare(df)
        self.attempted += 1
        if timed != explained:
            print(f"perfbench: selftest {name} timed {timed} != explain {explained}",
                  file=sys.stderr)
            self.failed.append(f"selftest:{name}")
            self.selftest["mismatched"].append(name)
        if counted != explained and name not in self.selftest["count_would_prune"]:
            self.selftest["count_would_prune"].append(name)


def end_to_end(passes: list[dict]) -> dict[str, float]:
    """Each member's best time over the timed passes: a busy host only
    ever adds time, so the minimum is the steadiest estimate of the
    engine's own cost."""
    names = set.intersection(*(set(p["per_query"]) for p in passes)) or {None}
    best = {n: min(p["per_query"][n]["build_ms"] + p["per_query"][n]["execute_ms"] for p in passes)
            if n else 0.0 for n in names}
    best_exec = sum(min(p["per_query"][n]["execute_ms"] for p in passes) for n in best if n)
    return {
        "pass_s": sum(best.values()) / 1000,
        "latency_p50_ms": quantile(list(best.values()), 0.5),
        "latency_p99_ms": quantile(list(best.values()), 0.99),
        # Scan throughput of execution alone; pass_s also holds plan building.
        "rows_per_s": statistics.median(p["scan_rows"] for p in passes) * 1000 / max(best_exec, 1e-9),
    }


def per_layer(p: dict) -> dict[str, float]:
    """Per-layer numbers of one traced pass."""
    out = {"plans.build_ms": p["build_s"] * 1000,
           "driver.jobs": p["jobs"], "driver.stages": p["stages"], "driver.tasks": p["tasks"]}
    for name in ALL_QUERIES:
        out[f"plans.{name}.execute_ms"] = p["per_query"].get(name, {}).get("execute_ms", 0.0)
    sums: dict[str, float] = {}
    for q in p["per_query"].values():
        for k, v in q["exec"].items():
            sums[k] = max(sums.get(k, 0.0), v) if k == "peak_memory_bytes" else sums.get(k, 0.0) + v
    out.update({f"exec.{k}": v for k, v in sums.items()})
    return out
