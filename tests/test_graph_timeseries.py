"""Unit semantics for the graph operators (triangle census, bounded
BFS) on hand-built graphs with known answers, plus the sequential-
statistics queries' closed-form cases.  The catalog-level Spark-vs-
DuckDB differential for these lives in tools/check_oracle.py; these
tests pin the OPERATOR semantics independent of the testdata."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from real___time_fraud_detection_using_apache_kafka_spark.operators.graph import (
    khop_min_dist,
    triangle_stats,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


class TestTriangleStats:
    def test_k4_complete_graph(self, spark):
        # K4: 4 triangles, 6 edges, every wedge closed -> clustering 1.0
        e = _edges(
            spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
        )
        row = triangle_stats(e).collect()[0]
        assert row.n_nodes == 4
        assert row.n_edges == 6
        assert row.n_triangles == 4
        # wedges: each node deg 3 -> 4 * 3 = 12; 3*4/12 = 1.0
        assert row.n_wedges == 12
        assert row.global_clustering == 1.0

    def test_path_graph_has_no_triangles(self, spark):
        e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
        row = triangle_stats(e).collect()[0]
        assert row.n_triangles == 0
        assert row.n_wedges == 2  # at nodes 2 and 3
        assert row.global_clustering == 0.0

    def test_hub_plus_one_closing_edge(self, spark):
        # star center 0 with leaves 1..5, plus edge (1,2): exactly one
        # triangle regardless of hub degree — the skew case the degree
        # orientation exists for
        e = _edges(spark, [(0, i) for i in range(1, 6)] + [(1, 2)])
        row = triangle_stats(e).collect()[0]
        assert row.n_triangles == 1

    def test_empty_graph(self, spark):
        e = _edges(spark, []).filter(F.lit(False))
        row = triangle_stats(e).collect()[0]
        assert (row.n_triangles, row.n_edges, row.n_nodes) == (0, 0, 0)
        assert row.global_clustering == 0.0


class TestKhopMinDist:
    def _sym(self, spark, pairs):
        e = spark.createDataFrame(pairs, "src long, dst long")
        return e.union(e.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))

    def test_path_distances(self, spark):
        # 1-2-3-4-5, seed {1}: dist = index, capped at 3 hops
        edges = self._sym(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
        seeds = spark.createDataFrame([(1,)], "node long")
        got = {r.node: r.dist for r in khop_min_dist(edges, seeds, 3).collect()}
        assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 is 4 hops: excluded

    def test_min_dist_wins_over_longer_path(self, spark):
        # two routes 1->4: direct edge and 1-2-3-4; dist(4) must be 1
        edges = self._sym(spark, [(1, 2), (2, 3), (3, 4), (1, 4)])
        seeds = spark.createDataFrame([(1,)], "node long")
        got = {r.node: r.dist for r in khop_min_dist(edges, seeds, 3).collect()}
        assert got[4] == 1

    def test_multiple_seeds_take_nearest(self, spark):
        edges = self._sym(spark, [(1, 2), (2, 3), (3, 4)])
        seeds = spark.createDataFrame([(1,), (4,)], "node long")
        got = {r.node: r.dist for r in khop_min_dist(edges, seeds, 2).collect()}
        assert got == {1: 0, 4: 0, 2: 1, 3: 1}

    def test_isolated_seed_distance_zero(self, spark):
        edges = self._sym(spark, [(1, 2)])
        seeds = spark.createDataFrame([(99,)], "node long")
        got = {r.node: r.dist for r in khop_min_dist(edges, seeds, 2).collect()}
        assert got == {99: 0}


class TestSequentialStats:
    def test_ewma_fold_matches_closed_form(self, spark, sf_dir):
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_timeseries import (
            EWMA_ALPHA,
            ewma_user_value,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import load_table

        got = {r.user_id: r for r in ewma_user_value(spark, sf_dir).collect()}
        # replay one user's history in plain Python
        e = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        )
        uid = e.groupBy("user_id").count().orderBy(F.desc("count")).first().user_id
        hist = [
            r.value
            for r in e.filter(F.col("user_id") == uid)
            .orderBy("ts", "event_id")
            .collect()
        ]
        acc = hist[0]
        for x in hist[1:]:
            acc = acc * (1 - EWMA_ALPHA) + EWMA_ALPHA * x
        assert got[uid].n_events == len(hist)
        assert got[uid].ewma == pytest.approx(round(acc, 6), abs=1e-6)

    def test_cusum_zero_on_constant_series(self, spark, tmp_path):
        # constant daily counts -> every cusum partial sum is 0; the
        # argmax must break ties to the EARLIEST day
        import pandas as pd

        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_timeseries import (
            cusum_changepoint,
        )

        days = pd.date_range("2024-01-01", periods=5, freq="D")
        pdf = pd.DataFrame(
            {
                "o_orderkey": range(10),
                "o_custkey": [1] * 10,
                "o_orderstatus": ["F"] * 10,
                "o_totalprice": [100.0] * 10,
                "o_orderdate": list(days) * 2,
                "o_orderpriority": ["1-URGENT"] * 10,
            }
        )
        d = tmp_path / "const_sf"
        spark.createDataFrame(pdf).write.parquet(f"{d}/orders.parquet")
        row = cusum_changepoint(spark, str(d)).collect()[0]
        assert row.max_abs_cusum == 0.0
        assert str(row.changepoint_day) == "2024-01-01"
        assert row.n_days == 5
        assert row.daily_mean == 2.0


class TestKmvSketch:
    def test_estimate_within_kmv_error_bound(self, spark, sf_dir):
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_sketch import (
            KMV_K,
            kmv_distinct_users,
        )

        rows = kmv_distinct_users(spark, sf_dir).collect()
        assert rows
        for r in rows:
            if r.distinct_users < KMV_K:
                # degenerate tier: sketch IS the exact distinct-hash count
                assert r.kmv_estimate == pytest.approx(r.distinct_users)
            else:
                # KMV standard error ~ 1/sqrt(k-2); allow 5 sigma
                assert r.rel_err <= 5.0 / math.sqrt(KMV_K - 2)


def _atomic_batch_writer(tmp_path, src):
    """One logical batch -> ONE file, made visible atomically.

    ``df.write.mode("append")`` lands part files one by one as tasks
    commit, and the already-running stream triggers continuously — under
    load a trigger can grab a SUBSET of a logical batch, splitting it
    across micro-batches in file order, not time order (the round-4
    flake).  Stage to a scratch dir with coalesce(1), then os.rename the
    single part file into the source dir: POSIX rename is atomic, so
    the file source sees the whole batch or nothing.
    """
    import itertools
    import os
    import shutil

    counter = itertools.count()

    def write_batch(df):
        i = next(counter)
        stage = f"{tmp_path}/stage{i}"
        df.coalesce(1).select(
            F.to_json(F.struct(*df.columns)).alias("v")
        ).write.text(stage)
        part = next(
            p for p in os.listdir(stage)
            if p.startswith("part-") and p.endswith(".txt")
        )
        os.makedirs(src, exist_ok=True)
        os.rename(f"{stage}/{part}", f"{src}/batch{i}.txt")
        shutil.rmtree(stage, ignore_errors=True)

    return write_batch


class TestEwmaStreamParity:
    def test_stream_state_matches_batch_fold(self, spark, tmp_path):
        """The streaming EWMA (two scalars of state per user) replayed
        over a time-ordered stream must land on the SAME per-user state
        as the batch array-fold catalog query — same recurrence, same
        float-op sequence, so equality is exact at the catalog's
        6-decimal rounding, not approximate."""
        import pandas as pd

        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_timeseries import (
            ewma_user_value,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import ewma_stream

        rng = pd.date_range("2024-05-01", periods=60, freq="h")
        pdf = pd.DataFrame(
            {
                "event_id": range(60),
                "ts": rng,
                "user_id": [i % 5 + 1 for i in range(60)],
                "event_type": ["view"] * 60,
                "value": [float((i * 37) % 101) + 0.25 for i in range(60)],
                "props": ["{}"] * 60,
            }
        )
        sf = tmp_path / "sf"
        spark.createDataFrame(pdf).write.parquet(f"{sf}/events.parquet")
        expected = {
            r.user_id: (r.n_events, r.ewma)
            for r in ewma_user_value(spark, str(sf)).collect()
        }

        src, ckpt = f"{tmp_path}/src", f"{tmp_path}/ckpt"
        early = spark.createDataFrame(pdf[pdf.event_id < 30])
        late = spark.createDataFrame(pdf[pdf.event_id >= 30])

        write_batch = _atomic_batch_writer(tmp_path, src)

        schema = ("event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        write_batch(early)
        stream = (
            spark.readStream.schema("v string").text(src)
            .select(F.from_json(F.col("v"), schema).alias("e"))
            .select("e.*")
        )
        q = (
            ewma_stream(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("ewma_t")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            write_batch(late)  # second micro-batch: state must carry
            q.processAllAvailable()
            latest = {
                r.user_id: (r.n_events, round(r.ewma, 6))
                for r in spark.sql(
                    "SELECT user_id, n_events, ewma FROM ("
                    " SELECT *, row_number() OVER ("
                    "   PARTITION BY user_id ORDER BY n_events DESC) rk"
                    " FROM ewma_t) WHERE rk = 1"
                ).collect()
            }
        finally:
            q.stop()
        assert latest == expected, {"stream": latest, "batch": expected}

    def test_ordered_variant_matches_batch_under_shuffled_batches(
        self, spark, tmp_path
    ):
        """The watermark-buffered variant must land on the batch fold
        even when micro-batches arrive in REVERSED time order — the
        exact failure mode of the in-order operator.  Late rows stay
        inside the watermark allowance, and far-future sentinel events
        advance the watermark past all real data so everything folds."""
        import pandas as pd

        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_timeseries import (
            ewma_user_value,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            ewma_stream_ordered,
        )

        rng = pd.date_range("2024-05-01", periods=60, freq="h")
        pdf = pd.DataFrame(
            {
                "event_id": range(60),
                "ts": rng,
                "user_id": [i % 5 + 1 for i in range(60)],
                "event_type": ["view"] * 60,
                "value": [float((i * 37) % 101) + 0.25 for i in range(60)],
                "props": ["{}"] * 60,
            }
        )
        sf = tmp_path / "sf"
        spark.createDataFrame(pdf).write.parquet(f"{sf}/events.parquet")
        expected = {
            r.user_id: (r.n_events, round(r.ewma, 6))
            for r in ewma_user_value(spark, str(sf)).collect()
        }

        src, ckpt = f"{tmp_path}/src", f"{tmp_path}/ckpt"
        write_batch = _atomic_batch_writer(tmp_path, src)

        def sentinel(ts):
            return spark.createDataFrame(
                pd.DataFrame(
                    {
                        "event_id": [10_000],
                        "ts": [pd.Timestamp(ts)],
                        "user_id": [999],
                        "event_type": ["view"],
                        "value": [0.0],
                        "props": ["{}"],
                    }
                )
            )

        # LATE half first, early half second — reversed cross-batch order
        write_batch(spark.createDataFrame(pdf[pdf.event_id >= 30]))
        schema = ("event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        stream = (
            spark.readStream.schema("v string").text(src)
            .select(F.from_json(F.col("v"), schema).alias("e"))
            .select("e.*")
            .withWatermark("ts", "10 days")
        )
        q = (
            ewma_stream_ordered(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("ewma_ord_t")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            write_batch(spark.createDataFrame(pdf[pdf.event_id < 30]))
            q.processAllAvailable()
            # two sentinel batches: batch N folds with the watermark
            # computed from batch N-1's max event time
            write_batch(sentinel("2024-07-01"))
            q.processAllAvailable()
            write_batch(sentinel("2024-07-02"))
            q.processAllAvailable()
            rows = spark.sql(
                "SELECT user_id, n_events, ewma, n_pending FROM ("
                " SELECT *, row_number() OVER ("
                "   PARTITION BY user_id ORDER BY n_events DESC, n_pending ASC) rk"
                " FROM ewma_ord_t) WHERE rk = 1 AND user_id <> 999"
            ).collect()
        finally:
            q.stop()
        latest = {r.user_id: (r.n_events, round(r.ewma, 6)) for r in rows}
        assert all(r.n_pending == 0 for r in rows), rows
        assert latest == expected, {"stream": latest, "batch": expected}


class TestKmvStreamParity:
    def test_stream_sketch_state_matches_batch_exactly(self, spark, sf_dir, tmp_path):
        """KMV state is an order-independent mergeable set union, so the
        stream must land on the EXACT batch estimate even when
        micro-batches split the data arbitrarily (here: by event_id
        parity, deliberately NOT time order)."""
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_sketch import (
            kmv_distinct_users,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import load_table
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            kmv_distinct_stream,
        )

        expected = {
            r.event_type: r.kmv_estimate
            for r in kmv_distinct_users(spark, sf_dir).collect()
        }

        e = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "user_id"
        )
        src, ckpt = f"{tmp_path}/src", f"{tmp_path}/ckpt"

        def write_batch(df):
            df.select(
                F.to_json(F.struct(*df.columns)).alias("v")
            ).write.mode("append").text(src)

        write_batch(e.filter(F.col("event_id") % 2 == 0))
        stream = (
            spark.readStream.schema("v string").text(src)
            .select(
                F.from_json(
                    F.col("v"),
                    "event_id long, event_type string, user_id long",
                ).alias("e")
            )
            .select("e.*")
        )
        q = (
            kmv_distinct_stream(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("kmv_t")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            write_batch(e.filter(F.col("event_id") % 2 == 1))
            q.processAllAvailable()
            latest = {
                r.event_type: r.kmv_estimate
                for r in spark.sql(
                    "SELECT event_type, kmv_estimate FROM ("
                    " SELECT *, row_number() OVER ("
                    "   PARTITION BY event_type ORDER BY nk DESC) rk"
                    " FROM kmv_t) WHERE rk = 1"
                ).collect()
            }
        finally:
            q.stop()
        assert latest == expected


class TestPagerankStrategies:
    def test_copartition_matches_broadcast(self, spark):
        """Both physical strategies run the same recurrence — ranks must
        agree to float-accumulation tolerance on a graph where they
        take genuinely different join paths."""
        from real___time_fraud_detection_using_apache_kafka_spark.operators.graph import pagerank_fixed

        e = spark.createDataFrame(
            [(a, b) for a in range(1, 8) for b in range(1, 8) if a != b
             and (a + b) % 3 != 0],
            "src long, dst long",
        )
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct().persist()
        try:
            bc = {r.node: r.rank
                  for r in pagerank_fixed(sym, iterations=3).collect()}
            cp = {r.node: r.rank
                  for r in pagerank_fixed(
                      sym, iterations=3, strategy="copartition").collect()}
        finally:
            sym.unpersist()
        assert set(bc) == set(cp)
        for node, r in bc.items():
            assert cp[node] == pytest.approx(r, rel=1e-12)
        assert sum(bc.values()) == pytest.approx(1.0, abs=1e-9)

    def test_unknown_strategy_rejected(self, spark):
        from real___time_fraud_detection_using_apache_kafka_spark.operators.graph import pagerank_fixed

        e = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError, match="unknown strategy"):
            pagerank_fixed(e, strategy="gossip")


class TestRound5BatchInvariants:
    """Conservation/invariance laws for the round-5 batch-2/3 queries —
    properties the DuckDB differential cannot express (it only proves
    the two engines agree, not that the semantics are right)."""

    SF = "/root/testdata/sf0.001"

    def test_attribution_credits_conserve_total_purchase_value(self, spark):
        """Each attribution model must distribute EXACTLY the total
        purchase value across channels (linear within the per-purchase
        6-dp rounding of at most 2 channel shares)."""
        from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import (
            load_table,
        )

        rows = QUERIES["purchase_attribution"].fn(spark, self.SF).collect()
        total = (
            load_table(spark, self.SF, "events")
            .filter(
                (F.col("event_type") == "purchase")
                & F.col("user_id").isNotNull()
                & F.col("ts").isNotNull()
                & F.col("value").isNotNull()
            )
            .agg(F.sum(F.col("value").cast("decimal(18,2)")))
            .first()[0]
        )
        n_pur = sum(r.n_first for r in rows)
        assert sum(r.credit_first for r in rows) == total
        assert sum(r.credit_last for r in rows) == total
        assert sum(r.n_last for r in rows) == n_pur
        linear = float(sum(r.credit_linear for r in rows))
        assert abs(linear - float(total)) <= n_pur * 2 * 5e-7

    def test_time_decay_credits_conserve_total_purchase_value(self, spark):
        """The decay model's shares are w_i/Σw per purchase (exact
        dyadic weights), so channel credits must also sum to the total
        purchase value within the per-purchase 6-dp share rounding."""
        from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import (
            load_table,
        )

        rows = QUERIES["attribution_time_decay"].fn(spark, self.SF).collect()
        total = (
            load_table(spark, self.SF, "events")
            .filter(
                (F.col("event_type") == "purchase")
                & F.col("user_id").isNotNull()
                & F.col("ts").isNotNull()
                & F.col("value").isNotNull()
            )
            .agg(F.sum(F.col("value").cast("decimal(18,2)")))
            .first()[0]
        )
        n_touches = sum(r.n_touches for r in rows if r.channel != "direct")
        got = float(sum(r.credit_decay for r in rows))
        assert abs(got - float(total)) <= n_touches * 5e-7
        # decay favors recency: the model is distinct from linear split
        assert {r.channel for r in rows} >= {"view", "click"}

    def test_rolling_active_users_bounds_and_monotone_vs_daily(self, spark):
        """7-day actives >= that day's 1-day actives, and <= the 7-day
        SUM of dailies (distinct can only dedup)."""
        from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import (
            load_table,
        )

        weekly = {
            r.day: r.active_7d
            for r in QUERIES["rolling_7d_active_users"].fn(spark, self.SF).collect()
        }
        daily = {
            r.day: r.n
            for r in (
                load_table(spark, self.SF, "events")
                .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
                .groupBy(F.to_date("ts").alias("day"))
                .agg(F.count_distinct("user_id").alias("n"))
                .collect()
            )
        }
        assert set(weekly) == set(daily)
        import datetime as dt

        for day, w in weekly.items():
            assert w >= daily[day]
            window_sum = sum(
                daily.get(day - dt.timedelta(days=k), 0) for k in range(7)
            )
            assert w <= window_sum

    def test_elasticity_invariant_under_price_scaling(self, spark):
        """ln-ln OLS slope must not move when every price is scaled by a
        constant (ln shift cancels in the covariance) — the defining
        property of an elasticity."""
        from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES

        base = {
            r.brand: r.elasticity
            for r in QUERIES["price_elasticity_by_brand"].fn(spark, self.SF).collect()
        }
        # rebuild the query with prices x100 via a view-level rewrite
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_stats import (
            price_elasticity_by_brand,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.sources import tables

        orig = tables.load_table

        def scaled(spark_, sf_dir, name):
            df = orig(spark_, sf_dir, name)
            if name == "lineitem":
                df = df.withColumn(
                    "l_extendedprice", F.col("l_extendedprice") * 100.0
                )
            return df

        import real___time_fraud_detection_using_apache_kafka_spark.plans.queries_stats as qs

        old = qs.load_table
        qs.load_table = scaled
        try:
            scaled_r = {
                r.brand: r.elasticity
                for r in price_elasticity_by_brand(spark, self.SF).collect()
            }
        finally:
            qs.load_table = old
        assert set(base) == set(scaled_r)
        for b in base:
            # 9-dp ln quantization + 6-dp output round -> tiny slack
            assert abs(base[b] - scaled_r[b]) <= 2e-5, b


class TestCommonNeighborsCapped:
    """Degree-capped candidate tier (VERDICT r5 item 3): with the cap
    above the max degree the tiers are bit-identical; with a binding
    cap on a hub-skewed graph, scores never exceed the exact tier's
    and the hub mediates nothing."""

    def _hub_graph(self, spark):
        # two hubs (0 and 200) so hub-only pairs reach n_common = 2; a
        # clique of 1..6 plus two satellites (100, 101) attached to
        # 1..5 provide genuine low-degree common neighbors
        edges = [(0, i) for i in range(1, 40)]
        edges += [(i, 200) for i in range(10, 40)]
        edges += [(i, j) for i in range(1, 7) for j in range(i + 1, 7)]
        edges += [(i, s) for i in range(1, 6) for s in (100, 101)]
        return spark.createDataFrame(edges, "a long, b long")

    def test_capped_parity_when_cap_exceeds_max_degree(self, spark):
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_graph import (
            common_neighbors_from_edges,
        )

        edges = self._hub_graph(spark)
        exact = sorted(
            map(tuple, common_neighbors_from_edges(edges, None).collect())
        )
        capped = sorted(
            map(tuple, common_neighbors_from_edges(edges, 1000).collect())
        )
        assert exact == capped and len(exact) == 20

    def test_binding_cap_drops_hub_evidence_only(self, spark):
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_graph import (
            common_neighbors_from_edges,
        )

        edges = self._hub_graph(spark)
        exact = {
            (r.a, r.b): r.n_common
            for r in common_neighbors_from_edges(edges, None)
            .limit(1000)
            .collect()
        }
        capped = {
            (r.a, r.b): r.n_common
            for r in common_neighbors_from_edges(edges, 16).collect()
        }
        # capped scores are a subset with counts <= exact (hub terms
        # dropped, nothing added)
        for pair, n in capped.items():
            assert pair in exact and n <= exact[pair], (pair, n)
        # the hub (degree 39 > 16) mediates nothing: pairs whose ONLY
        # common neighbor set was {hub} are gone entirely — e.g.
        # (20, 21) share only node 0
        assert all(
            not ({a, b} <= set(range(10, 40))) for (a, b) in capped
        )

    def test_catalog_cap_matches_oracle_cap(self):
        """The Spark tier and the SQL oracle must state the SAME cap —
        a drifted constant would silently re-open the hub surface on
        one side only."""
        import inspect

        from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_graph import (
            common_neighbors_capped,
        )

        assert "max_degree=16" in inspect.getsource(common_neighbors_capped)
        assert "g.d <= 16" in QUERIES["common_neighbors_capped"].oracle


class TestKalmanStreamParity:
    def test_kalman_ordered_matches_jvm_fold_under_shuffled_batches(
        self, spark, tmp_path
    ):
        """The streaming Kalman must land on the batch ``aggregate``
        expression's (level, variance) bit-for-bit per user, with
        micro-batches in REVERSED time order — same protocol as the
        EWMA ordered parity test, but the expected side is the JVM
        fold (Python-vs-JVM IEEE parity, not Python-vs-Python)."""
        import pandas as pd

        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            kalman_stream_ordered,
        )

        rng = pd.date_range("2024-05-01", periods=60, freq="h")
        pdf = pd.DataFrame(
            {
                "event_id": range(60),
                "ts": rng,
                "user_id": [i % 5 + 1 for i in range(60)],
                "event_type": ["view"] * 60,
                "value": [float((i * 53) % 97) + 0.5 for i in range(60)],
                "props": ["{}"] * 60,
            }
        )
        # expected: the batch fold as a JVM aggregate expression — the
        # exact kalman_revenue_smooth recurrence, per user
        batch = spark.createDataFrame(pdf)
        expected = {
            r.user_id: (round(r.lv[0], 9), round(r.lv[1], 9))
            for r in batch.groupBy("user_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(ts, event_id, value))), "
                    "s -> s.value)"
                ).alias("xs")
            )
            .select(
                "user_id",
                F.expr(
                    "aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)), "
                    "array(xs[0], cast(1000.0 as double)), "
                    "(acc, x) -> array("
                    "acc[0] + ((acc[1] + 0.5) / (acc[1] + 0.5 + 20.0)) * (x - acc[0]), "
                    "(1.0 - ((acc[1] + 0.5) / (acc[1] + 0.5 + 20.0))) * (acc[1] + 0.5)))"
                ).alias("lv"),
            )
            .collect()
        }

        src, ckpt = f"{tmp_path}/src", f"{tmp_path}/ckpt"
        write_batch = _atomic_batch_writer(tmp_path, src)

        def sentinel(ts):
            return spark.createDataFrame(
                pd.DataFrame(
                    {
                        "event_id": [10_000],
                        "ts": [pd.Timestamp(ts)],
                        "user_id": [999],
                        "event_type": ["view"],
                        "value": [0.0],
                        "props": ["{}"],
                    }
                )
            )

        write_batch(spark.createDataFrame(pdf[pdf.event_id >= 30]))
        schema = ("event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        stream = (
            spark.readStream.schema("v string").text(src)
            .select(F.from_json(F.col("v"), schema).alias("e"))
            .select("e.*")
            .withWatermark("ts", "10 days")
        )
        q = (
            kalman_stream_ordered(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("kal_ord_t")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            write_batch(spark.createDataFrame(pdf[pdf.event_id < 30]))
            q.processAllAvailable()
            write_batch(sentinel("2024-07-01"))
            q.processAllAvailable()
            write_batch(sentinel("2024-07-02"))
            q.processAllAvailable()
            rows = spark.sql(
                "SELECT user_id, n_events, level, variance, n_pending FROM ("
                " SELECT *, row_number() OVER ("
                "   PARTITION BY user_id ORDER BY n_events DESC, n_pending ASC) rk"
                " FROM kal_ord_t) WHERE rk = 1 AND user_id <> 999"
            ).collect()
        finally:
            q.stop()
        latest = {
            r.user_id: (round(r.level, 9), round(r.variance, 9)) for r in rows
        }
        assert all(r.n_pending == 0 for r in rows), rows
        assert all(r.n_events == 12 for r in rows), rows
        assert latest == expected, {"stream": latest, "batch": expected}


_RESTART = pytest.mark.parametrize(
    "restart", [False, True], ids=["straight", "restart"]
)


def _update_rows(spark, tmp_path, op, schema, first, second, restart):
    """Streams ``first`` then ``second`` (one atomic file each, so one
    micro-batch each) through ``op`` in update mode and returns every
    emitted row in emission order, so a dict built over them keeps each
    key's latest row.  With ``restart`` the query is stopped after the
    first micro-batch and resumed from the same checkpoint.

    The sink is foreachBatch because the memory sink resumes from a
    checkpoint only in complete mode."""
    src, ckpt = f"{tmp_path}/src", f"{tmp_path}/ckpt"
    write_batch = _atomic_batch_writer(tmp_path, src)
    emitted = []

    def start():
        stream = (
            spark.readStream.schema("v string").text(src)
            .select(F.from_json(F.col("v"), schema).alias("e"))
            .select("e.*")
        )
        return (
            op(stream).writeStream.outputMode("update")
            .foreachBatch(lambda df, _: emitted.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .start()
        )

    write_batch(first)
    q = start()
    try:
        q.processAllAvailable()
        if restart:
            q.stop()
            q = start()
        write_batch(second)
        q.processAllAvailable()
    finally:
        q.stop()
    return emitted


class TestHllStreamParity:
    @_RESTART
    def test_hll_registers_merge_to_exact_batch_estimate(
        self, spark, sf_dir, tmp_path, restart
    ):
        """HLL registers merge by cell-wise max, so ``hll_estimate`` over
        the streamed register cells must publish the batch query's
        estimate EXACTLY (at its own 4-dp rounding) under arbitrary
        micro-batch sharding — here: split by event_id parity,
        deliberately not time order.  Register coordinates are built
        with the batch's own JVM expressions (hll_bucket_rank) upstream
        of the aggregation — parity is structural."""
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_sketch import (
            hll_bucket_rank,
            hll_distinct_users,
            hll_estimate,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import load_table
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            hll_distinct_stream,
        )

        expected = {
            r.event_type: r.hll_estimate
            for r in hll_distinct_users(spark, sf_dir).collect()
        }

        # deliberately includes a null user_id row (the testdata has
        # none): it hashes to null (b, rho) coordinates, which the
        # stream must skip (the batch side filters them) — guards the
        # null filter in hll_distinct_stream
        src_rows = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "user_id"
        ).unionByName(
            spark.createDataFrame(
                [(999_999_999, "purchase", None)],
                "event_id long, event_type string, user_id long",
            )
        )
        e = hll_bucket_rank(
            src_rows, "cast(user_id as string)"
        ).select("event_id", "event_type", "b", "rho")
        rows = _update_rows(
            spark, tmp_path, hll_distinct_stream,
            "event_id long, event_type string, b long, rho long",
            e.filter(F.col("event_id") % 2 == 0),
            e.filter(F.col("event_id") % 2 == 1),
            restart,
        )
        registers = {(r.event_type, r.b): r.r for r in rows}
        cells = spark.createDataFrame(
            [(t, b, reg) for (t, b), reg in registers.items()],
            "event_type string, b long, r long",
        )
        streamed = {
            r.event_type: r.e
            for r in hll_estimate(cells)
            .select("event_type", F.round("e", 4).alias("e"))
            .collect()
        }
        assert streamed == expected


class TestCmsStreamParity:
    @_RESTART
    def test_cms_counters_merge_to_exact_batch_grid(
        self, spark, sf_dir, tmp_path, restart
    ):
        """CMS counters merge by cell-wise sum — the counter grid
        assembled from the streamed cells must EQUAL the batch grid
        (pure integers) under parity-sharded micro-batches.  Bucket
        pairs are built with the same JVM expressions on both sides."""
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_sketch import (
            CMS_W, _CMS_ROWS, _MIX_P, _mixed_hash,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import load_table
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            cms_sketch_stream,
        )

        def pairs_of(df):
            keyed = _mixed_hash(
                df.filter(F.col("user_id").isNotNull()).select(
                    "event_id", "user_id"
                ),
                "cast(user_id as string)",
            )
            return keyed.select(
                "event_id",
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
                ).alias("jb"),
            ).select("event_id", "jb.j", "jb.b")

        def grid(cells):
            counters = [[0] * CMS_W for _ in _CMS_ROWS]
            for (j, b), c in cells.items():
                counters[j][b] = c
            return counters

        e = load_table(spark, sf_dir, "events")
        batch_grid = grid({
            (r.j, r.b): r.c
            for r in pairs_of(e).groupBy("j", "b").agg(
                F.count("*").alias("c")
            ).collect()
        })
        rows = _update_rows(
            spark, tmp_path, cms_sketch_stream,
            "event_id long, j int, b long",
            pairs_of(e.filter(F.col("event_id") % 2 == 0)),
            pairs_of(e.filter(F.col("event_id") % 2 == 1)),
            restart,
        )
        stream_grid = grid({(r.j, r.b): r.cnt for r in rows})
        assert stream_grid == batch_grid and sum(map(sum, batch_grid)) > 0


class TestBloomStreamParity:
    @_RESTART
    def test_bloom_words_or_fold_to_exact_batch_mask(
        self, spark, sf_dir, tmp_path, restart
    ):
        """Bloom mask words merge by cell-wise OR — the streamed mask
        must EQUAL the batch-built packed bitmask (pure integers) under
        parity-sharded micro-batches.  Bit positions are built with the
        batch's JVM mixer + k affine maps on both sides (fixed m)."""
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_sketch import (
            _BLOOM_KS, _MIX_P, _mixed_hash,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import load_table
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            bloom_filter_stream,
        )

        m = 4096

        def words_of(df):
            keyed = _mixed_hash(
                df.filter(F.col("user_id").isNotNull()).select(
                    "event_id", "user_id"
                ),
                "cast(user_id as string)",
            )
            bits = keyed.select(
                "event_id",
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
                ).alias("bit"),
            )
            return bits.select(
                "event_id",
                (F.col("bit") / 64).cast("int").alias("w"),
                F.expr(
                    "shiftleft(cast(1 as bigint), cast(bit % 64 as int))"
                ).alias("word"),
            )

        e = load_table(spark, sf_dir, "events")
        batch_mask = {
            r.w: r.word
            for r in words_of(e)
            .groupBy("w")
            .agg(F.expr("bit_or(word)").alias("word"))
            .collect()
        }
        rows = _update_rows(
            spark, tmp_path, bloom_filter_stream,
            "event_id long, w int, word long",
            words_of(e.filter(F.col("event_id") % 2 == 0)),
            words_of(e.filter(F.col("event_id") % 2 == 1)),
            restart,
        )
        stream_mask = {r.w: r.word for r in rows}
        assert stream_mask == batch_mask and len(batch_mask) > 0


class TestGridCellsStreamParity:
    @_RESTART
    def test_grid_cells_merge_to_exact_batch_table(
        self, spark, sf_dir, tmp_path, restart
    ):
        """Grid-quantile cells merge by cell-wise sum — the streamed
        (event_type, bucket) count table must EQUAL the batch
        aggregate (pure integers) under parity-sharded micro-batches;
        buckets built with the same JVM floor(value / W) on both
        sides."""
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_sketch import (
            GRID_QUANTILE_W,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import (
            load_table,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            grid_cells_stream,
        )

        def cells_of(df):
            return df.filter(F.col("value").isNotNull()).select(
                "event_id",
                F.coalesce(F.col("event_type"), F.lit("(null)"))
                .alias("event_type"),
                F.floor(F.col("value") / F.lit(GRID_QUANTILE_W))
                .cast("long")
                .alias("b"),
            )

        e = load_table(spark, sf_dir, "events")
        batch_cells = {
            (r.event_type, r.b): r.c
            for r in cells_of(e)
            .groupBy("event_type", "b")
            .agg(F.count("*").alias("c"))
            .collect()
        }
        rows = _update_rows(
            spark, tmp_path, grid_cells_stream,
            "event_id long, event_type string, b long",
            cells_of(e.filter(F.col("event_id") % 2 == 0)),
            cells_of(e.filter(F.col("event_id") % 2 == 1)),
            restart,
        )
        stream_cells = {(r.event_type, r.b): r.cnt for r in rows}
        assert stream_cells == batch_cells


class TestSpaceSavingStreamParity:
    def test_exact_when_vocab_fits_counters(self, spark, sf_dir, tmp_path):
        """With per-shard distinct vocabulary <= k the Space-Saving
        summary degrades to EXACT counts (no eviction ever fires), so
        the streamed summary must equal the batch groupBy count
        integer-for-integer under micro-batch sharding."""
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import (
            load_table,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            spacesaving_topk_stream,
        )

        def tokens_of(df):
            return df.filter(F.col("event_type").isNotNull()).select(
                "event_id",
                F.pmod(F.xxhash64("event_type"), F.lit(4))
                .cast("int")
                .alias("shard"),
                F.col("event_type").alias("token"),
            )

        e = load_table(spark, sf_dir, "events")
        batch_counts = {
            (r.shard, r.token): r.c
            for r in tokens_of(e)
            .groupBy("shard", "token")
            .agg(F.count("*").alias("c"))
            .collect()
        }

        src, ckpt = f"{tmp_path}/src", f"{tmp_path}/ckpt"
        write_batch = _atomic_batch_writer(tmp_path, src)
        write_batch(tokens_of(e.filter(F.col("event_id") % 2 == 0)))
        stream = (
            spark.readStream.schema("v string").text(src)
            .select(
                F.from_json(
                    F.col("v"), "event_id long, shard int, token string"
                ).alias("e")
            )
            .select("e.*")
        )
        q = (
            spacesaving_topk_stream(stream, k=32)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("ss_t")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            write_batch(tokens_of(e.filter(F.col("event_id") % 2 == 1)))
            q.processAllAvailable()
            rows = spark.sql(
                "SELECT shard, token, cnt, err FROM ("
                " SELECT *, max(ver) OVER (PARTITION BY shard) mv"
                " FROM ss_t) WHERE ver = mv"
            ).collect()
        finally:
            q.stop()
        stream_counts = {(r.shard, r.token): r.cnt for r in rows}
        assert stream_counts == batch_counts and len(batch_counts) > 0
        assert all(r.err == 0 for r in rows)

    def test_guarantee_bounds_under_eviction(self, spark, tmp_path):
        """Overflowed summary (unique-token tail >> k): every surviving
        token obeys cnt - err <= true <= cnt, and every planted token
        with frequency > n_seen_shard/k survives (the Space-Saving
        guarantee)."""
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            spacesaving_topk_stream,
        )

        K, P = 8, 2
        # 3 planted heavy hitters (60 each) over a 200-unique-token tail
        heavy = [(f"hh_{i}", 60) for i in range(3)]
        rows = [(j, t) for j, (t, c) in enumerate(heavy) for _ in range(c)]
        rows += [(1000 + j, f"tail_{j}") for j in range(200)]
        df = spark.createDataFrame(
            [(i, *r) for i, r in enumerate(rows)], "rid long, gid long, token string"
        ).select(
            "rid",
            F.pmod(F.xxhash64("token"), F.lit(P)).cast("int").alias("shard"),
            "token",
        )
        true_counts = {
            (r.shard, r.token): r.c
            for r in df.groupBy("shard", "token").agg(F.count("*").alias("c")).collect()
        }
        n_per_shard = {}
        for (s, _), c in true_counts.items():
            n_per_shard[s] = n_per_shard.get(s, 0) + c

        src, ckpt = f"{tmp_path}/src", f"{tmp_path}/ckpt"
        write_batch = _atomic_batch_writer(tmp_path, src)
        write_batch(df.filter(F.col("rid") % 2 == 0))
        stream = (
            spark.readStream.schema("v string").text(src)
            .select(
                F.from_json(
                    F.col("v"), "rid long, shard int, token string"
                ).alias("e")
            )
            .select("e.*")
        )
        q = (
            spacesaving_topk_stream(stream, k=K)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("ss_g")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            write_batch(df.filter(F.col("rid") % 2 == 1))
            q.processAllAvailable()
            out = spark.sql(
                "SELECT shard, token, cnt, err, ver FROM ("
                " SELECT *, max(ver) OVER (PARTITION BY shard) mv"
                " FROM ss_g) WHERE ver = mv"
            ).collect()
        finally:
            q.stop()
        survivors = {(r.shard, r.token): (r.cnt, r.err) for r in out}
        # state is capped at k entries per shard
        per_shard = {}
        for (s, _t) in survivors:
            per_shard[s] = per_shard.get(s, 0) + 1
        assert all(v <= K for v in per_shard.values())
        # ver column carries the per-shard processed count
        vers = {r.shard: r.ver for r in out}
        assert vers == n_per_shard
        # overestimation-bound invariant for every survivor
        for key, (cnt, err) in survivors.items():
            true = true_counts.get(key, 0)
            assert cnt - err <= true <= cnt, (key, cnt, err, true)
        # guarantee: planted tokens above the n/k threshold survive
        for (s, t), true in true_counts.items():
            if t.startswith("hh_") and true > n_per_shard[s] / K:
                assert (s, t) in survivors, (s, t, true)


class TestSpaceSavingContainmentSink:
    """r11 (VERDICT r10 item 7): the foreachBatch containment-audit
    twin of the batch ``heavy_hitter_containment`` audit — the sketch's
    published bound is CHECKED against exact counts on a replayed
    fixture, per micro-batch, through the first-class sink."""

    def _fixture(self, spark, P):
        heavy = [(f"hh_{i}", 40) for i in range(4)]
        rows = [(t,) for t, c in heavy for _ in range(c)]
        rows += [(f"tail_{j}",) for j in range(150)]
        return spark.createDataFrame(
            [(i, t) for i, (t,) in enumerate(rows)], "rid long, token string"
        ).select(
            "rid",
            F.pmod(F.xxhash64("token"), F.lit(P)).cast("int").alias("shard"),
            "token",
        )

    def test_audit_green_on_replayed_fixture(self, spark, tmp_path):
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            spacesaving_containment_sink,
            spacesaving_topk_stream,
        )

        K, P = 8, 2
        df = self._fixture(spark, P)

        src, ckpt = f"{tmp_path}/src", f"{tmp_path}/ckpt"
        write_batch = _atomic_batch_writer(tmp_path, src)

        # truth over the REPLAYED PREFIX: exact counts of everything
        # written so far (grows with each appended batch, like the
        # archived log the audit would read at 100 TB)
        def truth_fn(sess):
            return (
                sess.read.schema("v string").text(src)
                .select(
                    F.from_json(
                        F.col("v"), "rid long, shard int, token string"
                    ).alias("e")
                )
                .select("e.*")
                .groupBy("shard", "token")
                .agg(F.count("*").alias("true_cnt"))
            )

        write_batch(df.filter(F.col("rid") % 2 == 0))
        stream = (
            spark.readStream.schema("v string").text(src)
            .select(
                F.from_json(
                    F.col("v"), "rid long, shard int, token string"
                ).alias("e")
            )
            .select("e.*")
        )
        results: dict = {}
        q = spacesaving_containment_sink(
            spacesaving_topk_stream(stream, k=K), truth_fn, K, results,
            checkpoint=ckpt,
        ).start()
        try:
            q.processAllAvailable()
            write_batch(df.filter(F.col("rid") % 2 == 1))
            q.processAllAvailable()
        finally:
            q.stop()
        assert results["batches"] >= 2
        assert results["checked"] > 0
        assert results["violations"] == [], results["violations"]

    def test_audit_catches_broken_summary(self, spark):
        """The audit must be falsifiable: a summary that understates its
        error (cnt inflated past true with err=0) trips 'bound', a
        fabricated token trips 'phantom', and a missing heavy hitter
        trips 'guarantee'."""
        from real___time_fraud_detection_using_apache_kafka_spark.streaming.stateful import (
            audit_spacesaving_summary,
        )

        truth = spark.createDataFrame(
            [(0, "a", 100), (0, "b", 60), (0, "c", 2)],
            "shard int, token string, true_cnt long",
        )
        # n_seen=162, k=2 -> threshold 81: 'a' (100) is guaranteed.
        summary = spark.createDataFrame(
            [
                (0, "b", 70, 0, 162),   # bound: true 60 < cnt-err 70
                (0, "ghost", 5, 0, 162),  # phantom: absent from truth
            ],
            "shard int, token string, cnt long, err long, ver long",
        )
        out = audit_spacesaving_summary(summary, truth, k=2).collect()
        kinds = {(r.violation, r.token) for r in out}
        assert kinds == {
            ("bound", "b"), ("phantom", "ghost"), ("guarantee", "a"),
        }, kinds
