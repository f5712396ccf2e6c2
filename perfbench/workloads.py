"""The benchmark's workloads: seeded inputs, one timed operation at a time,
and output checks that run outside the timed window.

A workload object is built once per run. ``setup`` may run several times
(each time on a fresh session, regenerating its inputs); ``warm`` runs one
untimed round and checks its outputs; ``ops`` yields the timed operations
of one round; ``finish`` runs the checks that need the whole window.
Check helpers return the number of failed checks.
"""

from __future__ import annotations

import importlib.util
import math
import os
import shutil

import numpy as np
import pandas as pd

import gen
from stats import dir_bytes, write_amp


def _tool(root: str, name: str):
    """Import ``tools/<name>.py`` of the checkout under test."""
    spec = importlib.util.spec_from_file_location(f"_tool_{name}", os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    name = ""

    def __init__(self, root: str, work: str, seed: int, tracer):
        self.root, self.work, self.seed, self.tr = root, work, seed, tracer
        self.inputs: list[dict] = []
        self.extra: dict[str, float] = {}

    def setup(self, spark) -> None:
        raise NotImplementedError

    def warm(self, spark) -> tuple[int, int]:
        """One untimed round with output checks: (checks, failed checks)."""
        raise NotImplementedError

    def ops(self, spark):
        """Timed operations of one round, as (input rows, callable) pairs."""
        raise NotImplementedError

    def finish(self, spark) -> tuple[int, int]:
        """Checks over the timed window: (checks, failed checks)."""
        raise NotImplementedError


# ── market_regime ────────────────────────────────────────────────────────

FEATURES = ["mean_return", "volatility", "skewness", "kurtosis", "volume_cv"]


def modularity(edges: pd.DataFrame, community: np.ndarray) -> float:
    """Newman modularity of an unweighted undirected partition (numpy)."""
    m = len(edges)
    cs, cd = community[edges["src"].to_numpy()], community[edges["dst"].to_numpy()]
    intra = np.bincount(cs[cs == cd], minlength=community.max() + 1)
    deg = np.bincount(edges["src"], minlength=len(community)) + np.bincount(
        edges["dst"], minlength=len(community))
    tot = np.bincount(community, weights=deg, minlength=community.max() + 1)
    return float((intra / m - (tot / (2 * m)) ** 2).sum())


class MarketRegime(Workload):
    """The paper's EP2 market-analysis pipeline on seeded OHLCV bars, then
    symbol-graph analytics on a seeded planted-partition graph."""

    name = "market_regime"
    N_SYMBOLS, N_BARS = 30, 1500
    N_NODES, N_COMMS = 1500, 15

    def setup(self, spark) -> None:
        from financial_big_data_spark.sources.rest import write_bars

        src = _fresh(os.path.join(self.work, "inputs"))
        self.inputs = [gen.write_bars_file(self.seed, src, self.N_SYMBOLS, self.N_BARS),
                       gen.write_graph_file(self.seed, src, self.N_NODES, self.N_COMMS)]
        ds = os.path.join(self.work, "bars_ds")
        with self.tr.span("sources.rest.write_bars"):
            write_bars(spark.read.parquet(os.path.join(src, "bars.parquet")), ds)
        self.bars = spark.read.parquet(ds)
        self.edges = spark.read.parquet(os.path.join(src, "edges.parquet"))
        self.rows = self.inputs[0]["rows"] + self.inputs[1]["rows"]
        self._ref = None

    def _reference(self) -> dict:
        if self._ref is None:
            ep2 = _tool(self.root, "pandas_baseline").ep2_pandas
            src = os.path.join(self.work, "inputs")
            b = pd.read_parquet(os.path.join(src, "bars.parquet"))
            ev = pd.DataFrame({"user_id": b["symbol"], "ts": b["ts"],
                               "event_id": np.arange(len(b)), "value": b["close"]})
            out = ep2(ev)
            edges = pd.read_parquet(os.path.join(src, "edges.parquet"))
            size = self.N_NODES // self.N_COMMS
            self._edges_pd = edges
            self._ref = {
                "dist": {k: int(v) for k, v in out["dist"].items()},
                "transitions": int(out["transitions"]),
                "top5": [(r.regime, r.to_regime, int(r.n)) for r in out["top5"].itertuples()],
                "planted_q": modularity(edges, np.arange(self.N_NODES) // size),
            }
        return self._ref

    def _pass(self, spark) -> dict:
        from pyspark.sql import functions as F

        from financial_big_data_spark.cache import release_tracked, tracked_persist
        from financial_big_data_spark.ml.clustering import (
            correlation_matrix, corr_edges, kmeans_clusters, louvain_communities_df)
        from financial_big_data_spark.ml.graph import louvain_distributed, pagerank
        from financial_big_data_spark.plans import market_analysis_plan

        tr = self.tr
        with tr.span("plans.market_analysis_plan.label"):
            res = market_analysis_plan(self.bars)
            dist = res.regime_distribution.collect()
        with tr.span("plans.market_analysis_plan.branches"):
            n_trans = res.transitions.count()
            res.transition_matrix.collect()
            top5 = res.top_transitions.collect()
            res.daily_regime.collect()
            res.profiles.collect()
            res.period_stats.collect()
        with tr.span("ml.clustering.correlation_matrix"):
            corr = tracked_persist(correlation_matrix(self.bars, "symbol", "ts", "close"))
            corr.count()
        with tr.span("ml.clustering.louvain_communities_df"):
            louvain_communities_df(spark, corr_edges(corr, 0.3))
        with tr.span("ml.clustering.kmeans_clusters"):
            assigned, _ = kmeans_clusters(res.profiles, FEATURES, k=5)
            assigned.count()
        res.unpersist()
        release_tracked()
        sym = self.edges.unionByName(self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")))
        with tr.span("ml.graph.pagerank"):
            rank_sum = pagerank(sym, n_iter=10).agg(F.sum("rank")).first()[0]
        with tr.span("ml.graph.louvain_distributed"):
            comm = louvain_distributed(self.edges, max_levels=2, max_sweeps=4).collect()
        release_tracked()
        return {
            "dist": {r["regime"]: int(r["n"]) for r in dist},
            "transitions": int(n_trans),
            "top5": [(r["from_regime"], r["to_regime"], int(r["n_transitions"])) for r in top5],
            "rank_sum": float(rank_sum),
            "communities": comm,
        }

    def _check(self, out: dict) -> int:
        ref = self._reference()
        failed = int(out["dist"] != ref["dist"])
        failed += int(out["transitions"] != ref["transitions"])
        failed += int(out["top5"] != ref["top5"])
        failed += int(not math.isclose(out["rank_sum"], 1.0, rel_tol=0.0, abs_tol=1e-9))
        labels = np.zeros(self.N_NODES, dtype=np.int64)
        for r in out["communities"]:
            labels[int(r["node"])] = int(r["community"])
        q = modularity(self._edges_pd, np.unique(labels, return_inverse=True)[1])
        self.extra["louvain_modularity"] = q
        self.extra["planted_modularity"] = ref["planted_q"]
        # quality floor: distributed Louvain recovers most of the planted
        # partition's modularity
        failed += int(q < 0.9 * ref["planted_q"])
        return failed

    def warm(self, spark) -> tuple[int, int]:
        self._outs: list[dict] = []
        return 1, int(self._check(self._pass(spark)) > 0)

    def ops(self, spark):
        # each timed pass keeps its small results; they are checked after
        # the window (see finish)
        yield self.rows, lambda: self._outs.append(self._pass(spark))

    def finish(self, spark) -> tuple[int, int]:
        return len(self._outs), sum(self._check(o) > 0 for o in self._outs)


# ── query_mix ────────────────────────────────────────────────────────────

# Short financial registry queries over the events table. ev_coarse_regime
# and ev_macd are left out: on seeded 2-decimal events they disagree with
# their DuckDB oracles (a round-half tie in ev_coarse_regime.momentum and
# -0.0 vs 0.0 in ev_macd.macd_hist), so no seed would pass the output check.
QUERIES = ["ev_returns", "ev_rolling", "ev_regime_distribution", "ev_transitions",
           "ev_transition_matrix", "ev_user_profile", "ev_daily_regime",
           "ev_type_corr_pairs", "ev_asof_join", "ev_sessions", "pred_summary"]


class QueryMix(Workload):
    """Interactive use: registry queries back to back, with appends to a
    versioned table and refreshes of its materialized view in between."""

    name = "query_mix"
    N_EVENTS = 10_000
    N_BASE, BATCH, INGEST_PER_ROUND = 10_000, 1_000, 3

    def setup(self, spark) -> None:
        from financial_big_data_spark.queries import queries
        from financial_big_data_spark.sources.matview import create_matview
        from financial_big_data_spark.sources.versioned import write_version

        self.sf = _fresh(os.path.join(self.work, "sf"))
        batches = _fresh(os.path.join(self.work, "batches"))
        self.inputs = [gen.write_events_file(self.seed, self.sf, self.N_EVENTS),
                       gen.write_events_file(self.seed, batches, self.N_BASE, name="base")]
        self.n_users = self.N_BASE // 67
        self.base = os.path.join(self.work, "vbase")
        self.view = os.path.join(self.work, "view")
        shutil.rmtree(self.base, ignore_errors=True)
        shutil.rmtree(self.view, ignore_errors=True)
        with self.tr.span("sources.versioned.write_version"):
            write_version(self._ingest_rows(spark, "base.parquet"), self.base, key="event_id")
        with self.tr.span("sources.matview.create_matview"):
            create_matview(spark, self.base, self.view, group="user_id", value="value")
        self.q = queries()
        self.n_batches = 0
        self.appended_bytes = 0
        self.upserted: list[int] = []

    def _ingest_rows(self, spark, name: str):
        return spark.read.parquet(os.path.join(self.work, "batches", name)).select(
            "event_id", "user_id", "value")

    def _oracle(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.sf}/events.parquet')")
        return con

    def warm(self, spark) -> tuple[int, int]:
        from financial_big_data_spark.queries import oracle_sql

        compare = _tool(self.root, "check_correctness").compare
        sql = oracle_sql()
        con = self._oracle()
        failed = 0
        for name in QUERIES:
            errs = compare(name, self.q[name](spark, self.sf), con.execute(sql[name]).df())
            if errs:
                self.extra[f"check_failed.{name}"] = 1
            failed += bool(errs)
        for _ in range(self.INGEST_PER_ROUND):
            self._ingest(spark)
        con.close()
        # the window's ingest accounting starts here
        self._bytes0 = dir_bytes(self.base) + dir_bytes(self.view)
        self._appended0 = self.appended_bytes
        self.upserted = []
        return len(QUERIES), failed

    def _ingest(self, spark) -> None:
        from financial_big_data_spark.sources.matview import refresh_matview
        from financial_big_data_spark.sources.versioned import append_version

        i = self.n_batches
        self.n_batches += 1
        info = gen.write_events_file(self.seed, os.path.join(self.work, "batches"), self.BATCH,
                                     first_id=self.N_BASE + i * self.BATCH, n_users=self.n_users,
                                     name="batch")
        self.appended_bytes += info["bytes"]
        with self.tr.span("sources.versioned.append_version"):
            append_version(spark, self.base, self._ingest_rows(spark, info["path"]), key="event_id")
        with self.tr.span("sources.matview.refresh_matview"):
            r = refresh_matview(spark, self.base, self.view, key="event_id")
        self.upserted.append(r["groups_upserted"])

    def ops(self, spark):
        # an append→refresh after every few queries, so a window cut
        # anywhere in a round keeps the mix
        every = -(-len(QUERIES) // self.INGEST_PER_ROUND)
        for i, name in enumerate(QUERIES):
            def op(name=name) -> None:
                with self.tr.span("queries"), self.tr.span(f"queries.{name}"):
                    _noop(self.q[name](spark, self.sf))
            yield self.N_EVENTS, op
            if i % every == every - 1 or i == len(QUERIES) - 1:
                yield self.BATCH, lambda: self._ingest(spark)

    def finish(self, spark) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from financial_big_data_spark.sources.matview import read_matview
        from financial_big_data_spark.sources.versioned import read_version

        n = len(self.upserted)
        if n:
            bytes1 = dir_bytes(self.base) + dir_bytes(self.view)
            self.extra["bytes_written"] = (bytes1 - self._bytes0) / n
            self.extra["ingest_write_amp"] = write_amp(
                self._bytes0, bytes1, self.appended_bytes - self._appended0)
            self.extra["groups_upserted"] = sum(self.upserted) / n
        view = {r["user_id"]: (r["agg_sum"], r["agg_count"])
                for r in read_matview(spark, self.view).collect()}
        fresh = {r["user_id"]: (r["s"], r["c"]) for r in read_version(spark, self.base)
                 .groupBy("user_id").agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("c"))
                 .collect()}
        ok = view.keys() == fresh.keys() and all(
            view[k][1] == fresh[k][1] and math.isclose(view[k][0], fresh[k][0], rel_tol=1e-9, abs_tol=1e-9)
            for k in fresh)
        return 1, int(not ok)


WORKLOADS = {w.name: w for w in (MarketRegime, QueryMix)}
