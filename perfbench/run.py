"""Same-host benchmark of the engine's regime pipeline, graph loops,
interactive registry queries and bar ingest.

    python3 perfbench/run.py --workload market_regime --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. All inputs are generated from ``--seed``
under ``.perfbench_work/`` in the checkout, and removed at exit. Earlier
stdout lines carry the run's context (host, inputs, samples, checks); the
last line is the result: ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics of a
traced run (``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import stats
from spans import SPAN_METRICS, Tracer, read_event_logs, span_metrics
from workloads import QUERIES, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_SETUPS = 2

# per-layer spans; every traced run reports all of them (a span the
# workload never enters reads 0)
SPANS = [
    "session.build_session", "sources.rest.write_bars",
    "plans.market_analysis_plan.label", "plans.market_analysis_plan.branches",
    "ml.clustering.correlation_matrix", "ml.clustering.louvain_communities_df",
    "ml.clustering.kmeans_clusters", "ml.graph.pagerank", "ml.graph.louvain_distributed",
    "queries", "sources.versioned.append_version", "sources.matview.refresh_matview",
]
# set-up calls of the query_mix ingest table, reported by wall time only
SETUP_SPANS = ["sources.versioned.write_version", "sources.matview.create_matview"]
EXTRA = ["ml.graph.louvain_distributed.modularity", "sources.matview.refresh_matview.groups_upserted",
         "sources.bytes_written", "sources.ingest_write_amp", "trace.op_p50_s"]


def per_layer_names(queries: list[str]) -> list[str]:
    return ([f"{s}.{m}" for s in SPANS for m in SPAN_METRICS]
            + [f"{s}.wall_s" for s in SETUP_SPANS]
            + [f"queries.{q}.wall_s" for q in queries] + EXTRA)


def _peak_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def _tree(pid: int) -> list[int]:
    out = [pid]
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                for c in fh.read().split():
                    out.extend(_tree(int(c)))
    except FileNotFoundError:
        pass
    return out


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this process plus the JVM and its children."""
    pids = [os.getpid()] + (_tree(jvm_pid) if jvm_pid else [])
    return sum(_peak_kb(p) for p in pids) / 1024.0


class Engine:
    """The SparkSession under test, rebuilt for each set-up."""

    def __init__(self, work: str, trace: bool, tracer):
        self.tr = tracer
        self.spark = None
        self.conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            # a fixed-size heap, so peak RSS does not depend on when G1
            # decides to grow it
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        }
        if trace:
            os.makedirs(os.path.join(work, "eventlog"))
            self.conf |= {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false",
                          "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog")}

    def build(self):
        from financial_big_data_spark.session import build_session

        if self.spark is not None:
            self.tr.bind(None)
            self.spark.stop()
        with self.tr.span("session.build_session"):
            self.spark = build_session("perfbench", cpus=len(os.sched_getaffinity(0)),
                                       extra_conf=self.conf)
        self.tr.bind(self.spark)
        return self.spark

    @property
    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc else None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.stop()
        SparkContext._gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        self.spark = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


BLAS_ENV = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS")


def host_context(spark) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "java": spark._jvm.System.getProperty("java.version"),
        "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
        "blas_threads": {v: os.environ[v] for v in BLAS_ENV},
    }


def _error(ctx: dict, e: Exception) -> None:
    ctx.setdefault("errors", []).append(f"{type(e).__name__}: {str(e)[:300]}")


def checked(ctx: dict, tracer, step, spark) -> tuple[int, int]:
    """Run an untimed, untraced check step: (checks, failed checks). A step
    that raises counts as one failed check."""
    with tracer.paused():
        try:
            return step(spark)
        except Exception as e:  # noqa: BLE001 — the engine failed; report, don't crash
            _error(ctx, e)
            return 1, 1


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, dict]:
    ctx: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                 "loadavg_before": os.getloadavg()}
    tracer = Tracer(trace)
    engine = Engine(work, trace, tracer)
    wl = WORKLOADS[workload](ROOT, work, seed, tracer)
    try:
        setup_s = []
        for _ in range(N_SETUPS):
            t0 = time.perf_counter()
            spark = engine.build()
            wl.setup(spark)
            setup_s.append(time.perf_counter() - t0)
        ctx["host"] = host_context(spark)
        ctx["inputs"] = wl.inputs

        t0 = time.perf_counter()
        attempted, failed = checked(ctx, tracer, wl.warm, spark)
        ctx["warm_s"] = time.perf_counter() - t0

        samples, rows = [], 0
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            ops = wl.ops(spark)
            for n, op in ops:
                attempted += 1
                t0 = time.perf_counter()
                try:
                    op()
                except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                    failed += 1
                    _error(ctx, e)
                    continue
                samples.append(time.perf_counter() - t0)
                rows += n
                if time.perf_counter() >= t_end:
                    break
            ops.close()

        t0 = time.perf_counter()
        checks, bad = checked(ctx, tracer, wl.finish, spark)
        ctx["finish_s"] = time.perf_counter() - t0
        attempted += checks
        failed += bad
        rss = peak_rss_mb(engine.jvm_pid)
    finally:
        engine.close()

    ctx["samples"] = len(samples)
    ctx["setup_samples_s"] = setup_s
    ctx["extra"] = wl.extra
    ctx["span_wall_s"] = {k: [round(x, 3) for x in v] for k, v in tracer.walls().items()}
    ctx["loadavg_after"] = os.getloadavg()
    e2e = {
        "setup_s": (stats.median(setup_s), "s"),
        "op_p50_s": (stats.median(samples), "s"),
        "op_tail_s": (stats.tail(samples), "s"),
        "rows_per_s": (rows / sum(samples), "rows/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    if not trace:
        metrics = e2e
    else:
        per_span = span_metrics(tracer.spans, *read_event_logs(os.path.join(work, "eventlog")))
        values = {f"{s}.{m}": v for s, d in per_span.items() for m, v in d.items()}
        values |= {
            "ml.graph.louvain_distributed.modularity": wl.extra.get("louvain_modularity", 0.0),
            "sources.matview.refresh_matview.groups_upserted": wl.extra.get("groups_upserted", 0.0),
            "sources.bytes_written": wl.extra.get("bytes_written", 0.0),
            "sources.ingest_write_amp": wl.extra.get("ingest_write_amp", 0.0),
            "trace.op_p50_s": e2e["op_p50_s"][0],
        }
        ctx["spans"] = {s: d["calls"] for s, d in per_span.items()}
        metrics = {n: (float(values.get(n, 0.0)), _unit(n)) for n in per_layer_names(QUERIES)}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return ctx, result


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "sources.bytes_written":
        return "bytes"
    if name.endswith(("modularity", "write_amp")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    for v in BLAS_ENV:
        os.environ[v] = "1"
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # everything the engine writes stays inside the checkout; Python
    # workers import the package from it
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    sys.path.insert(0, ROOT)
    try:
        import financial_big_data_spark  # noqa: F401 — the engine under test must be present

        ctx, result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(ctx, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
