"""Tests for the benchmark's own arithmetic and input generators (no Spark).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import read_event_logs, span_metrics  # noqa: E402
from stats import covered, driver_gap, median, self_time, tail, union, write_amp  # noqa: E402


def test_tail_has_exactly_ten_samples_beyond_it():
    xs = list(range(1, 31))  # 30 samples
    t = tail(xs)
    assert t == 20
    assert sum(x > t for x in xs) == 10


def test_tail_is_never_below_the_median():
    xs = list(range(1, 21))  # 20 samples: the 10th is below the median
    assert tail(xs) == 20  # no percentile with 10 beyond lies above the median
    xs = list(range(1, 22))  # 21 samples: the 11th is the median itself
    assert tail(xs) == 11 == median(xs)


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0] * 10
    assert tail(xs) == tail(sorted(xs))


def test_union_merges_overlapping_and_touching_intervals():
    assert union([(3, 5), (0, 1), (1, 2), (4, 7), (9, 9)]) == [(0, 2), (3, 7)]


def test_driver_gap_counts_overlapping_jobs_once():
    # span [0, 10]; jobs overlap in [2, 4] and one runs past the span's end
    jobs = [(1, 4), (2, 5), (8, 12)]
    assert covered(jobs, 0, 10) == 6  # [1, 5] + [8, 10]
    assert driver_gap(0, 10, jobs) == 4


def test_driver_gap_without_jobs_is_the_wall_time():
    assert driver_gap(2.0, 3.5, []) == 1.5


def test_self_time_subtracts_the_union_of_children():
    children = [(1, 3), (2, 4), (6, 7)]
    assert self_time(0, 10, children) == 10 - 4


def test_write_amp():
    assert write_amp(1000, 1600, 200) == 3.0
    with pytest.raises(ValueError):
        write_amp(0, 10, 0)


def _log(path, events):
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def test_span_metrics_attribute_jobs_and_tasks_by_job_group(tmp_path):
    # parent "queries" (t=0..10) with two children; jobs in both children,
    # one job unlabelled; the second child's two jobs overlap
    def job(jid, group, stages, t0, t1):
        props = {"spark.jobGroup.id": group} if group else {}
        return [{"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0 * 1e3,
                 "Stage IDs": stages, "Properties": props},
                {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1 * 1e3}]

    def task(stage, run_ms, cpu_ns, shuffle=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                                 "JVM GC Time": 10, "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    events = (job(0, "queries.a#0", [0], 1, 3) + [task(0, 1000, 5e8, 100)]
              + job(1, "queries.b#0", [1, 2], 5, 7) + job(2, "queries.b#0", [2, 3], 6, 8)
              + [task(1, 2000, 1e9), task(2, 500, 5e8), task(3, 500, 5e8)]
              + job(3, None, [4], 9, 9.5))
    os.makedirs(tmp_path / "app")
    _log(tmp_path / "app" / "events_1_local-1", events)
    spans = [
        {"name": "queries", "group": "queries#0", "parent": None, "start": 0, "end": 10},
        {"name": "queries.a", "group": "queries.a#0", "parent": 0, "start": 0.5, "end": 4},
        {"name": "queries.b", "group": "queries.b#0", "parent": 0, "start": 4, "end": 9},
    ]
    m = span_metrics(spans, *read_event_logs(str(tmp_path)))
    a, b, q = m["queries.a"], m["queries.b"], m["queries"]
    assert (a["jobs"], a["tasks"], a["shuffle_bytes"]) == (1, 1, 100)
    assert a["exec_cpu_s"] == pytest.approx(0.5) and a["exec_nonjvm_s"] == pytest.approx(0.5)
    assert a["driver_gap_s"] == pytest.approx(3.5 - 2)
    # stage 2 is shared by both jobs of b: its task counts once
    assert (b["jobs"], b["tasks"]) == (2, 3)
    assert b["driver_gap_s"] == pytest.approx(5 - 3)  # jobs cover [5, 8]
    assert b["gc_s"] == pytest.approx(0.03)
    # the parent sums its subtree; the unlabelled job belongs to no span
    assert (q["jobs"], q["tasks"]) == (3, 4)
    assert q["driver_gap_s"] == pytest.approx(10 - 5)
    assert q["self_s"] == pytest.approx(10 - 8.5)
    assert q["calls"] == 1


def _digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


@pytest.mark.parametrize("write", [
    lambda seed, d: gen.write_bars_file(seed, d, 3, 300),
    lambda seed, d: gen.write_graph_file(seed, d, 200, 4),
    lambda seed, d: gen.write_events_file(seed, d, 500),
])
def test_generators_are_seeded(tmp_path, write):
    dirs = [tmp_path / n for n in ("a", "b", "c")]
    for d in dirs:
        os.makedirs(d)
    infos = [write(7, str(dirs[0])), write(7, str(dirs[1])), write(8, str(dirs[2]))]
    paths = [os.path.join(d, i["path"]) for d, i in zip(dirs, infos)]
    assert _digest(paths[0]) == _digest(paths[1])
    assert _digest(paths[0]) != _digest(paths[2])
    assert infos[0]["rows"] > 0 and infos[0]["bytes"] == os.path.getsize(paths[0])


def test_planted_graph_is_simple_and_undirected():
    e = gen.planted_graph(3, 400, 8)
    assert (e["src"] < e["dst"]).all()
    assert not e.duplicated().any()
    size = 400 // 8
    intra = (e["src"] // size == e["dst"] // size).mean()
    assert intra > 0.7  # 8 intra- vs 2 inter-community draws per node


def test_events_match_the_table_shape():
    e = gen.events(1, 2000)
    assert e["event_id"].tolist() == list(range(2000))
    assert e["ts"].is_monotonic_increasing and not e["ts"].duplicated().any()
    assert set(e["event_type"]) <= set(gen.EVENT_TYPES)
    assert (e["value"] == e["value"].round(2)).all() and (e["value"] >= 0).all()
