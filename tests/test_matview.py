"""Incrementally-maintained materialized aggregates (sources/matview.py):
delta refresh ≡ full recompute under insert/update/delete, zero-count
group deletion, the changed-keys fast path, and the stated limits."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.sources.matview import (
    create_matview,
    read_matview,
    refresh_matview,
)
from financial_big_data_spark.sources.versioned import (
    delete_version,
    read_version,
    upsert_version,
    write_version,
)


@pytest.fixture()
def paths():
    d = tempfile.mkdtemp(prefix="matview_")
    yield os.path.join(d, "base"), os.path.join(d, "view")
    shutil.rmtree(d, ignore_errors=True)


def _base(spark, n=200):
    # group = id % 7, value = id * 1.5
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 1.5).alias("v"),
    )


def _recompute(spark, base_path):
    return {
        (r.g, round(r.s, 6), r.c)
        for r in read_version(spark, base_path)
        .groupBy("g")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }


def _view_rows(spark, view_path):
    return {
        (r.g, round(r.agg_sum, 6), r.agg_count)
        for r in read_matview(spark, view_path).collect()
    }


def test_create_matches_full_aggregate(spark, paths):
    base, view = paths
    write_version(_base(spark), base, key="id")
    create_matview(spark, base, view, group="g", value="v")
    assert _view_rows(spark, view) == _recompute(spark, base)


def test_refresh_after_insert_update_delete(spark, paths):
    base, view = paths
    write_version(_base(spark), base, key="id")
    create_matview(spark, base, view, group="g", value="v")
    # update: double v for ids 10-19; insert: ids 200-219
    updates = spark.range(10, 20).select(
        F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 3.0).alias("v")
    ).unionByName(
        spark.range(200, 220).select(
            F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 1.5).alias("v")
        )
    )
    upsert_version(spark, base, updates, key="id")
    # delete: every id divisible by 5
    delete_version(
        spark, base, spark.range(0, 220, 5).select("id"), key="id"
    )
    stats = refresh_matview(spark, base, view, key="id")
    assert stats["groups_upserted"] > 0
    assert _view_rows(spark, view) == _recompute(spark, base)


def test_zero_count_group_is_deleted(spark, paths):
    base, view = paths
    # two groups; wipe one entirely
    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 2).alias("g"), F.lit(1.0).alias("v")
    )
    write_version(df, base, key="id")
    create_matview(spark, base, view, group="g", value="v")
    delete_version(
        spark, base, spark.range(0, 20, 2).select("id"), key="id"
    )  # removes all of group 0
    stats = refresh_matview(spark, base, view, key="id")
    assert stats["groups_deleted"] == 1
    rows = _view_rows(spark, view)
    assert rows == _recompute(spark, base)
    assert all(g == 1 for g, _, _ in rows)


def test_noop_refresh_and_changed_keys_fast_path(spark, paths):
    base, view = paths
    write_version(_base(spark), base, key="id")
    create_matview(spark, base, view, group="g", value="v")
    assert refresh_matview(spark, base, view, key="id") == {
        "base_version": 1,
        "groups_upserted": 0,
        "groups_deleted": 0,
    }
    updates = spark.range(50, 60).select(
        F.col("id"), (F.col("id") % 7).alias("g"), F.lit(100.0).alias("v")
    )
    upsert_version(spark, base, updates, key="id")
    # writer passes the batch keys — no changefeed diff needed
    refresh_matview(
        spark, base, view, key="id", changed_keys=updates.select("id")
    )
    assert _view_rows(spark, view) == _recompute(spark, base)


def test_view_is_itself_versioned(spark, paths):
    base, view = paths
    write_version(_base(spark), base, key="id")
    create_matview(spark, base, view, group="g", value="v")
    before = _view_rows(spark, view)
    upsert_version(
        spark,
        base,
        spark.range(300, 310).select(
            F.col("id"), (F.col("id") % 7).alias("g"), F.lit(9.0).alias("v")
        ),
        key="id",
    )
    refresh_matview(spark, base, view, key="id")
    # time travel to the pre-refresh view
    v1 = {
        (r.g, round(r.agg_sum, 6), r.agg_count)
        for r in read_version(spark, view, 1).collect()
    }
    assert v1 == before
    assert _view_rows(spark, view) != before


def test_non_maintainable_aggregate_refuses(spark, paths):
    base, view = paths
    write_version(_base(spark), base, key="id")
    with pytest.raises(ValueError, match="unsupported"):
        create_matview(spark, base, view, group="g", value="v", aggs=("sum", "median"))


def test_stale_view_after_rollback_refuses(spark, paths):
    base, view = paths
    write_version(_base(spark), base, key="id")
    create_matview(spark, base, view, group="g", value="v")
    meta_path = os.path.join(view, "_matview.json")
    import json

    meta = json.load(open(meta_path))
    meta["base_version"] = 99
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(ValueError, match="went backwards"):
        refresh_matview(spark, base, view, key="id")


def test_streaming_upsert_keeps_view_current(spark, paths):
    """Two micro-batches through the streaming versioned-upsert sink with
    view maintenance: after the stream drains, the view equals a full
    recompute of the final table state (batch 1 bootstraps table+view,
    batch 2 takes the one-commit-lag delta fast path)."""
    base, view = paths
    d = os.path.dirname(base)
    indir, ckpt = os.path.join(d, "in"), os.path.join(d, "ckpt")
    os.makedirs(indir)
    from financial_big_data_spark.streaming.upsert import (
        streaming_versioned_upsert_with_matview,
    )

    schema = "id long, g long, v double, seq long"

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(indir)
        stream = spark.readStream.schema(schema).parquet(indir)
        q = streaming_versioned_upsert_with_matview(
            stream, base, key="id", order="seq", checkpoint=ckpt,
            view_path=view, group="g", value="v",
        )
        q.awaitTermination(180)

    run_batch([(1, 0, 1.0, 1), (2, 1, 2.0, 1), (3, 0, 3.0, 1)])
    # batch 2: update id 1 (and in-batch last-wins on seq), insert id 4
    run_batch([(1, 0, 10.0, 2), (1, 0, 99.0, 3), (4, 1, 4.0, 2)])
    got = _view_rows(spark, view)
    assert got == _recompute(spark, base)
    assert got == {(0, 102.0, 2), (1, 6.0, 2)}  # 99+3 / 2+4


def _recompute_minmax(spark, base_path):
    return {
        (r.g, round(r.s, 6), r.c, round(r.mn, 6), round(r.mx, 6))
        for r in read_version(spark, base_path)
        .groupBy("g")
        .agg(
            F.sum("v").alias("s"),
            F.count(F.lit(1)).alias("c"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }


def _view_rows_minmax(spark, view_path):
    return {
        (r.g, round(r.agg_sum, 6), r.agg_count, round(r.agg_min, 6), round(r.agg_max, 6))
        for r in read_matview(spark, view_path).collect()
    }


@pytest.mark.parametrize("kind", ["delta", "minmax", "distinct_partials"])
def test_refresh_touching_only_null_group_keeps_others(spark, paths, kind):
    """ADVICE r7 (high): when the refresh touches ONLY the null group,
    every untouched non-null group must carry through the one-shot
    snapshot rewrite — the old keep-predicate collapsed to lit(False) and
    silently dropped them all. Checked for each view family: the ±delta
    sum/count view, the MIN/MAX partials view and the
    maintain="partials" distinct view."""
    from financial_big_data_spark.sources.matview import (
        create_distinct_matview,
        refresh_distinct_matview,
    )
    from financial_big_data_spark.sources.versioned import append_version

    base, view = paths

    def rows(lo, hi, g, v, u):
        return spark.range(lo, hi).select(
            F.col("id"), g.alias("g"), v.alias("v"), u.alias("u")
        )

    null_g = F.lit(None).cast("long")
    write_version(
        rows(5, 30, F.col("id") % 3, F.col("id") * 1.5,
             (F.col("id") % 4).cast("string")),
        base, key="id",
    )
    # the null-group rows sit alone in one file, so the upsert below
    # rewrites no other group's rows and the partials families also see
    # a touched set of exactly {NULL}
    append_version(
        spark, base,
        rows(0, 5, null_g, F.col("id") * 1.5, (F.col("id") % 4).cast("string")),
        key="id",
    )
    if kind == "distinct_partials":
        create_distinct_matview(
            spark, base, view, group="g", value="u", b=6, maintain="partials"
        )
    else:
        aggs = ("sum", "count", "min", "max") if kind == "minmax" else ("sum", "count")
        create_matview(spark, base, view, group="g", value="v", aggs=aggs)
    # update ONLY rows whose group is null
    upsert_version(spark, base, rows(0, 5, null_g, F.lit(100.0), F.lit("x")), key="id")
    if kind == "distinct_partials":
        stats = refresh_distinct_matview(spark, base, view)
        got = {(r.g, r.bucket, r.rho) for r in read_version(spark, view).collect()}
        assert got == _from_scratch_regs(spark, base, 6)
        groups = {g for g, _, _ in got}
    elif kind == "minmax":
        stats = refresh_matview(spark, base, view, key="id")
        got = _view_rows_minmax(spark, view)
        assert got == _recompute_minmax(spark, base)
        groups = {g for g, *_ in got}
    else:
        stats = refresh_matview(spark, base, view, key="id")
        got = _view_rows(spark, view)
        assert got == _recompute(spark, base)
        groups = {g for g, _, _ in got}
    assert stats["groups_upserted"] == 1 and stats["groups_deleted"] == 0
    assert groups == {None, 0, 1, 2}


def test_minmax_matview_survives_delete_of_the_max(spark, paths):
    """MIN/MAX maintenance via the per-(file, group) partials sidecar:
    deleting a group's current maximum — the case the ±delta path cannot
    express — must re-merge the group from surviving partials, never
    rescan the base beyond the DML's own files."""
    base, view = paths
    write_version(_base(spark), base, key="id", n_files=4)
    create_matview(
        spark, base, view, group="g", value="v", aggs=("sum", "count", "min", "max")
    )
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)
    # delete the global max rows (ids 193-199 hold each group's max v)
    delete_version(spark, base, spark.range(190, 200).select("id"), key="id")
    stats = refresh_matview(spark, base, view, key="id")
    assert stats["groups_upserted"] > 0
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)
    # update: drop some values below the old min; insert new ids
    updates = spark.range(10, 20).select(
        F.col("id"), (F.col("id") % 7).alias("g"), (-5.0 * F.col("id")).alias("v")
    ).unionByName(
        spark.range(300, 320).select(
            F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 9.0).alias("v")
        )
    )
    upsert_version(spark, base, updates, key="id", dedupe_updates=False)
    refresh_matview(spark, base, view, key="id")
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)


def test_minmax_matview_group_wipe_and_noop(spark, paths):
    base, view = paths
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 2).alias("g"), (F.col("id") * 1.0).alias("v")
    )
    write_version(df, base, key="id")
    create_matview(
        spark, base, view, group="g", value="v", aggs=("sum", "count", "min", "max")
    )
    # no-op refresh
    assert refresh_matview(spark, base, view, key="id")["groups_upserted"] == 0
    # wipe group 0 entirely — its view row must disappear
    delete_version(spark, base, spark.range(0, 40, 2).select("id"), key="id")
    stats = refresh_matview(spark, base, view, key="id")
    assert stats["groups_deleted"] == 1
    rows = _view_rows_minmax(spark, view)
    assert rows == _recompute_minmax(spark, base)
    assert all(g == 1 for g, *_ in rows)


def test_distinct_matview_append_only_merge(spark, paths):
    """HLL distinct-count matview: append-only refresh merges ONLY the
    appended files' registers and must land register-identical to a
    from-scratch sketch of the full table (monotone mergeable state)."""
    from financial_big_data_spark.operators.sketches import hll_sketch
    from financial_big_data_spark.sources.matview import (
        create_distinct_matview,
        read_distinct_matview,
        refresh_distinct_matview,
    )

    base, view = paths

    def rows(n0, n1):
        return spark.range(n0, n1).select(
            F.col("id"),
            (F.col("id") % 5).alias("g"),
            (F.col("id") % 37).cast("string").alias("u"),
        )

    write_version(rows(0, 300), base, key="id")
    create_distinct_matview(spark, base, view, group="g", value="u", b=6)
    est0 = {
        (r.g, round(r.est_distinct, 6))
        for r in read_distinct_matview(spark, view).collect()
    }
    assert len(est0) == 5
    # pure append of NEW keys (hits upsert's pure-append path)
    upsert_version(spark, base, rows(300, 500), key="id", dedupe_updates=False)
    stats = refresh_distinct_matview(spark, base, view)
    assert stats["rebuilt"] is False and stats["groups_upserted"] == 5
    got = {
        (r.g, r.bucket, r.rho)
        for r in read_version(spark, view).collect()
    }
    want = {
        (r.g, r.bucket, r.rho)
        for r in hll_sketch(
            read_version(spark, base), value="u", b=6, by=["g"]
        ).collect()
    }
    assert got == want  # register-identical to from-scratch
    # no-op refresh
    assert refresh_distinct_matview(spark, base, view)["groups_upserted"] == 0


def test_distinct_matview_refuses_mutation(spark, paths):
    from financial_big_data_spark.sources.matview import (
        create_distinct_matview,
        read_distinct_matview,
        refresh_distinct_matview,
    )

    base, view = paths
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).alias("g"),
        F.col("id").cast("string").alias("u"),
    )
    write_version(df, base, key="id")
    create_distinct_matview(spark, base, view, group="g", value="u", b=6)
    # a DELETE rewrites files — monotone registers must refuse to merge
    delete_version(spark, base, spark.range(0, 100, 2).select("id"), key="id")
    with pytest.raises(ValueError, match="monotone"):
        refresh_distinct_matview(spark, base, view)
    # the generic refresh refuses the register view outright
    with pytest.raises(ValueError, match="register view"):
        refresh_matview(spark, base, view, key="id")
    # the remedy: rebuild from the current snapshot
    create_distinct_matview(spark, base, view, group="g", value="u", b=6)
    from financial_big_data_spark.operators.sketches import hll_estimate, hll_sketch

    want = {
        (r.g, round(r.est_distinct, 6))
        for r in hll_estimate(
            hll_sketch(read_version(spark, base), value="u", b=6, by=["g"]),
            b=6, by=["g"],
        ).collect()
    }
    got = {
        (r.g, round(r.est_distinct, 6))
        for r in read_distinct_matview(spark, view).collect()
    }
    assert got == want


def test_filtered_matview_rows_cross_the_predicate(spark, paths):
    """Partial (WHERE-filtered) matview: the predicate applies to BOTH
    sides of the refresh delta, so an UPDATE that moves a row across the
    filter boundary contributes -old (if it passed before) and +new (if
    it passes now) — the leave/enter semantics a filtered view needs."""
    base, view = paths
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("g"), (F.col("id") * 1.0).alias("v")
    )
    write_version(df, base, key="id")
    create_matview(spark, base, view, group="g", value="v", where="v >= 50.0")

    def recompute():
        return {
            (r.g, round(r.s, 6), r.c)
            for r in read_version(spark, base)
            .where("v >= 50.0")
            .groupBy("g")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        }

    assert _view_rows(spark, view) == recompute()
    # ids 10-19 ENTER the filter (v jumps +100); ids 60-69 LEAVE (v -100)
    updates = spark.range(10, 20).select(
        F.col("id"), (F.col("id") % 4).alias("g"), (F.col("id") + 100.0).alias("v")
    ).unionByName(
        spark.range(60, 70).select(
            F.col("id"), (F.col("id") % 4).alias("g"), (F.col("id") - 100.0).alias("v")
        )
    )
    upsert_version(spark, base, updates, key="id", dedupe_updates=False)
    refresh_matview(spark, base, view, key="id", changed_keys=updates.select("id"))
    assert _view_rows(spark, view) == recompute()
    # deletes of passing + non-passing rows alike
    delete_version(spark, base, spark.range(0, 100, 9).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    assert _view_rows(spark, view) == recompute()


def test_filtered_minmax_matview(spark, paths):
    base, view = paths
    df = spark.range(120).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 1.5).alias("v")
    )
    write_version(df, base, key="id")
    create_matview(
        spark, base, view, group="g", value="v",
        aggs=("sum", "count", "min", "max"), where="v < 150.0",
    )

    def recompute():
        return {
            (r.g, round(r.s, 6), r.c, round(r.mn, 6), round(r.mx, 6))
            for r in read_version(spark, base)
            .where("v < 150.0")
            .groupBy("g")
            .agg(
                F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"),
                F.min("v").alias("mn"), F.max("v").alias("mx"),
            )
            .collect()
        }

    assert _view_rows_minmax(spark, view) == recompute()
    # delete the filtered set's maxima and push some rows across the bound
    delete_version(spark, base, spark.range(95, 100).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    assert _view_rows_minmax(spark, view) == recompute()
    updates = spark.range(0, 10).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") + 500.0).alias("v")
    )
    upsert_version(spark, base, updates, key="id", dedupe_updates=False)
    refresh_matview(spark, base, view, key="id")
    assert _view_rows_minmax(spark, view) == recompute()


def test_minmax_matview_unbounded_touched_groups(spark, paths):
    """>10k touched groups exceeds the driver probe cap: the minmax
    refresh must take the rebuild-from-sidecar fallback and still equal
    a from-scratch recompute."""
    base, view = paths
    n = 24_000
    df = spark.range(n).select(
        F.col("id"), F.col("id").alias("g"), (F.col("id") * 1.0).alias("v")
    )
    write_version(df, base, key="id", n_files=4)
    create_matview(
        spark, base, view, group="g", value="v", aggs=("sum", "count", "min", "max")
    )
    # touch 12k groups (> the 10k cap) in one upsert
    updates = spark.range(12_000).select(
        F.col("id"), F.col("id").alias("g"), (F.col("id") + 0.5).alias("v")
    )
    upsert_version(spark, base, updates, key="id", dedupe_updates=False)
    stats = refresh_matview(spark, base, view, key="id")
    assert stats["groups_upserted"] == 24_000  # full rebuild path
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)


def test_distinct_matview_unbounded_touched_groups(spark, paths):
    from financial_big_data_spark.operators.sketches import hll_sketch
    from financial_big_data_spark.sources.matview import (
        create_distinct_matview,
        refresh_distinct_matview,
    )

    base, view = paths
    df = spark.range(11_000).select(
        F.col("id"), F.col("id").alias("g"), F.col("id").cast("string").alias("u")
    )
    write_version(df, base, key="id")
    create_distinct_matview(spark, base, view, group="g", value="u", b=4)
    # append 12k NEW groups (out-of-range ids -> pure append, > probe cap)
    upsert_version(
        spark,
        base,
        spark.range(100_000, 112_000).select(
            F.col("id"), F.col("id").alias("g"), F.col("id").cast("string").alias("u")
        ),
        key="id",
        dedupe_updates=False,
    )
    stats = refresh_distinct_matview(spark, base, view)
    assert stats["groups_upserted"] == 23_000 and not stats["rebuilt"]
    got = {(r.g, r.bucket, r.rho) for r in read_version(spark, view).collect()}
    want = {
        (r.g, r.bucket, r.rho)
        for r in hll_sketch(read_version(spark, base), value="u", b=4, by=["g"]).collect()
    }
    assert got == want


def test_minmax_refresh_replay_idempotent(spark, paths, monkeypatch):
    """ADVICE r8 (medium): a crash AFTER the partials-sidecar commit but
    BEFORE the view/meta update must leave a state the re-run converges
    from — the sidecar already holds the new files' partials, so the
    replayed merge has to drop-then-readd them, never union a second copy
    (which double-counted agg_sum/agg_count)."""
    import financial_big_data_spark.sources.matview as mv

    base, view = paths
    write_version(_base(spark), base, key="id", n_files=4)
    create_matview(
        spark, base, view, group="g", value="v", aggs=("sum", "count", "min", "max")
    )
    delete_version(spark, base, spark.range(190, 200).select("id"), key="id")
    # crash window: sidecar committed, view not yet touched
    real_apply = mv._apply_groups
    calls = {"n": 0}

    def crash_once(*args, **kwargs):
        if calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("injected crash after sidecar commit")
        return real_apply(*args, **kwargs)

    monkeypatch.setattr(mv, "_apply_groups", crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        refresh_matview(spark, base, view, key="id")
    # replay: same refresh again — must converge, not double-count
    stats = refresh_matview(spark, base, view, key="id")
    assert stats["groups_upserted"] > 0
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)


def test_minmax_matview_under_uri_encoded_paths(spark):
    """ADVICE r8: input_file_name() percent-encodes spaces/%/+ that
    manifest paths store raw; the partials' _file key must decode back to
    the manifest's byte-exact path or stale partials silently survive the
    only0 drop filter (the refresh now also fails loudly on any residual
    mismatch rather than merging uninvalidatable partials)."""
    d = tempfile.mkdtemp(prefix="mat view+%enc_")
    try:
        base, view = os.path.join(d, "base"), os.path.join(d, "view")
        write_version(_base(spark), base, key="id", n_files=4)
        create_matview(
            spark, base, view, group="g", value="v",
            aggs=("sum", "count", "min", "max"),
        )
        assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)
        # delete each group's max rows → forces the sidecar re-merge path
        delete_version(spark, base, spark.range(185, 200).select("id"), key="id")
        refresh_matview(spark, base, view, key="id")
        assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_keys_unknown_refresh_scans_only_rewritten_base_files(spark, paths, monkeypatch):
    """The keys-unknown default path must be file-scoped: candidate keys
    come from the manifests' symmetric difference, so NO base file shared
    by both snapshots is ever scanned — the refresh is O(files the DML
    rewrote) even when the writer cannot name its keys."""
    import financial_big_data_spark.sources.matview as mv
    from financial_big_data_spark.sources.versioned import _load_manifest

    base, view = paths
    write_version(_base(spark, 400), base, key="id", n_files=8)
    create_matview(spark, base, view, group="g", value="v")
    updates = spark.range(100, 120).select(
        F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 4.0).alias("v")
    )
    upsert_version(spark, base, updates, key="id", dedupe_updates=False)
    delete_version(spark, base, spark.range(0, 5).select("id"), key="id")
    f_old = set(_load_manifest(base, 1)["files"])
    f_new = set(_load_manifest(base, None)["files"])
    diff = f_old ^ f_new
    assert f_old & f_new, "test needs shared files for the assertion to bite"
    seen: list[str] = []
    import financial_big_data_spark.sources.versioned as vs

    real_scan = vs._scan_files

    def recording_scan(spark_, path, files):
        if path == base:
            seen.extend(files)
        return real_scan(spark_, path, files)

    # patch BOTH call sites: matview bound its own reference at import,
    # and the touched-files changefeed scans through the versioned module
    monkeypatch.setattr(mv, "_scan_files", recording_scan)
    monkeypatch.setattr(vs, "_scan_files", recording_scan)
    refresh_matview(spark, base, view, key="id")  # changed_keys omitted
    assert seen and set(seen) <= diff
    assert _view_rows(spark, view) == _recompute(spark, base)


def test_vacuum_past_view_base_raises_named_error(spark, paths):
    """vacuum retires the manifest an UNREGISTERED view's base_version
    points at (no pin in the base table's _views.json); the refresh must
    then name the view and the rebuild remedy instead of dying in
    _load_manifest with a raw FileNotFoundError."""
    from financial_big_data_spark.sources.versioned import vacuum

    base, view = paths
    write_version(_base(spark), base, key="id")
    create_matview(spark, base, view, group="g", value="v")
    for lo in (300, 400):
        upsert_version(
            spark,
            base,
            spark.range(lo, lo + 10).select(
                F.col("id"), (F.col("id") % 7).alias("g"), F.lit(1.0).alias("v")
            ),
            key="id",
            dedupe_updates=False,
        )
    # unregistered view: nothing pins v1, the view's recorded snapshot
    os.remove(os.path.join(base, "_views.json"))
    vacuum(base, keep_last=1)
    with pytest.raises(ValueError, match="vacuumed|rebuild with create_matview"):
        refresh_matview(spark, base, view, key="id")


def test_vacuum_retains_view_pinned_manifest(spark, paths):
    """VERDICT r9 #8 (default mode): a vacuum that would retire the
    snapshot a registered view still pins RETAINS that manifest and its
    files — the view's next refresh works, and a later vacuum (after the
    refresh advanced the pin) retires it normally."""
    from financial_big_data_spark.sources.versioned import vacuum

    base, view = paths
    write_version(_base(spark), base, key="id")
    create_matview(spark, base, view, group="g", value="v")
    for lo in (300, 400):
        upsert_version(
            spark,
            base,
            spark.range(lo, lo + 10).select(
                F.col("id"), (F.col("id") % 7).alias("g"), F.lit(1.0).alias("v")
            ),
            key="id",
            dedupe_updates=False,
        )
    stats = vacuum(base, keep_last=1)
    assert stats["pinned_retained"] == {os.path.abspath(view): 1}
    # the pinned manifest survived: the refresh's delta base is intact
    refresh_matview(spark, base, view, key="id")
    assert _view_rows(spark, view) == _recompute(spark, base)
    # pin advanced to CURRENT: the old manifests can now retire
    stats2 = vacuum(base, keep_last=1)
    assert stats2["pinned_retained"] == {}
    assert stats2["manifests_removed"] >= 1
    # and the view still refreshes (no-op) against the surviving snapshot
    refresh_matview(spark, base, view, key="id")


def test_unbounded_refresh_preserves_view_physical_types(spark, paths):
    """ADVICE r8: an integer-valued view refreshed through the unbounded
    (>10k touched groups) path must NOT widen agg_sum to double for only
    the rewritten files — one manifest, one physical type per column."""
    base, view = paths
    df = spark.range(24_000).select(
        F.col("id"), F.col("id").alias("g"), (F.col("id") % 10).alias("v")
    )
    write_version(df, base, key="id", n_files=4)
    create_matview(spark, base, view, group="g", value="v")
    from pyspark.sql.types import LongType

    assert read_matview(spark, view).schema["agg_sum"].dataType == LongType()
    updates = spark.range(12_000).select(
        F.col("id"), F.col("id").alias("g"), ((F.col("id") % 10) + 3).alias("v")
    )
    upsert_version(spark, base, updates, key="id", dedupe_updates=False)
    refresh_matview(spark, base, view, key="id", changed_keys=updates.select("id"))
    got = read_matview(spark, view)
    assert got.schema["agg_sum"].dataType == LongType()
    want = {
        (r.g, r.s, r.c)
        for r in read_version(spark, base)
        .groupBy("g")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert {(r.g, r.agg_sum, r.agg_count) for r in got.collect()} == want


def _from_scratch_regs(spark, base, b):
    from financial_big_data_spark.operators.sketches import hll_sketch

    return {
        (r.g, r.bucket, r.rho)
        for r in hll_sketch(
            read_version(spark, base), value="u", b=b, by=["g"]
        ).collect()
    }


def test_distinct_matview_partials_survives_deletes(spark, paths):
    """maintain='partials': the per-(file, group) register sidecar makes
    delete-bearing DML refreshable — touched groups re-merge from the
    surviving partials and must land register-identical to a from-scratch
    sketch of the current snapshot (the case monotone registers alone
    must refuse)."""
    from financial_big_data_spark.sources.matview import (
        create_distinct_matview,
        refresh_distinct_matview,
    )

    base, view = paths

    def rows(n0, n1):
        return spark.range(n0, n1).select(
            F.col("id"),
            (F.col("id") % 5).alias("g"),
            (F.col("id") % 37).cast("string").alias("u"),
        )

    write_version(rows(0, 300), base, key="id", n_files=4)
    create_distinct_matview(
        spark, base, view, group="g", value="u", b=6, maintain="partials"
    )
    got = {(r.g, r.bucket, r.rho) for r in read_version(spark, view).collect()}
    assert got == _from_scratch_regs(spark, base, 6)
    # DELETE rewrites files — the partials path absorbs it
    delete_version(spark, base, spark.range(0, 300, 3).select("id"), key="id")
    stats = refresh_distinct_matview(spark, base, view)
    assert stats["rebuilt"] is False and stats["groups_upserted"] > 0
    got = {(r.g, r.bucket, r.rho) for r in read_version(spark, view).collect()}
    assert got == _from_scratch_regs(spark, base, 6)
    # UPDATE (changed values) + APPEND in one schedule
    updates = spark.range(1, 50, 2).select(
        F.col("id"), (F.col("id") % 5).alias("g"),
        ((F.col("id") % 37) + 100).cast("string").alias("u"),
    ).unionByName(rows(300, 400))
    upsert_version(spark, base, updates, key="id", dedupe_updates=False)
    refresh_distinct_matview(spark, base, view)
    got = {(r.g, r.bucket, r.rho) for r in read_version(spark, view).collect()}
    assert got == _from_scratch_regs(spark, base, 6)
    # no-op refresh
    assert refresh_distinct_matview(spark, base, view)["groups_upserted"] == 0


def test_distinct_matview_partials_group_wipe(spark, paths):
    from financial_big_data_spark.sources.matview import (
        create_distinct_matview,
        refresh_distinct_matview,
    )

    base, view = paths
    df = spark.range(60).select(
        F.col("id"), (F.col("id") % 2).alias("g"),
        (F.col("id") % 9).cast("string").alias("u"),
    )
    write_version(df, base, key="id")
    create_distinct_matview(
        spark, base, view, group="g", value="u", b=5, maintain="partials"
    )
    delete_version(spark, base, spark.range(0, 60, 2).select("id"), key="id")
    stats = refresh_distinct_matview(spark, base, view)
    assert stats["groups_deleted"] == 1
    got_groups = {r.g for r in read_version(spark, view).collect()}
    assert got_groups == {1}
    got = {(r.g, r.bucket, r.rho) for r in read_version(spark, view).collect()}
    assert got == _from_scratch_regs(spark, base, 5)


def test_distinct_matview_partials_unbounded_touched_groups(spark, paths):
    """>10k touched groups exceeds the probe cap: the partials path takes
    the rebuild-from-sidecar fallback — still never rescans the base —
    and stays register-identical under a delete-bearing schedule."""
    from financial_big_data_spark.sources.matview import (
        create_distinct_matview,
        refresh_distinct_matview,
    )

    base, view = paths
    df = spark.range(11_000).select(
        F.col("id"), F.col("id").alias("g"),
        (F.col("id") % 97).cast("string").alias("u"),
    )
    write_version(df, base, key="id", n_files=4)
    create_distinct_matview(
        spark, base, view, group="g", value="u", b=4, maintain="partials"
    )
    delete_version(spark, base, spark.range(0, 10_500).select("id"), key="id")
    stats = refresh_distinct_matview(spark, base, view)
    assert stats["groups_upserted"] == 500 and stats["groups_deleted"] == 10_500
    got = {(r.g, r.bucket, r.rho) for r in read_version(spark, view).collect()}
    assert got == _from_scratch_regs(spark, base, 4)


def _base2(spark, n=240):
    # composite reporting key: (sym, day)
    return spark.range(n).select(
        F.col("id"),
        F.concat(F.lit("S"), (F.col("id") % 3).cast("string")).alias("sym"),
        (F.col("id") % 4).alias("day"),
        (F.col("id") * 1.5).alias("v"),
    )


def _recompute2(spark, base_path, aggs=("s", "c")):
    exprs = {
        "s": F.sum("v").alias("s"), "c": F.count(F.lit(1)).alias("c"),
        "mn": F.min("v").alias("mn"), "mx": F.max("v").alias("mx"),
    }
    rows = (
        read_version(spark, base_path)
        .groupBy("sym", "day")
        .agg(*[exprs[a] for a in aggs])
        .collect()
    )
    return {
        (r.sym, r.day) + tuple(round(r[a], 6) if a != "c" else r[a] for a in aggs)
        for r in rows
    }


def test_composite_key_matview_through_delete_bearing_dml(spark, paths):
    """VERDICT r8 #6: group may be a LIST — (sym, day) — across
    create/refresh/read; the derived _gkey string is the versioned key
    and read_matview hides it. Schedule covers insert/update/delete and
    both the changed-keys fast path and the keys-unknown default."""
    base, view = paths
    write_version(_base2(spark), base, key="id", n_files=4)
    create_matview(spark, base, view, group=["sym", "day"], value="v")
    got = read_matview(spark, view)
    assert "_gkey" not in got.columns
    assert {
        (r.sym, r.day, round(r.agg_sum, 6), r.agg_count) for r in got.collect()
    } == _recompute2(spark, base)
    # update + insert via the changed-keys fast path
    updates = spark.range(10, 30).select(
        F.col("id"),
        F.concat(F.lit("S"), (F.col("id") % 3).cast("string")).alias("sym"),
        (F.col("id") % 4).alias("day"),
        (F.col("id") * 9.0).alias("v"),
    ).unionByName(
        spark.range(300, 330).select(
            F.col("id"),
            F.concat(F.lit("S"), (F.col("id") % 3).cast("string")).alias("sym"),
            (F.col("id") % 4).alias("day"),
            (F.col("id") * 1.5).alias("v"),
        )
    )
    upsert_version(spark, base, updates, key="id", dedupe_updates=False)
    refresh_matview(spark, base, view, key="id", changed_keys=updates.select("id"))
    assert {
        (r.sym, r.day, round(r.agg_sum, 6), r.agg_count)
        for r in read_matview(spark, view).collect()
    } == _recompute2(spark, base)
    # delete through the keys-unknown default path
    delete_version(spark, base, spark.range(0, 330, 7).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    assert {
        (r.sym, r.day, round(r.agg_sum, 6), r.agg_count)
        for r in read_matview(spark, view).collect()
    } == _recompute2(spark, base)


def test_composite_key_minmax_matview(spark, paths):
    base, view = paths
    write_version(_base2(spark), base, key="id", n_files=4)
    create_matview(
        spark, base, view, group=["sym", "day"], value="v",
        aggs=("sum", "count", "min", "max"),
    )
    # delete the top ids — each (sym, day) group's max rows
    delete_version(spark, base, spark.range(220, 240).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    got = {
        (r.sym, r.day, round(r.agg_sum, 6), r.agg_count,
         round(r.agg_min, 6), round(r.agg_max, 6))
        for r in read_matview(spark, view).collect()
    }
    assert got == _recompute2(spark, base, aggs=("s", "c", "mn", "mx"))


def test_composite_key_distinct_matview_with_deletes(spark, paths):
    from financial_big_data_spark.operators.sketches import hll_sketch
    from financial_big_data_spark.sources.matview import (
        create_distinct_matview,
        refresh_distinct_matview,
    )

    base, view = paths
    df = spark.range(300).select(
        F.col("id"),
        F.concat(F.lit("S"), (F.col("id") % 2).cast("string")).alias("sym"),
        (F.col("id") % 3).alias("day"),
        (F.col("id") % 41).cast("string").alias("u"),
    )
    write_version(df, base, key="id", n_files=4)
    create_distinct_matview(
        spark, base, view, group=["sym", "day"], value="u", b=5,
        maintain="partials",
    )
    delete_version(spark, base, spark.range(0, 300, 3).select("id"), key="id")
    stats = refresh_distinct_matview(spark, base, view)
    assert stats["groups_upserted"] > 0
    got = {
        (r.sym, r.day, r.bucket, r.rho)
        for r in read_version(spark, view).select("sym", "day", "bucket", "rho").collect()
    }
    want = {
        (r.sym, r.day, r.bucket, r.rho)
        for r in hll_sketch(
            read_version(spark, base), value="u", b=5, by=["sym", "day"]
        ).collect()
    }
    assert got == want


def test_multi_value_matview_through_dml(spark, paths):
    """value= may be a LIST on the sum/count path: the view carries
    agg_sum_<col> per value column plus one shared agg_count, and the
    ±delta applies per column in the same single shuffle."""
    base, view = paths
    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 5).alias("g"),
        (F.col("id") * 1.5).alias("v1"), (F.col("id") % 7).alias("v2"),
    )
    write_version(df, base, key="id", n_files=4)
    create_matview(spark, base, view, group="g", value=["v1", "v2"])

    def recompute():
        return {
            (r.g, round(r.s1, 6), r.s2, r.c)
            for r in read_version(spark, base)
            .groupBy("g")
            .agg(
                F.sum("v1").alias("s1"), F.sum("v2").alias("s2"),
                F.count(F.lit(1)).alias("c"),
            )
            .collect()
        }

    def view_rows():
        return {
            (r.g, round(r.agg_sum_v1, 6), r.agg_sum_v2, r.agg_count)
            for r in read_matview(spark, view).collect()
        }

    assert view_rows() == recompute()
    updates = spark.range(10, 40).select(
        F.col("id"), (F.col("id") % 5).alias("g"),
        (F.col("id") * 4.0).alias("v1"), ((F.col("id") % 7) + 2).alias("v2"),
    )
    upsert_version(spark, base, updates, key="id", dedupe_updates=False)
    refresh_matview(spark, base, view, key="id", changed_keys=updates.select("id"))
    assert view_rows() == recompute()
    delete_version(spark, base, spark.range(0, 200, 6).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")  # keys-unknown path
    assert view_rows() == recompute()
    # stated limit: min/max views take one value column
    with pytest.raises(ValueError, match="one min/max view per value"):
        create_matview(
            spark, base, view + "_mm", group="g", value=["v1", "v2"],
            aggs=("sum", "count", "min", "max"),
        )


def test_minmax_matview_accepts_one_element_value_list(spark, paths):
    """value=['v'] on the min/max path: create already used values[0];
    the refresh must normalize the recorded list the same way instead of
    passing it into F.col (crashed before)."""
    base, view = paths
    write_version(_base(spark), base, key="id", n_files=4)
    create_matview(
        spark, base, view, group="g", value=["v"],
        aggs=("sum", "count", "min", "max"),
    )
    delete_version(spark, base, spark.range(190, 200).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)


def test_keys_unknown_refresh_on_duplicate_key_table(spark, paths):
    """The multiset changed-key digest: a table holding DUPLICATE rows
    per key (write_version/append_version make that legal) must still
    refresh correctly through the keys-unknown fingerprint path — an
    upsert collapsing a duplicated key changes its row COUNT, which a
    one-row-per-key pairing join would classify by content alone."""
    base, view = paths
    df = _base(spark, 100)
    # key 7 appears TWICE with identical rows
    dup = df.where(F.col("id") == 7)
    write_version(df.unionByName(dup), base, key="id", n_files=4)
    create_matview(spark, base, view, group="g", value="v")
    assert _view_rows(spark, view) == _recompute(spark, base)
    # upsert key 7 (collapses both rows to one) + key 11 unchanged-value
    updates = spark.createDataFrame(
        [(7, 0, 123.0), (11, 4, 11 * 1.5)], "id long, g long, v double"
    )
    upsert_version(spark, base, updates, key="id", dedupe_updates=False)
    refresh_matview(spark, base, view, key="id")  # keys unknown
    assert _view_rows(spark, view) == _recompute(spark, base)


def test_sidecar_commit_is_incremental(spark, paths):
    """VERDICT r9 #1: a refresh must NOT rewrite the whole partials
    sidecar — sidecar files holding only untouched ``_file`` partials
    carry into the new sidecar manifest BY REFERENCE. The sidecar is
    ``_file``-clustered, so a one-file base DML touches the sidecar
    files whose _file range/Bloom cover that base file and no other."""
    from financial_big_data_spark.sources.matview import _partials_path
    from financial_big_data_spark.sources.versioned import (
        _key_ranges,
        _load_manifest,
    )

    base, view = paths
    # big-ish spread so the sidecar lands in several _file-clustered files
    write_version(_base(spark, 4000), base, key="id", n_files=16)
    create_matview(
        spark, base, view, group="g", value="v",
        aggs=("sum", "count", "min", "max"),
    )
    ppath = _partials_path(view)
    before = _load_manifest(ppath, None)["files"]
    assert len(before) > 2, "fixture must spread the sidecar over files"
    # DML confined to one base file's key range (ids 0..249 of 16 ranges)
    base_files_v1 = set(_load_manifest(base, None)["files"])
    delete_version(spark, base, spark.range(0, 5).select("id"), key="id")
    base_files_v2 = set(_load_manifest(base, None)["files"])
    refresh_matview(spark, base, view, key="id")
    after = _load_manifest(ppath, None)["files"]
    carried = set(before) & set(after)
    assert carried, "refresh rewrote the ENTIRE sidecar (no carried files)"
    # every carried/rewritten decision must be justified: a sidecar file
    # whose _file range excludes every diff file must be carried
    diff = sorted(base_files_v1 ^ base_files_v2)
    ranges = _key_ranges(sorted(set(before)), "_file")
    lo_k, hi_k = min(diff), max(diff)
    for f, (lo, hi) in ranges.items():
        if lo is not None and (lo > hi_k or hi < lo_k):
            assert f in carried, (
                f"sidecar file {f} holds only untouched _file partials "
                "but was rewritten"
            )
    # correctness unchanged
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)


def test_sidecar_commit_flat_over_successive_dml(spark, paths):
    """Ten successive one-range DMLs: the view stays correct after each,
    and the sidecar manifest keeps carrying untouched files forward
    (history accumulation never forces a full rewrite)."""
    from financial_big_data_spark.sources.matview import _partials_path
    from financial_big_data_spark.sources.versioned import _load_manifest

    base, view = paths
    write_version(_base(spark, 4000), base, key="id", n_files=16)
    create_matview(
        spark, base, view, group="g", value="v",
        aggs=("sum", "count", "min", "max"),
    )
    ppath = _partials_path(view)
    for i in range(10):
        lo = i * 13
        upd = (
            spark.range(lo, lo + 7)
            .select(
                F.col("id"),
                (F.col("id") % 7).alias("g"),
                (F.col("id") * 2.5 + i).alias("v"),
            )
        )
        before = set(_load_manifest(ppath, None)["files"])
        upsert_version(spark, base, upd, key="id", dedupe_updates=False)
        refresh_matview(spark, base, view, key="id")
        after = set(_load_manifest(ppath, None)["files"])
        assert before & after, f"refresh {i} rewrote the entire sidecar"
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)


def _recompute_mixed(spark, base_path):
    return {
        (r.g, round(r.s, 6), r.c, round(r.mn, 6), round(r.mx, 6))
        for r in read_version(spark, base_path)
        .groupBy("g")
        .agg(
            F.sum("v").alias("s"),
            F.count(F.lit(1)).alias("c"),
            F.min("w").alias("mn"),
            F.max("w").alias("mx"),
        )
        .collect()
    }


def test_mixed_spec_matview_through_delete_bearing_dml(spark, paths):
    """VERDICT r9 #6: ONE view maintaining sum(v) + min(w)/max(w) under
    one group key (value={"v": ["sum"], "w": ["min", "max"]}), through
    an upsert AND a delete that removes group extrema — matches the
    from-scratch aggregate after every step."""
    base, view = paths
    two = _base(spark).withColumn("w", F.col("id") * -0.5 + 3)
    write_version(two, base, key="id", n_files=4)
    create_matview(
        spark, base, view, group="g",
        value={"v": ["sum"], "w": ["min", "max"]},
    )

    def view_rows():
        return {
            (
                r.g, round(r.agg_sum_v, 6), r.agg_count,
                round(r.agg_min_w, 6), round(r.agg_max_w, 6),
            )
            for r in read_matview(spark, view).collect()
        }

    assert view_rows() == _recompute_mixed(spark, base)
    # upsert: shift some values and extrema
    upd = spark.range(40, 90).select(
        F.col("id"),
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 9.0).alias("v"),
        (F.col("id") * 1.25).alias("w"),
    )
    upsert_version(spark, base, upd, key="id", dedupe_updates=False)
    refresh_matview(spark, base, view, key="id")
    assert view_rows() == _recompute_mixed(spark, base)
    # delete rows holding current minima of w (high ids = low w pre-upsert)
    delete_version(spark, base, spark.range(150, 200).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    assert view_rows() == _recompute_mixed(spark, base)


def test_mixed_spec_validation(spark, paths):
    base, view = paths
    write_version(_base(spark), base, key="id", n_files=2)
    with pytest.raises(ValueError, match="shared agg_count"):
        create_matview(spark, base, view, group="g", value={"v": ["count"]})
    with pytest.raises(ValueError, match="unsupported in a value spec"):
        create_matview(spark, base, view, group="g", value={"v": ["median"]})
    with pytest.raises(ValueError, match="at least one column"):
        create_matview(spark, base, view, group="g", value={})


def test_keys_unknown_refresh_names_schema_evolution(spark, paths):
    """ADVICE r9: a schema-evolving DML (two manifest sides with
    different column sets) must fail the keys-unknown digest with a
    NAMED error carrying the remedy, not an analyzer exception."""
    base, view = paths
    write_version(_base(spark), base, key="id", n_files=2)
    create_matview(spark, base, view, group="g", value="v")
    # evolve: upsert rewrites files with an EXTRA column
    upd = spark.range(0, 50).select(
        F.col("id"),
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 4.0).alias("v"),
        F.lit("x").alias("extra"),
    )
    from financial_big_data_spark.sources.versioned import (
        _load_manifest,
        _write_batch,
        _commit,
    )

    # hand-craft the evolved snapshot: rewrite file 0 with the extra
    # column, keep file 1 — exactly the two-sided diff the digest sees
    m = _load_manifest(base, None)
    keep = m["files"][1:]
    new_files = _write_batch(upd, base, "id", n_files=1)
    _commit(base, keep + new_files, m["version"] + 1)
    with pytest.raises(ValueError, match="schema change"):
        refresh_matview(spark, base, view, key="id")


def test_sidecar_files_sorted_by_file_then_group(spark, paths):
    """The sidecar's within-file sort is (_file, group): _file clustering
    serves DML invalidation (footer ranges + Blooms), the secondary group
    sort keeps parquet row-group statistics tight on the group key so the
    group-scoped merge read still skips row groups at scale."""
    import pyarrow.parquet as pq

    from financial_big_data_spark.sources.matview import _partials_path
    from financial_big_data_spark.sources.versioned import _load_manifest

    base, view = paths
    write_version(_base(spark, 2000), base, key="id", n_files=8)
    create_matview(
        spark, base, view, group="g", value="v",
        aggs=("sum", "count", "min", "max"),
    )
    files = _load_manifest(_partials_path(view), None)["files"]
    assert files
    for f in files:
        t = pq.read_table(f, columns=["_file", "g"])
        rows = list(zip(t["_file"].to_pylist(), t["g"].to_pylist()))
        assert rows == sorted(rows), f"{f} not sorted by (_file, g)"


def test_vacuum_matview_retires_view_and_sidecar_history(spark, paths):
    """vacuum_matview: view + partials-sidecar snapshots accumulate one
    per refresh — vacuum retires the old ones (reference-counted, like
    the base table's vacuum) and the NEXT refresh still works."""
    import glob

    from financial_big_data_spark.sources.matview import (
        _partials_path,
        vacuum_matview,
    )
    from financial_big_data_spark.sources.versioned import current_version

    base, view = paths
    write_version(_base(spark), base, key="id", n_files=4)
    create_matview(
        spark, base, view, group="g", value="v",
        aggs=("sum", "count", "min", "max"),
    )
    for i in range(4):
        upd = spark.range(i * 20, i * 20 + 10).select(
            F.col("id"), (F.col("id") % 7).alias("g"),
            (F.col("id") * (2.0 + i)).alias("v"),
        )
        upsert_version(spark, base, upd, key="id", dedupe_updates=False)
        refresh_matview(spark, base, view, key="id")
    ppath = _partials_path(view)
    assert current_version(view) >= 4 and current_version(ppath) >= 4
    files_before = len(glob.glob(os.path.join(ppath, "data", "*", "*.parquet")))
    stats = vacuum_matview(view, keep_last=1)
    assert stats["view"]["manifests_removed"] >= 3
    assert stats["partials"]["manifests_removed"] >= 3
    assert stats["partials"]["files_removed"] > 0
    files_after = len(glob.glob(os.path.join(ppath, "data", "*", "*.parquet")))
    assert files_after < files_before
    # the view still reads and still refreshes after the history is gone
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)
    delete_version(spark, base, spark.range(0, 5).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)


def test_sidecar_compaction_then_refresh(spark, paths):
    """Incremental sidecar commits append small files over time; the
    generic compact_version(ppath, key='_file') defragments the sidecar
    as a normal snapshot commit — and the next DML+refresh still
    invalidates/merges correctly against the compacted layout."""
    from financial_big_data_spark.sources.matview import _partials_path
    from financial_big_data_spark.sources.versioned import (
        _load_manifest,
        compact_version,
    )

    base, view = paths
    write_version(_base(spark), base, key="id", n_files=4)
    create_matview(
        spark, base, view, group="g", value="v",
        aggs=("sum", "count", "min", "max"),
    )
    for i in range(3):
        upd = spark.range(i * 15, i * 15 + 8).select(
            F.col("id"), (F.col("id") % 7).alias("g"),
            (F.col("id") * (3.0 + i)).alias("v"),
        )
        upsert_version(spark, base, upd, key="id", dedupe_updates=False)
        refresh_matview(spark, base, view, key="id")
    ppath = _partials_path(view)
    compact_version(spark, ppath, key="_file")
    assert len(_load_manifest(ppath, None)["files"]) >= 1
    # post-compaction DML: delete group maxima -> sidecar re-merge path
    delete_version(spark, base, spark.range(190, 200).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)


def test_vacuum_prunes_deleted_views_from_registry(spark, paths):
    """A view directory deleted out-of-band must stop pinning base
    snapshots: vacuum treats a registry entry without a readable
    _matview.json as no pin and rewrites _views.json without it."""
    import json

    from financial_big_data_spark.sources.versioned import vacuum

    base, view = paths
    write_version(_base(spark), base, key="id")
    create_matview(spark, base, view, group="g", value="v")
    upsert_version(
        spark, base,
        spark.range(300, 310).select(
            F.col("id"), (F.col("id") % 7).alias("g"), F.lit(1.0).alias("v")
        ),
        key="id", dedupe_updates=False,
    )
    shutil.rmtree(view)  # the view is gone; its pin must not survive
    stats = vacuum(base, keep_last=1)
    assert stats["pinned_retained"] == {}
    assert stats["manifests_removed"] == 1
    reg = json.load(open(os.path.join(base, "_views.json")))
    assert reg["views"] == []


def test_merge_scan_prunes_files_by_group_bloom(spark, paths):
    """Group-key Bloom extras on the _file-clustered sidecar: when
    groups correlate with the base clustering (g = id // 50 — each base
    file holds ~2 groups), the bounded merge read opens a strict subset
    of sidecar files; correctness is unchanged."""
    import os as _os

    from financial_big_data_spark.sources.bloom import prune_by_keys, sidecar_path
    from financial_big_data_spark.sources.matview import (
        _merge_scan,
        _partials_path,
    )
    from financial_big_data_spark.sources.versioned import _load_manifest

    base, view = paths
    df = spark.range(800).select(
        F.col("id"),
        (F.col("id") / 50).cast("bigint").alias("g"),  # file-correlated groups
        (F.col("id") * 1.5).alias("v"),
    )
    write_version(df, base, key="id", n_files=8)
    create_matview(
        spark, base, view, group="g", value="v",
        aggs=("sum", "count", "min", "max"),
    )
    ppath = _partials_path(view)
    m = _load_manifest(ppath, None)
    assert len(m["files"]) > 2
    # every sidecar data file carries the bloom-g extra
    for f in m["files"]:
        assert _os.path.exists(sidecar_path(f, "g")), f
    # a 2-group probe must open fewer files than the whole sidecar
    pruned = prune_by_keys(m["files"], [0, 1], col="g")
    assert 0 < len(pruned) < len(m["files"])
    got = {
        (r.g, round(r.agg_sum, 6))
        for r in _merge_scan(spark, ppath, "g", [0, 1])
        .groupBy("g").agg(F.sum("p_sum").alias("agg_sum"))
        .where(F.col("g").isin([0, 1]))
        .collect()
    }
    exp = {
        (r.g, round(r.s, 6))
        for r in read_version(spark, base)
        .where(F.col("g").isin([0, 1]))
        .groupBy("g").agg(F.sum("v").alias("s"))
        .collect()
    }
    assert got == exp
    # end-to-end: a delete hitting one group's extrema stays correct
    delete_version(spark, base, spark.range(95, 100).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)


def test_sidecar_layout_guard_refuses_old_layout(spark, paths):
    """ADVICE r10 (high): a partials sidecar persisted by a previous build
    (group-key-clustered, no layout marker) must make refresh raise the
    named SidecarLayoutError instead of false-pruning every sidecar file
    and silently keeping stale partials."""
    import json

    from financial_big_data_spark.sources.matview import (
        SIDECAR_LAYOUT,
        SidecarLayoutError,
        _meta_path,
    )

    base, view = paths
    write_version(_base(spark), base, key="id", n_files=4)
    create_matview(
        spark, base, view, group="g", value="v",
        aggs=("sum", "count", "min", "max"),
    )
    with open(_meta_path(view)) as fh:
        meta = json.load(fh)
    assert meta["sidecar_layout"] == SIDECAR_LAYOUT
    # simulate a view created by the pre-marker build
    del meta["sidecar_layout"]
    with open(_meta_path(view), "w") as fh:
        json.dump(meta, fh)
    delete_version(spark, base, spark.range(10).select("id"), key="id")
    with pytest.raises(SidecarLayoutError, match="layout"):
        refresh_matview(spark, base, view, key="id")
    # a wrong (future/old numbered) marker refuses too
    meta["sidecar_layout"] = 1
    with open(_meta_path(view), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(SidecarLayoutError, match="rebuild"):
        refresh_matview(spark, base, view, key="id")
    # rebuild (the named remedy) restamps and refreshes cleanly
    create_matview(
        spark, base, view, group="g", value="v",
        aggs=("sum", "count", "min", "max"),
    )
    delete_version(spark, base, spark.range(10, 20).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)


def test_sidecar_layout_guard_covers_distinct_partials(spark, paths):
    import json

    from financial_big_data_spark.sources.matview import (
        SidecarLayoutError,
        _meta_path,
        create_distinct_matview,
        refresh_distinct_matview,
    )

    base, view = paths
    write_version(_base(spark), base, key="id", n_files=4)
    create_distinct_matview(
        spark, base, view, group="g", value="id", maintain="partials"
    )
    with open(_meta_path(view)) as fh:
        meta = json.load(fh)
    del meta["sidecar_layout"]
    with open(_meta_path(view), "w") as fh:
        json.dump(meta, fh)
    delete_version(spark, base, spark.range(10).select("id"), key="id")
    with pytest.raises(SidecarLayoutError):
        refresh_distinct_matview(spark, base, view)


def test_delta_views_carry_no_layout_marker(spark, paths):
    """±delta (sum/count) views have no partials sidecar — no marker, and
    refresh must not demand one."""
    import json

    from financial_big_data_spark.sources.matview import _meta_path

    base, view = paths
    write_version(_base(spark), base, key="id", n_files=4)
    create_matview(spark, base, view, group="g", value="v")
    with open(_meta_path(view)) as fh:
        meta = json.load(fh)
    assert "sidecar_layout" not in meta
    delete_version(spark, base, spark.range(10).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    assert _view_rows(spark, view) == _recompute(spark, base)


def test_compact_matview_sidecar_keeps_bloom_extras_and_sort(spark, paths):
    """ADVICE r10: bare compact_version sheds the sidecar's .bloom-<gcol>
    extras and (_file, group) secondary sort; compact_matview_sidecar
    re-derives both from _matview.json — every compacted sidecar file
    carries its group-key Bloom again and the group-scoped merge read
    still prunes."""
    from financial_big_data_spark.sources.bloom import sidecar_path
    from financial_big_data_spark.sources.matview import (
        _partials_path,
        compact_matview_sidecar,
    )
    from financial_big_data_spark.sources.versioned import _load_manifest

    base, view = paths
    write_version(_base(spark), base, key="id", n_files=4)
    create_matview(
        spark, base, view, group="g", value="v",
        aggs=("sum", "count", "min", "max"),
    )
    for i in range(3):
        upd = spark.range(i * 15, i * 15 + 8).select(
            F.col("id"), (F.col("id") % 7).alias("g"),
            (F.col("id") * (3.0 + i)).alias("v"),
        )
        upsert_version(spark, base, upd, key="id", dedupe_updates=False)
        refresh_matview(spark, base, view, key="id")
    ppath = _partials_path(view)
    compact_matview_sidecar(spark, view, target_file_bytes=64 * 1024)
    files = _load_manifest(ppath, None)["files"]
    assert files
    for f in files:
        assert os.path.exists(sidecar_path(f) + "-g"), (
            f"compacted sidecar file {f} lost its group-key Bloom extra"
        )
    # and the refresh path still works against the compacted layout
    delete_version(spark, base, spark.range(190, 200).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)


def test_compact_version_rejects_zorder_plus_extras(spark, paths):
    from financial_big_data_spark.sources.versioned import compact_version

    base, _ = paths
    write_version(_base(spark), base, key="id", n_files=4)
    with pytest.raises(ValueError, match="zorder"):
        compact_version(
            spark, base, key="id", zorder_cols=["id", "g"], bloom_extra=["g"]
        )


def test_vacuum_keeps_unreadable_but_present_view_registered(spark, paths):
    """ADVICE r10: a transiently unreadable _matview.json (racing a
    concurrent refresh's meta rewrite) must NOT deregister the view —
    only a confirmed-absent view directory prunes. The unreadable view is
    merely unpinned for this run."""
    import json as _json

    from financial_big_data_spark.sources.matview import _meta_path
    from financial_big_data_spark.sources.versioned import vacuum

    base, view = paths
    write_version(_base(spark), base, key="id", n_files=4)
    create_matview(spark, base, view, group="g", value="v")
    # simulate the torn-read window: meta momentarily unreadable
    mp = _meta_path(view)
    with open(mp) as fh:
        saved = fh.read()
    with open(mp, "w") as fh:
        fh.write("{not json")
    vacuum(base, keep_last=1)
    with open(os.path.join(base, "_views.json")) as fh:
        views = _json.load(fh)["views"]
    assert os.path.abspath(view) in views, (
        "present-but-unreadable view was permanently deregistered"
    )
    # restore; the pin works again on the next vacuum
    with open(mp, "w") as fh:
        fh.write(saved)
    out = vacuum(base, keep_last=1)
    assert isinstance(out, dict)


# ---- round 11: concurrency contract (VERDICT r10 #8) ----


def test_pinned_reader_isolated_from_concurrent_refresh(spark, paths):
    """A reader pinned to a view/sidecar version sees byte-identical rows
    across a concurrent refresh: manifests are immutable and the CURRENT
    flip is atomic, so the refresh can only add versions, never tear one."""
    from financial_big_data_spark.sources.matview import _partials_path

    base, view = paths
    write_version(_base(spark), base, key="id", n_files=4)
    create_matview(
        spark, base, view, group="g", value="v",
        aggs=("sum", "count", "min", "max"),
    )
    from financial_big_data_spark.sources.versioned import current_version

    v_pin = current_version(view)
    pinned_before = sorted(
        map(tuple, read_matview(spark, view, version=v_pin).collect())
    )
    sc_pin = current_version(_partials_path(view))
    sidecar_before = sorted(
        map(tuple, read_version(spark, _partials_path(view), sc_pin).collect())
    )
    # the "concurrent" writer: a delete-bearing DML + refresh that rewrites
    # view and sidecar while the reader's pins are outstanding
    delete_version(spark, base, spark.range(150, 200).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    assert current_version(view) > v_pin
    pinned_after = sorted(
        map(tuple, read_matview(spark, view, version=v_pin).collect())
    )
    sidecar_after = sorted(
        map(tuple, read_version(spark, _partials_path(view), sc_pin).collect())
    )
    assert pinned_after == pinned_before
    assert sidecar_after == sidecar_before
    # and the current version reflects the refresh, not a blend
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)


def test_racing_refresh_writer_collides_loudly(spark, paths):
    """Two refreshes racing one view: the second writer's first version
    claim collides on the O_EXCL manifest link and raises the named
    ConcurrentCommitError with nothing published (CURRENT never flipped
    by the loser) — simulated deterministically by pre-claiming the
    sidecar's next version number the way a concurrent winner would."""
    import json as _json

    from financial_big_data_spark.sources.matview import _partials_path
    from financial_big_data_spark.sources.versioned import (
        ConcurrentCommitError,
        current_version,
    )

    base, view = paths
    write_version(_base(spark), base, key="id", n_files=4)
    create_matview(
        spark, base, view, group="g", value="v",
        aggs=("sum", "count", "min", "max"),
    )
    delete_version(spark, base, spark.range(10).select("id"), key="id")
    ppath = _partials_path(view)
    nxt = current_version(ppath) + 1
    claim = os.path.join(ppath, "_versions", f"v{nxt}.json")
    with open(claim, "w") as fh:
        _json.dump({"version": nxt, "files": []}, fh)
    with pytest.raises(ConcurrentCommitError, match=str(nxt)):
        refresh_matview(spark, base, view, key="id")
    # loser published nothing: CURRENT still points at the pre-race version
    assert current_version(ppath) == nxt - 1
    # release the simulated winner's claim; the retry completes cleanly
    os.remove(claim)
    refresh_matview(spark, base, view, key="id")
    assert _view_rows_minmax(spark, view) == _recompute_minmax(spark, base)


def test_refresh_replay_from_stale_meta_is_idempotent(spark, paths):
    """Crash/race replay: a refresh re-run from STALE meta (as if the
    first attempt died between its commits and the meta update) must
    converge to the same correct state, not double-apply the delta."""
    import json as _json

    from financial_big_data_spark.sources.matview import _meta_path

    base, view = paths
    write_version(_base(spark), base, key="id", n_files=4)
    create_matview(
        spark, base, view, group="g", value="v",
        aggs=("sum", "count", "min", "max"),
    )
    with open(_meta_path(view)) as fh:
        stale = fh.read()
    delete_version(spark, base, spark.range(20).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    want = _recompute_minmax(spark, base)
    assert _view_rows_minmax(spark, view) == want
    # replay: restore the pre-refresh meta and refresh again
    with open(_meta_path(view), "w") as fh:
        fh.write(stale)
    out = refresh_matview(spark, base, view, key="id")
    assert _view_rows_minmax(spark, view) == want
    assert out["base_version"] == _json.loads(stale)["base_version"] + 1


def test_register_view_concurrent_creates_keep_both(spark, paths):
    """ADVICE r10 (noted in passing): _register_view's read-modify-write is
    flock-serialized, so two concurrent creates on one base table both end
    up registered — exercised with real threads hammering the registry."""
    import json as _json
    import threading

    from financial_big_data_spark.sources.matview import _register_view

    base, _ = paths
    os.makedirs(base, exist_ok=True)
    views = [os.path.join(base, f"v{i}") for i in range(16)]

    def reg(vp):
        for _ in range(5):
            _register_view(base, vp)

    threads = [threading.Thread(target=reg, args=(vp,)) for vp in views]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(os.path.join(base, "_views.json")) as fh:
        got = set(_json.load(fh)["views"])
    assert got == {os.path.abspath(v) for v in views}


def test_compact_matview_sidecar_composite_key(spark, paths):
    """Layout-preserving compaction re-derives the COMPOSITE key's _gkey
    extras from the view meta (the single-column test's twin)."""
    from financial_big_data_spark.sources.bloom import sidecar_path
    from financial_big_data_spark.sources.matview import (
        _partials_path,
        compact_matview_sidecar,
    )
    from financial_big_data_spark.sources.versioned import _load_manifest

    base, view = paths
    df = _base(spark).withColumn("g2", (F.col("id") % 3).cast("long"))
    write_version(df, base, key="id", n_files=4)
    create_matview(
        spark, base, view, group=["g", "g2"], value="v",
        aggs=("sum", "count", "min", "max"),
    )
    upd = spark.range(10, 30).select(
        F.col("id"), (F.col("id") % 7).alias("g"),
        (F.col("id") * 4.0).alias("v"), (F.col("id") % 3).cast("long").alias("g2"),
    )
    upsert_version(spark, base, upd, key="id", dedupe_updates=False)
    refresh_matview(spark, base, view, key="id")
    compact_matview_sidecar(spark, view, target_file_bytes=64 * 1024)
    ppath = _partials_path(view)
    for f in _load_manifest(ppath, None)["files"]:
        assert os.path.exists(sidecar_path(f) + "-_gkey")
    delete_version(spark, base, spark.range(190, 200).select("id"), key="id")
    refresh_matview(spark, base, view, key="id")
    want = {
        (r.g, r.g2, round(r.s, 6), r.c, round(r.mn, 6), round(r.mx, 6))
        for r in read_version(spark, base)
        .groupBy("g", "g2")
        .agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
        )
        .collect()
    }
    got = {
        (r.g, r.g2, round(r.agg_sum, 6), r.agg_count,
         round(r.agg_min, 6), round(r.agg_max, 6))
        for r in read_matview(spark, view).collect()
    }
    assert got == want
