"""Golden tests for regime labelers against the reference's pandas formulas.

The expected values re-implement the published rules (reference
src/utils.py:4-34 and src/clustering/regime_detection/short_term.py:32-71)
in pandas on the shared fixture — semantics, not code, are compared.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from financial_big_data_spark.operators.regime import (
    ShortTermThresholds,
    coarse_regime,
    detect_regime_5way,
    regime_features,
)


def _pandas_coarse(g: pd.DataFrame) -> pd.Series:
    returns = g["close"].pct_change()
    volatility = returns.rolling(24).std()
    momentum = g["close"].pct_change(24)
    vol_thr = np.percentile(volatility.dropna(), 80)
    mom_thr = np.percentile(momentum.dropna().abs(), 90)
    regime = pd.Series(2, index=g.index)
    bull = (momentum > mom_thr) | ((momentum > 0) & (volatility >= vol_thr))
    bear = (momentum < -mom_thr) | ((momentum < 0) & (volatility >= vol_thr))
    regime[bull] = 0
    regime[bear] = 1
    return regime


def test_coarse_regime_parity(spark, bars_df, bars_pdf):
    out = coarse_regime(bars_df, series="symbol", time="ts", close="close")
    got = {
        (r.symbol, r.ts): r.market_regime
        for r in out.select("symbol", "ts", "market_regime").collect()
    }
    for sym, g in bars_pdf.sort_values(["symbol", "ts"]).groupby("symbol"):
        exp = _pandas_coarse(g)
        for ts, e in zip(g["ts"], exp):
            assert got[(sym, ts)] == e, f"{sym} {ts}: got {got[(sym, ts)]} exp {e}"


def _pandas_5way(g: pd.DataFrame, t: ShortTermThresholds) -> pd.Series:
    hourly = g["close"].pct_change()
    daily = g["close"].pct_change(24)
    vol = hourly.rolling(24).std() * np.sqrt(24)
    trend = np.sign(daily).rolling(24).mean().abs()
    bull = (daily > t.ret) & (trend > t.trend)
    bear = (daily < -t.ret) & (trend > t.trend)
    hivol = vol > t.volatility
    regime = pd.Series("consolidation", index=g.index)
    regime[bull & ~hivol] = "stable_bull"
    regime[bull & hivol] = "volatile_bull"
    regime[bear & ~hivol] = "stable_bear"
    regime[bear & hivol] = "volatile_bear"
    return regime


def test_regime5_parity(spark, bars_df, bars_pdf):
    t = ShortTermThresholds()
    feats = regime_features(bars_df, series="symbol", time="ts", close="close", volume="volume")
    out = detect_regime_5way(feats, t)
    got = {(r.symbol, r.ts): r.regime for r in out.select("symbol", "ts", "regime").collect()}
    all_labels = set()
    for sym, g in bars_pdf.sort_values(["symbol", "ts"]).groupby("symbol"):
        exp = _pandas_5way(g, t)
        all_labels.update(exp.unique())
        for ts, e in zip(g["ts"], exp):
            assert got[(sym, ts)] == e, f"{sym} {ts}: got {got[(sym, ts)]} exp {e}"
    # fixture nondegeneracy: the trending/volatile segments must light up
    # more than just consolidation
    assert len(all_labels) >= 4, f"fixture too degenerate: {all_labels}"


def test_regime5_counts_match_rows(spark, bars_df, bars_pdf):
    feats = regime_features(bars_df, series="symbol", time="ts", close="close", volume="volume")
    out = detect_regime_5way(feats)
    assert out.count() == len(bars_pdf)
    assert out.groupBy("regime").count().agg(F.sum("count")).collect()[0][0] == len(bars_pdf)


def test_coarse_regime_approx_percentile_close_to_exact(spark, bars_df):
    """The approx_percentile scale path must agree with the exact-percentile
    labeling on ~all rows (sketch rank error ≪ the threshold gap)."""
    from financial_big_data_spark.operators.regime import coarse_regime

    exact = coarse_regime(bars_df, order_tiebreak=None).select(
        "symbol", "ts", "market_regime"
    )
    approx = coarse_regime(bars_df, order_tiebreak=None, approx_accuracy=10_000).select(
        "symbol", "ts", F.col("market_regime").alias("market_regime_a")
    )
    joined = exact.join(approx, on=["symbol", "ts"])
    n = joined.count()
    n_same = joined.where("market_regime = market_regime_a").count()
    assert n_same / n >= 0.99


def _sketch_rank_check(spark, pdf, k, max_rank_err):
    """Sketch-vs-exact parity measured where DKW speaks: the sketch
    threshold's RANK in the exact distribution must sit within
    max_rank_err of the target percentile."""
    df = spark.createDataFrame(pdf)
    from financial_big_data_spark.operators.sketches import bottomk_rows

    feats = coarse_regime(df, series="symbol", time="ts", close="close").select(
        "symbol", "ts", "volatility", "momentum"
    )
    fpd = feats.toPandas()
    sk = coarse_regime(
        df, series="symbol", time="ts", close="close", sketch_k=k
    )
    # recover the sketch thresholds by re-deriving them the same way the
    # operator does: max momentum labeled bull at threshold boundary is
    # invasive — instead recompute via the public pieces
    samp = bottomk_rows(
        feats.select("symbol", "ts", "volatility", "momentum"),
        k, id_cols=["symbol", "ts"], keep=["volatility", "momentum"],
        by=["symbol"],
    )
    thr_pd = (
        samp.groupBy("symbol")
        .agg(
            F.expr("percentile(volatility, 0.8)").alias("vt"),
            F.expr("percentile(abs(momentum), 0.9)").alias("mt"),
        )
        .toPandas()
        .set_index("symbol")
    )
    for sym, g in fpd.groupby("symbol"):
        vol = g["volatility"].dropna()
        mom = g["momentum"].dropna().abs()
        vt, mt = thr_pd.loc[sym, "vt"], thr_pd.loc[sym, "mt"]
        rank_v = (vol <= vt).mean()
        rank_m = (mom <= mt).mean()
        assert abs(rank_v - 0.8) <= max_rank_err, (sym, rank_v)
        assert abs(rank_m - 0.9) <= max_rank_err, (sym, rank_m)
    # and the routed operator labels with exactly those thresholds:
    # spot-check one series' labeling agrees with applying thr_pd manually
    out = sk.select("symbol", "ts", "market_regime").toPandas()
    merged = fpd.merge(out, on=["symbol", "ts"])
    sym0 = merged["symbol"].iloc[0]
    m0 = merged[merged["symbol"] == sym0]
    vt, mt = thr_pd.loc[sym0, "vt"], thr_pd.loc[sym0, "mt"]
    bull = (m0["momentum"] > mt) | ((m0["momentum"] > 0) & (m0["volatility"] >= vt))
    bear = (m0["momentum"] < -mt) | ((m0["momentum"] < 0) & (m0["volatility"] >= vt))
    want = pd.Series(2, index=m0.index)
    want[bull] = 0
    want[bear] = 1
    assert (m0["market_regime"] == want).all()


def test_coarse_regime_sketch_routed_uniform(spark, bars_pdf):
    # DKW at k=128, δ=0.05: ε ≈ 0.12 — assert within 0.12 rank
    _sketch_rank_check(spark, bars_pdf, k=128, max_rank_err=0.12)


def test_coarse_regime_sketch_routed_skewed(spark):
    """Heavy-tailed (lognormal-step) series — the distribution shape DKW
    is indifferent to; same rank-error bound must hold."""
    rng = np.random.default_rng(7)
    frames = []
    for sym in ("SKEW/A", "SKEW/B"):
        n = 500
        steps = rng.lognormal(mean=-6, sigma=2.0, size=n) * rng.choice(
            [-1, 1], size=n
        )
        close = 100.0 * np.exp(np.cumsum(steps))
        frames.append(
            pd.DataFrame(
                {
                    "symbol": sym,
                    "ts": pd.date_range("2024-01-01", periods=n, freq="h"),
                    "close": close,
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    _sketch_rank_check(spark, pdf, k=128, max_rank_err=0.12)


def test_coarse_regime_sketch_small_series_exact(spark, bars_pdf):
    """A series with ≤ k rows is sampled whole — sketch == exact."""
    df = spark.createDataFrame(bars_pdf)
    exact = coarse_regime(df, series="symbol", time="ts", close="close").select(
        "symbol", "ts", "market_regime"
    )
    sk = coarse_regime(
        df, series="symbol", time="ts", close="close", sketch_k=1000
    ).select("symbol", "ts", F.col("market_regime").alias("mr_sk"))
    joined = exact.join(sk, on=["symbol", "ts"])
    assert joined.where("market_regime != mr_sk").count() == 0


def test_coarse_regime_rejects_both_routes(spark, bars_df):
    import pytest as _pt

    with _pt.raises(ValueError):
        coarse_regime(bars_df, approx_accuracy=1000, sketch_k=128)


def _load_repo_module(relpath: str):
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    name = os.path.splitext(os.path.basename(relpath))[0]
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ev_coarse_regime_half_tie_matches_oracle(spark, tmp_path):
    """A 6dp half-tie must round the same on Spark and on the DuckDB
    oracle: seeded events (seed 5, 100k rows) hold one momentum whose
    shortest repr ends in 5 (Spark rounded it to 0.504688, DuckDB to
    0.504687 before both sides took the tie-stable round)."""
    import duckdb

    from financial_big_data_spark.queries import REGISTRY

    gen = _load_repo_module("perfbench/gen.py")
    check = _load_repo_module("tools/check_correctness.py")
    gen.write_events_file(5, str(tmp_path), 100_000)
    fn, sql = REGISTRY["ev_coarse_regime"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    errs = check.compare("ev_coarse_regime", fn(spark, str(tmp_path)), con.execute(sql).df())
    assert errs == []
