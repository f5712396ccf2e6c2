"""Per-series window-feature expressions (SURVEY.md §2.5, W1-W11).

Every feature the reference computes with pandas ``rolling`` / ``pct_change``
/ ``ewm`` over one symbol's time series (reference
src/clustering/regime_detection/short_term.py:32-48,
src/models/lstm_forecasting.py:55-184, src/utils.py:20-24) is expressed here
as a Spark ``Column`` over ``Window.partitionBy(series).orderBy(time)``.

Scale notes
-----------
- All expressions over the SAME partition/order spec compile into one physical
  window stage: one shuffle on the series key serves every feature. Callers
  should build all features in a single ``select`` so Catalyst fuses them.
- Row-frame windows (``ROWS BETWEEN n-1 PRECEDING AND CURRENT ROW``) stream
  within each partition; no per-series materialization beyond the frame.
- ``min_periods`` parity: pandas ``rolling(n)`` defaults to
  ``min_periods=n`` (warm-up rows are NaN), while a Spark frame simply
  shrinks at partition start. We null out warm-up rows with a frame
  ``count`` guard. ``min_periods=1`` callers pass ``min_periods=1`` and the
  guard disappears.
- Variance/std are **sample** (ddof=1) — pandas ``rolling().std()`` default —
  which is Spark's ``stddev_samp``.
"""

from __future__ import annotations

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def bar_window(series: ColumnOrName | list, time: ColumnOrName | list) -> WindowSpec:
    """The canonical per-series, time-ordered window (``W_sym`` in SURVEY §2.5)."""
    series = series if isinstance(series, list) else [series]
    time = time if isinstance(time, list) else [time]
    return Window.partitionBy(*series).orderBy(*time)


def _rows(w: WindowSpec, n: int) -> WindowSpec:
    """Trailing n-row frame ending at the current row."""
    return w.rowsBetween(-(n - 1), 0)


def _warmup_guard(value: Column, over: Column, w: WindowSpec, n: int, min_periods: int | None) -> Column:
    """Null out rows whose frame holds fewer than ``min_periods`` non-null obs.

    Mirrors pandas ``rolling(n, min_periods=...)``: the count is of non-null
    values inside the frame, not of rows.
    """
    mp = n if min_periods is None else min_periods
    if mp <= 1:
        return value
    return F.when(F.count(over).over(_rows(w, n)) >= mp, value)


def pct_change(c: ColumnOrName, w: WindowSpec, periods: int = 1) -> Column:
    """k-step fractional change: ``x/lag(x,k) - 1`` (pandas ``pct_change(k)``).

    Reference: src/utils.py:20,22; short_term.py:37,39,46.
    Division is null-guarded (``try_divide``): a zero base yields NULL rather
    than pandas' inf — ANSI-mode safe and oracle-reproducible via
    ``x / nullif(lag(x), 0)``.
    """
    c = _col(c)
    return F.try_divide(c, F.lag(c, periods).over(w)) - F.lit(1.0)


def price_diff(c: ColumnOrName, w: WindowSpec, periods: int = 1) -> Column:
    """First difference ``x - lag(x,k)`` (pandas ``diff``; lstm_forecasting.py:133)."""
    c = _col(c)
    return c - F.lag(c, periods).over(w)


def log_return(c: ColumnOrName, w: WindowSpec) -> Column:
    """``log(x) - lag(log(x), 1)`` (lstm_forecasting.py:60)."""
    c = _col(c)
    return F.log(c) - F.lag(F.log(c), 1).over(w)


def rolling_mean(c: ColumnOrName, w: WindowSpec, n: int, min_periods: int | None = None) -> Column:
    """Trailing n-row mean with pandas ``min_periods`` semantics (short_term.py:41)."""
    c = _col(c)
    return _warmup_guard(F.avg(c).over(_rows(w, n)), c, w, n, min_periods)


def rolling_std(c: ColumnOrName, w: WindowSpec, n: int, min_periods: int | None = None) -> Column:
    """Trailing n-row sample std (ddof=1), pandas-parity warm-up (short_term.py:40)."""
    c = _col(c)
    return _warmup_guard(F.stddev_samp(c).over(_rows(w, n)), c, w, n, min_periods)


def trend_strength(returns: Column, w: WindowSpec, n: int) -> Column:
    """``abs(rolling_mean(sign(returns), n))`` — directional consistency in [0,1].

    Reference: short_term.py:44-45 (trend_direction/trend_strength).
    """
    sign = F.signum(returns)
    return F.abs(_warmup_guard(F.avg(sign).over(_rows(w, n)), sign, w, n, None))


def rsi(close: ColumnOrName, w: WindowSpec, n: int = 14) -> Column:
    """Relative Strength Index via simple (non-Wilder) rolling means.

    Matches the reference's formulation (lstm_forecasting.py:130-148):
    delta split into gains/losses, ``rolling(n, min_periods=1).mean()`` of
    each, ``RS = gain/loss`` with zero-loss guarded to null, ``100 - 100/(1+RS)``,
    neutral-filled with 50.
    """
    close = _col(close)
    delta = close - F.lag(close, 1).over(w)
    gain = F.when(delta > 0, delta).otherwise(F.lit(0.0))
    loss = F.when(delta < 0, -delta).otherwise(F.lit(0.0))
    avg_gain = F.avg(gain).over(_rows(w, n))
    avg_loss = F.avg(loss).over(_rows(w, n))
    rs = F.try_divide(avg_gain, avg_loss)
    out = F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + rs)
    return F.coalesce(out, F.lit(50.0))


def bollinger(close: ColumnOrName, w: WindowSpec, n: int = 20, k: float = 2.0) -> tuple[Column, Column]:
    """Bollinger ``(position, width)`` (lstm_forecasting.py:166-184).

    position = (p - lower) / (upper - lower), width = sigma / ma, with
    zero-denominator guarded to null (caller fills: 0.5 / 0.0 in the
    reference).
    """
    close = _col(close)
    ma = F.avg(close).over(_rows(w, n))
    sd = F.stddev_samp(close).over(_rows(w, n))
    upper = ma + F.lit(k) * sd
    lower = ma - F.lit(k) * sd
    position = F.try_divide(close - lower, upper - lower)
    width = F.try_divide(sd, ma)
    return position, width


def clip(c: Column, lo: float, hi: float) -> Column:
    """pandas ``.clip(lo, hi)`` (lstm_forecasting.py:70,80-104).

    Null-preserving: Spark's greatest/least *skip* nulls (returning the
    bound), while pandas clip propagates NaN — guard so downstream fills
    see the null.
    """
    return F.when(c.isNotNull(), F.least(F.greatest(c, F.lit(lo)), F.lit(hi)))
