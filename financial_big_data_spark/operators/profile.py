"""Per-series feature profiles (SURVEY.md §2.4 A5-A9, market_analysis.py:250-275).

The reference builds a row-per-symbol feature matrix with a Python loop and
quadratic ``pd.concat``; here the whole matrix is ONE ``groupBy(series)``
hash aggregate — partial aggregation map-side, a single tiny shuffle whose
output is one row per series (always driver/broadcast sized, even at 100 TB
of fact rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.stats import kurtosis_pandas, skew_pandas
from ..functions.windows import bar_window, pct_change


def series_profile(
    bars: DataFrame,
    series: str = "symbol",
    time: str = "ts",
    close: str = "close",
    volume: str = "volume",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Statistical profile per series (reference market_analysis.py:250-273).

    Columns: n_obs, mean_return, volatility (std of 1-step returns),
    skewness/kurtosis (pandas bias-corrected), volume_mean, volume_cv,
    volume_price_corr, price_min/max/range.
    One window pass for returns + one groupBy — a single shuffle on ``series``.
    """
    order = [time] + (order_tiebreak or [])
    w = bar_window(series, order)
    ret = pct_change(close, w)
    enriched = bars.select(
        F.col(series), F.col(close), F.col(volume), ret.alias("_ret")
    )
    return enriched.groupBy(series).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.avg("_ret").alias("mean_return"),
        F.stddev_samp("_ret").alias("volatility"),
        skew_pandas(F.col("_ret")).alias("skewness"),
        kurtosis_pandas(F.col("_ret")).alias("kurtosis"),
        F.avg(volume).alias("volume_mean"),
        F.try_divide(F.stddev_samp(volume), F.avg(volume)).alias("volume_cv"),
        F.corr(volume, close).alias("volume_price_corr"),
        F.min(close).alias("price_min"),
        F.max(close).alias("price_max"),
        F.try_divide(F.max(close) - F.min(close), F.avg(close)).alias("price_range"),
    )

