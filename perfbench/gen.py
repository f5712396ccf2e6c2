"""Seeded input generators.

Every generator is a pure function of its seed and size arguments and writes
one Parquet file with pyarrow (no Spark involved), so the same seed gives
byte-identical files and a different seed gives different ones. The engine
under test only ever sees these files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input kind, so resizing one input never
    # shifts the draws of another
    return np.random.default_rng([seed, sum(stream.encode())])


def _write(table: pa.Table, path: str) -> dict:
    pq.write_table(table, path, compression="snappy")
    return {"path": os.path.basename(path), "rows": table.num_rows,
            "bytes": os.path.getsize(path)}


def bars(seed: int, n_symbols: int, n_bars: int, n_sectors: int = 5) -> pd.DataFrame:
    """Hourly OHLCV random walks with a market factor, a sector factor and
    volatility regimes, so every 5-way regime label and a non-empty
    |corr| > 0.3 symbol graph appear."""
    rng = _rng(seed, "bars")
    market = rng.normal(0.0, 0.004, n_bars)
    sectors = rng.normal(0.0, 0.004, (n_sectors, n_bars))
    # slowly switching volatility / drift regimes per symbol: calm vs
    # volatile segments of ~100-300 hours, each with its own drift
    frames = []
    ts = EPOCH + np.arange(n_bars).astype("timedelta64[h]")
    for s in range(n_symbols):
        seg = np.cumsum(rng.integers(100, 300, n_bars // 100 + 2))
        seg_id = np.searchsorted(seg, np.arange(n_bars), side="right")
        n_seg = seg_id.max() + 1
        vol = np.where(rng.random(n_seg) < 0.4, 0.008, 0.002)[seg_id]
        drift = rng.normal(0.0, 0.0015, n_seg)[seg_id]
        ret = 0.6 * market + 0.6 * sectors[s % n_sectors] + drift + rng.normal(0.0, 1.0, n_bars) * vol
        close = 100.0 * np.exp(np.cumsum(ret))
        spread = np.abs(rng.normal(0.0, 0.002, n_bars)) * close
        open_ = np.concatenate([[close[0]], close[:-1]])
        frames.append(pd.DataFrame({
            "symbol": f"S{s:03d}",
            "ts": ts,
            "open": open_,
            "high": np.maximum(open_, close) + spread,
            "low": np.minimum(open_, close) - spread,
            "close": close,
            "volume": np.round(rng.lognormal(10.0, 0.5, n_bars), 2),
        }))
    return pd.concat(frames, ignore_index=True)


def write_bars_file(seed: int, out_dir: str, n_symbols: int, n_bars: int) -> dict:
    df = bars(seed, n_symbols, n_bars)
    return _write(pa.Table.from_pandas(df, preserve_index=False), os.path.join(out_dir, "bars.parquet"))


def planted_graph(seed: int, n_nodes: int, n_comms: int, intra: int = 8, inter: int = 2) -> pd.DataFrame:
    """Planted-partition graph: node i belongs to community i // size; each
    node draws ``intra`` neighbours inside its community and ``inter``
    anywhere. Undirected, each edge once as (min, max), no self-loops."""
    rng = _rng(seed, "graph")
    size = n_nodes // n_comms
    node = np.arange(n_nodes, dtype=np.int64)
    base = (node // size) * size
    src = np.concatenate([np.repeat(node, intra), np.repeat(node, inter)])
    dst = np.concatenate([
        np.repeat(base, intra) + rng.integers(0, size, n_nodes * intra),
        rng.integers(0, n_nodes, n_nodes * inter),
    ])
    keep = src != dst
    lo, hi = np.minimum(src, dst)[keep], np.maximum(src, dst)[keep]
    edges = np.unique(np.stack([lo, hi], axis=1), axis=0)
    return pd.DataFrame({"src": edges[:, 0], "dst": edges[:, 1]})


def write_graph_file(seed: int, out_dir: str, n_nodes: int, n_comms: int) -> dict:
    df = planted_graph(seed, n_nodes, n_comms)
    return _write(pa.Table.from_pandas(df, preserve_index=False), os.path.join(out_dir, "edges.parquet"))


def events(seed: int, n_rows: int, first_id: int = 0, n_users: int | None = None,
           stream: str = "events") -> pd.DataFrame:
    """Rows in the ``sources.tables`` ``events`` schema, shaped like the
    test data: ~67 events per user (unless ``n_users`` is given) over 30
    days, five event types, 2-decimal exponential values (some exactly 0),
    timestamps in microseconds and strictly increasing with ``event_id``."""
    rng = _rng(seed, f"{stream}{first_id}")
    n_users = n_users or max(n_rows // 67, 1)
    span_us = 30 * 24 * 3600 * 10**6
    offs = np.sort(rng.choice(span_us, n_rows, replace=False))
    return pd.DataFrame({
        "event_id": np.arange(first_id, first_id + n_rows, dtype=np.int64),
        "ts": EPOCH + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_rows).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_rows)],
        "value": np.round(rng.exponential(50.0, n_rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)],
    })


def write_events_file(seed: int, out_dir: str, n_rows: int, first_id: int = 0,
                      n_users: int | None = None, name: str = "events") -> dict:
    """Write ``<name>.parquet``; ``name`` also names the random stream."""
    df = events(seed, n_rows, first_id, n_users, stream=name)
    schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ])
    return _write(pa.Table.from_pandas(df, schema=schema, preserve_index=False),
                  os.path.join(out_dir, f"{name}.parquet"))
