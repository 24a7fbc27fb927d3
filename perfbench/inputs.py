"""Seeded bronze inputs for the lake workloads.

Inputs are benchmark-side: numpy draws them and pyarrow writes the parquet
files the program then reads, so no program code runs while they are made.
The same seed gives the same rows. The tables are ``stocks``
(Hive-partitioned by ``date``), ``tickers`` and ``splits``, in the schemas
``tickerlake_spark.schemas`` declares.

The catalog workload makes no inputs: it reads the repository's sf0.01 test
tables, copied unchanged into ``data/sf0.01``.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

STOCKS_SCHEMA = pa.schema([
    ("ticker", pa.string()), ("volume", pa.int64()), ("open", pa.float32()),
    ("close", pa.float32()), ("high", pa.float32()), ("low", pa.float32()),
    ("date", pa.date32()), ("transactions", pa.int64()),
])


def trading_days(start: dt.date, n: int) -> list[dt.date]:
    """``n`` consecutive weekdays from ``start``."""
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def tickers(n: int) -> list[str]:
    return [f"T{i:05d}" for i in range(n)]


def _bars(seed: int, names: list[str], days: list[dt.date]) -> pa.Table:
    """OHLCV bars for every (ticker, day). Each day draws from its own
    stream, so a day's bars do not depend on which other days are made.
    About 2% of ticker-days are volume spikes (8-28x), which the gold
    high-volume-close stages turn into events."""
    n_t = len(names)
    base = 10.0 + np.random.default_rng([seed, 2]).uniform(0.0, 490.0, n_t)
    cols: dict[str, list[np.ndarray]] = {k: [] for k in STOCKS_SCHEMA.names}
    for d in days:
        rng = np.random.default_rng([seed, 3, d.toordinal()])
        u = rng.random(n_t)
        close = base * (1.0 + 0.2 * (u - 0.5))
        spike = rng.random(n_t) < 0.02
        cols["ticker"].append(np.array(names))
        cols["volume"].append(
            50_000 + rng.integers(0, 200_000, n_t)
            + np.where(spike, rng.integers(8, 28, n_t) * 100_000, 0)
        )
        cols["open"].append((close * (1.0 + 0.01 * (rng.random(n_t) - 0.5))).astype(np.float32))
        cols["close"].append(close.astype(np.float32))
        cols["high"].append((close * (1.0 + 0.02 * u)).astype(np.float32))
        cols["low"].append((close * (1.0 - 0.02 * u)).astype(np.float32))
        cols["date"].append(np.full(n_t, np.datetime64(d.isoformat(), "D")))
        cols["transactions"].append(rng.integers(1, 5_000, n_t))
    return pa.table(
        {k: np.concatenate(v) for k, v in cols.items()}, schema=STOCKS_SCHEMA
    )


def _write_dir(table: pa.Table, path: str) -> None:
    """An unpartitioned table: a directory holding one part file."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def append_bronze_days(lake_root: str, seed: int, n_tickers: int, days: list[dt.date]) -> int:
    """Add one ``date=`` partition per day to bronze.stocks; returns bars."""
    table = _bars(seed, tickers(n_tickers), days)
    ds.write_dataset(
        table,
        os.path.join(lake_root, "bronze", "stocks"),
        format="parquet",
        partitioning=ds.partitioning(pa.schema([("date", pa.date32())]), flavor="hive"),
        basename_template="part-{i}.parquet",
        existing_data_behavior="overwrite_or_ignore",
        max_partitions=len(days) + 1,
    )
    return table.num_rows


def write_bronze(
    lake_root: str, seed: int, n_tickers: int, days: list[dt.date], n_splits: int
) -> int:
    """A fresh bronze layer: stocks for ``days``, every ticker CS (every
    tenth an ETF), and ``n_splits`` 2:1 / 4:1 splits on history days other
    than the last. Returns the bar count."""
    shutil.rmtree(os.path.join(lake_root, "bronze"), ignore_errors=True)
    names = tickers(n_tickers)
    n_t = len(names)
    nulls = pa.nulls(n_t, pa.string())
    _write_dir(pa.table({
        "ticker": names,
        "name": [f"Company {t}" for t in names],
        "market": ["stocks"] * n_t,
        "locale": ["us"] * n_t,
        "primary_exchange": ["XNYS"] * n_t,
        "type": ["ETF" if i % 10 == 0 else "CS" for i in range(n_t)],
        "active": [True] * n_t,
        "currency_name": ["usd"] * n_t,
        "currency_symbol": nulls, "cik": nulls, "composite_figi": nulls,
        "share_class_figi": nulls, "base_currency_name": nulls,
        "base_currency_symbol": nulls, "delisted_utc": nulls, "last_updated_utc": nulls,
    }), os.path.join(lake_root, "bronze", "tickers"))
    rng = np.random.default_rng([seed, 4])
    when = rng.integers(0, len(days) - 1, n_splits)
    _write_dir(pa.table({
        "id": [f"S{i:05d}" for i in range(n_splits)],
        "execution_date": pa.array([days[i] for i in when], pa.date32()),
        "split_from": pa.array(np.ones(n_splits), pa.float32()),
        "split_to": pa.array(np.where(rng.random(n_splits) < 0.3, 4.0, 2.0), pa.float32()),
        "ticker": np.array(names)[rng.integers(0, n_t, n_splits)],
    }), os.path.join(lake_root, "bronze", "splits"))
    return append_bronze_days(lake_root, seed, n_tickers, days)
