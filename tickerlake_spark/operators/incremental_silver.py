"""Incremental silver maintenance: the bounded-lookback constant and the
bucket-scoped resample delta behind ``pipeline.apply_silver_delta``.

The reference's incremental silver run appends new daily bars but still
recomputes weekly/monthly aggregates and every indicator table from ALL
history (reference: silver/main.py:133-233 re-reads everything each run; its
2-5 min "append" at 12.5M bars is mostly this recompute). At 100 TB the full
recompute dominates the daily job, so the engine's incremental path touches
only what one batch of bars can actually change:

- every indicator has a FINITE lookback — sma_200 is the deepest at 200 rows
  per ticker; ATR-14 is a plain rolling mean of true range (14 rows, +1 for
  the close lag), NOT Wilder's recursive smoothing — so indicator rows on or
  after a cutoff date are a pure function of (rows >= cutoff) plus the last
  ``CONTEXT_ROWS`` rows per ticker before it (the indicator-tail state,
  ``operators/indicator_state``);
- a resample bucket (week / month) is a pure function of the daily rows
  inside it, so only buckets from the one containing the day before the
  batch onward can change (``affected_resample``).

Forward batches append; replays upsert: daily rows of a batch past the
watermark land via append (strictly-new keys), everything else — changed
buckets, replayed or late rows — via ``storage.upsert_table`` MERGE, never a
full-table rewrite of unrelated rows.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tickerlake_spark.operators.resample import resample_ohlcv

__all__ = ["affected_resample", "CONTEXT_ROWS"]

# Deepest per-ticker window dependency across all indicator columns:
# sma_200 needs the current row + 199 predecessors. The true-range close lag
# adds one more row at depth 14 << 200, so 200 prior rows always suffice.
CONTEXT_ROWS = 200


def affected_resample(daily: DataFrame, period: str, since: dt.date) -> DataFrame:
    """Re-resampled ``period`` bars for every bucket that new daily rows with
    ``date > since`` can touch: the bucket containing ``since`` (a mid-bucket
    append changes its open-bucket row) and everything later. Upsert the
    result on (ticker, date) — earlier buckets are untouched by construction.
    """
    bucket_start = F.date_trunc(
        {"week": "week", "month": "month"}[period], F.lit(since).cast("date")
    ).cast("date")
    return resample_ohlcv(daily.filter(F.col("date") >= bucket_start), period)
