"""Parity gates for the incremental silver append path.

The claim under test (operators/incremental_silver.py): indicator rows on or
after a cutoff computed from bounded context (last 200 rows/ticker), and
resample buckets from the watermark's bucket onward, are EXACTLY what a full
recompute over all history produces — so the append path may merge just those
slices. Every test compares the incremental result against the full-history
recompute row-for-row.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tickerlake_spark.operators.incremental_silver import affected_resample
from tickerlake_spark.operators.indicators import compute_indicators
from tickerlake_spark.operators.resample import resample_ohlcv
from tickerlake_spark.sources.calendar import trading_days

D = dt.date

_SCHEMA = (
    "ticker string, date date, open double, high double, low double, "
    "close double, volume long, transactions long"
)


def _rows(ticker: str, days, base: float):
    out = []
    for i, d in enumerate(days):
        # deterministic, aperiodic wiggle so every window value is distinct
        c = base + (i * 7 % 13) - 0.1 * (i % 29)
        out.append(
            (ticker, d, c - 0.5, c + 1.0, c - 1.2, c, 10_000 + (i * 31 % 997), 10 + i % 7)
        )
    return out


@pytest.fixture(scope="module")
def bars(spark):
    # > 200 sessions so sma_200 is non-null across the cutoff for the
    # long-lived tickers; one ticker IPOs after the cutoff (context empty)
    days = trading_days(D(2023, 1, 3), D(2024, 3, 28))
    assert len(days) > 255
    rows = _rows("AAA", days, 50.0) + _rows("BBB", days, 210.0)
    rows += _rows("IPO", days[255:], 12.0)
    return spark.createDataFrame(rows, _SCHEMA), days


def _collect(df):
    rounded = df.select(
        *[
            F.round(c, 9).alias(c) if t == "double" else F.col(c)
            for c, t in df.dtypes
        ]
    )
    return sorted(map(tuple, rounded.collect()))


def _fallback_indicators(df, since, horizon_days=None):
    """The incremental path's fallback, as ``pipeline.apply_silver_delta``
    runs it when no valid tails exist: a tail built from the history
    before ``since`` (scan optionally pruned to ``horizon_days``), then
    indicators from that tail plus every row on or after ``since``."""
    from tickerlake_spark.operators.indicator_state import (
        build_tail,
        indicators_from_tail,
    )

    ctx = build_tail(
        df.filter(F.col("date") < F.lit(since)),
        horizon_days=horizon_days,
        as_of=since,
    )
    return indicators_from_tail(ctx, df.filter(F.col("date") >= F.lit(since)), since)


def test_incremental_indicators_equals_full_recompute(spark, bars):
    df, days = bars
    since = days[250]
    full = compute_indicators(df).filter(F.col("date") >= F.lit(since))
    inc = _fallback_indicators(df, since)
    assert _collect(inc) == _collect(full)
    # sma_200 must be populated across the cutoff (the deepest dependency
    # actually exercised, not vacuously-null parity)
    assert inc.filter(F.col("sma_200").isNotNull()).count() > 0
    # the IPO ticker appears with null long windows, same as the full path
    assert inc.filter(F.col("ticker") == "IPO").count() == len(days) - 255


def test_incremental_indicators_with_scan_horizon(spark, bars):
    df, days = bars
    since = days[250]
    full = compute_indicators(df).filter(F.col("date") >= F.lit(since))
    inc = _fallback_indicators(df, since, horizon_days=600)
    assert _collect(inc) == _collect(full)


def test_affected_resample_matches_full_buckets(spark, bars):
    df, days = bars
    watermark = days[260]  # mid-history: its bucket is partially "old"
    for period in ("week", "month"):
        delta = affected_resample(df, period, watermark)
        bucket = F.date_trunc(period, F.lit(watermark).cast("date")).cast("date")
        full = resample_ohlcv(df, period).filter(F.col("date") >= bucket)
        assert _collect(delta) == _collect(full)
        # and nothing earlier leaks into the delta
        assert delta.filter(F.col("date") < bucket).count() == 0


def test_indicators_from_tail_equals_full_recompute(spark, bars):
    """The tail-state path (VERDICT r7 item 5): indicators computed from
    (stored 205-row tail + delta) must byte-equal the full recompute — the
    same contract as the horizon path, with O(tickers x 205) input."""
    from tickerlake_spark.operators.indicator_state import (
        build_tail,
        indicators_from_tail,
    )

    df, days = bars
    since = days[250]
    # the tail as a prior run would have stored it: last rows BEFORE since
    tail = build_tail(df.filter(F.col("date") < F.lit(since)))
    delta = df.filter(F.col("date") >= F.lit(since))
    full = compute_indicators(df).filter(F.col("date") >= F.lit(since))
    got = indicators_from_tail(tail, delta, since)
    assert _collect(got) == _collect(full)
    assert got.filter(F.col("sma_200").isNotNull()).count() > 0
    # IPO ticker (absent from the tail entirely) matches too
    assert got.filter(F.col("ticker") == "IPO").count() == len(days) - 255


def test_indicators_from_tail_open_bucket_replacement(spark, bars):
    """Weekly-grain shape: the cutoff sits INSIDE the last stored bucket, so
    the tail contains one row (the open bucket) that the delta replaces —
    the filter must drop it and the result must still byte-equal full."""
    from tickerlake_spark.operators.indicator_state import (
        build_tail,
        indicators_from_tail,
    )

    df, days = bars
    weekly = resample_ohlcv(df, "week")
    watermark = days[-2]
    bs = (watermark - dt.timedelta(days=watermark.weekday()))
    # tail built from the PRE-append weekly table (history through watermark,
    # including the then-open bucket row at bs with stale values)
    pre = resample_ohlcv(df.filter(F.col("date") <= F.lit(watermark)), "week")
    tail = build_tail(pre)
    assert tail.filter(F.col("date") >= F.lit(bs)).count() >= 1
    # the post-append recomputed buckets >= bs
    delta = weekly.filter(F.col("date") >= F.lit(bs))
    full = compute_indicators(weekly).filter(F.col("date") >= F.lit(bs))
    got = indicators_from_tail(tail, delta, bs)
    assert _collect(got) == _collect(full)


def test_advance_tail_chains_equal_fresh_build(spark, bars):
    """Folding two successive deltas through advance_tail must equal a
    fresh build over the final table — the no-drift invariant."""
    from tickerlake_spark.operators.indicator_state import (
        advance_tail,
        build_tail,
    )

    df, days = bars
    c1, c2 = days[250], days[255]
    t0 = build_tail(df.filter(F.col("date") < F.lit(c1)))
    t1 = advance_tail(
        t0, df.filter((F.col("date") >= F.lit(c1)) & (F.col("date") < F.lit(c2)))
    )
    t2 = advance_tail(t1, df.filter(F.col("date") >= F.lit(c2)))
    fresh = build_tail(df)
    assert _collect(t2) == _collect(fresh)


def test_advance_tail_replaces_open_bucket_row(spark, bars):
    from tickerlake_spark.operators.indicator_state import (
        advance_tail,
        build_tail,
    )

    df, days = bars
    weekly = resample_ohlcv(df, "week")
    watermark = days[-2]
    bs = watermark - dt.timedelta(days=watermark.weekday())
    pre = resample_ohlcv(df.filter(F.col("date") <= F.lit(watermark)), "week")
    t0 = build_tail(pre)
    t1 = advance_tail(t0, weekly.filter(F.col("date") >= F.lit(bs)))
    assert _collect(t1) == _collect(build_tail(weekly))


def test_replace_tail_sweeps_crash_orphans(spark, tmp_path):
    """A crash between replace_tail's two renames leaves sibling
    ``__tail_*``/``__old_*`` dirs; the contract is self-healing via the
    gate's rebuild, but the rebuild's replace_tail must sweep the orphans
    or they accumulate disk forever."""
    import os

    from tickerlake_spark.operators.indicator_state import replace_tail

    path = str(tmp_path / "indicator_tail_daily")
    df = spark.createDataFrame(
        [("A", D(2024, 1, 2), 1.0, 2.0, 0.5, 1.5, 100, 5)], _SCHEMA
    )
    # simulate the crash leftovers: a staged dir and a displaced old dir
    for orphan in (path + "__tail_deadbeef", path + "__old_deadbeef"):
        os.makedirs(orphan)
        (tmp_path / os.path.basename(orphan) / "junk").write_text("x")
    replace_tail(spark, df, path)
    siblings = sorted(os.listdir(tmp_path))
    assert siblings == ["indicator_tail_daily"], siblings
    assert spark.read.parquet(path).count() == 1
