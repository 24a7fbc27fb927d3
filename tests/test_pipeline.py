"""End-to-end medallion pipeline tests with an injected market source —
ports the spirit of the reference's tests (test_bronze_download.py:
parallel fetch stops on 403; combine with existing data; no write when
empty) plus full bronze -> silver -> gold runs.
"""

from __future__ import annotations

import datetime as dt

import pytest

from tickerlake_spark.sources.calendar import is_trading_day, trading_days
from tickerlake_spark.sources.market import (
    ApiLimitReached,
    InMemoryMarketSource,
    classify_fetch_error,
    fetch_dates_parallel,
)
from tickerlake_spark.pipeline import (
    run_bronze,
    run_gold,
    run_silver,
    run_validate,
    should_full_rewrite,
)
from tickerlake_spark.storage import Catalog, Checkpoints, read_table, table_exists

D = dt.date


def _bars_for(date: dt.date, tickers=("AAPL", "MSFT"), price=100.0) -> list[dict]:
    ms = int(dt.datetime(date.year, date.month, date.day).timestamp() * 1000)
    return [
        {
            "ticker": t,
            "volume": 1000 + i,
            "open": price,
            "close": price + 1 + i,
            "high": price + 2,
            "low": price - 1,
            "window_start": ms,
            "transactions": 10,
        }
        for i, t in enumerate(tickers)
    ]


@pytest.fixture()
def env(tmp_path):
    return Catalog(root=str(tmp_path / "data")), Checkpoints(
        str(tmp_path / "checkpoints.json")
    )


def _source(dates, **kw):
    return InMemoryMarketSource(
        bars_by_date={d: _bars_for(d) for d in dates},
        ticker_rows=[
            {"ticker": "AAPL", "name": "Apple", "type": "CS", "active": True,
             "market": "stocks", "locale": "us", "primary_exchange": "XNAS",
             "currency_name": "usd", "cik": "1"},
            {"ticker": "MSFT", "name": "Microsoft", "type": "CS", "active": True,
             "market": "stocks", "locale": "us", "primary_exchange": "XNAS",
             "currency_name": "usd", "cik": "2"},
            {"ticker": "WARRANTX", "name": "Warrant", "type": "WARRANT",
             "active": True, "market": "stocks", "locale": "us",
             "primary_exchange": "XNAS", "currency_name": "usd", "cik": "3"},
        ],
        split_rows=[
            {"id": "s1", "ticker": "AAPL",
             "execution_date": D(2024, 1, 9), "split_from": 1.0, "split_to": 2.0},
        ],
        **kw,
    )


class TestCalendar:
    def test_weekends_and_holidays_excluded(self):
        assert not is_trading_day(D(2024, 1, 6))   # Saturday
        assert not is_trading_day(D(2024, 1, 1))   # New Year
        assert not is_trading_day(D(2024, 7, 4))   # July 4th
        assert not is_trading_day(D(2024, 3, 29))  # Good Friday 2024
        assert not is_trading_day(D(2024, 11, 28)) # Thanksgiving 2024
        assert is_trading_day(D(2024, 1, 8))       # regular Monday
        days = trading_days(D(2024, 1, 1), D(2024, 1, 31))
        assert len(days) == 21  # NYSE January 2024


class TestFetcher:
    def test_stop_on_limit_cancels_older(self):
        dates = trading_days(D(2024, 1, 2), D(2024, 1, 12))
        src = _source(dates, limit_before=D(2024, 1, 8))
        got, limit = fetch_dates_parallel(src, dates, max_workers=2)
        assert limit is True
        assert all(d >= D(2024, 1, 8) for d in got)  # newest-first wins
        assert got  # newer dates fetched before the limit hit

    def test_transient_vs_limit_classification(self):
        assert classify_fetch_error(ApiLimitReached("x")) == "limit"
        assert classify_fetch_error(Exception("403 Forbidden")) == "limit"
        assert classify_fetch_error(Exception("boom")) == "transient"


class TestBronze:
    def test_ingest_and_incremental(self, spark, env):
        cat, cp = env
        days = trading_days(D(2024, 1, 8), D(2024, 1, 12))
        src = _source(days)
        out = run_bronze(spark, src, cat, cp, D(2024, 1, 8), D(2024, 1, 12))
        assert out["dates_fetched"] == 5 and out["rows"] == 10
        stocks = read_table(spark, cat.bronze("stocks"))
        assert stocks.count() == 10
        assert {str(r.date) for r in stocks.select("date").distinct().collect()} == {
            str(d) for d in days
        }
        assert cp.get("bronze_stocks_last_date") == "2024-01-12"

        # second run: nothing new to fetch
        out2 = run_bronze(spark, src, cat, cp, D(2024, 1, 8), D(2024, 1, 12))
        assert out2["dates_fetched"] == 0
        assert read_table(spark, cat.bronze("stocks")).count() == 10

    def test_no_write_when_empty(self, spark, env):
        cat, cp = env
        src = InMemoryMarketSource()
        out = run_bronze(spark, src, cat, cp, D(2024, 1, 8), D(2024, 1, 9))
        assert out["rows"] == 0
        assert not table_exists(cat.bronze("stocks"))


class TestSilverGold:
    def test_full_pipeline(self, spark, env):
        cat, cp = env
        days = trading_days(D(2024, 1, 2), D(2024, 1, 12))
        run_bronze(spark, _source(days), cat, cp, D(2024, 1, 2), D(2024, 1, 12))

        assert should_full_rewrite(spark, cat) is True
        s = run_silver(spark, cat, cp)
        assert s["mode"] == "full"

        meta = read_table(spark, cat.silver("ticker_metadata"))
        assert {r.ticker for r in meta.collect()} == {"AAPL", "MSFT"}  # CS only

        daily = read_table(spark, cat.silver("daily_aggregates"))
        assert daily.count() == len(days) * 2
        # split on 2024-01-09: AAPL bars before it are halved (1:2 -> x0.5)
        aapl = {str(r.date): r for r in daily.filter("ticker='AAPL'").collect()}
        assert aapl["2024-01-08"].close == pytest.approx((100.0 + 1) * 0.5)
        assert aapl["2024-01-09"].close == pytest.approx(101.0)
        assert aapl["2024-01-08"].volume == 2000  # 1000 / 0.5
        weekly = read_table(spark, cat.silver("weekly_aggregates"))
        assert weekly.count() == 4  # 2 tickers x 2 ISO weeks
        assert table_exists(cat.silver("daily_indicators"))

        g = run_gold(spark, cat, hvc_threshold=0.5, min_steps=2,
                     calculated_at=dt.datetime(2026, 1, 1))
        assert g["vwap_rows"] == daily.count()
        vwap = read_table(spark, cat.gold("vwap_signals"))
        assert {f.name for f in vwap.schema.fields} >= {
            "ticker", "date", "ytd_vwap", "qtd_vwap", "above_both", "calculated_at"
        }
        # second silver run with no new data: noop append
        s2 = run_silver(spark, cat, cp)
        assert s2["mode"] == "noop"

        # validate entry point: silver's adjustment must pass the offline
        # spot-check and the tiny fixture dates all flag below_min
        v = run_validate(spark, cat, sample_splits=5, min_records=5000)
        assert v["split_adjustment"]["ok"] is True
        assert v["split_adjustment"]["checked"] > 0
        assert v["date_counts"]["anomalous_dates"] == len(days)

    def test_append_after_new_day(self, spark, env):
        cat, cp = env
        days1 = trading_days(D(2024, 1, 2), D(2024, 1, 10))
        run_bronze(spark, _source(days1), cat, cp, D(2024, 1, 2), D(2024, 1, 10))
        run_silver(spark, cat, cp)
        n1 = read_table(spark, cat.silver("daily_aggregates")).count()

        days2 = trading_days(D(2024, 1, 2), D(2024, 1, 12))
        run_bronze(spark, _source(days2), cat, cp, D(2024, 1, 2), D(2024, 1, 12))
        s = run_silver(spark, cat, cp)
        assert s["mode"] == "append"  # no new splits after watermark
        n2 = read_table(spark, cat.silver("daily_aggregates")).count()
        assert n2 == n1 + 2 * 2  # two new trading days x two tickers


@pytest.mark.slow
def test_cli_full_chain(tmp_path):
    """python -m tickerlake_spark bronze/silver/gold/validate/clean over the
    deterministic demo source — the console-script surface of the reference
    (pyproject.toml [project.scripts]) driven end-to-end."""
    import json
    import subprocess
    import sys

    root = str(tmp_path / "cli_data")

    def run(*args):
        out = subprocess.run(
            [sys.executable, "-m", "tickerlake_spark", *args],
            capture_output=True, text=True, timeout=600,
            cwd="/root/repo",
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    b = run("bronze", "--data-root", root, "--demo",
            "--start", "2024-01-01", "--end", "2024-01-16")
    assert b["rows"] > 0 and not b["limit_reached"]
    s = run("silver", "--data-root", root)
    assert s["mode"] == "full"
    g = run("gold", "--data-root", root)
    assert g["vwap_rows"] > 0
    v = run("validate", "--data-root", root, "--min-records", "1")
    assert v["split_adjustment"]["ok"]
    assert v["date_counts"]["anomalous_dates"] == 0
    # maintenance surface: compact + z-order the silver daily table
    m = run(
        "maintain", "--data-root", root,
        "--table", root + "/silver/daily_aggregates",
        "--target-file-mb", "1", "--zorder", "volume,transactions",
    )
    assert m["files_after"] >= 1 and m["bytes"] > 0
    s2 = run("silver", "--data-root", root)  # pipeline still reads the table
    assert s2["mode"] in ("full", "append", "noop")  # no new bronze -> noop
    c = run("clean", "--data-root", root, "--layer", "bronze")
    assert len(c["dropped"]) == 3


def test_python_datasource_partition_per_date(spark):
    """The market_bars Python DataSource must plan one input partition per
    trading date (executor-parallel fetch — the Spark-native replacement for
    the reference's driver thread pool) and yield exactly the provider's
    rows."""
    import datetime as dt

    from tickerlake_spark.plans.catalog import ensure_executors_can_import
    from tickerlake_spark.sources.calendar import trading_days
    from tickerlake_spark.sources.datasource import MarketBarsDataSource
    from tickerlake_spark.sources.demo import demo_source

    ensure_executors_can_import(spark)
    spark.dataSource.register(MarketBarsDataSource)
    start, end = "2024-01-02", "2024-01-12"
    df = (
        spark.read.format("market_bars")
        .option("provider", "tickerlake_spark.sources.demo:demo_source")
        .option("provider_args", f'["{start}", "{end}"]')
        .option("start", start)
        .option("end", end)
        .load()
    )
    days = trading_days(dt.date.fromisoformat(start), dt.date.fromisoformat(end))
    assert df.rdd.getNumPartitions() == len(days)

    got = df.toPandas().sort_values(["window_start", "ticker"], ignore_index=True)
    src = demo_source(start, end)
    expected = [
        row for d in days for row in src.grouped_daily(d)
    ]
    assert len(got) == len(expected) == len(days) * 8
    exp_close = sorted((r["ticker"], r["window_start"], r["close"]) for r in expected)
    got_close = sorted(zip(got.ticker, got.window_start, got.close))
    for (et, ew, ec), (gt, gw, gc) in zip(exp_close, got_close):
        assert (et, ew) == (gt, gw) and abs(ec - gc) < 1e-9


def test_append_path_matches_full_rewrite(spark, tmp_path):
    """The incremental silver append (bounded-context indicators +
    bucket-scoped resample MERGE) and the incremental gold run
    (year-sliced VWAP append, event append, per-ticker pattern replacement)
    must leave every silver AND gold table equal to a from-scratch full
    rewrite over the same bronze data.

    Env A ingests all-but-two days, runs silver full + gold full, then
    appends the last two days (silver append + gold incremental); env B
    ingests everything at once and rebuilds. Volume spikes are planted at
    indices 25-27 and on BOTH appended days with monotonically rising
    closes, so the appended HVC events EXTEND an existing 3-step stair-step
    island into a 5-step one — the incremental gold run must delete the
    stale 3-step pattern row, not just append."""
    from pyspark.sql import functions as F

    days = trading_days(D(2024, 1, 2), D(2024, 2, 20))
    n = len(days)
    spikes = {25, 26, 27, n - 2, n - 1}
    bars = {}
    for i, d in enumerate(days):
        if i in spikes:
            rows = _bars_for(d, price=150.0 + 2.0 * i)
            for r in rows:
                r["volume"] *= 12
        else:
            rows = _bars_for(d, price=100.0 + 3 * (i % 7) - 0.5 * (i % 3))
        bars[d] = rows

    def src(dates):
        s = _source(dates)
        s._bars = {d: bars[d] for d in dates}
        return s

    def collect(cat, table, layer="silver"):
        df = read_table(spark, cat.path(layer, table))
        # column order varies with layout (a Hive partition column reads back
        # last); nullable doubles need a None-safe sort key
        rounded = df.select(
            *[
                F.round(c, 9).alias(c) if t == "double" else F.col(c)
                for c, t in sorted(df.dtypes)
            ]
        )
        return sorted(
            map(tuple, rounded.collect()),
            key=lambda row: tuple(
                (v is not None, v if v is not None else 0) for v in row
            ),
        )

    stamp = dt.datetime(2024, 3, 1, 12, 0, 0)

    cat_a = Catalog(root=str(tmp_path / "a"))
    cp_a = Checkpoints(str(tmp_path / "cp_a.json"))
    run_bronze(spark, src(days[:-2]), cat_a, cp_a, days[0], days[-3])
    assert run_silver(spark, cat_a, cp_a)["mode"] == "full"
    g1 = run_gold(spark, cat_a, calculated_at=stamp, checkpoints=cp_a)
    assert g1["mode"] == "full"
    # the planted spikes made a 3-step pattern that the append must extend
    pats1 = read_table(spark, cat_a.gold("stairstep_up"))
    assert pats1.filter(F.col("hvc_count") == 3).count() >= 2  # both tickers

    run_bronze(spark, src(days), cat_a, cp_a, days[0], days[-1])
    assert run_silver(spark, cat_a, cp_a)["mode"] == "append"
    g2 = run_gold(spark, cat_a, calculated_at=stamp, checkpoints=cp_a)
    assert g2["mode"] == "incremental"

    cat_b = Catalog(root=str(tmp_path / "b"))
    cp_b = Checkpoints(str(tmp_path / "cp_b.json"))
    run_bronze(spark, src(days), cat_b, cp_b, days[0], days[-1])
    assert run_silver(spark, cat_b, cp_b)["mode"] == "full"
    assert run_gold(spark, cat_b, calculated_at=stamp, checkpoints=cp_b)["mode"] == "full"

    for table in (
        "daily_aggregates",
        "weekly_aggregates",
        "monthly_aggregates",
        "daily_indicators",
        "weekly_indicators",
        "monthly_indicators",
    ):
        assert collect(cat_a, table) == collect(cat_b, table), table
    for table in (
        "vwap_signals",
        "hvc_daily",
        "hvc_weekly",
        "hvc_monthly",
        "stairstep_up",
        "stairstep_down",
        "best_patterns",
        "best_patterns_down",
    ):
        assert collect(cat_a, table, "gold") == collect(cat_b, table, "gold"), table

    # non-vacuous: the island actually merged (3 -> 5) and the stale 3-step
    # rows are gone from the incrementally-maintained table
    pats2 = read_table(spark, cat_a.gold("stairstep_up"))
    assert pats2.filter(F.col("hvc_count") == 5).count() >= 2
    assert pats2.filter(F.col("hvc_count") == 3).count() == 0


def test_changed_old_split_forces_full_rewrite(spark, tmp_path):
    """A split that ARRIVES (or is corrected) after the silver run but
    executes BEFORE the watermark is invisible to the reference's
    execution_date > watermark check (silver/incremental.py:20-66) — stored
    history would keep the stale adjustment forever. The splits-table
    fingerprint must force the full rewrite; an unchanged splits table must
    keep the append path."""
    days = trading_days(D(2024, 1, 2), D(2024, 1, 31))
    cat = Catalog(root=str(tmp_path / "data"))
    cp = Checkpoints(str(tmp_path / "cp.json"))

    run_bronze(spark, _source(days[:-2]), cat, cp, days[0], days[-3])
    assert run_silver(spark, cat, cp)["mode"] == "full"

    # unchanged splits -> append (fingerprint path, not the date check)
    run_bronze(spark, _source(days), cat, cp, days[0], days[-1])
    assert should_full_rewrite(spark, cat, cp) is False
    assert run_silver(spark, cat, cp)["mode"] == "append"

    # corrected split: same id, execution date moved to BEFORE the watermark
    src = _source(days)
    src._splits = [
        {"id": "s1", "ticker": "AAPL",
         "execution_date": D(2024, 1, 10), "split_from": 1.0, "split_to": 2.0},
    ]
    run_bronze(spark, src, cat, cp, days[0], days[-1])
    assert should_full_rewrite(spark, cat, cp) is True
    assert run_silver(spark, cat, cp)["mode"] == "full"
    # the rewrite re-adjusted history: closes before 01-10 now halved
    daily = read_table(spark, cat.silver("daily_aggregates"))
    early_aapl = daily.filter(
        (daily.ticker == "AAPL") & (daily.date < D(2024, 1, 10))
    ).select("close").first()
    assert early_aapl is not None and abs(early_aapl["close"] - 101.0 / 2) < 1e-9


def test_reference_gold_views_split_stocks_and_etfs(spark, tmp_path):
    """The reference publishes 12 type-split gold tables (metadata.json
    databases.hvcs.tables). register_reference_gold_views must expose all 12
    names over this engine's gold tables with the stocks/ETFs split driven by
    silver.ticker_metadata."""
    from pyspark.sql import functions as F

    from tickerlake_spark.sources.market import InMemoryMarketSource
    from tickerlake_spark.sql import register_reference_gold_views

    days = trading_days(D(2024, 1, 2), D(2024, 2, 20))
    n = len(days)

    def bars_for(d, i):
        vol = 1000 if i not in (25, 26, 27, 28) else 15000  # HVC spikes
        close = 100.0 + i  # rising closes -> a stair-step pattern
        return [
            {"ticker": t, "volume": vol, "open": close - 1, "close": close + k,
             "high": close + 2, "low": close - 2,
             "window_start": int(dt.datetime(d.year, d.month, d.day).timestamp() * 1000),
             "transactions": 5}
            for k, t in enumerate(["AAPL", "SPYX"])
        ]

    src = InMemoryMarketSource(
        bars_by_date={d: bars_for(d, i) for i, d in enumerate(days)},
        ticker_rows=[
            {"ticker": "AAPL", "name": "Apple", "type": "CS", "active": True,
             "market": "stocks", "locale": "us", "primary_exchange": "XNAS",
             "currency_name": "usd", "cik": "1"},
            {"ticker": "SPYX", "name": "Spyx ETF", "type": "ETF", "active": True,
             "market": "stocks", "locale": "us", "primary_exchange": "XNAS",
             "currency_name": "usd", "cik": "2"},
        ],
        split_rows=[],
    )
    cat = Catalog(root=str(tmp_path / "data"))
    cp = Checkpoints(str(tmp_path / "cp.json"))
    run_bronze(spark, src, cat, cp, days[0], days[-1])
    run_silver(spark, cat, cp)
    run_gold(spark, cat, checkpoints=cp)

    names = register_reference_gold_views(spark, cat)
    assert len(names) == 12 and len(set(names)) == 12
    for base in (
        "daily_high_volume_closes", "weekly_high_volume_closes",
        "monthly_high_volume_closes", "stairstepping_hvcs",
        "stairstepping_summary", "falling_down_stairs_summary",
    ):
        assert f"{base}_stocks" in names and f"{base}_etfs" in names

    stocks = spark.sql("SELECT DISTINCT ticker FROM daily_high_volume_closes_stocks")
    etfs = spark.sql("SELECT DISTINCT ticker FROM daily_high_volume_closes_etfs")
    assert {r.ticker for r in stocks.collect()} == {"AAPL"}
    assert {r.ticker for r in etfs.collect()} == {"SPYX"}
    # the split is a partition: stocks + etfs == unsplit gold table
    total = read_table(spark, cat.gold("hvc_daily")).count()
    assert (
        spark.sql("SELECT COUNT(*) AS n FROM daily_high_volume_closes_stocks").first()["n"]
        + spark.sql("SELECT COUNT(*) AS n FROM daily_high_volume_closes_etfs").first()["n"]
        == total > 0
    )
    assert {
        r.ticker
        for r in spark.sql("SELECT ticker FROM stairstepping_summary_stocks").collect()
    } == {"AAPL"}

    # run_gold persisted the published surface as durable, EXECUTABLE view
    # DDL next to the gold tables (VERDICT r8 item 5: documented views)
    import os

    ddl_path = os.path.join(
        os.path.dirname(cat.gold("vwap_signals")), "_reference_views.sql"
    )
    assert os.path.exists(ddl_path)
    stmts = [s.strip() for s in open(ddl_path).read().split(";") if s.strip()]
    assert len(stmts) == 12
    for s in stmts:
        spark.sql(s.replace("CREATE OR REPLACE VIEW",
                            "CREATE OR REPLACE TEMPORARY VIEW"))
    assert {
        r.ticker
        for r in spark.sql(
            "SELECT DISTINCT ticker FROM daily_high_volume_closes_etfs"
        ).collect()
    } == {"SPYX"}


def test_reference_view_ddl_refreshes_on_relocation(spark, tmp_path):
    """r9 review nit: the published-view DDL embeds catalog paths, and the
    streaming maintainer used to key the write on file EXISTENCE — a
    relocated lake (copied to a new root, DDL file riding along) kept
    serving views over the old paths. The writer is now content-keyed."""
    import shutil

    from tickerlake_spark.sql import write_reference_gold_view_ddl
    from tickerlake_spark.storage import write_table

    root1, root2 = str(tmp_path / "lake1"), str(tmp_path / "lake2")
    cat1 = Catalog(root=root1)
    meta = spark.createDataFrame(
        [("AAPL", "Apple", "CS", "XNAS", True, "1")],
        "ticker string, name string, type string, primary_exchange string, "
        "active boolean, cik string",
    )
    write_table(meta, cat1.silver("ticker_metadata"))
    p1 = write_reference_gold_view_ddl(cat1)
    assert root1 in open(p1).read()
    # unchanged catalog: second call is a no-op (content identical)
    mtime = __import__("os").path.getmtime(p1)
    assert write_reference_gold_view_ddl(cat1) == p1
    assert __import__("os").path.getmtime(p1) == mtime

    # relocate the lake wholesale; stale DDL rides along
    shutil.copytree(root1, root2)
    cat2 = Catalog(root=root2)
    p2 = write_reference_gold_view_ddl(cat2)
    content = open(p2).read()
    assert root2 in content and root1 not in content


def test_stage_timer_concurrent_spans_lose_no_time():
    """Pool threads record spans on one ``_StageTimer`` at once. The
    read-modify-write of ``timings`` must hold its lock: a ``get`` that
    yields the GIL mid-update would otherwise let threads overwrite each
    other's additions, and the total would fall far below the time spent."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from tickerlake_spark.pipeline import _StageTimer

    class _YieldingDict(dict):
        def get(self, *args):
            value = super().get(*args)
            time.sleep(0.001)  # invite a concurrent writer in
            return value

    timer = _StageTimer()
    timer.timings = _YieldingDict()
    n_threads, spans, nap = 8, 5, 0.02
    start = threading.Barrier(n_threads)

    def work():
        start.wait(timeout=60)
        for _ in range(spans):
            with timer.span("stage"):
                time.sleep(nap)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            for f in [pool.submit(work) for _ in range(n_threads)]:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    # each addition rounds to the millisecond: at most 0.5 ms lost per span
    assert timer.timings["stage"] >= n_threads * spans * (nap - 0.0005)


def test_validate_detects_indicator_drift(spark, env):
    """run_validate's third check recomputes sampled tickers' indicators
    from scratch and diffs stored rows — clean data passes, a tampered
    stored row is flagged."""
    from pyspark.sql import functions as F

    cat, cp = env
    days = trading_days(D(2024, 1, 2), D(2024, 2, 20))
    run_bronze(spark, _source(days), cat, cp, days[0], days[-1])
    run_silver(spark, cat, cp)

    v = run_validate(spark, cat)
    assert v["indicator_drift"]["ok"] is True
    assert v["indicator_drift"]["checked"] > 0
    assert v["indicator_drift"]["drifted"] == 0

    # tamper with one stored sma_20 value and re-validate
    path = cat.silver("daily_indicators")
    pdf = read_table(spark, path).toPandas()
    mask = pdf["sma_20"].notna()
    idx = pdf[mask].index[0]
    pdf.loc[idx, "sma_20"] += 1.0
    from tickerlake_spark import schemas
    from tickerlake_spark.storage import write_table

    tampered = schemas.conform(spark.createDataFrame(pdf), schemas.INDICATORS)
    import shutil

    shutil.rmtree(path)
    write_table(tampered, path)

    v2 = run_validate(spark, cat)
    assert v2["indicator_drift"]["ok"] is False
    assert v2["indicator_drift"]["drifted"] == 1


def test_incremental_gold_across_year_boundary(spark, tmp_path):
    """An append that crosses Dec 31 resets the YTD/QTD windows: the
    incremental gold run computes new vwap rows from a year-bounded slice,
    and rows in the new year must start their cumulative sums from zero —
    bitwise-equal to a full rebuild (the same operator windows the same
    per-(ticker, year) rows in the same order)."""
    from pyspark.sql import functions as F

    days = trading_days(D(2023, 11, 1), D(2024, 1, 12))
    bars = {
        d: _bars_for(d, price=100.0 + 2 * (i % 11))
        for i, d in enumerate(days)
    }
    cut = max(i for i, d in enumerate(days) if d.year == 2023)  # last 2023 day

    def src(dates):
        s = _source(dates)
        s._bars = {d: bars[d] for d in dates}
        s._splits = []  # no splits: keep the append path
        return s

    stamp = dt.datetime(2024, 2, 1)

    cat_a = Catalog(root=str(tmp_path / "a"))
    cp_a = Checkpoints(str(tmp_path / "cp_a.json"))
    run_bronze(spark, src(days[: cut + 1]), cat_a, cp_a, days[0], days[cut])
    assert run_silver(spark, cat_a, cp_a)["mode"] == "full"
    run_gold(spark, cat_a, calculated_at=stamp, checkpoints=cp_a)
    run_bronze(spark, src(days), cat_a, cp_a, days[0], days[-1])
    assert run_silver(spark, cat_a, cp_a)["mode"] == "append"
    assert run_gold(spark, cat_a, calculated_at=stamp, checkpoints=cp_a)["mode"] == "incremental"

    cat_b = Catalog(root=str(tmp_path / "b"))
    cp_b = Checkpoints(str(tmp_path / "cp_b.json"))
    run_bronze(spark, src(days), cat_b, cp_b, days[0], days[-1])
    run_silver(spark, cat_b, cp_b)
    run_gold(spark, cat_b, calculated_at=stamp, checkpoints=cp_b)

    def rows_of(cat):
        return sorted(map(tuple, read_table(spark, cat.gold("vwap_signals")).collect()))

    assert rows_of(cat_a) == rows_of(cat_b)
    # sanity: first 2024 row's ytd_vwap equals its own day's vwap (sum reset)
    first_2024 = (
        read_table(spark, cat_a.gold("vwap_signals"))
        .filter((F.col("ticker") == "AAPL") & (F.col("date") == days[cut + 1]))
        .first()
    )
    assert first_2024 is not None
    assert abs(first_2024["ytd_vwap"] - first_2024["close"]) < 1e-9


def test_gold_never_incremental_after_unconsumed_full_rewrite(spark, env):
    """A silver FULL rewrite that gold never consumed (gold crashed/skipped
    that day) must force the next gold run to rebuild fully, even though the
    most recent silver run was an append — otherwise gold keeps
    pre-correction history forever (generation-counter regression test)."""
    from pyspark.sql import functions as F

    cat, cp = env
    days1 = trading_days(D(2024, 1, 2), D(2024, 1, 10))
    run_bronze(spark, _source(days1), cat, cp, D(2024, 1, 2), D(2024, 1, 10))
    assert run_silver(spark, cat, cp)["mode"] == "full"
    g = run_gold(spark, cat, hvc_threshold=0.5, min_steps=2, checkpoints=cp)
    assert g["mode"] == "full"

    # normal cadence: new day -> silver append -> gold incremental
    days2 = trading_days(D(2024, 1, 2), D(2024, 1, 12))
    run_bronze(spark, _source(days2), cat, cp, D(2024, 1, 2), D(2024, 1, 12))
    assert run_silver(spark, cat, cp)["mode"] == "append"
    g = run_gold(spark, cat, hvc_threshold=0.5, min_steps=2, checkpoints=cp)
    assert g["mode"] == "incremental"

    # a corrected OLD split lands -> fingerprint change -> silver FULL
    # rewrite... and gold is skipped that day (simulating a crash).
    # (run_bronze re-snapshots bronze.splits from the source every run, so
    # the change is simulated by staling the recorded fingerprint — the
    # exact signal should_full_rewrite keys on.)
    cp.set("silver_splits_fingerprint", "stale-after-correction")
    assert run_silver(spark, cat, cp)["mode"] == "full"

    # next day: silver appends again. Gold's last run predates the rewrite,
    # so incremental would keep stale history — it must rebuild fully.
    days3 = trading_days(D(2024, 1, 2), D(2024, 1, 16))
    run_bronze(spark, _source(days3), cat, cp, D(2024, 1, 2), D(2024, 1, 16))
    assert run_silver(spark, cat, cp)["mode"] == "append"
    g = run_gold(spark, cat, hvc_threshold=0.5, min_steps=2, checkpoints=cp)
    assert g["mode"] == "full"
    # gold rows now reflect the corrected split everywhere
    vwap = read_table(spark, cat.gold("vwap_signals"))
    msft_jan4 = vwap.filter(
        (F.col("ticker") == "MSFT") & (F.col("date") == F.lit(D(2024, 1, 4)))
    ).first()
    daily = read_table(spark, cat.silver("daily_aggregates"))
    silver_jan4 = daily.filter(
        (F.col("ticker") == "MSFT") & (F.col("date") == F.lit(D(2024, 1, 4)))
    ).first()
    assert msft_jan4["close"] == pytest.approx(silver_jan4["close"])

    # and once consumed, the cadence returns to incremental
    days4 = trading_days(D(2024, 1, 2), D(2024, 1, 18))
    run_bronze(spark, _source(days4), cat, cp, D(2024, 1, 2), D(2024, 1, 18))
    assert run_silver(spark, cat, cp)["mode"] == "append"
    g = run_gold(spark, cat, hvc_threshold=0.5, min_steps=2, checkpoints=cp)
    assert g["mode"] == "incremental"


def test_gold_incremental_crash_retry_converges(spark, tmp_path):
    """ADVICE r7 medium: a gold incremental run that appended its closes
    delta (and some idempotent HVC writes) but died BEFORE the committing
    vwap_signals append must, on retry, converge to the clean-run tables —
    no duplicated extract rows, no silently-missing HVC/extract history."""
    from pyspark.sql import functions as F

    from tickerlake_spark.operators.closes import append_closes_extract
    from tickerlake_spark.storage import get_max_date
    from tickerlake_spark import schemas as _schemas
    from tickerlake_spark.operators.hvc import hvc_events

    days = trading_days(D(2024, 1, 2), D(2024, 2, 20))
    n = len(days)
    spikes = {25, 26, 27, n - 2, n - 1}
    bars = {}
    for i, d in enumerate(days):
        if i in spikes:
            rows = _bars_for(d, price=150.0 + 2.0 * i)
            for r in rows:
                r["volume"] *= 12
        else:
            rows = _bars_for(d, price=100.0 + 3 * (i % 7) - 0.5 * (i % 3))
        bars[d] = rows

    def src(dates):
        s = _source(dates)
        s._bars = {d: bars[d] for d in dates}
        return s

    def collect(cat, table):
        df = read_table(spark, cat.path("gold", table))
        rounded = df.select(
            *[
                F.round(c, 9).alias(c) if t == "double" else F.col(c)
                for c, t in sorted(df.dtypes)
            ]
        )
        return sorted(
            map(tuple, rounded.collect()),
            key=lambda row: tuple(
                (v is not None, v if v is not None else 0) for v in row
            ),
        )

    stamp = dt.datetime(2024, 3, 1, 12, 0, 0)

    # lake A: full build, silver append, then a SIMULATED CRASHED gold run
    cat_a = Catalog(root=str(tmp_path / "a"))
    cp_a = Checkpoints(str(tmp_path / "cp_a.json"))
    run_bronze(spark, src(days[:-2]), cat_a, cp_a, days[0], days[-3])
    run_silver(spark, cat_a, cp_a)
    assert run_gold(spark, cat_a, calculated_at=stamp, checkpoints=cp_a)["mode"] == "full"
    run_bronze(spark, src(days), cat_a, cp_a, days[0], days[-1])
    assert run_silver(spark, cat_a, cp_a)["mode"] == "append"

    # replicate the pre-commit phase by hand, then "crash": extract delta
    # appended, one HVC commit done, NO signals commit
    watermark = get_max_date(spark, cat_a.gold("vwap_signals"))
    wm = D.fromisoformat(watermark)
    daily = read_table(spark, cat_a.silver("daily_aggregates"))
    delta = daily.filter(F.col("date") > F.lit(wm))
    append_closes_extract(
        spark, delta.select("ticker", "date", "close"),
        cat_a.gold("closes_by_ticker"),
    )
    new_events = hvc_events(
        read_table(spark, cat_a.silver("daily_indicators")).filter(
            F.col("date") > F.lit(wm)
        ),
        delta,
    )
    # an HVC commit of the same delta (hvc_daily is a snapshot table — the
    # retry's range replace must converge instead of doubling)
    from tickerlake_spark.storage.snapshots import snap_upsert

    snap_upsert(
        spark,
        cat_a.gold("hvc_daily"),
        _schemas.conform(new_events, _schemas.HVC_EVENTS),
        keys=["date", "ticker"],
        stats_cols=("date",),
        validate_unique=False,
    )

    # the retry: must take the incremental path, see the extract already
    # past its watermark (replace arm, no duplicate rows), and redo the
    # full delta
    g = run_gold(spark, cat_a, calculated_at=stamp, checkpoints=cp_a)
    assert g["mode"] == "incremental"

    # lake B: the clean path over the same bronze data
    cat_b = Catalog(root=str(tmp_path / "b"))
    cp_b = Checkpoints(str(tmp_path / "cp_b.json"))
    run_bronze(spark, src(days[:-2]), cat_b, cp_b, days[0], days[-3])
    run_silver(spark, cat_b, cp_b)
    run_gold(spark, cat_b, calculated_at=stamp, checkpoints=cp_b)
    run_bronze(spark, src(days), cat_b, cp_b, days[0], days[-1])
    run_silver(spark, cat_b, cp_b)
    assert run_gold(spark, cat_b, calculated_at=stamp, checkpoints=cp_b)["mode"] == "incremental"

    for table in (
        "vwap_signals",
        "closes_by_ticker",
        "hvc_daily",
        "hvc_weekly",
        "hvc_monthly",
        "stairstep_up",
        "stairstep_down",
        "best_patterns",
        "best_patterns_down",
    ):
        assert collect(cat_a, table) == collect(cat_b, table), table


def test_two_sequential_appends_use_tails_and_match_full(
    spark, tmp_path, monkeypatch
):
    """VERDICT r7 item 5: the first append after a full rewrite installs the
    indicator-tail state (fallback horizon path), the SECOND append must
    take the O(state) tail path — and every silver table must still equal a
    from-scratch rebuild byte-for-byte. Both appends are forward, so they
    commit through appends and range replaces: no keyed MERGE at all."""
    from pyspark.sql import functions as F

    import tickerlake_spark.pipeline as pipeline

    def no_upsert(*args, **kwargs):
        raise AssertionError("a forward append ran upsert_table")

    monkeypatch.setattr(pipeline, "upsert_table", no_upsert)

    days = trading_days(D(2024, 1, 2), D(2024, 2, 20))
    bars = {
        d: _bars_for(d, price=100.0 + 3 * (i % 7) - 0.5 * (i % 3))
        for i, d in enumerate(days)
    }

    def src(dates):
        s = _source(dates)
        s._bars = {d: bars[d] for d in dates}
        return s

    def collect(cat, table):
        df = read_table(spark, cat.path("silver", table))
        return sorted(
            map(tuple, df.select(*sorted(df.columns)).collect()),
            key=lambda row: tuple(
                (v is not None, v if v is not None else 0) for v in row
            ),
        )

    cat_a = Catalog(root=str(tmp_path / "a"))
    cp_a = Checkpoints(str(tmp_path / "cp_a.json"))
    run_bronze(spark, src(days[:-2]), cat_a, cp_a, days[0], days[-3])
    assert run_silver(spark, cat_a, cp_a)["mode"] == "full"
    assert cp_a.get("silver_tail_as_of") is None

    run_bronze(spark, src(days[:-1]), cat_a, cp_a, days[0], days[-2])
    assert run_silver(spark, cat_a, cp_a)["mode"] == "append"
    # first append installed the tails at the new watermark
    assert cp_a.get("silver_tail_as_of") == days[-2].isoformat()
    for g in ("daily", "week", "month"):
        assert table_exists(cat_a.silver(f"indicator_tail_{g}")), g

    run_bronze(spark, src(days), cat_a, cp_a, days[0], days[-1])
    assert run_silver(spark, cat_a, cp_a)["mode"] == "append"  # tail path
    assert cp_a.get("silver_tail_as_of") == days[-1].isoformat()

    cat_b = Catalog(root=str(tmp_path / "b"))
    cp_b = Checkpoints(str(tmp_path / "cp_b.json"))
    run_bronze(spark, src(days), cat_b, cp_b, days[0], days[-1])
    assert run_silver(spark, cat_b, cp_b)["mode"] == "full"

    for table in (
        "daily_aggregates",
        "weekly_aggregates",
        "monthly_aggregates",
        "daily_indicators",
        "weekly_indicators",
        "monthly_indicators",
    ):
        assert collect(cat_a, table) == collect(cat_b, table), table
    # and the tail state itself matches a fresh build over the final lake
    from tickerlake_spark.operators.indicator_state import build_tail

    for grain, agg in (
        ("daily", "daily_aggregates"),
        ("week", "weekly_aggregates"),
        ("month", "monthly_aggregates"),
    ):
        got = collect(cat_a, f"indicator_tail_{grain}")
        want_df = build_tail(read_table(spark, cat_b.silver(agg)))
        want = sorted(
            map(
                tuple,
                want_df.select(*sorted(want_df.columns)).collect(),
            ),
            key=lambda row: tuple(
                (v is not None, v if v is not None else 0) for v in row
            ),
        )
        assert got == want, grain


_CRASH_DAYS = trading_days(D(2024, 1, 2), D(2024, 2, 20))
_CRASH_BARS = {
    d: _bars_for(d, price=100.0 + 3 * (i % 7) - 0.5 * (i % 3))
    for i, d in enumerate(_CRASH_DAYS)
}
_SILVER_TABLES = (
    "daily_aggregates",
    "weekly_aggregates",
    "monthly_aggregates",
    "daily_indicators",
    "weekly_indicators",
    "monthly_indicators",
)


def _crash_source(dates):
    s = _source(dates)
    s._bars = {d: _CRASH_BARS[d] for d in dates}
    return s


def _sorted_rows(df):
    return sorted(
        map(tuple, df.select(*sorted(df.columns)).collect()),
        key=lambda row: tuple(
            (v is not None, v if v is not None else 0) for v in row
        ),
    )


def _silver_rows(spark, cat, table):
    return _sorted_rows(read_table(spark, cat.path("silver", table)))


def _assert_silver_matches_full_rewrite(spark, cat_a, tmp_path):
    """Every silver table of ``cat_a`` and its three indicator tails equal
    a full rewrite over all of ``_CRASH_DAYS``."""
    from tickerlake_spark.operators.indicator_state import build_tail

    cat_b = Catalog(root=str(tmp_path / "b"))
    cp_b = Checkpoints(str(tmp_path / "cp_b.json"))
    run_bronze(
        spark, _crash_source(_CRASH_DAYS), cat_b, cp_b, _CRASH_DAYS[0],
        _CRASH_DAYS[-1],
    )
    assert run_silver(spark, cat_b, cp_b)["mode"] == "full"
    for table in _SILVER_TABLES:
        assert _silver_rows(spark, cat_a, table) == _silver_rows(
            spark, cat_b, table
        ), table
    for grain, agg in (
        ("daily", "daily_aggregates"),
        ("week", "weekly_aggregates"),
        ("month", "monthly_aggregates"),
    ):
        want = _sorted_rows(build_tail(read_table(spark, cat_b.silver(agg))))
        assert _silver_rows(spark, cat_a, f"indicator_tail_{grain}") == want, grain


def _lake_one_append_behind(spark, tmp_path):
    """A lake fully built to the third-last crash day and appended once,
    with bronze landed for every crash day."""
    days = _CRASH_DAYS
    cat = Catalog(root=str(tmp_path / "a"))
    cp = Checkpoints(str(tmp_path / "cp_a.json"))
    run_bronze(spark, _crash_source(days[:-2]), cat, cp, days[0], days[-3])
    assert run_silver(spark, cat, cp)["mode"] == "full"
    run_bronze(spark, _crash_source(days[:-1]), cat, cp, days[0], days[-2])
    assert run_silver(spark, cat, cp)["mode"] == "append"
    return cat, cp


def test_append_recovers_half_written_day(spark, tmp_path):
    """A crash after the append's daily_aggregates commit but before its
    daily_indicators commit leaves the aggregates one day ahead, with the
    tails' as_of still at the day before. The next append must resume
    from the LAGGING watermark, re-cover the half-written day through the
    upsert arm, and leave every silver table (and the tails) equal to a
    full rewrite over the same bronze."""
    import shutil

    days = _CRASH_DAYS
    cat_a, cp_a = _lake_one_append_behind(spark, tmp_path)

    # the crash state of day D = days[-2]: its aggregates landed, its
    # indicator rows and the tail swaps did not
    shutil.rmtree(f"{cat_a.silver('daily_indicators')}/date={days[-2].isoformat()}")
    cp_a.set("silver_tail_as_of", days[-3].isoformat())

    run_bronze(spark, _crash_source(days), cat_a, cp_a, days[0], days[-1])
    assert run_silver(spark, cat_a, cp_a)["mode"] == "append"
    assert cp_a.get("silver_tail_as_of") == days[-1].isoformat()
    _assert_silver_matches_full_rewrite(spark, cat_a, tmp_path)


def test_append_recovers_crash_before_daily_indicators(
    spark, tmp_path, monkeypatch
):
    """The daily-indicator chain runs beside the weekly/monthly chains, so
    a crash can land the weekly/monthly range replace while the
    daily_indicators write fails. The retry resumes from the lagging
    watermark, upserts the daily tables and range-replaces the buckets
    again: every silver table and the three tails must then equal a full
    rewrite over the same bronze."""
    import tickerlake_spark.pipeline as pipeline
    from tickerlake_spark.storage import get_max_date

    days = _CRASH_DAYS
    cat_a, cp_a = _lake_one_append_behind(spark, tmp_path)
    run_bronze(spark, _crash_source(days), cat_a, cp_a, days[0], days[-1])
    weekly_before = _silver_rows(spark, cat_a, "weekly_aggregates")

    real_write = pipeline.write_table

    def failing_write(df, path, *args, **kwargs):
        if path == cat_a.silver("daily_indicators"):
            raise RuntimeError("injected crash before the daily_indicators write")
        return real_write(df, path, *args, **kwargs)

    monkeypatch.setattr(pipeline, "write_table", failing_write)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_silver(spark, cat_a, cp_a)
    monkeypatch.undo()
    # the crash state: the weekly range already holds the last day, while
    # daily_indicators and silver_tail_as_of lag one day behind
    assert _silver_rows(spark, cat_a, "weekly_aggregates") != weekly_before
    last, behind = days[-1].isoformat(), days[-2].isoformat()
    assert get_max_date(spark, cat_a.silver("daily_aggregates")) == last
    assert get_max_date(spark, cat_a.silver("daily_indicators")) == behind
    assert cp_a.get("silver_tail_as_of") == behind

    assert run_silver(spark, cat_a, cp_a)["mode"] == "append"
    assert cp_a.get("silver_tail_as_of") == last
    _assert_silver_matches_full_rewrite(spark, cat_a, tmp_path)


def test_mixed_universe_semantics(spark, tmp_path):
    """VERDICT r8 item 2: silver restricts bars to the CS/ETF metadata
    universe CONSISTENTLY on the full-rewrite path, the append path, and
    the streaming maintainer (the reference's own paths disagree —
    silver/main.py:43-85 appends everything, :152-156 rewrites CS/ETF
    only; this engine pins the full-rewrite universe on all paths,
    documented in COVERAGE.md)."""
    from tickerlake_spark import schemas
    from tickerlake_spark.pipeline import run_gold, run_silver
    from tickerlake_spark.sources.market import InMemoryMarketSource
    from tickerlake_spark.streaming.medallion import silver_maintenance_batch

    days = trading_days(D(2024, 1, 2), D(2024, 1, 19))
    trio = ("AAPL", "SPYX", "FUNDX")

    def src_for(day_slice):
        return InMemoryMarketSource(
            bars_by_date={d: _bars_for(d, tickers=trio) for d in day_slice},
            ticker_rows=[
                {"ticker": "AAPL", "name": "Apple", "type": "CS",
                 "active": True, "market": "stocks", "locale": "us",
                 "primary_exchange": "XNAS", "currency_name": "usd", "cik": "1"},
                {"ticker": "SPYX", "name": "Spyx ETF", "type": "ETF",
                 "active": True, "market": "stocks", "locale": "us",
                 "primary_exchange": "XNAS", "currency_name": "usd", "cik": "2"},
                {"ticker": "FUNDX", "name": "Fund", "type": "FUND",
                 "active": True, "market": "stocks", "locale": "us",
                 "primary_exchange": "XNAS", "currency_name": "usd", "cik": "3"},
            ],
            split_rows=[
                {"id": "s1", "ticker": "AAPL",
                 "execution_date": days[3], "split_from": 1.0, "split_to": 2.0},
            ],
        )

    cat = Catalog(root=str(tmp_path / "data"))
    cp = Checkpoints(str(tmp_path / "cp.json"))

    # FULL REWRITE path: FUND bars present in bronze, absent from silver
    run_bronze(spark, src_for(days[:-2]), cat, cp, days[0], days[-3])
    assert run_silver(spark, cat, cp)["mode"] == "full"
    silver_tickers = {
        r.ticker
        for r in read_table(spark, cat.silver("daily_aggregates"))
        .select("ticker").distinct().collect()
    }
    assert silver_tickers == {"AAPL", "SPYX"}
    bronze_tickers = {
        r.ticker
        for r in read_table(spark, cat.bronze("stocks"))
        .select("ticker").distinct().collect()
    }
    assert "FUNDX" in bronze_tickers  # bronze keeps everything

    # APPEND path: one more day, FUND bars still excluded
    run_bronze(spark, src_for(days), cat, cp, days[0], days[-2])
    assert run_silver(spark, cat, cp)["mode"] == "append"
    daily = read_table(spark, cat.silver("daily_aggregates"))
    assert {
        r.ticker for r in daily.select("ticker").distinct().collect()
    } == {"AAPL", "SPYX"}
    assert daily.count() == 2 * (len(days) - 1)
    for tbl in ("weekly_aggregates", "daily_indicators"):
        got = {
            r.ticker
            for r in read_table(spark, cat.silver(tbl))
            .select("ticker").distinct().collect()
        }
        assert got == {"AAPL", "SPYX"}, tbl

    # gold inherits the universe from silver
    run_gold(spark, cat, hvc_threshold=0.5, min_steps=2,
             calculated_at=dt.datetime(2026, 1, 1), checkpoints=cp)
    vwap_tickers = {
        r.ticker
        for r in read_table(spark, cat.gold("vwap_signals"))
        .select("ticker").distinct().collect()
    }
    assert vwap_tickers == {"AAPL", "SPYX"}

    # STREAMING maintainer: a micro-batch carrying FUND bars drops them
    batch = schemas.conform(
        spark.createDataFrame(
            [{**row, "date": days[-1]} for row in _bars_for(days[-1], tickers=trio)]
        ),
        schemas.STOCKS,
    )
    silver_maintenance_batch(spark, cat, batch)
    daily = read_table(spark, cat.silver("daily_aggregates"))
    assert {
        r.ticker for r in daily.select("ticker").distinct().collect()
    } == {"AAPL", "SPYX"}
    assert daily.count() == 2 * len(days)


def test_full_rewrite_indicator_mask_probe(spark, tmp_path):
    """VERDICT r8 item 3: the full rewrite takes the ordinal-mask indicator
    fast path only when footer statistics PROVE non-null inputs; a single
    null bar routes that grain back to the strict count mask and keeps
    Polars-style null-window semantics."""
    from tickerlake_spark import schemas
    from tickerlake_spark.pipeline import run_silver
    from tickerlake_spark.sources.market import InMemoryMarketSource

    days = trading_days(D(2024, 1, 2), D(2024, 1, 19))

    # clean corpus -> every grain proves non-null -> ordinal masks
    cat = Catalog(root=str(tmp_path / "clean"))
    cp = Checkpoints(str(tmp_path / "cp1.json"))
    run_bronze(spark, _source(days), cat, cp, days[0], days[-1])
    s = run_silver(spark, cat, cp)
    assert s["mode"] == "full"
    assert s["indicator_masks"] == {
        "daily_indicators": "ordinal",
        "weekly_indicators": "ordinal",
        "monthly_indicators": "ordinal",
    }

    # a null-volume bar -> daily must fall back to the count mask
    cat2 = Catalog(root=str(tmp_path / "dirty"))
    cp2 = Checkpoints(str(tmp_path / "cp2.json"))

    def bars(d):
        rows = _bars_for(d)
        if d == days[5]:
            rows[0] = {**rows[0], "volume": None}
        return rows

    src = InMemoryMarketSource(
        bars_by_date={d: bars(d) for d in days},
        ticker_rows=[
            {"ticker": "AAPL", "name": "Apple", "type": "CS", "active": True,
             "market": "stocks", "locale": "us", "primary_exchange": "XNAS",
             "currency_name": "usd", "cik": "1"},
            {"ticker": "MSFT", "name": "Microsoft", "type": "CS", "active": True,
             "market": "stocks", "locale": "us", "primary_exchange": "XNAS",
             "currency_name": "usd", "cik": "2"},
        ],
        split_rows=[],
    )
    run_bronze(spark, src, cat2, cp2, days[0], days[-1])
    s2 = run_silver(spark, cat2, cp2)
    assert s2["mode"] == "full"
    assert s2["indicator_masks"]["daily_indicators"] == "count"
    # strict semantics preserved: the ticker with the null bar has no
    # 10-day volume MA on any window containing it... (window 20 > corpus
    # length here, so volume_ma_20 is null everywhere; the point is the
    # count mask ran without error and produced the strict frame)
    ind = read_table(spark, cat2.silver("daily_indicators"))
    assert ind.filter("volume_ratio IS NOT NULL").count() == 0


def test_universe_change_forces_full_rewrite(spark, tmp_path):
    """r9 review finding: a ticker reclassified into CS/ETF must trigger a
    full rewrite — the append path can only admit bars past the watermark,
    so without the universe fingerprint its HISTORY would never reach
    silver (and a declassified ticker's stale history would linger)."""
    from tickerlake_spark.pipeline import run_silver
    from tickerlake_spark.sources.market import InMemoryMarketSource

    days = trading_days(D(2024, 1, 2), D(2024, 1, 19))
    trio = ("AAPL", "SPYX", "FUNDX")

    def src_for(day_slice, fundx_type):
        return InMemoryMarketSource(
            bars_by_date={d: _bars_for(d, tickers=trio) for d in day_slice},
            ticker_rows=[
                {"ticker": "AAPL", "name": "Apple", "type": "CS",
                 "active": True, "market": "stocks", "locale": "us",
                 "primary_exchange": "XNAS", "currency_name": "usd", "cik": "1"},
                {"ticker": "SPYX", "name": "Spyx ETF", "type": "ETF",
                 "active": True, "market": "stocks", "locale": "us",
                 "primary_exchange": "XNAS", "currency_name": "usd", "cik": "2"},
                {"ticker": "FUNDX", "name": "Fund", "type": fundx_type,
                 "active": True, "market": "stocks", "locale": "us",
                 "primary_exchange": "XNAS", "currency_name": "usd", "cik": "3"},
            ],
            split_rows=[],
        )

    cat = Catalog(root=str(tmp_path / "data"))
    cp = Checkpoints(str(tmp_path / "cp.json"))
    run_bronze(spark, src_for(days[:-1], "FUND"), cat, cp, days[0], days[-2])
    assert run_silver(spark, cat, cp)["mode"] == "full"
    assert {
        r.ticker
        for r in read_table(spark, cat.silver("daily_aggregates"))
        .select("ticker").distinct().collect()
    } == {"AAPL", "SPYX"}

    # FUNDX is reclassified FUND -> CS; one new day lands in bronze. An
    # append would admit only FUNDX's newest bar — the fingerprint forces
    # the rewrite that backfills its whole history.
    run_bronze(spark, src_for(days, "CS"), cat, cp, days[0], days[-1])
    s = run_silver(spark, cat, cp)
    assert s["mode"] == "full"
    daily = read_table(spark, cat.silver("daily_aggregates"))
    fundx_days = daily.filter("ticker = 'FUNDX'").count()
    assert fundx_days == len(days)  # full history, not just the new day

    # stable universe afterwards: next day appends normally
    # (no further bronze change -> noop is also acceptable evidence the
    # fingerprint is stable)
    s2 = run_silver(spark, cat, cp)
    assert s2["mode"] == "noop"


def test_universe_fingerprint_collision_resistance(spark, tmp_path):
    """VERDICT r9 item 4: the old fingerprint sum(pmod(xxhash64, 2^31-1))
    missed an add+remove pair whose hashes collide mod 2^31-1 — silver
    would silently skip the full rewrite a reclassification requires.
    'U004267' and 'U004654' are such a crafted pair (found by birthday
    search over Spark's xxhash64: both ≡ 90764143 mod 2147483647, full
    hashes 6983233432026748880 vs 2150339415941701330). The full-width
    sum+xor fingerprint must tell the two universes apart."""
    from pyspark.sql import functions as F

    from tickerlake_spark.pipeline import _universe_fingerprint
    from tickerlake_spark.storage import write_table

    a, b = "U004267", "U004654"
    # pin the crafted pair's collision property inside the engine's own
    # hash (if Spark's xxhash64 ever changed, this test must find out)
    got = (
        spark.createDataFrame([(a,), (b,)], "t string")
        .select(
            F.pmod(F.xxhash64("t"), F.lit(2_147_483_647)).alias("m"),
            F.xxhash64("t").alias("h"),
        )
        .collect()
    )
    assert got[0]["m"] == got[1]["m"], "pair no longer collides mod 2^31-1"
    assert got[0]["h"] != got[1]["h"]

    def fp(tickers, sub):
        cat = Catalog(root=str(tmp_path / sub))
        meta = spark.createDataFrame(
            [(t, "N", "CS", "XNAS", True, "1") for t in tickers],
            "ticker string, name string, type string, primary_exchange string, "
            "active boolean, cik string",
        )
        write_table(meta, cat.silver("ticker_metadata"))
        return _universe_fingerprint(spark, cat)

    # swap a -> b: the old mod-2^31-1 sum is IDENTICAL for these universes
    assert fp(["AAPL", a], "u1") != fp(["AAPL", b], "u2")
    # sanity: identical universes agree regardless of row order
    assert fp([a, "AAPL"], "u3") == fp(["AAPL", a], "u4")


def test_full_rebuilds_leak_no_caches(spark, tmp_path):
    """r9: the concurrent full-rebuild chains persist four shared frames
    (narrow, vwap aug, events, stairstep seq; silver tails/contexts) — all
    must be unpersisted when the runs return, or every splits-triggered
    rebuild would leak executor memory."""
    from tickerlake_spark.pipeline import run_gold, run_silver
    from tickerlake_spark.sources.market import InMemoryMarketSource

    days = trading_days(D(2024, 1, 2), D(2024, 1, 19))
    cat = Catalog(root=str(tmp_path / "data"))
    cp = Checkpoints(str(tmp_path / "cp.json"))
    run_bronze(spark, _source(days), cat, cp, days[0], days[-1])

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert run_silver(spark, cat, cp)["mode"] == "full"
    run_gold(spark, cat, checkpoints=cp, with_counts=False)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    added = after - before
    assert not added, f"full rebuild leaked {len(added)} cached RDDs"


def test_gold_fact_tables_snapshot_committed_and_versioned(spark, tmp_path):
    """r11 (extends VERDICT r10 item 4): the signal AND HVC fact tables are
    manifest-committed — the full build is version 1 of each, an
    incremental run advances them atomically, and the pre-append version
    stays readable (time travel) inside the vacuum retention window."""
    from tickerlake_spark.pipeline import _SNAP_GOLD_TABLES
    from tickerlake_spark.storage.snapshots import (
        is_snapshot_table,
        snap_current_version,
        snap_read,
    )

    cat = Catalog(root=str(tmp_path / "data"))
    cp = Checkpoints(str(tmp_path / "cp.json"))
    days = trading_days(D(2024, 1, 2), D(2024, 2, 2))
    src = _source(days)
    run_bronze(spark, src, cat, cp, days[0], days[-2])
    run_silver(spark, cat, cp)
    g1 = run_gold(spark, cat, hvc_threshold=0.5, min_steps=2, checkpoints=cp)
    assert g1["mode"] == "full"
    for t in _SNAP_GOLD_TABLES:
        assert is_snapshot_table(cat.gold(t)), t
        assert snap_current_version(cat.gold(t)) == 1, t
    hvc_v1_rows = snap_read(spark, cat.gold("hvc_daily"), version=1).count()
    assert hvc_v1_rows > 0  # threshold 0.5 on flat volume -> every MA day

    run_bronze(spark, src, cat, cp, days[0], days[-1])
    assert run_silver(spark, cat, cp)["mode"] == "append"
    g2 = run_gold(spark, cat, hvc_threshold=0.5, min_steps=2, checkpoints=cp)
    assert g2["mode"] == "incremental"
    # every fact table advanced exactly one version: signals via the
    # append commit, hvc_daily via the keyed merge, the faces via the
    # open-bucket range replace
    for t in _SNAP_GOLD_TABLES:
        assert snap_current_version(cat.gold(t)) == 2, t
    # time travel: the pre-append hvc_daily is still exactly itself
    assert snap_read(spark, cat.gold("hvc_daily"), version=1).count() == hvc_v1_rows
    assert snap_read(spark, cat.gold("hvc_daily")).count() > hvc_v1_rows


def test_gold_relation_sql_layout_dispatch(spark, tmp_path):
    """The published-view DDL's relation for a gold table: plain path on
    the Hive layout; on a SNAPSHOT table a pinned-file-list UNION ALL that
    executes; on an EMPTY snapshot version a typed zero-row relation."""
    import datetime as dtm

    from tickerlake_spark.sql import _gold_relation_sql
    from tickerlake_spark.storage import write_table
    from tickerlake_spark.storage.snapshots import snap_write

    cat = Catalog(root=str(tmp_path / "lake"))
    ev = spark.createDataFrame(
        [("AAPL", dtm.date(2024, 1, 8), 5.0)],
        "ticker string, date date, volume_ratio double",
    )
    # Hive layout
    write_table(ev, cat.gold("hvc_daily"), partition_by="date")
    assert _gold_relation_sql(cat, "hvc_daily") == f"parquet.`{cat.gold('hvc_daily')}`"
    # snapshot layout: relation executes and returns the committed rows
    snap_write(spark, ev, cat.gold("hvc_weekly"), stats_cols=("date",))
    rel = _gold_relation_sql(cat, "hvc_weekly")
    assert "UNION ALL" in rel or rel.count("parquet.`") == 1
    assert spark.sql(f"SELECT COUNT(*) AS n FROM {rel}").first()["n"] == 1
    # empty snapshot version: typed zero-row relation still executes
    snap_write(spark, ev.limit(0), cat.gold("hvc_monthly"))
    rel0 = _gold_relation_sql(cat, "hvc_monthly")
    out = spark.sql(f"SELECT * FROM {rel0}")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["ticker", "date", "volume_ratio"]
