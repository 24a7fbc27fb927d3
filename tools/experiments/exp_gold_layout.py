#!/usr/bin/env python
"""R9 experiment: isolate the vwap_signals full-build stage cost at 10x and
compare write layouts. Phase 1 (setup): generate bronze + run silver full.
Phase 2: time signal-stage variants."""
import json
import os
import sys
import time

REPO = "/root/repo"
sys.path.insert(0, REPO)
ROOT = "/tmp/tickerlake_10x_r9"

import datetime as dt

from pyspark.sql import functions as F


def setup():
    from tools.bench_e2e import generate_bronze
    from tickerlake_spark.pipeline import run_silver
    from tickerlake_spark.session import get_spark
    from tickerlake_spark.sources.calendar import trading_days
    from tickerlake_spark.storage import Catalog, Checkpoints

    spark = get_spark(app_name="exp-gold-setup")
    spark.sparkContext.setLogLevel("ERROR")
    catalog = Catalog(root=ROOT)
    cp = Checkpoints(path=os.path.join(ROOT, "checkpoints.json"))
    end = dt.date(2025, 12, 31)
    days = trading_days(dt.date(end.year - 4, 1, 1), end)
    t0 = time.perf_counter()
    n = generate_bronze(spark, catalog, 100_000, days[:-2])
    print("gen_sec", round(time.perf_counter() - t0, 1), "bars", n, flush=True)
    t0 = time.perf_counter()
    s = run_silver(spark, catalog, cp)
    print("silver_sec", round(time.perf_counter() - t0, 1), flush=True)
    print(json.dumps(s.get("timings"), indent=1), flush=True)


def variants():
    from tickerlake_spark.operators.vwap import vwap_signals
    from tickerlake_spark.session import get_spark
    from tickerlake_spark.storage import Catalog, read_table, write_table

    spark = get_spark(app_name="exp-gold-variants")
    spark.sparkContext.setLogLevel("ERROR")
    catalog = Catalog(root=ROOT)
    from tickerlake_spark import schemas

    daily = read_table(spark, catalog.silver("daily_aggregates"))
    narrow = daily.select("ticker", "date", "close", "volume").persist()
    narrow.count()
    stamp = dt.datetime(2026, 1, 1)

    def mk():
        signals = vwap_signals(narrow, calculated_at=stamp)
        return schemas.conform(signals, schemas.VWAP_SIGNALS), None, signals

    results = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        fn()
        results[name] = round(time.perf_counter() - t0, 1)
        print(name, results[name], flush=True)

    # A0: pure compute, no layout (noop sink)
    def a0():
        sig, _, shared = mk()
        sig.write.format("noop").mode("overwrite").save()

    timed("A0_noop", a0)

    # A: current — repartition(date) + partitionBy(date)
    def a():
        sig, _, shared = mk()
        shared.persist()
        write_table(sig.repartition("date"), os.path.join(ROOT, "exp_sig_a"),
                    partition_by="date")
        shared.unpersist()

    timed("A_date_dirs", a)

    # B: year dirs — range partition on date (64 tasks), sorted by date
    def b():
        sig, _, shared = mk()
        shared.persist()
        out = sig.withColumn("year", F.year("date"))
        write_table(
            out.repartitionByRange(64, "date").sortWithinPartitions("date"),
            os.path.join(ROOT, "exp_sig_b"),
            partition_by="year",
        )
        shared.unpersist()

    timed("B_year_dirs", b)

    # C: month dirs
    def c():
        sig, _, shared = mk()
        shared.persist()
        out = sig.withColumn("month", F.date_format("date", "yyyy-MM"))
        write_table(
            out.repartitionByRange(64, "date").sortWithinPartitions("date"),
            os.path.join(ROOT, "exp_sig_c"),
            partition_by="month",
        )
        shared.unpersist()

    timed("C_month_dirs", c)

    # D: date dirs but WITHOUT the extra repartition (window output order),
    # maxRecordsPerFile irrelevant; shows the shuffle share
    def d():
        sig, _, shared = mk()
        shared.persist()
        write_table(
            sig.sortWithinPartitions("date"),
            os.path.join(ROOT, "exp_sig_d"),
            partition_by="date",
        )
        shared.unpersist()

    timed("D_date_dirs_norepart", d)

    print(json.dumps(results), flush=True)


if __name__ == "__main__":
    {"setup": setup, "variants": variants}[sys.argv[1]]()
