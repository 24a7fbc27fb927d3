"""Ticker-hash-partitioned closes extract: O(affected) stair-step reads.

The gold stair-step recompute needs FULL-HISTORY closes, but only for the
~2% of tickers that produced a new HVC event (reference semantics:
gold/stairsteps.py recomputes per-ticker islands over all closes). On the
date-partitioned silver table that read cannot prune anything — a semi-join
on ticker touches every date directory — so at 10x it was measured at the
cost of a full silver scan (VERDICT r6, "What's wrong #1b").

This extract re-clusters (ticker, date, close) by a hash of the ticker:

- Hive-partitioned on ``tb = pmod(xxhash64(ticker), N_TICKER_BUCKETS)`` —
  a bounded partition count independent of ticker cardinality;
- sorted by (ticker, date) inside each partition, so parquet row-group
  min/max stats prune to the affected tickers WITHIN a touched bucket;
- a parquet bloom filter on ticker for point-lookup row-group skipping
  (min/max is weak when a bucket holds many tickers) in the files the full
  build writes; a daily append's files are too small to need one.

Reads collect the (small) affected-ticker set and filter with literal
predicates — ``tb IN (...)`` prunes directories, ``ticker IN (...)``
pushes to parquet (session.py raises the In-pushdown threshold) — so the
scan cost is O(affected tickers' row groups), not O(history). Maintenance
(``pipeline.apply_gold_delta``) appends a batch whose dates all lie past the
extract's own max date, plus ``compact_partition_dirs`` when a bucket
accretes too many part files; any other batch (a retry, a replay, a late
bar) replaces exactly its (tb, ticker, date) keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tickerlake_spark.storage import read_table, table_exists, write_table
from tickerlake_spark.storage.fs import FS, LOCAL_FS
from tickerlake_spark.storage.maintenance import compact_partition_dirs

__all__ = [
    "N_TICKER_BUCKETS",
    "with_ticker_bucket",
    "write_closes_extract",
    "append_closes_extract",
    "read_closes_for",
]

# 64 buckets: at 100 TB / ~10k tickers a bucket holds ~150 tickers' history
# (~1.5% of the table) — small enough that touching a bucket for one ticker
# wastes little, large enough that directory listings stay trivial.
N_TICKER_BUCKETS = 64


def _bucket_of(ticker: Column, n: int = N_TICKER_BUCKETS) -> Column:
    """The hash bucket of ``ticker`` (stable across runs: xxhash64)."""
    return F.pmod(F.xxhash64(ticker), F.lit(n)).cast("int")


def with_ticker_bucket(df: DataFrame, n: int = N_TICKER_BUCKETS) -> DataFrame:
    """Add the hash-bucket column ``tb``."""
    return df.withColumn("tb", _bucket_of(F.col("ticker"), n))


def _extract_frame(daily: DataFrame) -> DataFrame:
    return with_ticker_bucket(daily.select("ticker", "date", "close"))


def write_closes_extract(
    daily: DataFrame, path: str, mode: str = "overwrite", fs: FS = LOCAL_FS
) -> None:
    """(Re)build or append the extract. One shuffle on tb clusters whole
    buckets per task; the within-partition sort restores (ticker, date)
    row-group locality. Only a rebuild writes the ticker bloom filter: an
    appended file holds one day's rows, so its ticker min/max already
    prunes, and a filter sized for the whole universe would outweigh the
    rows it indexes (compaction rewrites those files without one too)."""
    ext = (
        _extract_frame(daily)
        .repartition("tb")
        .sortWithinPartitions("ticker", "date")
    )
    write_table(
        ext,
        path,
        mode=mode,
        partition_by="tb",
        bloom_cols={"ticker": 16_384} if mode == "overwrite" else None,
        # small row groups: the read path prunes on ticker min/max + bloom
        # PER ROW GROUP, and a bucket compressed into one 128 MB group
        # defeats that — 16 MB groups keep each one a narrow sorted ticker
        # range, so an In-filter over the affected set skips precisely
        options={"parquet.block.size": str(16 * 1024 * 1024)},
        fs=fs,
    )


def append_closes_extract(
    spark: SparkSession,
    delta: DataFrame,
    path: str,
    max_files_per_partition: int = 16,
    fs: FS = LOCAL_FS,
) -> None:
    """Append one run's new closes, then compact any bucket that accreted
    past ``max_files_per_partition`` files (cost tracks churn, not size).

    Any swap a crashed compaction left journaled is finished BEFORE the
    append: recovering it afterwards would install the pre-crash staged
    dir over a bucket that already holds this run's rows — silently
    destroying the just-appended delta (r9 review finding)."""
    from tickerlake_spark.storage.maintenance import repair_partition_swaps

    repair_partition_swaps(path, fs=fs)
    write_closes_extract(delta, path, mode="append", fs=fs)
    compact_partition_dirs(
        spark,
        path,
        max_files_per_partition=max_files_per_partition,
        sort_by=["ticker", "date"],
        fs=fs,
    )


def read_closes_for(
    spark: SparkSession,
    path: str,
    affected: list[str],
    fs: FS = LOCAL_FS,
) -> DataFrame:
    """Closes for the given ticker list, reading only their hash buckets.

    ``affected`` must already be collected (the caller owns the bound — the
    stair-step affected set is HVC-event tickers, ~2% of the universe). The
    two literal filters do the pruning: ``tb IN`` at the directory level,
    ``ticker IN`` at the parquet row-group level (stats + bloom). The
    buckets are bucket expressions over ticker literals, which the
    optimizer folds to constants before partition pruning — no Spark job.
    """
    if not table_exists(path, fs=fs):
        raise FileNotFoundError(path)
    buckets = [_bucket_of(F.lit(t)) for t in affected]
    return (
        read_table(spark, path, fs=fs)
        .filter(F.col("tb").isin(buckets) & F.col("ticker").isin(affected))
        .select("ticker", "date", "close")
    )
