"""SCD Type-2 dimension maintenance: versioned upsert with validity ranges.

The reference overwrites dimension snapshots (tickers table — reference:
bronze/tickers.py writes the latest universe only); a warehouse serving
point-in-time questions ("what was this ticker's type when the bar
printed?") needs history. This module maintains the standard SCD2 layout:

    keys..., tracked attrs..., valid_from date, valid_to date (null=open),
    is_current boolean

``scd2_apply`` merges one batch of (keys + attrs + effective date):
- new key            -> insert an open row
- tracked attr change -> close the current row (valid_to = effective) and
                         insert a new open row
- no change          -> untouched (replaying a batch is a no-op, so the
                        streaming foreachBatch idempotency contract holds)

Plan shape: ONE join of the update batch against the CURRENT rows only
(is_current pushdown-filterable), affected keys rewritten via
``storage.upsert.replace_keys`` — history of untouched keys is never read,
matching the incremental posture of the rest of the storage layer. Partition
the dimension by a key hash bucket at scale so the replace rewrite touches
only the affected buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tickerlake_spark.storage.io import read_table, table_exists, write_table
from tickerlake_spark.storage.upsert import replace_keys

__all__ = ["scd2_apply", "scd2_current", "scd2_as_of", "scd2_join", "stream_scd2"]


def _with_scd2_cols(df: DataFrame, effective_col: str) -> DataFrame:
    return df.select(
        "*",
        F.col(effective_col).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    ).drop(effective_col)


def scd2_apply(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    tracked: list[str],
    effective_col: str = "effective_date",
) -> dict:
    """Merge one update batch into the SCD2 table at ``path``.

    ``updates``: one row per key (latest state) with ``effective_col``.
    Returns {"new": n, "changed": n, "unchanged": n}.
    """
    if not table_exists(path):
        first = _with_scd2_cols(updates, effective_col)
        write_table(first, path)
        return {"new": first.count(), "changed": 0, "unchanged": 0}

    stored = read_table(spark, path)
    current = stored.filter(F.col("is_current"))

    u = updates.alias("u")
    c = current.alias("c")
    joined = u.join(c, keys, "left")
    change_pred = F.lit(False)
    for t in tracked:
        change_pred = change_pred | ~F.col(f"u.{t}").eqNullSafe(F.col(f"c.{t}"))
    is_new = F.col("c.valid_from").isNull()  # no stored row matched

    classified = joined.select(
        *[F.col(f"u.{k}").alias(k) for k in keys],
        *[F.col(f"u.{t}").alias(t) for t in tracked],
        F.col(f"u.{effective_col}").alias(effective_col),
        F.when(is_new, "new").when(change_pred, "changed").otherwise("unchanged")
        .alias("__disp"),
    )
    counts = {
        r["__disp"]: r["n"]
        for r in classified.groupBy("__disp").agg(F.count("*").alias("n")).collect()
    }
    affected = classified.filter(F.col("__disp") != "unchanged")
    if counts.get("new", 0) + counts.get("changed", 0) == 0:
        return {"new": 0, "changed": 0, "unchanged": counts.get("unchanged", 0)}

    affected_keys = affected.select(*keys)
    # full history of the affected keys, with the open row closed at the
    # batch's effective date for changed keys
    eff = affected.select(*keys, F.col(effective_col).alias("__eff"))
    old_rows = (
        stored.join(affected_keys, keys, "left_semi")
        .join(eff, keys, "left")
        .withColumn(
            "valid_to",
            F.when(F.col("is_current"), F.col("__eff")).otherwise(F.col("valid_to")),
        )
        .withColumn("is_current", F.lit(False))
        .drop("__eff")
    )
    new_rows = _with_scd2_cols(
        affected.drop("__disp"), effective_col
    ).select(*old_rows.columns)
    replace_keys(
        spark, path, affected_keys, old_rows.unionByName(new_rows), keys=keys
    )
    return {
        "new": counts.get("new", 0),
        "changed": counts.get("changed", 0),
        "unchanged": counts.get("unchanged", 0),
    }


def scd2_current(spark: SparkSession, path: str) -> DataFrame:
    """The live dimension view (one row per key)."""
    return read_table(spark, path).filter(F.col("is_current"))


def scd2_as_of(spark: SparkSession, path: str, as_of) -> DataFrame:
    """Point-in-time view: rows valid at ``as_of`` (a date/date-string).
    valid_from inclusive, valid_to exclusive — the half-open convention."""
    d = F.lit(as_of).cast("date")
    df = read_table(spark, path)
    return df.filter(
        (F.col("valid_from") <= d)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > d))
    )


def scd2_join(
    facts: DataFrame,
    dim: DataFrame,
    keys: list[str],
    date_col: str,
    how: str = "left",
) -> DataFrame:
    """Point-in-time enrich: join each fact row to the dimension VERSION
    valid at its ``date_col`` (valid_from inclusive, valid_to exclusive).

    The standard temporal-warehouse pattern ("what type was this ticker
    when the bar printed"). Plan: equi-join on ``keys`` with the validity
    range as a join-side residual predicate — each fact matches at most
    one version, so no fan-out and no post-join dedup. At scale the dim is
    usually broadcastable (versions-per-key is small); otherwise it
    shuffles on the same keys as the fact join would anyway.
    """
    d = F.col(date_col)
    cond = F.lit(True)
    for k in keys:
        cond = cond & (facts[k] == dim[k])
    cond = (
        cond
        & (dim["valid_from"] <= d)
        & (dim["valid_to"].isNull() | (dim["valid_to"] > d))
    )
    out = facts.join(dim, cond, how)
    return out.select(
        *[facts[c] for c in facts.columns],
        *[
            dim[c]
            for c in dim.columns
            if c not in keys and c not in ("is_current",)
        ],
    )


def stream_scd2(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    keys: list[str],
    tracked: list[str],
    effective_col: str = "effective_date",
    available_now: bool = True,
):
    """Streaming face of ``scd2_apply``: each micro-batch of dimension
    updates versions the stored table via foreachBatch. Replay-safe by
    ``scd2_apply``'s own semantics — a re-applied batch classifies every
    key 'unchanged' and writes nothing, the foreachBatch idempotency
    contract. A micro-batch holding several effective dates (a backfill)
    is applied one date-slice at a time, ascending, so each version sees
    its predecessor; late corrections (an effective date BEHIND a key's
    open version) need a rebuild, same as the batch path."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark.sql import functions as F

        dates = sorted(
            r[0] for r in batch_df.select(effective_col).distinct().collect()
        )
        for d in dates:
            scd2_apply(
                batch_df.sparkSession,
                path,
                batch_df.filter(F.col(effective_col) == F.lit(d)),
                keys=keys,
                tracked=tracked,
                effective_col=effective_col,
            )

    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
