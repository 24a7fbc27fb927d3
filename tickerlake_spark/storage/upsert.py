"""Keyed upsert (MERGE) into a Parquet table — last-write-wins on key.

The lakehouse primitive the reference's overwrite-only writer (reference:
storage/operations.py:35-38) could not express: apply a batch of row-level
updates/inserts without rewriting unrelated data.

Semantics: for each key in ``updates``, the stored row is replaced; keys not
present are appended. Equivalent to ``MERGE INTO t USING u ON keys WHEN
MATCHED THEN UPDATE * WHEN NOT MATCHED THEN INSERT *``.

Scale posture:
- **Unpartitioned tables** are rewritten via anti-join + union + atomic swap
  — correct but O(table). Fine for dimension-sized tables.
- **Partitioned tables** rewrite ONLY the partitions the update batch
  touches (Spark dynamic partition overwrite): the anti-join reads just
  those partitions (partition pruning from the touched-values semi join) and
  untouched partitions are never scanned or written. This is the 100 TB
  path — cost scales with the update's partition footprint, not table size.
- The updates side of the anti-join is broadcast when small (Catalyst/AQE
  decides); a billion-row update batch degrades gracefully to a shuffle
  join on the key.

All driver-side mutations (staging cleanup, the pending-delete journal, the
swap/repair calls) go through the storage FS protocol (``fs`` parameter,
``storage/fs.py``): POSIX rename on LocalFS/HDFS, the marker-state
copy+delete protocol on rename-less object stores. Spark's bulk reads and
writes are Hadoop-FS-native already.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tickerlake_spark.storage.fs import FS, LOCAL_FS
from tickerlake_spark.storage.io import (
    detect_partition_column,
    read_table,
    table_exists,
    write_table,
)
from tickerlake_spark.storage.maintenance import replace_table

__all__ = ["upsert_table", "replace_keys"]


def _repair_parent(path: str, fs: FS = LOCAL_FS) -> None:
    """Finish any interrupted whole-table ``replace_table`` swap journaled
    in ``path``'s parent (layer) dir before probing table existence.
    Scoped to THIS table's markers: a parent-wide repair would race a
    sibling table's in-flight swap when two tables of the same layer are
    maintained concurrently (the gold stairstep pair does exactly that) —
    replaying a live marker renames the just-installed sibling away."""
    from tickerlake_spark.storage.maintenance import (
        repair_table_swaps,
        split_layer,
    )

    repair_table_swaps(*split_layer(path), fs=fs)


# ---------------------------------------------------------------------------
# Pending-delete journal for emptied partitions (r10). The dynamic-overwrite
# merge must DELETE touched partitions whose recomputed row-set is empty —
# their stored rows all matched deleted/migrated keys. A crash between the
# overwrite's commit and the delete loop used to leave those rows readable
# with nothing scheduled to remove them: deleted rows silently resurrect.
# The fix is a two-state marker in the table root (same atomic-single-file
# contract as the swap journal):
#   state 'intent'    — written BEFORE the overwrite; repair REMOVES it
#                       without deleting (the overwrite may not have
#                       committed, and those partitions still hold rows the
#                       overwrite was about to migrate/rewrite elsewhere);
#                       the caller's retry of the same batch re-derives it.
#   state 'committed' — advanced right after the overwrite commits; repair
#                       finishes the deletes (each via the journaled
#                       delete-intent partition swap, crash-safe itself).
# The unguarded window shrinks from overwrite+collect+N rmtrees to the one
# atomic marker advance.
# ---------------------------------------------------------------------------

_PENDING_DELETES = "_pending_deletes.json"


def _write_pending_deletes(
    path: str, parts: list[str], state: str, fs: FS = LOCAL_FS
) -> None:
    import json

    fs.write_file_atomic(
        f"{path.rstrip('/')}/{_PENDING_DELETES}",
        json.dumps({"parts": parts, "state": state}).encode(),
    )


def _apply_pending_deletes(
    path: str, parts: list[str], fs: FS = LOCAL_FS
) -> None:
    from tickerlake_spark.storage.maintenance import swap_partition_dir

    base = path.rstrip("/")
    for part in parts:
        if fs.isdir(f"{base}/{part}"):
            swap_partition_dir(
                path, part, f"{base}/_absent", delete=True, fs=fs
            )
    fs.remove(f"{base}/{_PENDING_DELETES}")


def repair_pending_deletes(path: str, fs: FS = LOCAL_FS) -> None:
    """Resolve a pending-delete marker a crashed merge left in ``path``.
    Called (after ``repair_partition_swaps``) at the top of every
    partitioned merge; also usable standalone after a crash."""
    import json

    marker = f"{path.rstrip('/')}/{_PENDING_DELETES}"
    if not fs.isfile(marker):
        return
    m = json.loads(fs.read_bytes(marker).decode())
    if m.get("state") == "committed":
        _apply_pending_deletes(path, m["parts"], fs=fs)
    else:
        # overwrite never provably committed: deleting now could lose rows
        # it was about to rewrite elsewhere — drop the stale intent
        fs.remove(marker)


def _reconcile_layout(
    path: str, partition_by: str | None, fs: FS = LOCAL_FS
) -> str | None:
    """Resolve the caller's ``partition_by`` against the table's ACTUAL
    layout on disk.

    - Table partitioned on X, caller passed None -> use X (a caller that
      doesn't know the layout must not flatten it: appending root-level
      files next to ``X=.../`` dirs makes the table unreadable).
    - Table unpartitioned, caller passed X -> return X; the caller's merge
      goes through the full-rewrite branch, which MIGRATES the legacy table
      to the partitioned layout in one atomic swap.
    - Both set and different -> error; silently preferring either side
      would corrupt the layout or the caller's pruning assumptions.
    """
    detected = (
        detect_partition_column(path, fs=fs)
        if table_exists(path, fs=fs)
        else None
    )
    if detected is None:
        return partition_by
    if partition_by is None:
        return detected
    if partition_by != detected:
        raise ValueError(
            f"table {path!r} is partitioned on {detected!r} but caller asked "
            f"for {partition_by!r}"
        )
    return partition_by


def upsert_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
    validate_unique: bool = True,
    stage_updates: bool = True,
    with_count: bool = True,
    fs: FS = LOCAL_FS,
) -> dict:
    """MERGE ``updates`` into the Parquet table at ``path`` on ``keys``.

    ``updates`` must be unique on ``keys`` (checked when ``validate_unique``
    — one extra keys-only aggregation; disable for very large batches where
    the producer already guarantees uniqueness). Returns
    {"inserted_or_updated": n, "mode": ...}.

    The update lineage is MATERIALIZED once up front (staged to a temp
    parquet dir) and every subsequent action — uniqueness check, count,
    touched-partition discovery, the merge itself — reads the staged copy.
    An incremental-maintenance delta is typically an expensive plan (window
    over a horizon scan); without staging, each of those actions would
    re-execute it from scratch. Staging also makes updates whose lineage
    reads ``path`` itself safe across the swap/overwrite below.

    ``stage_updates=False`` skips the staging write: safe (and faster) when
    the update lineage is cheap to re-execute — the unpartitioned branch
    writes its merged output to a tmp dir BEFORE the swap and the
    partitioned branch stages its merged output regardless, so neither ever
    overwrites a path an unstaged lineage still reads. ``with_count=False``
    skips the observability count (one action per call; the summary then
    reports ``None``).
    """
    # finish any interrupted whole-table swap first (replace_table journals
    # to the parent layer dir; without this, a crash between its renames
    # would make table_exists read False and the create branch would
    # rebuild the table from this delta alone — silent loss)
    _repair_parent(path, fs=fs)
    # in-table crash-recovery BEFORE anything probes the layout or lists
    # files: a crashed partition swap can hide a table's only partition
    # under an '_old_*' dir, making detect_partition_column read None and
    # the post-repair rewrite silently FLATTEN the Hive layout — and a
    # repair that deletes journaled-stale partitions after spark.read
    # lists them makes the recovery run die on FileNotFound
    from tickerlake_spark.storage.maintenance import repair_partition_swaps

    repair_partition_swaps(path, fs=fs)
    repair_pending_deletes(path, fs=fs)
    staged_dir = f"{path.rstrip('/')}__updates_{uuid.uuid4().hex[:8]}"
    if stage_updates:
        updates.write.parquet(staged_dir)
    try:
        if stage_updates:
            updates = spark.read.schema(updates.schema).parquet(staged_dir)
        if validate_unique:
            from tickerlake_spark.storage.io import assert_unique_keys

            assert_unique_keys(updates, keys)

        n_updates = updates.count() if with_count else None
        if not table_exists(path, fs=fs):
            write_table(updates, path, partition_by=partition_by)
            return {"inserted_or_updated": n_updates, "mode": "create"}

        on_disk = detect_partition_column(path, fs=fs)
        partition_by = _reconcile_layout(path, partition_by, fs=fs)
        existing = read_table(spark, path, fs=fs)
        if partition_by is None or on_disk is None:
            # unpartitioned table: full rewrite + atomic swap. When the
            # caller asked for a partitioned layout this same branch MIGRATES
            # the legacy table — the swap replaces the flat layout wholesale,
            # so no mixed root-files-plus-dirs state can ever exist.
            key_set = updates.select(*keys)
            merged = existing.join(key_set, keys, "left_anti").unionByName(updates)
            tmp = f"{path.rstrip('/')}__upsert_{uuid.uuid4().hex[:8]}"
            writer = merged.write.mode("overwrite")
            if partition_by is not None:
                writer = writer.partitionBy(partition_by)
            writer.parquet(tmp)
            if not table_exists(tmp, fs=fs):
                # empty merged set + partitioned write -> keep readable
                merged.limit(0).write.mode("overwrite").parquet(tmp)
            replace_table(path, tmp, fs=fs)
            mode = "rewrite" if partition_by is None else "rewrite-migrate"
            return {"inserted_or_updated": n_updates, "mode": mode}
        return _upsert_partitioned(
            spark, path, existing, updates, keys, partition_by, n_updates,
            fs=fs,
        )
    finally:
        fs.rmtree(staged_dir)

def _upsert_partitioned(
    spark: SparkSession,
    path: str,
    existing: DataFrame,
    updates: DataFrame,
    keys: list[str],
    partition_by: str,
    n_updates: int,
    fs: FS = LOCAL_FS,
) -> dict:
    # Partitioned: rebuild only the touched partitions, then dynamic-overwrite
    # them. The isin filter prunes the existing scan to those partitions.
    #
    # Correctness: pruning to the update batch's partition values is only
    # valid if no key can MIGRATE partitions (an update row carrying a
    # different partition value than the stored row would leave the stale row
    # alive in the key's old partition). When ``partition_by`` is one of
    # ``keys`` migration is impossible — different partition value means
    # different key — so the pruned scan is exact. Otherwise we locate the
    # partitions where the updated keys currently live via a key-only
    # semi-join over the full table (column-pruned scan: keys + partition
    # column only) and add them to the touched set, so stale rows are
    # rewritten away wherever they sit.
    # Values normalized to their Hive directory string form: the partition
    # column may surface as date/int on one side and string on the other.
    # (Crash-recovery repairs already ran in upsert_table, BEFORE the
    # `existing` file index was built.)
    touched = {
        str(r[0]) for r in updates.select(partition_by).distinct().collect()
    }
    if partition_by not in keys:
        touched |= {
            str(r[0])
            for r in existing.select(partition_by, *keys)
            .join(updates.select(*keys), keys, "left_semi")
            .select(partition_by)
            .distinct()
            .collect()
        }
    touched = sorted(touched)
    survivors = (
        existing.filter(F.col(partition_by).isin(touched))
        .join(updates.select(*keys), keys, "left_anti")
    )
    merged = survivors.unionByName(updates.select(*survivors.columns))
    # Spark refuses to overwrite a path that feeds the same plan: stage the
    # merged partitions to a temp dir first (they are only the touched
    # partitions — small), then dynamic-overwrite from the staged copy.
    tmp = f"{path.rstrip('/')}__upsert_{uuid.uuid4().hex[:8]}"
    merged.write.parquet(tmp)
    staged = spark.read.schema(merged.schema).parquet(tmp)
    try:
        # Dynamic overwrite only replaces partitions present in the written
        # data: a touched partition whose every row was migrated away has no
        # output rows and would keep its stale files — those are journaled
        # for deletion (intent BEFORE the overwrite, committed right after;
        # see repair_pending_deletes) and dropped explicitly. When the
        # partition column is part of the key, migration is impossible and
        # every touched partition holds at least its own update rows, so
        # written == touched and the probe is skipped.
        if partition_by in keys:
            written = set(touched)
        else:
            written = {
                str(r[0]) for r in staged.select(partition_by).distinct().collect()
            }
        stale = sorted(
            f"{partition_by}={v}" for v in set(touched) - written
        )
        if stale:
            _write_pending_deletes(path, stale, "intent", fs=fs)
        # writer-level option, NOT session conf: takes precedence over the
        # session setting and keeps concurrent merges (the pipelines run
        # independent table maintenance from worker threads) from racing a
        # shared conf save/restore
        (
            staged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_by)
            .parquet(path)
        )
        if stale:
            _write_pending_deletes(path, stale, "committed", fs=fs)
            _apply_pending_deletes(path, stale, fs=fs)
    finally:
        fs.rmtree(tmp)
    return {
        "inserted_or_updated": n_updates,
        "mode": "dynamic-partition",
        "touched_partitions": len(touched),
    }


def replace_keys(
    spark: SparkSession,
    path: str,
    key_values: DataFrame,
    updates: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
    with_count: bool = True,
    fs: FS = LOCAL_FS,
) -> dict:
    """Replace the full row-set of every key in ``key_values``: delete all
    stored rows matching those keys, then insert ``updates``.

    Differs from ``upsert_table`` in that deletion is driven by the
    ``key_values`` set, not by the update rows — a key whose recomputed
    row-set is EMPTY (e.g. a ticker whose stair-step islands merged below
    the min-step threshold) still has its stale rows removed. The group
    replacement primitive for derived tables whose rows have no stable
    identity.

    When the table is Hive-partitioned on a column IN ``keys`` (declared or
    detected from the layout), the replacement touches only the partitions
    holding replaced keys: stored rows outside them provably don't match any
    key in ``key_values``, so the rewrite is O(replaced partitions), not
    O(table) — dynamic partition overwrite plus explicit removal of key
    partitions whose recomputed row-set is empty.
    """
    _repair_parent(path, fs=fs)  # same silent-loss guard as upsert_table
    # in-table repairs BEFORE the layout probes and the read build any
    # state from unrepaired directories (see upsert_table)
    from tickerlake_spark.storage.maintenance import repair_partition_swaps

    repair_partition_swaps(path, fs=fs)
    repair_pending_deletes(path, fs=fs)
    key_values = key_values.select(*keys).distinct()
    if not table_exists(path, fs=fs):
        write_table(updates, path, partition_by=partition_by)
        return {"inserted": updates.count(), "mode": "create"}
    partition_by = _reconcile_layout(path, partition_by, fs=fs)
    existing = read_table(spark, path, fs=fs)
    if (
        partition_by in keys
        and detect_partition_column(path, fs=fs) == partition_by
    ):
        return _replace_keys_partitioned(
            spark, path, existing, key_values, updates, keys, partition_by,
            with_count, fs=fs,
        )
    merged = existing.join(key_values, keys, "left_anti").unionByName(
        updates.select(*existing.columns)
    )
    tmp = f"{path.rstrip('/')}__replace_{uuid.uuid4().hex[:8]}"
    writer = merged.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    if not table_exists(tmp, fs=fs):
        # empty merged set + partitioned write -> no data files; keep the
        # table readable with a flat zero-row schema file (see write_table)
        merged.limit(0).write.mode("overwrite").parquet(tmp)
    # Count BEFORE the swap: ``updates`` may derive from the very table
    # being replaced (e.g. storage/scd2.py closes rows it read from
    # ``path``), and its lineage re-executes here — after the rename the
    # source files are gone and the count dies with FILE_NOT_EXIST.
    n_inserted = updates.count() if with_count else None
    replace_table(path, tmp, fs=fs)
    return {"inserted": n_inserted, "mode": "rewrite"}


def _replace_keys_partitioned(
    spark: SparkSession,
    path: str,
    existing: DataFrame,
    key_values: DataFrame,
    updates: DataFrame,
    keys: list[str],
    partition_by: str,
    with_count: bool = True,
    fs: FS = LOCAL_FS,
) -> dict:
    # Touched partitions: wherever a replaced key lives (partition value is
    # part of the key, so key_values names them directly) plus wherever
    # updates land. Stored rows elsewhere cannot match any replaced key.
    # One fused distinct-union collect, not two actions.
    touched = sorted(
        {
            str(r[0])
            for r in key_values.select(partition_by)
            .unionByName(updates.select(partition_by))
            .distinct()
            .collect()
        }
    )
    # (crash-recovery repairs already ran in replace_keys, BEFORE the
    # `existing` file index was built)
    survivors = existing.filter(F.col(partition_by).isin(touched)).join(
        key_values, keys, "left_anti"
    )
    merged = survivors.unionByName(updates.select(*existing.columns))
    tmp = f"{path.rstrip('/')}__replace_{uuid.uuid4().hex[:8]}"
    merged.write.parquet(tmp)
    staged = spark.read.schema(merged.schema).parquet(tmp)
    n_inserted = updates.count() if with_count else None
    try:
        written = {
            str(r[0]) for r in staged.select(partition_by).distinct().collect()
        }
        stale = sorted(
            f"{partition_by}={v}" for v in set(touched) - written
        )
        if stale:  # journaled: see repair_pending_deletes
            _write_pending_deletes(path, stale, "intent", fs=fs)
        # writer-level option (see _upsert_partitioned): thread-safe under
        # concurrent maintenance, no session-conf save/restore race
        (
            staged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_by)
            .parquet(path)
        )
        if stale:
            _write_pending_deletes(path, stale, "committed", fs=fs)
            _apply_pending_deletes(path, stale, fs=fs)
    finally:
        fs.rmtree(tmp)
    return {
        "inserted": n_inserted,
        "mode": "dynamic-partition",
        "touched_partitions": len(touched),
    }
