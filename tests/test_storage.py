from __future__ import annotations

import datetime as dt

import pytest

from tickerlake_spark import schemas
from tickerlake_spark.schemas import conform
from tickerlake_spark.storage import (
    Catalog,
    Checkpoints,
    get_max_date,
    get_table_path,
    init_table,
    read_table,
    table_exists,
    write_table,
)


def test_catalog_paths(tmp_path):
    cat = Catalog(root=str(tmp_path))
    assert cat.bronze("stocks") == str(tmp_path / "bronze" / "stocks")
    assert get_table_path(str(tmp_path), "silver", "x") == str(
        tmp_path / "silver" / "x"
    )


def test_write_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("AAPL", dt.date(2024, 1, 2), 10.0), ("MSFT", dt.date(2024, 1, 3), 20.0)],
        "ticker string, date date, close double",
    )
    write_table(df, path)
    assert table_exists(path)
    out = read_table(spark, path)
    assert out.count() == 2
    assert set(out.columns) == {"ticker", "date", "close"}


def test_append_is_real(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([("A", 1)], "k string, v int")
    write_table(df, path, mode="overwrite")
    write_table(df, path, mode="append")
    assert read_table(spark, path).count() == 2


def test_partitioned_write_and_prune(spark, tmp_path):
    path = str(tmp_path / "p")
    df = spark.createDataFrame(
        [("A", dt.date(2024, 1, 1)), ("B", dt.date(2024, 1, 2))],
        "ticker string, date date",
    )
    write_table(df, path, partition_by="date")
    out = read_table(spark, path)
    assert out.count() == 2
    pruned = out.filter(out.date == dt.date(2024, 1, 2))
    assert pruned.count() == 1
    # partition pruning visible in the physical plan
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "partitionFilters" in plan.lower()


def test_dynamic_partition_overwrite(spark, tmp_path):
    path = str(tmp_path / "dyn")
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    write_table(
        spark.createDataFrame([("A", d1), ("B", d2)], "t string, date date"),
        path,
        partition_by="date",
    )
    # overwrite only date=d2
    write_table(
        spark.createDataFrame([("C", d2)], "t string, date date"),
        path,
        partition_by="date",
        dynamic=True,
    )
    rows = {(r.t, r.date) for r in read_table(spark, path).collect()}
    assert rows == {("A", d1), ("C", d2)}


def test_dynamic_overwrite_replaces_flat_zero_row_table(spark, tmp_path):
    """A partitioned overwrite of an empty frame leaves write_table's flat
    zero-row layout; a later dynamic overwrite must replace that root file,
    not write partition dirs beside it (an unreadable mixed layout)."""
    import os

    path = str(tmp_path / "flat")
    schema = "t string, date date"
    write_table(spark.createDataFrame([], schema), path, partition_by="date")
    assert any(f.endswith(".parquet") for f in os.listdir(path))
    d1 = dt.date(2024, 1, 1)
    write_table(
        spark.createDataFrame([("A", d1)], schema),
        path,
        partition_by="date",
        dynamic=True,
    )
    assert not any(f.endswith(".parquet") for f in os.listdir(path))
    rows = {(r.t, r.date) for r in read_table(spark, path).collect()}
    assert rows == {("A", d1)}


def test_dynamic_overwrite_refuses_flat_table_with_rows(spark, tmp_path):
    import os

    path = str(tmp_path / "flat_rows")
    d1 = dt.date(2024, 1, 1)
    write_table(spark.createDataFrame([("A", d1)], "t string, date date"), path)
    before = sorted(os.listdir(path))
    with pytest.raises(ValueError, match="flat layout"):
        write_table(
            spark.createDataFrame([("B", d1)], "t string, date date"),
            path,
            partition_by="date",
            dynamic=True,
        )
    assert sorted(os.listdir(path)) == before
    assert [(r.t, r.date) for r in read_table(spark, path).collect()] == [("A", d1)]


def test_init_table_empty_with_schema(spark, tmp_path):
    path = str(tmp_path / "empty")
    init_table(spark, path, schemas.STOCKS)
    out = read_table(spark, path)
    assert out.count() == 0
    assert out.columns == [f.name for f in schemas.STOCKS.fields]


def test_get_max_date(spark, tmp_path):
    path = str(tmp_path / "wm")
    assert get_max_date(spark, path) is None
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 2),), (dt.date(2024, 3, 4),)], "date date"
    )
    write_table(df, path)
    assert get_max_date(spark, path) == "2024-03-04"


def test_get_max_date_partitioned_is_a_listing(spark, tmp_path):
    """On a Hive-partitioned table the watermark probe resolves from the
    partition directory names alone: stale empty dirs (a dynamic-overwrite
    delete can leave one) are skipped, and non-ISO dirs fall back to the
    columnar aggregate path."""
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "wmp")
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 2), 1.0), (dt.date(2024, 3, 4), 2.0)],
        "date date, v double",
    )
    write_table(df, path, partition_by="date")
    assert get_max_date(spark, path) == "2024-03-04"
    # a stale empty partition dir past the real max must be skipped
    os.makedirs(os.path.join(path, "date=2024-12-31"))
    assert get_max_date(spark, path) == "2024-03-04"
    # a table partitioned on a DIFFERENT column falls through to the scan
    path2 = str(tmp_path / "wmp2")
    write_table(
        df.withColumn("ticker", F.lit("A")), path2, partition_by="ticker"
    )
    assert get_max_date(spark, path2) == "2024-03-04"


def test_checkpoints_roundtrip(tmp_path):
    cp = Checkpoints(str(tmp_path / "cp.json"))
    assert cp.load() == {}
    cp.set("bronze_stocks_last_date", "2024-01-02")
    assert cp.get("bronze_stocks_last_date") == "2024-01-02"
    cp.set("last_run_timestamp", "2024-01-02T21:30:00Z")
    assert len(cp.load()) == 2


def test_conform_casts_and_missing(spark):
    df = spark.createDataFrame(
        [("AAPL", "100", "1.5")], "ticker string, volume string, open string"
    )
    out = conform(df, schemas.STOCKS)
    assert [f.name for f in out.schema.fields] == [
        f.name for f in schemas.STOCKS.fields
    ]
    row = out.first()
    assert row.volume == 100 and abs(row.open - 1.5) < 1e-6 and row.date is None


def test_clustered_write_has_disjoint_file_ranges(spark, tmp_path):
    """write_clustered must produce files whose cluster-key min/max ranges
    are pairwise disjoint (the property that lets engines skip files on
    range predicates) and row groups sorted within each file."""
    import pyarrow.parquet as pq

    from tickerlake_spark.storage.clustering import write_clustered

    df = spark.range(0, 10_000).selectExpr(
        "cast(id as long) as k", "cast(id % 97 as double) as v"
    )
    path = str(tmp_path / "clustered")
    write_clustered(df, path, ["k"], num_files=4)

    import glob

    ranges = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        kmins, kmaxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "k"
            kmins.append(col.statistics.min)
            kmaxs.append(col.statistics.max)
        ranges.append((min(kmins), max(kmaxs)))
    ranges.sort()
    assert len(ranges) >= 2, "expected multiple clustered files"
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"file ranges overlap: ({lo1},{hi1}) vs ({lo2},{hi2})"

    # a range predicate must prune parquet files at planning time
    got = spark.read.parquet(path).filter("k >= 9000").count()
    assert got == 1000


def test_compact_table_reduces_files_preserves_rows(spark, tmp_path):
    from tickerlake_spark.storage.maintenance import compact_table, table_file_stats

    path = str(tmp_path / "fragmented")
    # simulate an append-accreted table: 8 tiny drops
    for i in range(8):
        spark.range(i * 100, (i + 1) * 100).selectExpr(
            "id", "id * 2 as v"
        ).coalesce(1).write.mode("append").parquet(path)
    before_n, _ = table_file_stats(path)
    assert before_n == 8
    before = {(r.id, r.v) for r in spark.read.parquet(path).collect()}

    stats = compact_table(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert stats["files_before"] == 8 and stats["files_after"] == 1
    after = {(r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert after == before

    # idempotent: already-compact tables are left alone
    stats2 = compact_table(spark, path)
    assert stats2["files_before"] == stats2["files_after"] == 1


def test_upsert_creates_then_updates_and_inserts(spark, tmp_path):
    from tickerlake_spark.storage.upsert import upsert_table

    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "id long, name string, v double"
    )
    r = upsert_table(spark, path, base, keys=["id"])
    assert r["mode"] == "create"

    updates = spark.createDataFrame(
        [(2, "b2", 20.0), (4, "d", 4.0)], "id long, name string, v double"
    )
    r = upsert_table(spark, path, updates, keys=["id"])
    assert r["mode"] == "rewrite" and r["inserted_or_updated"] == 2
    got = {
        row.id: (row.name, row.v)
        for row in spark.read.parquet(path).collect()
    }
    assert got == {1: ("a", 1.0), 2: ("b2", 20.0), 3: ("c", 3.0), 4: ("d", 4.0)}


def test_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    import os

    from tickerlake_spark.storage.upsert import upsert_table

    path = str(tmp_path / "facts")
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0), (3, "2024-01-02", 30.0)],
        "id long, date string, v double",
    )
    upsert_table(spark, path, base, keys=["id"], partition_by="date")

    def mtimes():
        out = {}
        for d in os.listdir(path):
            if d.startswith("date="):
                full = os.path.join(path, d)
                out[d] = max(
                    os.path.getmtime(os.path.join(full, f)) for f in os.listdir(full)
                )
        return out

    before = mtimes()
    updates = spark.createDataFrame(
        [(3, "2024-01-02", 300.0), (4, "2024-01-02", 40.0)],
        "id long, date string, v double",
    )
    r = upsert_table(spark, path, updates, keys=["id"], partition_by="date")
    assert r["mode"] == "dynamic-partition" and r["touched_partitions"] == 1
    after = mtimes()
    assert before["date=2024-01-01"] == after["date=2024-01-01"], (
        "untouched partition was rewritten"
    )
    got = {row.id: row.v for row in spark.read.parquet(path).collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 300.0, 4: 40.0}


def test_upsert_partition_migration_removes_stale_row(spark, tmp_path):
    """When partition_by is NOT part of the key, an update may move a key to
    a different partition; last-write-wins requires the stale row in the
    key's OLD partition to disappear too."""
    from tickerlake_spark.storage.upsert import upsert_table

    path = str(tmp_path / "facts")
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0), (3, "2024-01-02", 30.0)],
        "id long, date string, v double",
    )
    upsert_table(spark, path, base, keys=["id"], partition_by="date")

    # id=2 migrates 2024-01-01 -> 2024-01-03
    updates = spark.createDataFrame(
        [(2, "2024-01-03", 200.0)], "id long, date string, v double"
    )
    upsert_table(spark, path, updates, keys=["id"], partition_by="date")
    got = {
        (row.id, str(row.date)): row.v
        for row in spark.read.parquet(path).collect()
    }
    assert got == {
        (1, "2024-01-01"): 10.0,
        (2, "2024-01-03"): 200.0,
        (3, "2024-01-02"): 30.0,
    }


def test_upsert_partition_migration_drops_emptied_partition(spark, tmp_path):
    """If migration empties a partition entirely, its directory (and stale
    files) must be removed — dynamic overwrite alone would leave it."""
    import os

    from tickerlake_spark.storage.upsert import upsert_table

    path = str(tmp_path / "facts")
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0)],
        "id long, date string, v double",
    )
    upsert_table(spark, path, base, keys=["id"], partition_by="date")

    updates = spark.createDataFrame(
        [(2, "2024-01-03", 200.0)], "id long, date string, v double"
    )
    upsert_table(spark, path, updates, keys=["id"], partition_by="date")
    got = {
        (row.id, str(row.date)): row.v
        for row in spark.read.parquet(path).collect()
    }
    assert got == {(1, "2024-01-01"): 10.0, (2, "2024-01-03"): 200.0}
    assert not os.path.isdir(os.path.join(path, "date=2024-01-02"))


def test_zorder_key_raises_clearly_on_empty_or_all_null(spark):
    import pytest as _pytest

    from tickerlake_spark.storage.clustering import zorder_key

    empty = spark.createDataFrame([], "x double, y double")
    with _pytest.raises(ValueError, match="empty or the column"):
        zorder_key(empty, ["x", "y"])


def test_upsert_rejects_duplicate_update_keys(spark, tmp_path):
    import pytest as _pytest

    from tickerlake_spark.storage.upsert import upsert_table

    dup = spark.createDataFrame([(1, "x"), (1, "y")], "id long, name string")
    with _pytest.raises(ValueError, match="not unique"):
        upsert_table(spark, str(tmp_path / "t"), dup, keys=["id"])


def test_zorder_write_skips_on_both_dimensions(spark, tmp_path):
    """Z-ordered files must cover small hyper-rectangles: per-file min/max
    spans on BOTH cluster columns stay well under the global span (plain
    lexicographic clustering leaves the second column spanning ~everything
    in every file)."""
    import glob

    import pyarrow.parquet as pq

    from tickerlake_spark.storage.clustering import write_clustered, write_zordered

    n = 1 << 14
    # uniform 128x128 grid, decorrelated dims
    df = spark.range(0, n).selectExpr(
        "cast(id % 128 as long) as x", "cast(id div 128 as long) as y"
    )

    def file_spans(path, col_idx):
        spans = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            mns, mxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                mns.append(st.min)
                mxs.append(st.max)
            spans.append(max(mxs) - min(mns))
        return spans

    zpath = str(tmp_path / "zordered")
    bounds = write_zordered(df, zpath, ["x", "y"], bits=7, num_files=16)
    assert bounds == {"x": (0.0, 127.0), "y": (0.0, 127.0)}

    cpath = str(tmp_path / "lex")
    write_clustered(df, cpath, ["x", "y"], num_files=16)

    # z-order: AVERAGE file span on BOTH dims is a fraction of the globe
    # (a couple of files straddle a high-bit flip at unaligned range
    # boundaries — worst case is not the locality metric, the mean is)
    zx, zy = file_spans(zpath, 0), file_spans(zpath, 1)
    assert len(zx) >= 8
    assert sum(zx) / len(zx) <= 64 and sum(zy) / len(zy) <= 64, (zx, zy)

    # lexicographic: x is tight but y spans ~everything in most files
    ly = file_spans(cpath, 1)
    assert sum(ly) / len(ly) >= 100, "grid fixture no longer adversarial for lex order"

    # row counts preserved
    assert spark.read.parquet(zpath).count() == n


def test_interchange_formats_roundtrip_and_conform(spark, tmp_path):
    """CSV / JSON / ORC round-trips preserve values under an explicit
    schema; to_parquet_table conforms and lands a queryable Parquet table.
    Schema-less reads are refused (inference is a scale trap)."""
    import pytest as _pytest
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from tickerlake_spark.storage.formats import (
        read_csv_table,
        read_json_table,
        read_orc_table,
        to_parquet_table,
        write_csv_table,
        write_json_table,
        write_orc_table,
    )

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("v", DoubleType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.25), (3, "c,with,commas", 0.0)], schema
    )
    expected = sorted(map(tuple, df.collect()))

    csv_p, json_p, orc_p = (str(tmp_path / n) for n in ("c", "j", "o"))
    write_csv_table(df, csv_p)
    write_json_table(df, json_p)
    write_orc_table(df, orc_p)

    assert sorted(map(tuple, read_csv_table(spark, csv_p, schema).collect())) == expected
    assert sorted(map(tuple, read_json_table(spark, json_p, schema).collect())) == expected
    assert sorted(map(tuple, read_orc_table(spark, orc_p).collect())) == expected

    with _pytest.raises(ValueError, match="schema"):
        read_csv_table(spark, csv_p)

    pq_p = str(tmp_path / "landed")
    to_parquet_table(read_json_table(spark, json_p, schema), pq_p, schema=schema)
    assert sorted(map(tuple, spark.read.parquet(pq_p).collect())) == expected


def test_bloom_filter_written_for_requested_columns(spark, tmp_path):
    """bloom_cols must actually emit per-row-group bloom filters: the
    bloom-enabled file is measurably larger than the identical write
    without, and values round-trip unchanged. (pyarrow here cannot expose
    bloom offsets, so the size delta is the observable.)"""
    import glob
    import os

    from tickerlake_spark.storage.io import write_table

    df = spark.range(200_000).selectExpr(
        "id", "cast(id % 50000 as string) as k"
    ).coalesce(1)

    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
    write_table(df, plain)
    write_table(df, bloomed, bloom_cols={"k": 50_000})

    size = lambda p: sum(
        os.path.getsize(f) for f in glob.glob(p + "/*.parquet")
    )
    # ndv=50k bloom at default fpp ~ tens of KB; zstd data ~ few hundred KB
    assert size(bloomed) > size(plain) + 20_000, (size(plain), size(bloomed))
    assert spark.read.parquet(bloomed).count() == 200_000


def test_json_malformed_rows_quarantined_not_dropped(spark, tmp_path):
    """PERMISSIVE ingestion: malformed JSON lines land in _corrupt_record
    (quarantine column) while good rows parse — no silent data loss at the
    bronze edge."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from tickerlake_spark.storage.formats import read_json_table

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "s": "ok"}\n'
        "this is not json\n"
        '{"id": 2, "s": "also ok"}\n'
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("s", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = read_json_table(
        spark, str(p), schema, mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt_record"
    ).cache()
    assert df.count() == 3
    assert df.filter("_corrupt_record IS NOT NULL").count() == 1
    assert {r.id for r in df.filter("_corrupt_record IS NULL").collect()} == {1, 2}
    df.unpersist()


def test_zorder_compaction_improves_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER BY: after z-order compaction, a range predicate on
    EITHER clustered column overlaps far fewer files' min/max stats than a
    single-column-sorted layout, where the second column gets no pruning at
    all. Stats read directly from the parquet footers (pyarrow)."""
    import glob as _glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tickerlake_spark.storage.maintenance import compact_table

    from tickerlake_spark.storage.maintenance import table_file_stats

    n, files = 200_000, 16
    df = spark.range(n).select(
        (F.col("id") % 1000).alias("x"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("y"),  # independent of x
        F.col("id").alias("payload"),
    )
    base = str(tmp_path / "sorted_x")
    df.repartitionByRange(files, "x").sortWithinPartitions("x").write.parquet(base)
    zpath = str(tmp_path / "zordered")
    df.write.parquet(zpath)
    _, total_bytes = table_file_stats(zpath)
    compact_table(
        spark, zpath, target_file_bytes=max(1, total_bytes // files),
        zorder_by=["x", "y"],
    )

    def overlap_fraction(path, col, lo, hi):
        total, hit = 0, 0
        for f in _glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                st = {g.column(i).path_in_schema: g.column(i).statistics
                      for i in range(g.num_columns)}[col]
                total += 1
                if st.min <= hi and st.max >= lo:
                    hit += 1
        return hit / total

    # same rows survive the rewrite
    assert spark.read.parquet(zpath).count() == n
    assert (
        spark.read.parquet(zpath).agg(F.sum("payload")).first()[0]
        == spark.read.parquet(base).agg(F.sum("payload")).first()[0]
    )

    y_sorted = overlap_fraction(base, "y", 100, 120)
    y_z = overlap_fraction(zpath, "y", 100, 120)
    x_z = overlap_fraction(zpath, "x", 100, 120)
    assert y_sorted > 0.9  # x-sorted layout: y stats are useless
    assert y_z <= 0.6, (y_sorted, y_z)  # z-order: y prunes most files
    assert x_z <= 0.6, x_z  # ...and x still prunes too


def test_scd2_apply_versions_and_point_in_time(spark, tmp_path):
    """SCD2 maintenance: create, attribute change (close+open), new key,
    no-op replay idempotence, second change -> 3-deep history, and
    point-in-time / current views."""
    import datetime as dt

    from pyspark.sql import functions as F

    from tickerlake_spark.storage.scd2 import scd2_apply, scd2_as_of, scd2_current

    path = str(tmp_path / "dim_tickers")
    schema = "ticker string, type string, active boolean, effective_date date"
    d1, d2, d3 = dt.date(2024, 1, 1), dt.date(2024, 3, 1), dt.date(2024, 6, 1)

    b1 = spark.createDataFrame(
        [("AAA", "CS", True, d1), ("BBB", "ETF", True, d1)], schema
    )
    r1 = scd2_apply(spark, path, b1, keys=["ticker"], tracked=["type", "active"])
    assert r1 == {"new": 2, "changed": 0, "unchanged": 0}

    # AAA changes type, BBB unchanged, CCC is new
    b2 = spark.createDataFrame(
        [("AAA", "ETF", True, d2), ("BBB", "ETF", True, d2), ("CCC", "CS", True, d2)],
        schema,
    )
    r2 = scd2_apply(spark, path, b2, keys=["ticker"], tracked=["type", "active"])
    assert r2 == {"new": 1, "changed": 1, "unchanged": 1}

    cur = {r.ticker: r for r in scd2_current(spark, path).collect()}
    assert set(cur) == {"AAA", "BBB", "CCC"}
    assert cur["AAA"].type == "ETF" and cur["AAA"].valid_from == d2
    assert cur["BBB"].valid_from == d1  # untouched: original open row

    asof = {r.ticker: r.type for r in scd2_as_of(spark, path, "2024-02-01").collect()}
    assert asof == {"AAA": "CS", "BBB": "ETF"}  # CCC not yet born

    # replay of b2 is a no-op
    r2b = scd2_apply(spark, path, b2, keys=["ticker"], tracked=["type", "active"])
    assert r2b == {"new": 0, "changed": 0, "unchanged": 3}
    assert spark.read.parquet(path).count() == 4  # 3 open + 1 closed

    # AAA flips active -> second closed version
    b3 = spark.createDataFrame([("AAA", "ETF", False, d3)], schema)
    r3 = scd2_apply(spark, path, b3, keys=["ticker"], tracked=["type", "active"])
    assert r3["changed"] == 1
    hist = (
        spark.read.parquet(path)
        .filter(F.col("ticker") == "AAA")
        .orderBy("valid_from")
        .collect()
    )
    assert [(r.valid_from, r.valid_to, r.is_current) for r in hist] == [
        (d1, d2, False),
        (d2, d3, False),
        (d3, None, True),
    ]
    # half-open ranges: exactly one AAA row valid at any probe date
    for probe in ("2024-01-01", "2024-02-28", "2024-03-01", "2024-07-01"):
        assert scd2_as_of(spark, path, probe).filter(
            F.col("ticker") == "AAA"
        ).count() == 1


def test_snapshot_diff_classifies_all_changes(spark):
    from tickerlake_spark.storage.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0), (4, "d", None)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 25.0), (4, "d", None), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    got = {r.k: r.change for r in snapshot_diff(old, new, keys=["k"]).collect()}
    # 1 unchanged (excluded), 2 changed, 3 removed, 4 unchanged w/ NULL value
    # (null-safe compare + presence flags), 5 added
    assert got == {2: "changed", 3: "removed", 5: "added"}
    full = {
        r.k: r.change
        for r in snapshot_diff(
            old, new, keys=["k"], include_unchanged=True
        ).collect()
    }
    assert full[1] == "unchanged" and full[4] == "unchanged"


def test_suppress_below_k_drops_small_classes(spark):
    from pyspark.sql import functions as F

    from tickerlake_spark.operators.privacy import (
        k_anonymity_profile,
        suppress_below_k,
    )

    rows = [("us", "A", i) for i in range(5)] + [("de", "B", 99)]
    df = spark.createDataFrame(rows, "country string, seg string, uid long")
    kept = suppress_below_k(df, ["country", "seg"], k=3)
    assert kept.count() == 5
    assert kept.filter(F.col("country") == "de").count() == 0
    prof = {
        (r.country, r.seg): (r.class_size, r.l_diversity)
        for r in k_anonymity_profile(
            df, ["country", "seg"], sensitive="uid"
        ).collect()
    }
    assert prof == {("us", "A"): (5, 5), ("de", "B"): (1, 1)}


def test_suppress_below_k_null_quasi_ids_match_profile(spark):
    """Rows whose quasi-id is NULL form one equivalence class in the
    profile; suppression must use the same class definition (null-safe
    join) instead of unconditionally dropping them (ADVICE r4)."""
    from tickerlake_spark.operators.privacy import (
        k_anonymity_profile,
        suppress_below_k,
    )

    rows = [(None, "A", i) for i in range(4)] + [("us", "A", 9), (None, "B", 7)]
    df = spark.createDataFrame(rows, "country string, seg string, uid long")
    prof = {
        (r.country, r.seg): r.class_size
        for r in k_anonymity_profile(df, ["country", "seg"]).collect()
    }
    assert prof == {(None, "A"): 4, ("us", "A"): 1, (None, "B"): 1}
    kept = suppress_below_k(df, ["country", "seg"], k=3)
    # the (NULL, A) class has 4 members >= k and must survive
    assert kept.count() == 4
    assert all(r.country is None and r.seg == "A" for r in kept.collect())


def test_partition_fingerprints_distinguish_null_positions(spark):
    """('a', NULL, 'b') and ('a', 'b', NULL) must fingerprint differently:
    concat_ws silently skips NULLs, so without per-column NULL sentinels
    these collide systematically (ADVICE r4)."""
    from tickerlake_spark.storage.diff import partition_fingerprints

    a = spark.createDataFrame(
        [(1, "a", None, "b")], "p int, x string, y string, z string"
    )
    b = spark.createDataFrame(
        [(1, "a", "b", None)], "p int, x string, y string, z string"
    )
    fa = partition_fingerprints(a, ["p"]).collect()[0]
    fb = partition_fingerprints(b, ["p"]).collect()[0]
    assert fa.n_rows == fb.n_rows == 1
    assert fa.fingerprint != fb.fingerprint


def test_scd2_join_point_in_time_attribution(spark, tmp_path):
    """Facts joined to the SCD2 dim pick the version valid at each fact
    date (half-open ranges): one row per fact, no fan-out, correct
    attribute per period, null enrich for unknown keys."""
    import datetime as dt

    from pyspark.sql import functions as F

    from tickerlake_spark.storage.scd2 import scd2_apply, scd2_join

    path = str(tmp_path / "dim")
    schema = "ticker string, type string, effective_date date"
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 3, 1)
    scd2_apply(
        spark,
        path,
        spark.createDataFrame([("AAA", "CS", d1), ("BBB", "ETF", d1)], schema),
        keys=["ticker"], tracked=["type"],
    )
    scd2_apply(
        spark, path,
        spark.createDataFrame([("AAA", "ETF", d2)], schema),
        keys=["ticker"], tracked=["type"],
    )

    facts = spark.createDataFrame(
        [
            ("AAA", dt.date(2024, 2, 1), 1.0),   # before the change -> CS
            ("AAA", dt.date(2024, 3, 1), 2.0),   # boundary day -> new version
            ("AAA", dt.date(2024, 6, 1), 3.0),   # open version -> ETF
            ("BBB", dt.date(2024, 2, 1), 4.0),
            ("ZZZ", dt.date(2024, 2, 1), 5.0),   # unknown key -> null enrich
            ("AAA", dt.date(2023, 12, 1), 6.0),  # before dim birth -> null
        ],
        "ticker string, date date, v double",
    )
    dim = spark.read.parquet(path)
    out = scd2_join(facts, dim, keys=["ticker"], date_col="date")
    assert out.count() == facts.count()  # no fan-out
    got = {(r.ticker, str(r.date)): r.type for r in out.collect()}
    assert got == {
        ("AAA", "2024-02-01"): "CS",
        ("AAA", "2024-03-01"): "ETF",
        ("AAA", "2024-06-01"): "ETF",
        ("BBB", "2024-02-01"): "ETF",
        ("ZZZ", "2024-02-01"): None,
        ("AAA", "2023-12-01"): None,
    }


def test_partition_fingerprints_detect_divergence_order_free(spark):
    from pyspark.sql import functions as F

    from tickerlake_spark.storage.diff import partition_fingerprints

    rows = [(i % 3, i, f"v{i}") for i in range(300)]
    a = spark.createDataFrame(rows, "p int, k long, s string")
    # same rows, different physical order -> identical fingerprints
    b = spark.createDataFrame(list(reversed(rows)), "p int, k long, s string").repartition(7)
    fp = lambda df: {
        r.p: (r.n_rows, r.fingerprint)
        for r in partition_fingerprints(df, ["p"]).collect()
    }
    assert fp(a) == fp(b)
    # one mutated row -> exactly that partition diverges
    c = a.withColumn("s", F.when(F.col("k") == 100, "MUTATED").otherwise(F.col("s")))
    d = {p for p in fp(a) if fp(a)[p] != fp(c)[p]}
    assert d == {100 % 3}


def test_upsert_infers_layout_when_caller_omits_partition_by(spark, tmp_path):
    """ADVICE r6 (high): a partitioned table upserted with partition_by=None
    must NOT be flattened — the layout is detected from the directories and
    the merge stays a touched-partition dynamic overwrite, so no root-level
    files ever land next to date=.../ dirs."""
    import os

    from tickerlake_spark.storage.upsert import upsert_table

    path = str(tmp_path / "facts")
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0)],
        "id long, date string, v double",
    )
    upsert_table(spark, path, base, keys=["id", "date"], partition_by="date")
    updates = spark.createDataFrame(
        [(2, "2024-01-02", 200.0), (3, "2024-01-03", 30.0)],
        "id long, date string, v double",
    )
    r = upsert_table(spark, path, updates, keys=["id", "date"])  # no partition_by
    assert r["mode"] == "dynamic-partition"
    assert not any(
        f.endswith(".parquet") for f in os.listdir(path)
    ), "root-level files written next to partition dirs"
    got = {row.id: row.v for row in spark.read.parquet(path).collect()}
    assert got == {1: 10.0, 2: 200.0, 3: 30.0}


def test_upsert_migrates_legacy_unpartitioned_table(spark, tmp_path):
    """ADVICE r6 (medium): upserting with partition_by into a legacy flat
    table must migrate it wholesale (atomic swap), never write partition dirs
    next to the legacy root files."""
    import os

    from tickerlake_spark.storage.upsert import upsert_table

    path = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0)],
        "id long, date string, v double",
    ).write.parquet(path)  # legacy: unpartitioned
    updates = spark.createDataFrame(
        [(3, "2024-01-03", 30.0)], "id long, date string, v double"
    )
    r = upsert_table(spark, path, updates, keys=["id", "date"], partition_by="date")
    assert r["mode"] == "rewrite-migrate"
    assert not any(f.endswith(".parquet") for f in os.listdir(path))
    assert sorted(
        d for d in os.listdir(path) if d.startswith("date=")
    ) == ["date=2024-01-01", "date=2024-01-02", "date=2024-01-03"]
    assert spark.read.parquet(path).count() == 3


def test_upsert_conflicting_partition_layout_raises(spark, tmp_path):
    import pytest

    from tickerlake_spark.storage.upsert import upsert_table

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "2024-01-01", "x")], "id long, date string, k string"
    )
    upsert_table(spark, path, base, keys=["id"], partition_by="date")
    with pytest.raises(ValueError, match="partitioned on 'date'"):
        upsert_table(spark, path, base, keys=["id"], partition_by="k")


def test_replace_keys_partitioned_touches_only_replaced_partitions(spark, tmp_path):
    import os

    from tickerlake_spark.storage.upsert import replace_keys, upsert_table

    path = str(tmp_path / "hvc")
    base = spark.createDataFrame(
        [("A", "2024-01-01", 1.0), ("B", "2024-01-01", 2.0), ("A", "2024-01-02", 3.0)],
        "ticker string, date string, v double",
    )
    upsert_table(spark, path, base, keys=["ticker", "date"], partition_by="date")

    def mtime(d):
        full = os.path.join(path, d)
        return max(os.path.getmtime(os.path.join(full, f)) for f in os.listdir(full))

    before = mtime("date=2024-01-01")
    # replace day 2's row-set with an empty set -> partition dir must go away
    r = replace_keys(
        spark,
        path,
        spark.createDataFrame([("2024-01-02",)], "date string"),
        spark.createDataFrame([], "ticker string, date string, v double"),
        keys=["date"],
    )
    assert r["mode"] == "dynamic-partition"
    assert not os.path.isdir(os.path.join(path, "date=2024-01-02"))
    assert mtime("date=2024-01-01") == before, "untouched partition rewritten"
    assert spark.read.parquet(path).count() == 2


def test_detect_partition_column_ignores_underscore_dirs_and_raises_on_conflict(
    spark, tmp_path
):
    """ADVICE r7 lows: crash-leftover staging dirs must never read as
    partition values, and a genuinely conflicting root layout must raise
    instead of silently picking the alphabetically-first column."""
    import os

    from tickerlake_spark.storage import detect_partition_column

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "2024-01-01")], "id long, date string")
    df.write.partitionBy("date").parquet(path)
    # leftovers a crashed compaction could leave (post-fix naming): ignored
    os.makedirs(os.path.join(path, "_compact_ab12=stale"))
    os.makedirs(os.path.join(path, ".hidden=x"))
    assert detect_partition_column(path) == "date"
    # a second real partition column at the root = corrupted layout
    os.makedirs(os.path.join(path, "tb=3"))
    import pytest

    with pytest.raises(ValueError, match="conflicting root partition columns"):
        detect_partition_column(path)


def test_compact_partition_dirs_staging_names_invisible_to_spark(spark, tmp_path):
    """The compaction staging/old dirs are '_'-prefixed siblings inside the
    table root: simulate a crash mid-swap and check a plain read neither
    duplicates rows nor fails partition-type inference."""
    import os

    from tickerlake_spark.storage.maintenance import compact_partition_dirs

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "x") for i in range(50)], "id long, part string"
    ).repartition(8)
    df.write.partitionBy("part").parquet(path)
    out = compact_partition_dirs(spark, path, max_files_per_partition=4)
    assert out["compacted_partitions"] == 1
    # no Hive-parseable residue at the root besides the real partition
    residue = [d for d in os.listdir(path) if "=" in d and not d.startswith("_")]
    assert residue == ["part=x"]
    # a crash leftover (staged copy that never got renamed) is ignored
    spark.read.parquet(os.path.join(path, "part=x")).write.parquet(
        os.path.join(path, "_compact_deadbeef")
    )
    assert spark.read.parquet(path).count() == 50


def test_parquet_stats_max_matches_aggregate(spark, tmp_path):
    """Footer-statistics watermark probe: equals the Spark aggregate on
    date and long columns, and returns None for a missing column."""
    import datetime as _dt

    from tickerlake_spark.storage import parquet_stats_max

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            ("A", _dt.date(2024, 1, 2), 5),
            ("B", _dt.date(2024, 3, 1), 9),
            ("C", _dt.date(2023, 12, 29), 1),
        ],
        "ticker string, last_date date, n long",
    )
    df.repartition(2).write.parquet(path)
    got = parquet_stats_max(path, "last_date")
    assert got == _dt.date(2024, 3, 1)
    assert parquet_stats_max(path, "n") == 9
    assert parquet_stats_max(path, "nope") is None
    assert parquet_stats_max(str(tmp_path / "missing"), "x") is None


def test_parquet_stats_max_string_needs_exactness_flag(spark, tmp_path):
    """BYTE_ARRAY (string) statistics may be writer-truncated; without a
    footer exactness flag (pyarrow < 17 never exposes one) the probe must
    refuse rather than return a possibly-absent value (ADVICE r8 low)."""
    import pyarrow.parquet as pq

    from tickerlake_spark.storage import parquet_stats_max

    import os

    path = str(tmp_path / "t")
    spark.createDataFrame([("abc",), ("xyz",)], "s string").coalesce(
        1
    ).write.parquet(path)
    st = None
    for root, _d, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(root, f)).metadata
                if md.num_row_groups:
                    st = md.row_group(0).column(0).statistics
    expect_none = not getattr(st, "is_max_value_exact", False)
    got = parquet_stats_max(path, "s")
    if expect_none:
        assert got is None
    else:
        assert got == "xyz"


def test_parquet_stats_max_skips_staging_dirs(spark, tmp_path):
    """'_'-prefixed crash-leftover dirs are invisible to Spark readers and
    must not supply the watermark either (ADVICE r8 low)."""
    import datetime as _dt
    import os

    from tickerlake_spark.storage import parquet_stats_max

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(_dt.date(2024, 1, 2),)], "last_date date"
    ).write.parquet(path)
    # a stale orphaned staging dir holding a NEWER date
    spark.createDataFrame(
        [(_dt.date(2025, 6, 30),)], "last_date date"
    ).write.parquet(os.path.join(path, "_old_deadbeef"))
    assert parquet_stats_max(path, "last_date") == _dt.date(2024, 1, 2)


# ---------------------------------------------------------------------------
# Journaled partition-dir swaps (ADVICE r8 medium): every crash window of
# the compaction/repair swap must be recoverable from the marker alone —
# no state may leave a bucket's history parked in a Spark-invisible dir.
# ---------------------------------------------------------------------------


def _mk_bucket_table(spark, path, rows_per_bucket=20):
    df = spark.range(rows_per_bucket * 2).selectExpr(
        "cast(id % 2 as int) as tb", "id as v"
    )
    df.write.partitionBy("tb").parquet(path)


def test_swap_repair_crash_between_renames(spark, tmp_path):
    """State b: marker written, part renamed to _old_*, tmp still staged.
    Repair must install tmp as the partition and drop old."""
    import json
    import os

    from tickerlake_spark.storage.maintenance import repair_partition_swaps

    path = str(tmp_path / "t")
    _mk_bucket_table(spark, path)
    before = spark.read.parquet(path).filter("tb = 0").count()
    # stage a compacted rewrite of tb=0
    tmp = os.path.join(path, "_compact_ab")
    spark.read.parquet(os.path.join(path, "tb=0")).coalesce(1).write.parquet(tmp)
    # simulate the crash: part renamed out, tmp not yet renamed in
    os.rename(os.path.join(path, "tb=0"), os.path.join(path, "_old_ab"))
    with open(os.path.join(path, "_swap_ab.json"), "w") as f:
        json.dump({"part": "tb=0", "tmp": "_compact_ab", "old": "_old_ab"}, f)
    # Spark now sees NO tb=0 at all — the silent-loss window
    assert spark.read.parquet(path).filter("tb = 0").count() == 0
    assert repair_partition_swaps(path) == 1
    assert spark.read.parquet(path).filter("tb = 0").count() == before
    assert not os.path.exists(os.path.join(path, "_old_ab"))
    assert not os.path.exists(os.path.join(path, "_swap_ab.json"))


def test_swap_repair_crash_before_first_rename(spark, tmp_path):
    """State a: marker + staged tmp, part untouched. Repair completes the
    swap forward (tmp is fully written by contract)."""
    import json
    import os

    from tickerlake_spark.storage.maintenance import repair_partition_swaps

    path = str(tmp_path / "t")
    _mk_bucket_table(spark, path)
    tmp = os.path.join(path, "_compact_cd")
    spark.read.parquet(os.path.join(path, "tb=1")).coalesce(1).write.parquet(tmp)
    before = spark.read.parquet(path).filter("tb = 1").count()
    with open(os.path.join(path, "_swap_cd.json"), "w") as f:
        json.dump({"part": "tb=1", "tmp": "_compact_cd", "old": "_old_cd"}, f)
    assert repair_partition_swaps(path) == 1
    assert spark.read.parquet(path).filter("tb = 1").count() == before
    files = [
        f
        for f in os.listdir(os.path.join(path, "tb=1"))
        if f.endswith(".parquet")
    ]
    assert len(files) == 1  # the compacted rewrite won


def test_swap_repair_crash_after_second_rename(spark, tmp_path):
    """State c: swap done, old dir not yet deleted. Repair just cleans up."""
    import json
    import os

    from tickerlake_spark.storage.maintenance import repair_partition_swaps

    path = str(tmp_path / "t")
    _mk_bucket_table(spark, path)
    before = spark.read.parquet(path).count()
    os.makedirs(os.path.join(path, "_old_ef"))
    with open(os.path.join(path, "_swap_ef.json"), "w") as f:
        json.dump({"part": "tb=0", "tmp": "_compact_ef", "old": "_old_ef"}, f)
    assert repair_partition_swaps(path) == 1
    assert spark.read.parquet(path).count() == before
    assert not os.path.exists(os.path.join(path, "_old_ef"))


def test_swap_repair_delete_intent(spark, tmp_path):
    """A journaled delete (the pending-delete journal's case) must finish
    as a delete on retry, never resurrect the bucket."""
    import json
    import os

    from tickerlake_spark.storage.maintenance import repair_partition_swaps

    path = str(tmp_path / "t")
    _mk_bucket_table(spark, path)
    with open(os.path.join(path, "_swap_gh.json"), "w") as f:
        json.dump(
            {"part": "tb=0", "tmp": "_repair_gh", "old": "_old_gh", "delete": True},
            f,
        )
    assert repair_partition_swaps(path) == 1
    assert not os.path.exists(os.path.join(path, "tb=0"))
    assert spark.read.parquet(path).filter("tb = 1").count() > 0


def test_parquet_stats_all_non_null(spark, tmp_path):
    """Footer null-count probe: proves non-nullness without a Spark job;
    returns False on any null, None for missing columns."""
    from tickerlake_spark.storage import parquet_stats_all_non_null

    clean = str(tmp_path / "clean")
    spark.createDataFrame(
        [(1.0, 2.0), (3.0, 4.0)], "a double, b double"
    ).write.parquet(clean)
    assert parquet_stats_all_non_null(clean, ["a", "b"]) is True

    dirty = str(tmp_path / "dirty")
    spark.createDataFrame(
        [(1.0, 2.0), (None, 4.0)], "a double, b double"
    ).write.parquet(dirty)
    assert parquet_stats_all_non_null(dirty, ["a", "b"]) is False
    assert parquet_stats_all_non_null(dirty, ["b"]) is True
    assert parquet_stats_all_non_null(dirty, ["nope"]) is None
    assert parquet_stats_all_non_null(str(tmp_path / "missing"), ["a"]) is None


def test_whole_table_swap_crash_then_upsert_retry(spark, tmp_path):
    """r10: the whole-table rewrite swap (upsert/replace_keys/compact/
    sketch-rollup) is journaled via replace_table. Simulate the worst
    crash window — table renamed out, staged merge not yet renamed in —
    and retry the upsert: the old bare two-rename code saw a MISSING
    table, took the create branch, and rebuilt the table from the delta
    alone (silent history loss). The journal repair must restore the full
    merge first."""
    import json
    import os

    from tickerlake_spark.storage import read_table, upsert_table, write_table

    layer = tmp_path / "silver"
    path = str(layer / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k long, val string"
    )
    write_table(base, path)
    updates = spark.createDataFrame([(100, "new"), (0, "patched")], "k long, val string")

    # stage the merged output, then simulate the crash between the renames
    merged = base.filter("k NOT IN (0)").unionByName(updates)
    tmp = str(layer / "t__upsert_zz")
    merged.write.parquet(tmp)
    os.rename(path, str(layer / "_old_zz"))
    with open(str(layer / "_swap_zz.json"), "w") as f:
        json.dump({"part": "t", "tmp": "t__upsert_zz", "old": "_old_zz"}, f)
    # the silent-loss window: Spark sees no table at all
    assert not os.path.exists(path)

    out = upsert_table(spark, path, updates, keys=["k"])
    assert out["mode"] != "create", out  # repair ran BEFORE the branch
    got = read_table(spark, path)
    assert got.count() == 101  # full history + the insert — nothing lost
    assert got.filter("k = 0").first()["val"] == "patched"
    assert not os.path.exists(str(layer / "_swap_zz.json"))


def test_pending_delete_journal_crash_states(spark, tmp_path):
    """r10: emptied-partition deletes after a dynamic-overwrite merge are
    journaled. committed-state marker -> repair finishes the deletes
    (deleted rows can no longer resurrect); intent-state marker -> repair
    drops the marker WITHOUT deleting (the overwrite may never have
    committed, and those partitions still hold rows it was about to
    rewrite elsewhere)."""
    import json
    import os

    from tickerlake_spark.storage import read_table, write_table
    from tickerlake_spark.storage.upsert import (
        _PENDING_DELETES,
        repair_pending_deletes,
    )

    def mk_table(sub):
        path = str(tmp_path / sub)
        df = spark.createDataFrame(
            [("AAA", 1, 10.0), ("AAA", 2, 11.0), ("BBB", 1, 20.0)],
            "ticker string, tb int, v double",
        )
        write_table(df, path, partition_by="tb")
        return path

    # committed: the merge's overwrite landed; repair must finish deletes
    p = mk_table("committed")
    with open(os.path.join(p, _PENDING_DELETES), "w") as f:
        json.dump({"parts": ["tb=2"], "state": "committed"}, f)
    repair_pending_deletes(p)
    got = read_table(spark, p)
    assert got.filter("tb = 2").count() == 0
    assert got.count() == 2
    assert not os.path.exists(os.path.join(p, _PENDING_DELETES))

    # intent: overwrite unproven; repair must NOT delete
    p = mk_table("intent")
    with open(os.path.join(p, _PENDING_DELETES), "w") as f:
        json.dump({"parts": ["tb=2"], "state": "intent"}, f)
    repair_pending_deletes(p)
    got = read_table(spark, p)
    assert got.filter("tb = 2").count() == 1  # untouched
    assert not os.path.exists(os.path.join(p, _PENDING_DELETES))


def test_replace_keys_emptied_partition_journal_roundtrip(spark, tmp_path):
    """The live merge path journals and applies emptied-partition deletes:
    replacing a key with an EMPTY row-set drops its partition cleanly and
    leaves no marker."""
    import os

    from tickerlake_spark.storage import read_table, replace_keys, write_table
    from tickerlake_spark.storage.upsert import _PENDING_DELETES

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("AAA", 1, 10.0), ("BBB", 2, 20.0)], "ticker string, tb int, v double"
    )
    write_table(df, path, partition_by="tb")
    empty = spark.createDataFrame([], "ticker string, tb int, v double")
    replace_keys(
        spark,
        path,
        spark.createDataFrame([("BBB", 2)], "ticker string, tb int"),
        empty,
        keys=["ticker", "tb"],
        partition_by="tb",
    )
    got = read_table(spark, path)
    assert got.count() == 1 and got.first()["ticker"] == "AAA"
    assert not os.path.exists(os.path.join(path, "tb=2"))
    assert not os.path.exists(os.path.join(path, _PENDING_DELETES))
