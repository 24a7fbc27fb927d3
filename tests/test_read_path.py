"""The jobless table-read contract (``storage/io.py`` module docstring):
Hive-layout reads pin their schema from the Parquet footer instead of
running Spark's schema-inference job, and read exactly what a plain
inferred ``spark.read.parquet`` reads. Also pins the silver rewrite gate's
fingerprints being computed once per run.
"""

from __future__ import annotations

import collections
import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from test_pipeline import _bars_for, _source
from tickerlake_spark import pipeline
from tickerlake_spark.pipeline import run_bronze, run_gold, run_silver
from tickerlake_spark.sources.calendar import trading_days
from tickerlake_spark.storage import Catalog, Checkpoints, read_table, table_exists
from tickerlake_spark.storage.io import detect_partition_column, footer_schema
from tickerlake_spark.storage.snapshots import is_snapshot_table

D = dt.date
_FINGERPRINTS = ("_splits_fingerprint", "_universe_fingerprint")


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """A full build then a one-day append (silver append + gold
    incremental), with volume spikes so every gold table holds rows. The
    fingerprint functions are counted during the append's ``run_silver``."""
    days = trading_days(D(2024, 1, 2), D(2024, 2, 20))
    spikes = {20, 21, 22, len(days) - 1}
    bars = {}
    for i, d in enumerate(days):
        rows = _bars_for(d, price=100.0 + 2.0 * i if i in spikes else 100.0 + i % 5)
        for r in rows:
            r["volume"] *= 12 if i in spikes else 1
        bars[d] = rows

    def src(dates):
        s = _source(dates)
        s._bars = {d: bars[d] for d in dates}
        return s

    root = tmp_path_factory.mktemp("read_path")
    cat = Catalog(root=str(root / "data"))
    cp = Checkpoints(str(root / "cp.json"))
    run_bronze(spark, src(days[:-1]), cat, cp, days[0], days[-2])
    assert run_silver(spark, cat, cp)["mode"] == "full"
    assert run_gold(spark, cat, checkpoints=cp)["mode"] == "full"

    run_bronze(spark, src(days), cat, cp, days[0], days[-1])
    calls = collections.Counter()
    real = {name: getattr(pipeline, name) for name in _FINGERPRINTS}

    def counted(name):
        def fn(*args, **kwargs):
            calls[name] += 1
            return real[name](*args, **kwargs)

        return fn

    try:
        for name in _FINGERPRINTS:
            setattr(pipeline, name, counted(name))
        assert run_silver(spark, cat, cp)["mode"] == "append"
    finally:
        for name in _FINGERPRINTS:
            setattr(pipeline, name, real[name])
    assert run_gold(spark, cat, checkpoints=cp)["mode"] == "incremental"
    return {"catalog": cat, "checkpoints": cp, "fingerprint_calls": calls}


def _hive_tables(cat: Catalog) -> dict[str, str]:
    out = {}
    for layer in ("silver", "gold"):
        base = os.path.join(cat.root, layer)
        for name in sorted(os.listdir(base)):
            p = os.path.join(base, name)
            if (
                not name.startswith(("_", "."))
                and table_exists(p)
                and not is_snapshot_table(p)
            ):
                out[f"{layer}.{name}"] = p
    return out


def test_every_hive_table_reads_as_inferred(spark, lake):
    """Every Spark-written Hive-layout silver and gold table: the pinned
    read has the inferred read's exact schema (names, types, order,
    nullability) and the same rows."""
    tables = _hive_tables(lake["catalog"])
    assert {
        "silver.daily_aggregates",
        "silver.weekly_indicators",
        "silver.indicator_tail_daily",
        "silver.indicator_tail_week",
        "silver.indicator_tail_month",
        "gold.closes_by_ticker",
        "gold.stairstep_up",
    } <= set(tables)
    for name, p in tables.items():
        assert footer_schema(p) is not None, name  # pinned, not the fallback
        pinned, inferred = read_table(spark, p), spark.read.parquet(p)
        assert pinned.schema == inferred.schema, name
        assert pinned.count() == inferred.count(), name
        assert pinned.exceptAll(inferred).isEmpty(), name
        assert inferred.exceptAll(pinned).isEmpty(), name


def _jobs_in_group(spark, fn) -> list[int]:
    sc = spark.sparkContext
    group = f"read-path-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "jobs launched while resolving a table read")
    try:
        fn().schema  # resolve the relation
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_partitioned_read_runs_no_spark_job(spark, lake):
    p = lake["catalog"].silver("weekly_aggregates")
    assert detect_partition_column(p) == "date"
    # above this many partition directories Spark lists them with a job of
    # its own, whatever the schema source; this table stays below it
    threshold = int(
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    )
    assert len([d for d in os.listdir(p) if d.startswith("date=")]) <= threshold
    assert _jobs_in_group(spark, lambda: read_table(spark, p)) == []
    # non-vacuous: the inferred read of the same table does launch a job
    assert _jobs_in_group(spark, lambda: spark.read.parquet(p)) != []


def _write_arrow_table(path: str, metadata: dict | None = None) -> None:
    table = pa.table({"ticker": ["A", "B"], "n": pa.array([1, 2], pa.int32())})
    if metadata is not None:
        table = table.replace_schema_metadata(metadata)
    for part in ("k=1", "k=2"):
        os.makedirs(os.path.join(path, part))
        pq.write_table(table, os.path.join(path, part, "part-0.parquet"))


def test_foreign_writer_falls_back_to_inference(spark, tmp_path):
    p = str(tmp_path / "arrow_table")
    _write_arrow_table(p)
    assert footer_schema(p) is None
    pinned, inferred = read_table(spark, p), spark.read.parquet(p)
    assert pinned.schema == inferred.schema
    assert sorted(pinned.collect()) == sorted(inferred.collect())


@pytest.mark.parametrize(
    "value", [b"{not json", b'{"type": "struct"}', b"[1, 2]"]
)
def test_corrupt_schema_key_falls_back_to_inference(spark, tmp_path, value):
    p = str(tmp_path / "corrupt_key")
    _write_arrow_table(p, {b"org.apache.spark.sql.parquet.row.metadata": value})
    assert footer_schema(p) is None
    pinned, inferred = read_table(spark, p), spark.read.parquet(p)
    assert pinned.schema == inferred.schema
    assert sorted(pinned.collect()) == sorted(inferred.collect())


def _raised(fn) -> Exception:
    with pytest.raises(Exception) as info:
        fn()
    return info.value


@pytest.mark.parametrize("kind", ["missing", "empty_dir"])
def test_missing_and_empty_tables_raise_as_before(spark, tmp_path, kind):
    p = str(tmp_path / "t")
    if kind == "empty_dir":
        os.makedirs(p)
    want = _raised(lambda: spark.read.parquet(p))
    got = _raised(lambda: read_table(spark, p))
    assert type(got) is type(want)
    assert got.getCondition() == want.getCondition()


def test_silver_fingerprints_computed_once_per_append(spark, lake):
    """The rewrite gate's fingerprints are the ones the commit records:
    each function runs once on an append, not once at the gate and again
    at commit."""
    assert lake["fingerprint_calls"] == {name: 1 for name in _FINGERPRINTS}
    cat, cp = lake["catalog"], lake["checkpoints"]
    assert cp.get("silver_splits_fingerprint") == pipeline._splits_fingerprint(
        spark, cat
    )
    assert cp.get(
        "silver_universe_fingerprint"
    ) == pipeline._universe_fingerprint(spark, cat)
