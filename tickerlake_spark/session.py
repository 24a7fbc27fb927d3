"""SparkSession factory.

Defaults are chosen for large-scale batch analytics and scale down to the
local[N] test harness via environment variables:

- ``SPARK_GRAFT_CPUS``  local parallelism (default 32 in the harness).
- ``SPARK_GRAFT_SHUFFLE_PARTITIONS``  shuffle fan-out; on a real cluster this
  would be ~2-3x total cores (AQE coalesces small partitions back down).

Design notes (100 TB posture):
- AQE on: runtime re-plan, skew-join splitting, partition coalescing.
- zstd Parquet everywhere (reference parity: storage/operations.py:47).
- Arrow enabled for the few Pandas-UDF paths (vector ops, multimodal stubs).
- ``spark.sql.files.maxPartitionBytes`` left at 128m: scan parallelism scales
  with input size, not with a hand-tuned constant.
- DataFrame origin capture off (``spark.python.sql.dataFrameDebugging.enabled
  =false``). With it on, PySpark 4 wraps every Column function and DataFrame
  method (``pyspark/errors/utils.py::_with_origin``) in about four extra py4j
  round trips: look up the active session, the JVM origin class and a conf,
  then set and clear the origin. One pass over the eight headline catalog
  queries at sf0.01 made 13.8k py4j calls with it and 6.0k without (11.9k
  and 4.2k of them building the plans); at that size the driver's plan
  building, not execution, is a large share of a query's wall.
  What it costs: a runtime error's message no longer carries the Python
  call-site block (the DataFrame query context naming the user line that
  built the failing expression); the Python and JVM stack traces are
  unchanged. To debug with it, pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.
  PySpark reads the flag once per Python process, from the first session
  active when a wrapped call runs, so give it to the first ``get_spark``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from tickerlake_spark.config import Settings

__all__ = ["get_spark", "stop_spark"]


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "tickerlake-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a cluster, ``master`` comes from spark-submit; locally we default to
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    settings = Settings.from_env()  # env-fresh (validated), not the singleton
    cpus = settings.cpus
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = settings.shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS), which Spark's reader
        # rejects outright; read nanos as long and truncate to micros at
        # load (plans/catalog.py::load_table) — same semantics as DuckDB.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast threshold: dimension tables (region/nation/tickers/splits)
        # are tiny even at 100 TB fact scale; 64m is a safe ceiling.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Push `col IN (<literals>)` to parquet past the default of 10: the
        # gold stair-step path filters the ticker-bucketed closes extract on
        # a few hundred affected tickers, and row-group stats + bloom
        # filters only engage when the In predicate actually reaches the
        # reader (above the threshold Spark degrades it to a min/max range).
        # Bounded at 300: parquet-mr evaluates the pushed filter as a
        # RECURSIVE or-chain, and a ~2000-literal chain overflowed the
        # executor thread stack at the 10x scale run. Spark-side filtering
        # is InSet (hash) either way, so correctness never depends on this.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "300")
        .config("spark.driver.memory", settings.driver_memory)
        # ContextCleaner only reclaims shuffle files / broadcast blocks when
        # the DRIVER JVM garbage-collects their references; with a 32g heap
        # a multi-phase maintenance session can run for many minutes
        # without a single full GC, so spill accretes on disk and in the
        # page cache — the measured "run-tail" degradation where late
        # steady-state phases read 2-3x slower at identical plans. The
        # default periodic-GC interval (30min) never fires inside such a
        # run; 60s keeps cleanup bounded at negligible GC cost.
        .config("spark.cleaner.periodicGC.interval", "60s")
        .config("spark.ui.enabled", "false")
        # no per-call Python origin capture (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master.startswith("local"):
        # Partitioned tables here have O(1000) date directories. Above 32
        # paths Spark ships directory listing to a distributed job — one task
        # per directory — which on a single-machine local FS costs ~2s of
        # scheduler overhead per (re-)listing for work os.listdir does in
        # milliseconds. Keep listings on the driver locally; on a real
        # cluster (master from spark-submit) the default distributed listing
        # stands — against an object store it is the right call.
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "10000"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
