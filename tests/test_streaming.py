"""Structured Streaming tests: file-source micro-batches must produce the
same results as batch execution of the same window operator (the operators
are literally the same functions)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tickerlake_spark.streaming.windows import stream_events, tumbling_agg


@pytest.fixture()
def event_drops(spark, sf_dir, tmp_path):
    """Split sf0.001 events into two parquet 'drops' landing in a dir."""
    src = os.path.join(sf_dir, "events.parquet")
    from tickerlake_spark.plans.catalog import load_table

    events = load_table(spark, os.path.dirname(src) or sf_dir, "events")
    # event-time watermarks require TimestampType (not ntz); session TZ is
    # UTC so the cast is value-preserving
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    drop_dir = str(tmp_path / "landing")
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(drop_dir)
    second.coalesce(1).write.mode("append").parquet(drop_dir)
    return drop_dir, events


def test_streaming_tumbling_matches_batch(spark, event_drops, tmp_path):
    drop_dir, events = event_drops
    schema = events.schema

    stream = stream_events(spark, drop_dir, schema, max_files_per_trigger=1)
    assert stream.isStreaming
    agg = tumbling_agg(stream, "1 hour", watermark="2 hours")

    query = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        streamed = spark.sql(
            "SELECT * FROM tumbling_test ORDER BY window_start, event_type"
        ).collect()
    finally:
        query.stop()

    batch = (
        tumbling_agg(events, "1 hour")
        .orderBy("window_start", "event_type")
        .collect()
    )
    assert len(streamed) == len(batch) > 0
    for s, b in zip(streamed, batch):
        assert s.window_start == b.window_start
        assert s.n_events == b.n_events
        assert abs(s.total_value - b.total_value) < 1e-6


def test_stateful_running_totals_matches_batch(spark, event_drops, tmp_path):
    """applyInPandasWithState running totals: the last update per key must
    equal the batch groupBy aggregate over the full input."""
    from tickerlake_spark.streaming.stateful import running_totals

    drop_dir, events = event_drops
    stream = stream_events(spark, drop_dir, events.schema, max_files_per_trigger=1)
    totals = running_totals(stream, key_col="event_type", value_col="value")
    query = (
        totals.writeStream.format("memory")
        .queryName("running_totals_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        query.processAllAvailable()
        updates = spark.sql("SELECT * FROM running_totals_test").collect()
    finally:
        query.stop()

    # update mode appends one row per key per touching micro-batch: the row
    # with the max n_events per key is the final state
    final: dict[str, tuple[int, float]] = {}
    for r in updates:
        if r.event_type not in final or r.n_events > final[r.event_type][0]:
            final[r.event_type] = (r.n_events, r.total_value)

    batch = {
        r.event_type: (r.n, r.s)
        for r in events.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(final) == set(batch) and len(batch) > 0
    for k, (n, s) in batch.items():
        assert final[k][0] == n
        assert abs(final[k][1] - s) < 1e-6


def test_stateful_first_seen_filter(spark, event_drops, tmp_path):
    """Novelty gate: exactly one output row per distinct key, ever."""
    from tickerlake_spark.streaming.stateful import first_seen_filter

    drop_dir, events = event_drops
    # duplicate both drops into a second landing dir so every key arrives 2x+
    dup_dir = str(tmp_path / "landing_dup")
    events.coalesce(1).write.mode("append").parquet(dup_dir)
    events.coalesce(1).write.mode("append").parquet(dup_dir)

    stream = stream_events(spark, dup_dir, events.schema, max_files_per_trigger=1)
    novel = first_seen_filter(stream, key_col="user_id")
    query = (
        novel.writeStream.format("memory")
        .queryName("first_seen_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .start()
    )
    try:
        query.processAllAvailable()
        rows = spark.sql("SELECT user_id FROM first_seen_test").collect()
    finally:
        query.stop()
    seen = [r.user_id for r in rows]
    n_distinct = events.select("user_id").distinct().count()
    assert len(seen) == len(set(seen)) == n_distinct > 0


def test_streaming_dedup_with_watermark(spark, event_drops, tmp_path):
    """Streaming exact-dedup on event_id: duplicate drops collapse."""
    drop_dir, events = event_drops
    schema = events.schema
    stream = stream_events(spark, drop_dir, schema, max_files_per_trigger=1)
    deduped = stream.withWatermark("ts", "1 day").dropDuplicates(["event_id"])
    query = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        query.processAllAvailable()
        n = spark.sql("SELECT count(*) AS n FROM dedup_test").first().n
    finally:
        query.stop()
    assert n == events.count()  # drops were disjoint halves -> no loss, no dup


def test_stateful_session_tracker_matches_batch_islands(spark, event_drops, tmp_path):
    """Watermark-correct sessionization: every emitted session must match the
    batch gaps-and-islands result over the full input, restricted to sessions
    the final watermark could actually close — and each exactly once."""
    from tickerlake_spark.streaming.stateful import session_tracker

    drop_dir, events = event_drops
    stream = stream_events(spark, drop_dir, events.schema, max_files_per_trigger=1)
    sessions = session_tracker(stream, gap="30 minutes", watermark="1 hour")
    query = (
        sessions.writeStream.format("memory")
        .queryName("session_tracker_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    try:
        query.processAllAvailable()
        got = spark.sql("SELECT * FROM session_tracker_test").collect()
    finally:
        query.stop()

    # final watermark = max event time of the FIRST drop (even ids) - 1h:
    # the watermark active while the second (last) micro-batch ran
    rows = events.select("event_id", "user_id", F.col("ts").cast("timestamp")).collect()
    first_max_ms = max(
        int(r.ts.timestamp() * 1000) for r in rows if r.event_id % 2 == 0
    )
    wm = first_max_ms - 3_600_000
    gap_ms = 30 * 60_000

    from collections import defaultdict

    per_user = defaultdict(list)
    for r in rows:
        per_user[str(r.user_id)].append(int(r.ts.timestamp() * 1000))
    expected = set()
    for u, ts in per_user.items():
        ts.sort()
        cur = [ts[0]]
        sess = []
        for t in ts[1:]:
            if t - cur[-1] > gap_ms:
                sess.append(cur)
                cur = [t]
            else:
                cur.append(t)
        sess.append(cur)
        for s in sess:
            if s[-1] + gap_ms < wm:
                expected.add((u, s[0], s[-1], len(s)))

    emitted = [(r.user, r.session_start_ms, r.session_end_ms, r.n_events) for r in got]
    assert len(emitted) == len(set(emitted)), "a session was emitted twice"
    assert set(emitted) == expected and len(expected) > 0


def test_stream_stream_interval_join_matches_batch(spark, event_drops, tmp_path):
    """attributed_purchases as a real two-stream interval join (file source,
    append mode) must emit exactly the batch result — and both watermarks
    must appear in the streaming plan so join state is evictable."""
    from tickerlake_spark.streaming.joins import attributed_purchases
    from tickerlake_spark.streaming.windows import stream_events

    drop_dir, events = event_drops
    stream = stream_events(spark, drop_dir, events.schema, max_files_per_trigger=1)
    joined = attributed_purchases(stream, max_delay="1 hour", watermark="2 hours")

    query = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        streamed = spark.sql(
            "SELECT * FROM ssj_test ORDER BY user_id, view_id, purchase_id"
        ).collect()
    finally:
        query.stop()

    batch = (
        attributed_purchases(events, max_delay="1 hour")
        .orderBy("user_id", "view_id", "purchase_id")
        .collect()
    )
    assert len(streamed) == len(batch) > 0
    for s, b in zip(streamed, batch):
        assert (s.user_id, s.view_id, s.purchase_id) == (
            b.user_id,
            b.view_id,
            b.purchase_id,
        )
        assert abs(s.purchase_value - b.purchase_value) < 1e-9


def test_foreach_batch_upsert_sink_is_idempotent(spark, event_drops, tmp_path):
    """Streaming ingestion with a MERGE sink: each micro-batch upserts into
    a keyed Parquet table via foreachBatch + upsert_table. The sink is
    idempotent on event_id (replayed batches can't duplicate), and the final
    table equals the batch input exactly."""
    from tickerlake_spark.storage.upsert import upsert_table
    from tickerlake_spark.streaming.windows import stream_events

    drop_dir, events = event_drops
    target = str(tmp_path / "silver_events")

    def sink(batch_df, batch_id):
        upsert_table(
            batch_df.sparkSession, target, batch_df, keys=["event_id"]
        )

    stream = stream_events(spark, drop_dir, events.schema, max_files_per_trigger=1)
    query = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "fb_ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    got = spark.read.parquet(target)
    assert got.count() == events.count()
    # replaying a batch (at-least-once delivery) must not duplicate rows
    replay = events.limit(50)
    upsert_table(spark, target, replay, keys=["event_id"])
    assert spark.read.parquet(target).count() == events.count()


def test_streaming_restart_from_checkpoint_no_duplicates(spark, event_drops, tmp_path):
    """Stop a streaming query, land more data, restart with the same
    checkpoint: the second run must resume from the recorded offsets —
    already-processed files are NOT re-read, new files are, and every input
    row is delivered exactly once across the two runs."""
    from pyspark.sql import functions as F

    from tickerlake_spark.streaming.windows import stream_events

    _, events = event_drops
    landing = str(tmp_path / "restart_landing")
    ckpt = str(tmp_path / "restart_ckpt")
    out = str(tmp_path / "restart_out")
    schema = events.schema

    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)

    def run_to_completion():
        stream = stream_events(spark, landing, schema)
        q = (
            stream.selectExpr("event_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    first.coalesce(1).write.mode("append").parquet(landing)
    run_to_completion()
    n_first = spark.read.parquet(out).count()
    assert n_first == first.count()

    second.coalesce(1).write.mode("append").parquet(landing)
    run_to_completion()

    got = spark.read.parquet(out)
    assert got.count() == events.count(), "restart lost or duplicated rows"
    assert got.select("event_id").distinct().count() == events.count()


@pytest.mark.slow
def test_bronze_to_silver_stream_matches_batch(spark, tmp_path):
    """The streaming medallion path (streaming/medallion.py) must leave every
    silver table equal to a batch recompute over the same bronze data, across
    multiple micro-batches (maxFilesPerTrigger=2 forces several), a split
    adjustment, a restart with newly-landed files, and a no-new-data replay
    (idempotency)."""
    import datetime as dt

    from tickerlake_spark import schemas
    from tickerlake_spark.operators.indicators import compute_indicators
    from tickerlake_spark.operators.resample import resample_ohlcv
    from tickerlake_spark.operators.splits import apply_splits
    from tickerlake_spark.sources.calendar import trading_days
    from tickerlake_spark.storage import Catalog, read_table, write_table
    from tickerlake_spark.streaming.medallion import stream_bronze_to_silver

    days = trading_days(dt.date(2024, 1, 2), dt.date(2024, 2, 7))
    rows = [
        (t, 1000 + 40 * (i % 9), 99.0, 100.0 + (i * 7 % 13) + k, 103.0, 97.0,
         d, 10)
        for k, t in enumerate(["AAA", "BBB"])
        for i, d in enumerate(days)
    ]
    schema = (
        "ticker string, volume long, open float, close float, high float, "
        "low float, date date, transactions long"
    )
    all_bars = spark.createDataFrame(rows, schema)

    cat = Catalog(root=str(tmp_path / "sdata"))
    splits = spark.createDataFrame(
        [("s1", days[12], 1.0, 2.0, "AAA")],
        "id string, execution_date date, split_from float, split_to float, ticker string",
    )
    write_table(schemas.conform(splits, schemas.SPLITS), cat.bronze("splits"))

    ckpt = str(tmp_path / "ckpt")
    cutoff = days[17]
    phase1 = all_bars.filter(F.col("date") <= F.lit(cutoff))
    write_table(
        schemas.conform(phase1, schemas.STOCKS).repartition("date"),
        cat.bronze("stocks"),
        partition_by="date",
    )
    q = stream_bronze_to_silver(spark, cat, ckpt, max_files_per_trigger=3)
    q.awaitTermination()

    # restart with eight more trading days landed
    phase2 = all_bars.filter(F.col("date") > F.lit(cutoff))
    write_table(
        schemas.conform(phase2, schemas.STOCKS).repartition("date"),
        cat.bronze("stocks"),
        mode="append",
        partition_by="date",
    )
    q = stream_bronze_to_silver(spark, cat, ckpt, max_files_per_trigger=3)
    q.awaitTermination()
    # replay with nothing new: must be a no-op
    q = stream_bronze_to_silver(spark, cat, ckpt)
    q.awaitTermination()

    def rows_of(df):
        # column order is storage-layout-dependent (a Hive-partitioned read
        # surfaces the partition column last) - compare by sorted column name
        df = df.select(*sorted(df.columns))
        rounded = df.select(
            *[
                F.round(c, 9).alias(c) if t == "double" else F.col(c)
                for c, t in df.dtypes
            ]
        )
        return sorted(
            map(tuple, rounded.collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    expected_daily = schemas.conform(
        apply_splits(schemas.conform(all_bars, schemas.AGGREGATES), splits),
        schemas.AGGREGATES,
    )
    assert rows_of(read_table(spark, cat.silver("daily_aggregates"))) == rows_of(
        expected_daily
    )
    assert rows_of(read_table(spark, cat.silver("daily_indicators"))) == rows_of(
        schemas.conform(compute_indicators(expected_daily), schemas.INDICATORS)
    )
    for period, agg_table, ind_table in (
        ("week", "weekly_aggregates", "weekly_indicators"),
        ("month", "monthly_aggregates", "monthly_indicators"),
    ):
        expected_agg = schemas.conform(
            resample_ohlcv(expected_daily, period), schemas.AGGREGATES
        )
        assert rows_of(read_table(spark, cat.silver(agg_table))) == rows_of(
            expected_agg
        ), agg_table
        assert rows_of(read_table(spark, cat.silver(ind_table))) == rows_of(
            schemas.conform(compute_indicators(expected_agg), schemas.INDICATORS)
        ), ind_table


@pytest.mark.slow
def test_bronze_to_gold_stream_matches_batch(spark, tmp_path):
    """The full streaming medallion (with_gold=True) must leave every GOLD
    table equal to a batch run_silver + run_gold over the same bronze data,
    across multiple micro-batches, a restart with newly-landed files, and a
    no-new-data replay (VERDICT r3 item 6). Bars include ~HVC volume spikes
    so the stair-step/best-pattern paths have real work."""
    import datetime as dt

    from tickerlake_spark import schemas
    from tickerlake_spark.pipeline import run_gold, run_silver
    from tickerlake_spark.sources.calendar import trading_days
    from tickerlake_spark.storage import Catalog, Checkpoints, read_table, write_table
    from tickerlake_spark.streaming.medallion import stream_bronze_to_silver

    days = trading_days(dt.date(2024, 1, 2), dt.date(2024, 3, 27))
    rows = []
    for k, t in enumerate(["AAA", "BBB", "CCC"]):
        drift = 0.5 if k < 2 else -0.5  # AAA/BBB trend up, CCC down ->
        for i, d in enumerate(days):    # rising AND falling stair-steps
            vol = 1000 + 40 * (i % 9)
            if i % 11 == k + 3:  # periodic 8x volume spikes -> HVC events
                vol *= 8
            close = 100.0 + ((i * 7 + k * 3) % 13) % 4 + i * drift
            rows.append((t, vol, close - 1.0, close, close + 2.0, close - 3.0, d, 10))
    schema = (
        "ticker string, volume long, open float, close float, high float, "
        "low float, date date, transactions long"
    )
    all_bars = spark.createDataFrame(rows, schema)
    splits = spark.createDataFrame(
        [("s1", days[20], 1.0, 2.0, "AAA")],
        "id string, execution_date date, split_from float, split_to float, ticker string",
    )
    stamp = dt.datetime(2024, 4, 1, 12, 0, 0)

    def seed_bronze(cat, bars, mode="overwrite"):
        write_table(
            schemas.conform(bars, schemas.STOCKS).repartition("date"),
            cat.bronze("stocks"),
            mode=mode,
            partition_by="date",
        )

    # --- streaming catalog: two phases + replay ---------------------------
    scat = Catalog(root=str(tmp_path / "sdata"))
    write_table(schemas.conform(splits, schemas.SPLITS), scat.bronze("splits"))
    ckpt = str(tmp_path / "ckpt")
    cutoff = days[35]
    seed_bronze(scat, all_bars.filter(F.col("date") <= F.lit(cutoff)))
    q = stream_bronze_to_silver(
        spark, scat, ckpt, max_files_per_trigger=7, with_gold=True,
        calculated_at=stamp,
    )
    q.awaitTermination()
    seed_bronze(scat, all_bars.filter(F.col("date") > F.lit(cutoff)), mode="append")
    q = stream_bronze_to_silver(
        spark, scat, ckpt, max_files_per_trigger=7, with_gold=True,
        calculated_at=stamp,
    )
    q.awaitTermination()
    q = stream_bronze_to_silver(spark, scat, ckpt, with_gold=True, calculated_at=stamp)
    q.awaitTermination()  # idempotent replay: no new files

    # --- batch catalog: one-shot full pipeline ----------------------------
    bcat = Catalog(root=str(tmp_path / "bdata"))
    write_table(schemas.conform(splits, schemas.SPLITS), bcat.bronze("splits"))
    seed_bronze(bcat, all_bars)
    bckpt = Checkpoints(path=str(tmp_path / "bdata" / "checkpoints.json"))
    run_silver(spark, bcat, bckpt)
    run_gold(spark, bcat, calculated_at=stamp, checkpoints=bckpt)

    def rows_of(df):
        # column order is storage-layout-dependent (a Hive-partitioned read
        # surfaces the partition column last) - compare by sorted column name
        df = df.select(*sorted(df.columns))
        rounded = df.select(
            *[
                F.round(c, 9).alias(c) if t == "double" else F.col(c)
                for c, t in df.dtypes
            ]
        )
        return sorted(
            map(tuple, rounded.collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )

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
        got = rows_of(read_table(spark, scat.gold(table)))
        want = rows_of(read_table(spark, bcat.gold(table)))
        assert got == want, f"gold.{table}: stream != batch"
    # and the gold tables are non-trivial (the generator made real events)
    assert len(rows_of(read_table(spark, scat.gold("hvc_daily")))) > 0
    assert len(rows_of(read_table(spark, scat.gold("stairstep_up")))) > 0
    assert len(rows_of(read_table(spark, scat.gold("stairstep_down")))) > 0
    # every micro-batch vacuums the snapshot gold tables, as run_gold does
    from tickerlake_spark.pipeline import _SNAP_GOLD_TABLES
    from tickerlake_spark.storage import snap_history

    for table in _SNAP_GOLD_TABLES:
        assert len(snap_history(scat.gold(table))) <= 3, table


def test_streaming_sketch_rollup_matches_batch_sketch(spark, event_drops, tmp_path):
    """Streaming HLL rollup: estimates after micro-batched ingest must be
    BIT-IDENTICAL to a one-shot sketch over the full input (associative
    union), and replaying an already-folded batch must change nothing."""
    from tickerlake_spark.operators.incremental_agg import (
        sketch_distinct_delta,
        sketch_estimates,
    )
    from tickerlake_spark.streaming.sketch_rollup import (
        sketch_rollup_batch,
        stream_distinct_rollup,
    )
    from tickerlake_spark.streaming.windows import stream_events

    drop_dir, events = event_drops
    path = str(tmp_path / "distinct_rollup")
    stream = stream_events(spark, drop_dir, events.schema, max_files_per_trigger=1)
    q = stream_distinct_rollup(
        spark, stream, path, str(tmp_path / "ckpt_sketch"),
        keys=["event_type"], col="user_id",
    )
    q.awaitTermination()

    def estimates(df):
        return {
            r.event_type: r.approx_distinct for r in sketch_estimates(df).collect()
        }

    got = estimates(spark.read.parquet(path))
    want = estimates(sketch_distinct_delta(events, ["event_type"], "user_id"))
    assert got == want and len(got) > 0

    # replaying one of the already-folded halves is a no-op (HLL union of
    # already-present elements cannot move any register)
    sketch_rollup_batch(
        spark, path, events.filter(F.col("event_id") % 2 == 0),
        keys=["event_type"], col="user_id",
    )
    assert estimates(spark.read.parquet(path)) == want


def test_streaming_scd2_matches_batch_applies(spark, tmp_path):
    """stream_scd2 over a landing dir of dimension-update drops must leave
    the SCD2 table equal to sequential batch scd2_apply calls, including a
    multi-date backfill batch and an idempotent replay."""
    import datetime as dt

    from tickerlake_spark.storage.scd2 import scd2_apply, stream_scd2

    schema = "ticker string, type string, effective_date date"
    d1, d2, d3 = dt.date(2024, 1, 1), dt.date(2024, 3, 1), dt.date(2024, 5, 1)
    drop1 = [("AAA", "CS", d1), ("BBB", "ETF", d1)]
    # one drop carrying TWO effective dates: AAA changes at d2 AND d3
    drop2 = [("AAA", "ETF", d2), ("AAA", "CS", d3), ("CCC", "CS", d2)]

    land = str(tmp_path / "landing")
    spark.createDataFrame(drop1, schema).coalesce(1).write.mode("append").parquet(land)
    spark.createDataFrame(drop2, schema).coalesce(1).write.mode("append").parquet(land)

    spath = str(tmp_path / "sdim")
    stream = (
        spark.readStream.schema(
            spark.createDataFrame([], schema).schema
        ).option("maxFilesPerTrigger", 1).parquet(land)
    )
    q = stream_scd2(
        stream, spath, str(tmp_path / "ckpt"),
        keys=["ticker"], tracked=["type"],
    )
    q.awaitTermination()
    # replay with nothing new
    stream2 = spark.readStream.schema(
        spark.createDataFrame([], schema).schema
    ).parquet(land)
    q = stream_scd2(
        stream2, spath, str(tmp_path / "ckpt"), keys=["ticker"], tracked=["type"]
    )
    q.awaitTermination()

    bpath = str(tmp_path / "bdim")
    scd2_apply(spark, bpath, spark.createDataFrame(drop1, schema),
               keys=["ticker"], tracked=["type"])
    scd2_apply(spark, bpath,
               spark.createDataFrame([("AAA", "ETF", d2), ("CCC", "CS", d2)], schema),
               keys=["ticker"], tracked=["type"])
    scd2_apply(spark, bpath, spark.createDataFrame([("AAA", "CS", d3)], schema),
               keys=["ticker"], tracked=["type"])

    def rows(p):
        return sorted(map(tuple, spark.read.parquet(p).collect()))

    assert rows(spath) == rows(bpath)
    # AAA carries 3 versions, exactly one open
    aaa = [r for r in rows(spath) if r[0] == "AAA"]
    assert len(aaa) == 3 and sum(1 for r in aaa if r[-1]) == 1


# ---------------------------------------------------------------------------
# incremental near-dup dedup stream (streaming/dedup_stream.py)


@pytest.fixture()
def doc_batches(spark, sf_dir):
    """Three arrival batches over the documents table with near-dups that
    cross batch boundaries: batch2 mutates batch1 docs, batch3 exactly
    copies batch2 docs and mutates batch1 docs again. Ids increase with
    arrival order so keep-first == keep-min-id."""
    from tickerlake_spark.plans.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 40)
    b2_near = (
        docs.filter(F.col("doc_id") < 10)
        .select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.concat("text", F.lit(" qq"), F.col("doc_id")).alias("text"),
        )
    )
    b2_fresh = docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60)).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    b2 = b2_near.unionByName(b2_fresh)
    b3_exact = b2_fresh.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    b3_near1 = (
        docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20))
        .select(
            (F.col("doc_id") + 2000).alias("doc_id"),
            F.concat("text", F.lit(" zz"), F.col("doc_id")).alias("text"),
        )
    )
    b3_fresh = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 80)).select(
        (F.col("doc_id") + 2000).alias("doc_id"), "text"
    )
    b3 = b3_exact.unionByName(b3_near1).unionByName(b3_fresh)
    return [base, b2, b3]


def _greedy_keep_first(all_ids, dup_pairs):
    """Reference semantics in 20 lines of Python: drop a doc if it pairs
    with any lower-id doc of the same batch OR any lower-batch SURVIVOR."""
    by_pair = {}
    for a, b, _ in dup_pairs:
        lo, hi = (a, b) if a < b else (b, a)
        by_pair.setdefault(hi, set()).add(lo)
    kept = []
    kept_set = set()
    batch_of = {i: b for b, ids in enumerate(all_ids) for i in ids}
    for b, ids in enumerate(all_ids):
        for i in sorted(ids):
            partners = by_pair.get(i, set())
            dead = any(
                p in kept_set or batch_of.get(p) == b for p in partners if p < i
            )
            if not dead:
                kept.append(i)
                kept_set.add(i)
    return sorted(kept)


def test_stream_dedup_matches_batch_keep_first(spark, doc_batches, tmp_path):
    """Folding batches through dedup_batch_against_store equals the greedy
    keep-first reduction of the batch-mode pair list on the full corpus."""
    from tickerlake_spark.operators.dedup import minhash_lsh_pairs
    from tickerlake_spark.streaming.dedup_stream import dedup_batch_against_store

    store = str(tmp_path / "sig_store")
    out_ids = []
    for i, b in enumerate(doc_batches):
        survivors = dedup_batch_against_store(spark, b, store, batch_id=i)
        out_ids.append(sorted(r["doc_id"] for r in survivors.select("doc_id").collect()))

    full = doc_batches[0]
    for b in doc_batches[1:]:
        full = full.unionByName(b)
    pairs = [
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(full).collect()
    ]
    batch_ids = [
        {r["doc_id"] for r in b.select("doc_id").collect()} for b in doc_batches
    ]
    expected = _greedy_keep_first(batch_ids, pairs)
    got = sorted(i for ids in out_ids for i in ids)
    assert got == expected
    # sanity: the fixture actually exercised every path
    assert len(got) < sum(len(s) for s in batch_ids), "no dups were dropped"
    assert out_ids[1] and out_ids[2], "a whole batch died"


def test_stream_dedup_replay_is_exactly_once(spark, doc_batches, tmp_path):
    """Re-running a batch_id (foreachBatch replay after a crash) must leave
    the signature store byte-identical and return the same survivors."""
    from tickerlake_spark.storage.io import read_table
    from tickerlake_spark.streaming.dedup_stream import dedup_batch_against_store

    store = str(tmp_path / "sig_store")
    dedup_batch_against_store(spark, doc_batches[0], store, batch_id=0)
    first = sorted(
        r["doc_id"]
        for r in dedup_batch_against_store(spark, doc_batches[1], store, batch_id=1)
        .select("doc_id")
        .collect()
    )
    n_store = read_table(spark, store).count()
    replay = sorted(
        r["doc_id"]
        for r in dedup_batch_against_store(spark, doc_batches[1], store, batch_id=1)
        .select("doc_id")
        .collect()
    )
    assert replay == first
    assert read_table(spark, store).count() == n_store


def test_stream_dedup_documents_end_to_end(spark, doc_batches, tmp_path):
    """The writeStream wrapper: two file drops -> deduped parquet output
    whose ids equal the fold of dedup_batch_against_store."""
    from tickerlake_spark.storage.io import read_table
    from tickerlake_spark.streaming.dedup_stream import stream_dedup_documents

    landing = str(tmp_path / "docs_landing")
    for b in doc_batches[:2]:
        b.coalesce(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = stream_dedup_documents(
        spark,
        stream,
        store_path=str(tmp_path / "stream_store"),
        out_path=str(tmp_path / "deduped"),
        checkpoint_dir=str(tmp_path / "ckpt_dedup"),
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"] for r in read_table(spark, str(tmp_path / "deduped")).collect()
    }
    # fold the same two batches through the batch API for the expectation
    store2 = str(tmp_path / "sig_store_ref")
    from tickerlake_spark.streaming.dedup_stream import dedup_batch_against_store

    exp = set()
    for i, b in enumerate(doc_batches[:2]):
        exp |= {
            r["doc_id"]
            for r in dedup_batch_against_store(spark, b, store2, batch_id=i)
            .select("doc_id")
            .collect()
        }
    assert got == exp


def test_stream_dedup_custom_id_col_and_short_docs(spark, tmp_path):
    """Regression: (a) dedup_batch_against_store must accept a non-default
    id column name end-to-end; (b) docs shorter than the shingle width have
    no signature and must STILL survive the streaming (batch_id) path,
    which derives survivors from the signature store."""
    from tickerlake_spark.streaming.dedup_stream import dedup_batch_against_store

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "tiny"),  # 1 token < shingle_n=3: no signature possible
        (3, "an entirely different document about spark physical plans"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    store = str(tmp_path / "store_custom")
    kept = dedup_batch_against_store(
        spark, df, store, id_col="id", batch_id=0
    )
    assert {r["id"] for r in kept.collect()} == {1, 2, 3}
    # replay an exact copy of doc 1 under a new id in batch 1: dropped,
    # while the short doc keeps passing through
    df2 = spark.createDataFrame(
        [(10, rows[0][1]), (11, "no")], "id long, text string"
    )
    kept2 = dedup_batch_against_store(
        spark, df2, store, id_col="id", batch_id=1
    )
    assert {r["id"] for r in kept2.collect()} == {11}


def test_streaming_medallion_full_rewrite_on_late_split(spark, tmp_path):
    """A corrected split landing in bronze.splits mid-stream must trigger a
    FULL silver rewrite on the next micro-batch (when the pipeline
    Checkpoints store is wired in) — incremental upserts alone would leave
    all previously-streamed rows on the old adjustment."""
    import datetime as dt

    from tickerlake_spark import schemas
    from tickerlake_spark.sources.calendar import trading_days
    from tickerlake_spark.storage import Catalog, Checkpoints, read_table, write_table
    from tickerlake_spark.streaming.medallion import stream_bronze_to_silver

    days = trading_days(dt.date(2024, 1, 2), dt.date(2024, 1, 31))
    rows = [
        ("AAA", 1000, 99.0, 100.0 + i, 103.0, 97.0, d, 10)
        for i, d in enumerate(days)
    ]
    schema = (
        "ticker string, volume long, open float, close float, high float, "
        "low float, date date, transactions long"
    )
    all_bars = spark.createDataFrame(rows, schema)

    cat = Catalog(root=str(tmp_path / "lsdata"))
    cp = Checkpoints(str(tmp_path / "ls_cp.json"))
    ckpt = str(tmp_path / "ls_ckpt")
    # initially: no splits at all
    write_table(
        spark.createDataFrame([], schemas.SPLITS), cat.bronze("splits")
    )

    cutoff = days[12]
    phase1 = all_bars.filter(F.col("date") <= F.lit(cutoff))
    write_table(
        schemas.conform(phase1, schemas.STOCKS).repartition("date"),
        cat.bronze("stocks"),
        partition_by="date",
    )
    q = stream_bronze_to_silver(spark, cat, ckpt, checkpoints=cp)
    q.awaitTermination()
    pre = {
        str(r["date"]): r["close"]
        for r in read_table(spark, cat.silver("daily_aggregates")).collect()
    }
    assert pre[str(days[0])] == pytest.approx(100.0)  # unadjusted

    # a late split (execution date INSIDE already-streamed history) lands,
    # plus more bars
    late = spark.createDataFrame(
        [("late", days[5], 1.0, 2.0, "AAA")],
        "id string, execution_date date, split_from float, split_to float, ticker string",
    )
    write_table(
        schemas.conform(late, schemas.SPLITS), cat.bronze("splits"), mode="append"
    )
    phase2 = all_bars.filter(F.col("date") > F.lit(cutoff))
    write_table(
        schemas.conform(phase2, schemas.STOCKS).repartition("date"),
        cat.bronze("stocks"),
        mode="append",
        partition_by="date",
    )
    q = stream_bronze_to_silver(spark, cat, ckpt, checkpoints=cp)
    q.awaitTermination()

    post = {
        str(r["date"]): r["close"]
        for r in read_table(spark, cat.silver("daily_aggregates")).collect()
    }
    # every pre-split row — written by EARLIER micro-batches — is re-adjusted
    for i, d in enumerate(days):
        expected = (100.0 + i) * (0.5 if d < days[5] else 1.0)
        assert post[str(d)] == pytest.approx(expected), d
    # and the rewrite recorded the new fingerprint: one more quiet batch
    # stays incremental (checkpoint state settled)
    assert cp.get("silver_last_mode") == "full"


def test_streaming_entity_resolution_matches_batch(spark, sf_dir, tmp_path):
    """stream_entity_resolution over a landing dir of dirty-record drops
    must leave the matches table equal to one batch fuzzy_best_match over
    the concatenated input (every batch resolves against the same
    persisted canonical table), with unmatched records kept as NULL
    assignments; replaying an already-resolved drop changes nothing."""
    from tickerlake_spark.operators.fuzzyjoin import fuzzy_best_match
    from tickerlake_spark.streaming.entity_resolution import (
        resolve_batch,
        stream_entity_resolution,
    )

    canon = spark.createDataFrame(
        [(1, "john smith"), (2, "jane smith"), (3, "bob jones"), (4, "ada lovelace")],
        "canonical_id long, name string",
    )
    cpath = str(tmp_path / "canonical")
    canon.write.parquet(cpath)

    dirty = [
        (10, "john smth"),            # deletion -> 1
        (11, "jane smithh"),          # insertion -> 2
        (12, "bob jones"),            # exact -> 3
        (13, "ada lovelaec"),         # transposition (2 subs) -> 4
        (14, "nothing like anyone"),  # unmatched -> NULL
        (15, "jon smith"),            # deletion -> 1
    ]
    schema = "rec_id long, name string"
    land = str(tmp_path / "landing")
    half1 = spark.createDataFrame(dirty[:3], schema)
    half2 = spark.createDataFrame(dirty[3:], schema)
    half1.coalesce(1).write.mode("append").parquet(land)
    half2.coalesce(1).write.mode("append").parquet(land)

    mpath = str(tmp_path / "matches")
    stream = (
        spark.readStream.schema(half1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    q = stream_entity_resolution(
        stream, cpath, mpath, str(tmp_path / "ckpt_er"),
        col="name", id_col="rec_id",
    )
    q.awaitTermination()

    got = {
        r.rec_id: (r.canonical_id, r.distance)
        for r in spark.read.parquet(mpath).collect()
    }
    batch_best = {
        r.rec_id: (r.canonical_id, r.distance)
        for r in fuzzy_best_match(
            spark.createDataFrame(dirty, schema), canon, "name",
            "rec_id", "canonical_id", k=2, strategy="deletes",
        ).collect()
    }
    want = {rid: batch_best.get(rid, (None, None)) for rid, _ in dirty}
    assert got == want
    assert got[10] == (1, 1) and got[12] == (3, 0) and got[14] == (None, None)

    # replay: re-resolving an already-folded drop is a no-op
    resolve_batch(spark, cpath, mpath, half1, col="name", id_col="rec_id")
    got2 = {
        r.rec_id: (r.canonical_id, r.distance)
        for r in spark.read.parquet(mpath).collect()
    }
    assert got2 == want


def test_streaming_kmv_rollup_matches_batch_sketch(spark, event_drops, tmp_path):
    """Streaming KMV rollup: the persisted sketch after micro-batched
    ingest must be BIT-IDENTICAL to a one-shot kmv_delta over the full
    input (set-union merge is associative), estimates must match, and
    replaying an already-folded batch must change nothing."""
    from tickerlake_spark.operators.incremental_agg import (
        kmv_delta,
        kmv_estimates,
    )
    from tickerlake_spark.streaming.sketch_rollup import (
        kmv_rollup_batch,
        stream_kmv_rollup,
    )
    from tickerlake_spark.streaming.windows import stream_events

    drop_dir, events = event_drops
    k = 64  # below the per-type cardinality so ranks truncate
    path = str(tmp_path / "kmv_rollup")
    stream = stream_events(spark, drop_dir, events.schema, max_files_per_trigger=1)
    q = stream_kmv_rollup(
        spark, stream, path, str(tmp_path / "ckpt_kmv"),
        keys=["event_type"], col="user_id", k=k,
    )
    q.awaitTermination()

    got_sketch = sorted(map(tuple, spark.read.parquet(path).collect()))
    want_sketch = sorted(
        map(tuple, kmv_delta(events, ["event_type"], "user_id", k=k).collect())
    )
    assert len(want_sketch) > 0 and got_sketch == want_sketch

    def estimates(df):
        return {
            r.event_type: r.approx_distinct
            for r in kmv_estimates(df, ["event_type"], k=k).collect()
        }

    want = estimates(kmv_delta(events, ["event_type"], "user_id", k=k))
    assert estimates(spark.read.parquet(path)) == want

    kmv_rollup_batch(
        spark, path, events.filter(F.col("event_id") % 2 == 0),
        keys=["event_type"], col="user_id", k=k,
    )
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want_sketch


def test_streaming_cms_rollup_matches_batch_and_replay_safe(
    spark, event_drops, tmp_path
):
    """Streaming CMS rollup: the SERVED sketch after micro-batched ingest
    must be cell-identical to a one-shot cms_delta over the full input;
    replaying an already-folded batch_id must change nothing (the replay
    rewrites its own partition); compaction must fold old partitions
    without changing the served sketch."""
    from tickerlake_spark.operators.cms import cms_delta
    from tickerlake_spark.streaming.sketch_rollup import (
        cms_compact_rollup,
        cms_rollup_batch,
        cms_rollup_serve,
        stream_cms_rollup,
    )
    from tickerlake_spark.streaming.windows import stream_events

    drop_dir, events = event_drops
    width = 128
    path = str(tmp_path / "cms_rollup")
    stream = stream_events(spark, drop_dir, events.schema, max_files_per_trigger=1)
    q = stream_cms_rollup(
        spark, stream, path, str(tmp_path / "ckpt_cms"),
        keys=["event_type"], col="user_id", width=width,
    )
    q.awaitTermination()

    def served():
        return sorted(
            map(tuple, cms_rollup_serve(spark, path, ["event_type"]).collect())
        )

    want = sorted(
        map(
            tuple,
            cms_delta(events, ["event_type"], "user_id", width=width).collect(),
        )
    )
    assert len(want) > 0 and served() == want

    # the stream saw 2 drops -> batch ids 0 and 1; replaying batch 1's rows
    # under the same batch_id must rewrite partition 1 in place, not add
    replay = events.filter(F.col("event_id") % 2 == 1)
    cms_rollup_batch(
        spark, path, replay, ["event_type"], "user_id", batch_id=1, width=width
    )
    assert served() == want

    # compaction folds batch 0 into the -1 baseline (keep_last=1 retains
    # the replayable tail) and the served sketch is unchanged
    cms_compact_rollup(spark, path, ["event_type"], keep_last=1)
    ids = sorted(
        r[0]
        for r in spark.read.parquet(path).select("batch_id").distinct().collect()
    )
    assert ids == [-1, 1], ids
    assert served() == want

    # replaying the retained tail batch after compaction is still a no-op
    cms_rollup_batch(
        spark, path, replay, ["event_type"], "user_id", batch_id=1, width=width
    )
    assert served() == want


def test_streaming_bloom_rollup_matches_batch_and_replay_safe(
    spark, event_drops, tmp_path
):
    """Streaming bloom maintenance: the persisted word table after
    micro-batched ingest must be bit-identical to a one-shot bloom_words
    over the full input (bit_or is associative AND idempotent, so replay
    is a no-op by algebra), and the served literal must prune facts
    identically to a freshly-built filter."""
    from tickerlake_spark.operators.bloomjoin import (
        bloom_literal,
        bloom_might_contain,
    )
    from tickerlake_spark.streaming.sketch_rollup import (
        bloom_rollup_batch,
        bloom_rollup_literal,
        stream_bloom_rollup,
    )
    from tickerlake_spark.streaming.windows import stream_events

    drop_dir, events = event_drops
    m, k = 1 << 12, 3
    path = str(tmp_path / "bloom_rollup")
    stream = stream_events(spark, drop_dir, events.schema, max_files_per_trigger=1)
    q = stream_bloom_rollup(
        spark, stream, path, str(tmp_path / "ckpt_bloom"),
        key_col="user_id", m_bits=m, k=k,
    )
    q.awaitTermination()

    got = bloom_rollup_literal(spark, path, m_bits=m)
    want = bloom_literal(events, "user_id", m_bits=m, k=k)
    assert any(want) and got == want

    # replay: re-ORing half the stream changes nothing
    bloom_rollup_batch(
        spark, path, events.filter(F.col("event_id") % 2 == 0),
        key_col="user_id", m_bits=m, k=k,
    )
    assert bloom_rollup_literal(spark, path, m_bits=m) == want

    # served filter admits every member (no false negatives)
    misses = events.select("user_id").distinct().filter(
        ~bloom_might_contain(F.col("user_id"), got, m_bits=m, k=k)
    ).count()
    assert misses == 0


def test_silver_maintenance_single_emptiness_probe(spark, tmp_path):
    """VERDICT r9 item 5: ONE ``isEmpty()`` action per micro-batch. A batch
    holding only out-of-universe tickers must short-circuit after the
    post-semi-join probe alone — measured here as the Spark-job count of
    the whole call: 2 jobs build the broadcast universe (parquet scan +
    broadcast collect), 1 job is the emptiness probe. The old code ran a
    SECOND pre-join probe (4 jobs) on the streaming hot path, buying
    nothing — the semi-join of an empty batch is free."""
    import datetime as dt

    from tickerlake_spark import schemas
    from tickerlake_spark.storage import Catalog, write_table
    from tickerlake_spark.streaming.medallion import silver_maintenance_batch

    cat = Catalog(root=str(tmp_path / "data"))
    meta = spark.createDataFrame(
        [("AAPL", "Apple", "CS", "XNAS", True, "1")],
        "ticker string, name string, type string, primary_exchange string, "
        "active boolean, cik string",
    )
    write_table(meta, cat.silver("ticker_metadata"))
    bars = spark.createDataFrame(
        [("FUNDX", 100, 1.0, 1.0, 1.0, 1.0, dt.date(2024, 1, 2), 5)],
        "ticker string, volume long, open float, close float, high float, "
        "low float, date date, transactions long",
    )
    # parquet-backed batch: a LocalRelation's isEmpty can resolve driver-side
    # without a job, which would make this probe count vacuous
    p = str(tmp_path / "batch.parquet")
    schemas.conform(bars, schemas.STOCKS).write.parquet(p)
    batch = spark.read.parquet(p)

    sc = spark.sparkContext
    group = "empty-probe-count"
    sc.setJobGroup(group, "count jobs in silver_maintenance_batch")
    try:
        silver_maintenance_batch(spark, cat, batch)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup("", "")
    # out-of-universe batch wrote nothing
    from tickerlake_spark.storage import table_exists

    assert not table_exists(cat.silver("daily_aggregates"))
    assert len(jobs) <= 3, f"extra emptiness probe reintroduced: {jobs}"


@pytest.mark.slow
def test_streaming_extract_append_replay_converges(spark, tmp_path):
    """ADVICE r7 low + r8 medium: the streaming closes-extract maintenance
    APPENDS strictly-forward batches (O(delta)) instead of rewriting every
    touched hash bucket, gated on the extract's REAL footer-stats watermark
    (not a stream-private marker), and a replayed batch converges without
    duplicate extract rows."""
    import datetime as dt

    from tickerlake_spark import schemas
    from tickerlake_spark.pipeline import run_gold, run_silver
    from tickerlake_spark.sources.calendar import trading_days
    from tickerlake_spark.storage import Catalog, Checkpoints, read_table, write_table
    from tickerlake_spark.streaming.medallion import (
        gold_maintenance_batch,
        silver_maintenance_batch,
    )

    days = trading_days(dt.date(2024, 1, 2), dt.date(2024, 2, 16))
    schema = (
        "ticker string, volume long, open float, close float, high float, "
        "low float, date date, transactions long"
    )

    def bars(day_slice):
        rows = []
        for t in ("AAA", "BBB"):
            for i, d in enumerate(day_slice):
                c = 100.0 + i
                rows.append((t, 1000 + i, c - 1, c, c + 1, c - 2, d, 5))
        return spark.createDataFrame(rows, schema)

    cat = Catalog(root=str(tmp_path / "data"))
    cp = Checkpoints(path=str(tmp_path / "cp.json"))
    stamp = dt.datetime(2024, 4, 1, 12, 0, 0)
    write_table(
        schemas.conform(bars(days[:-2]), schemas.STOCKS).repartition("date"),
        cat.bronze("stocks"),
        partition_by="date",
    )
    run_silver(spark, cat, cp)
    run_gold(spark, cat, calculated_at=stamp, checkpoints=cp)

    def one_batch(day):
        b = schemas.conform(bars([day]), schemas.STOCKS)
        silver_maintenance_batch(spark, cat, b)
        gold_maintenance_batch(spark, cat, b, calculated_at=stamp)

    one_batch(days[-2])  # forward vs the run_gold-built extract -> append
    extract = cat.gold("closes_by_ticker")
    files_before = {
        (r, f)
        for r, _d, fs in __import__("os").walk(extract)
        for f in fs
        if f.endswith(".parquet")
    }
    one_batch(days[-1])  # forward batch -> append path
    # append: every pre-existing extract file is still there untouched
    files_after = {
        (r, f)
        for r, _d, fs in __import__("os").walk(extract)
        for f in fs
        if f.endswith(".parquet")
    }
    assert files_before <= files_after, "append path rewrote old buckets"
    one_batch(days[-1])  # replay: ext_max == since -> replace path
    ext = read_table(spark, extract)
    assert ext.count() == ext.select("ticker", "date").distinct().count()
    # content mirrors silver closes exactly
    want = sorted(
        map(
            tuple,
            read_table(spark, cat.silver("daily_aggregates"))
            .select("ticker", "date")
            .collect(),
        )
    )
    got = sorted(map(tuple, ext.select("ticker", "date").collect()))
    assert got == want


@pytest.mark.slow
def test_streaming_extract_no_dup_after_batch_pipeline_advance(spark, tmp_path):
    """ADVICE r8 medium regression: a stream resuming on a lake the BATCH
    pipeline advanced (supported alternation), and a replay of a batch
    whose splits change triggered an in-sink full rebuild, must both route
    through the replace path — the old stream-private watermark marker
    passed the forward gate and appended rows the extract already held."""
    import datetime as dt

    from tickerlake_spark import schemas
    from tickerlake_spark.pipeline import run_gold, run_silver
    from tickerlake_spark.sources.calendar import trading_days
    from tickerlake_spark.storage import (
        Catalog,
        Checkpoints,
        read_table,
        write_table,
    )
    from tickerlake_spark.streaming.medallion import (
        gold_maintenance_batch,
        silver_maintenance_batch,
    )

    days = trading_days(dt.date(2024, 1, 2), dt.date(2024, 2, 16))
    schema = (
        "ticker string, volume long, open float, close float, high float, "
        "low float, date date, transactions long"
    )

    def bars(day_slice):
        rows = []
        for t in ("AAA", "BBB"):
            for i, d in enumerate(day_slice):
                c = 100.0 + i
                rows.append((t, 1000 + i, c - 1, c, c + 1, c - 2, d, 5))
        return spark.createDataFrame(rows, schema)

    cat = Catalog(root=str(tmp_path / "data"))
    cp = Checkpoints(path=str(tmp_path / "cp.json"))
    stamp = dt.datetime(2024, 4, 1, 12, 0, 0)
    write_table(
        schemas.conform(bars(days[:-3]), schemas.STOCKS).repartition("date"),
        cat.bronze("stocks"),
        partition_by="date",
    )
    run_silver(spark, cat, cp)
    run_gold(spark, cat, calculated_at=stamp, checkpoints=cp)

    def one_batch(day):
        b = schemas.conform(bars([day]), schemas.STOCKS)
        silver_maintenance_batch(spark, cat, b)
        gold_maintenance_batch(spark, cat, b, calculated_at=stamp)

    # stream handles one batch (establishes any stream-side state)
    one_batch(days[-3])
    # the BATCH pipeline then advances the lake (alternation): bronze gets
    # days[-2], run_silver + run_gold maintain silver AND the extract
    write_table(
        schemas.conform(bars([days[-2]]), schemas.STOCKS).repartition("date"),
        cat.bronze("stocks"),
        partition_by="date",
        dynamic=True,
    )
    run_silver(spark, cat, cp)
    run_gold(spark, cat, calculated_at=stamp, checkpoints=cp)

    # the stream replays ITS OWN batch for days[-2] (e.g. re-delivered
    # files): since == extract max -> must replace, never append
    one_batch(days[-2])
    ext = read_table(spark, cat.gold("closes_by_ticker"))
    assert ext.count() == ext.select("ticker", "date").distinct().count(), (
        "duplicate extract rows after batch-pipeline alternation"
    )
    # and a genuinely-new stream batch still appends cleanly afterwards
    one_batch(days[-1])
    ext = read_table(spark, cat.gold("closes_by_ticker"))
    assert ext.count() == ext.select("ticker", "date").distinct().count()
    want = sorted(
        map(
            tuple,
            read_table(spark, cat.silver("daily_aggregates"))
            .select("ticker", "date")
            .collect(),
        )
    )
    assert sorted(map(tuple, ext.select("ticker", "date").collect())) == want


def test_streaming_silver_tail_state_matches_batch(spark, tmp_path):
    """Streaming silver maintenance with the lake's checkpoint store uses
    (and maintains) the same indicator-tail state as the batch append:
    successive forward micro-batches and a replay of the last one converge
    to a from-scratch rebuild, the as_of watermark tracks each batch, and
    the stored tails equal a fresh build over the final aggregates."""
    import datetime as dt

    from tickerlake_spark.operators.indicator_state import build_tail
    from tickerlake_spark.pipeline import run_silver
    from tickerlake_spark import schemas
    from tickerlake_spark.sources.calendar import trading_days
    from tickerlake_spark.storage import Catalog, Checkpoints, read_table, write_table
    from tickerlake_spark.streaming.medallion import silver_maintenance_batch

    days = trading_days(dt.date(2024, 1, 2), dt.date(2024, 2, 16))
    schema = (
        "ticker string, volume long, open float, close float, high float, "
        "low float, date date, transactions long"
    )

    def bars(day_slice):
        rows = []
        for t in ("AAA", "BBB"):
            for d in day_slice:
                i = days.index(d)  # values keyed to the GLOBAL day index
                c = 100.0 + (i * 7 % 13) - 0.3 * (i % 5)
                rows.append((t, 1000 + 17 * i, c - 1, c, c + 1, c - 2, d, 5))
        return spark.createDataFrame(rows, schema)

    # lake A: batch full build over most days, then two streaming batches
    cat_a = Catalog(root=str(tmp_path / "a"))
    cp_a = Checkpoints(path=str(tmp_path / "cp_a.json"))
    write_table(
        schemas.conform(bars(days[:-2]), schemas.STOCKS).repartition("date"),
        cat_a.bronze("stocks"),
        partition_by="date",
    )
    assert run_silver(spark, cat_a, cp_a)["mode"] == "full"
    assert cp_a.get("silver_tail_as_of") is None
    for d in (days[-2], days[-1]):
        b = schemas.conform(bars([d]), schemas.STOCKS)
        # keep bronze in sync so nothing else diverges
        write_table(b, cat_a.bronze("stocks"), mode="append", partition_by="date")
        silver_maintenance_batch(spark, cat_a, b, checkpoints=cp_a)
        assert cp_a.get("silver_tail_as_of") == d.isoformat()
    # replay the last forward batch (a re-delivered micro-batch): its rows
    # already landed, so it is not forward and takes the upsert arm with a
    # horizon-built context — the tables, the tails and the as_of watermark
    # must all converge to the same state as before the replay
    silver_maintenance_batch(spark, cat_a, b, checkpoints=cp_a)
    assert cp_a.get("silver_tail_as_of") == days[-1].isoformat()

    # lake B: one-shot batch rebuild over everything
    cat_b = Catalog(root=str(tmp_path / "b"))
    cp_b = Checkpoints(path=str(tmp_path / "cp_b.json"))
    write_table(
        schemas.conform(bars(days), schemas.STOCKS).repartition("date"),
        cat_b.bronze("stocks"),
        partition_by="date",
    )
    assert run_silver(spark, cat_b, cp_b)["mode"] == "full"

    def rows_of(df):
        df = df.select(*sorted(df.columns))
        rounded = df.select(
            *[
                F.round(c, 9).alias(c) if t == "double" else F.col(c)
                for c, t in df.dtypes
            ]
        )
        return sorted(
            map(tuple, rounded.collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    for table in (
        "daily_aggregates",
        "weekly_aggregates",
        "monthly_aggregates",
        "daily_indicators",
        "weekly_indicators",
        "monthly_indicators",
    ):
        assert rows_of(read_table(spark, cat_a.silver(table))) == rows_of(
            read_table(spark, cat_b.silver(table))
        ), table
    # stored tails equal a fresh build over the final aggregates
    for grain, agg in (
        ("daily", "daily_aggregates"),
        ("week", "weekly_aggregates"),
        ("month", "monthly_aggregates"),
    ):
        got = rows_of(read_table(spark, cat_a.silver(f"indicator_tail_{grain}")))
        want = rows_of(build_tail(read_table(spark, cat_b.silver(agg))))
        assert got == want, grain


_BAR_SCHEMA = (
    "ticker string, volume long, open float, close float, high float, "
    "low float, date date, transactions long"
)


def _rows_exact(df):
    df = df.select(*sorted(df.columns))
    return sorted(
        map(tuple, df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def test_checkpointless_late_batch_leaves_no_stale_tails(spark, tmp_path):
    """A corrected old bar sent through silver_maintenance_batch WITHOUT
    checkpoints changes rows the stored indicator tails hold, and cannot
    reset silver_tail_as_of. The next checkpointed append must not read
    those tails as valid: every silver table ends equal to a full rewrite
    over the same bronze."""
    import datetime as dt

    from tickerlake_spark import schemas
    from tickerlake_spark.pipeline import run_silver
    from tickerlake_spark.sources.calendar import trading_days
    from tickerlake_spark.storage import Catalog, Checkpoints, read_table, write_table
    from tickerlake_spark.streaming.medallion import silver_maintenance_batch

    days = trading_days(dt.date(2024, 1, 2), dt.date(2024, 2, 16))
    fix_day = days[-4]

    def bars(day_slice, corrected=False):
        rows = []
        for t in ("AAA", "BBB"):
            for d in day_slice:
                i = days.index(d)
                c = 100.0 + (i * 7 % 13) - 0.3 * (i % 5)
                if corrected and t == "AAA" and d == fix_day:
                    c += 25.0
                rows.append((t, 1000 + 17 * i, c - 1, c, c + 1, c - 2, d, 5))
        return schemas.conform(spark.createDataFrame(rows, _BAR_SCHEMA), schemas.STOCKS)

    def land(cat, df, **kw):
        write_table(df, cat.bronze("stocks"), partition_by="date", **kw)

    cat_a = Catalog(root=str(tmp_path / "a"))
    cp_a = Checkpoints(path=str(tmp_path / "cp_a.json"))
    land(cat_a, bars(days[:-2]).repartition("date"))
    assert run_silver(spark, cat_a, cp_a)["mode"] == "full"
    land(cat_a, bars([days[-2]]), mode="append")
    assert run_silver(spark, cat_a, cp_a)["mode"] == "append"
    assert cp_a.get("silver_tail_as_of") == days[-2].isoformat()

    fixed = bars([fix_day], corrected=True)
    land(cat_a, fixed, mode="overwrite", dynamic=True)
    silver_maintenance_batch(spark, cat_a, fixed.filter("ticker = 'AAA'"))
    land(cat_a, bars([days[-1]]), mode="append")
    assert run_silver(spark, cat_a, cp_a)["mode"] == "append"

    cat_b = Catalog(root=str(tmp_path / "b"))
    cp_b = Checkpoints(path=str(tmp_path / "cp_b.json"))
    land(cat_b, read_table(spark, cat_a.bronze("stocks")).repartition("date"))
    assert run_silver(spark, cat_b, cp_b)["mode"] == "full"
    for table in (
        "daily_aggregates",
        "weekly_aggregates",
        "monthly_aggregates",
        "daily_indicators",
        "weekly_indicators",
        "monthly_indicators",
    ):
        assert _rows_exact(read_table(spark, cat_a.silver(table))) == _rows_exact(
            read_table(spark, cat_b.silver(table))
        ), table


def test_corrected_bar_removing_an_event_matches_full_gold(spark, tmp_path):
    """A corrected old bar that removes an HVC event, sent through
    silver_maintenance_batch + gold_maintenance_batch, leaves every gold
    table equal to run_silver + run_gold (full) over the corrected bronze.
    The removed event was the ticker's only one from the batch's date on,
    so only the current gold version names the ticker as affected; its
    stair-step island shrinks below min_steps and its rows must go."""
    import datetime as dt

    from tickerlake_spark import schemas
    from tickerlake_spark.pipeline import run_gold, run_silver
    from tickerlake_spark.sources.calendar import trading_days
    from tickerlake_spark.storage import Catalog, Checkpoints, read_table, write_table
    from tickerlake_spark.streaming.medallion import (
        gold_maintenance_batch,
        silver_maintenance_batch,
    )

    days = trading_days(dt.date(2024, 1, 2), dt.date(2024, 2, 29))
    # AAA: rising closes on three volume spikes -> one 3-step up island;
    # BBB: falling closes on three spikes -> one 3-step down island
    spikes = {("AAA", 24): 120.0, ("AAA", 26): 125.0, ("AAA", 28): 130.0,
              ("BBB", 21): 90.0, ("BBB", 23): 85.0, ("BBB", 25): 80.0}
    fix_day = days[28]

    def bars(day_slice, corrected=False):
        rows = []
        for t in ("AAA", "BBB"):
            for d in day_slice:
                i = days.index(d)
                c, vol = 100.0 + i % 5, 1000 + 10 * (i % 7)
                if (t, i) in spikes and not (corrected and t == "AAA" and d == fix_day):
                    c, vol = spikes[(t, i)], vol * 12
                rows.append((t, vol, c - 1, c, c + 2, c - 3, d, 5))
        return schemas.conform(spark.createDataFrame(rows, _BAR_SCHEMA), schemas.STOCKS)

    stamp = dt.datetime(2024, 3, 1, 12, 0, 0)
    cat_a = Catalog(root=str(tmp_path / "a"))
    cp_a = Checkpoints(path=str(tmp_path / "cp_a.json"))
    write_table(bars(days).repartition("date"), cat_a.bronze("stocks"), partition_by="date")
    run_silver(spark, cat_a, cp_a)
    assert run_gold(
        spark, cat_a, calculated_at=stamp, checkpoints=cp_a, with_counts=False
    )["mode"] == "full"
    up = read_table(spark, cat_a.gold("stairstep_up")).filter("ticker = 'AAA'")
    assert up.count() == 1

    fixed = bars([fix_day], corrected=True)
    write_table(fixed, cat_a.bronze("stocks"), mode="overwrite",
                partition_by="date", dynamic=True)
    batch = fixed.filter("ticker = 'AAA'")
    silver_maintenance_batch(spark, cat_a, batch)
    gold_maintenance_batch(spark, cat_a, batch, calculated_at=stamp)

    cat_b = Catalog(root=str(tmp_path / "b"))
    cp_b = Checkpoints(path=str(tmp_path / "cp_b.json"))
    write_table(
        read_table(spark, cat_a.bronze("stocks")).repartition("date"),
        cat_b.bronze("stocks"),
        partition_by="date",
    )
    run_silver(spark, cat_b, cp_b)
    run_gold(spark, cat_b, calculated_at=stamp, checkpoints=cp_b, with_counts=False)

    assert read_table(spark, cat_a.gold("stairstep_up")).filter("ticker = 'AAA'").isEmpty()
    assert not read_table(spark, cat_a.gold("stairstep_down")).filter("ticker = 'BBB'").isEmpty()
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
        assert _rows_exact(read_table(spark, cat_a.gold(table))) == _rows_exact(
            read_table(spark, cat_b.gold(table))
        ), table
