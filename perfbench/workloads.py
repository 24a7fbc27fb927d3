"""The benchmark's workloads.

Each workload is closed-loop with one client: the next call into the
program starts when the previous one returns. A workload makes its inputs
from the seed (set-up), runs timed units until ``seconds`` have passed (at
least one unit), and checks the program's outputs outside the timed units.
Per-layer figures come from the first timed unit, which is the same work
on every run of a seed.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

import inputs
from tracing import FS_OPS, TASK_METRICS, CallLog, CountingCheckpoints, CountingFS, tree_cpu_s

HEADLINE = (
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier_volume",
    "q31_split_adjust", "q34_indicators", "q35_vwap_signals",
    "q41_minhash_lsh_dedup", "q45_ann_bruteforce",
)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The headline queries' tables, copied unchanged from the repository's sf0.01
# test data (60k lineitem rows), on which its oracle gate passes.
CATALOG_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")
CATALOG_TABLES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem",
    "documents", "embeddings",
)
# Lake scales are set so that the 48 runs a comparison makes fit in its hour
# on a 4-core box (see README.md).
FULL_TICKERS, FULL_DAYS, FULL_SPLITS = 1000, 250, 250
DAILY_TICKERS, DAILY_DAYS, DAILY_SPLITS = 200, 120, 50
HISTORY_START = dt.date(2021, 1, 4)
INPUT_REPEATS = 3

# Stage names in the ``timings`` run_silver / run_gold return; any other
# name is summed into ``other``.
SILVER_STAGES = (
    "ticker_metadata", "rewrite_gate", "daily_aggregates", "daily_indicators",
    "weekly_aggregates", "weekly_indicators", "monthly_aggregates",
    "monthly_indicators", "indicator_tails", "weekly_monthly",
    "full_parallel_wall", "checkpoints", "other",
)
GOLD_STAGES = (
    "gate", "extract_hvc_parallel", "closes_extract", "hvc_daily", "hvc_weekly",
    "hvc_monthly", "stairsteps", "best_patterns", "vwap_signals", "vwap_state",
    "full_parallel_wall", "vacuum", "other",
)
PIPELINE_CALLS = ("run_silver", "run_gold")
_GROUP_METRICS = tuple(m for m in TASK_METRICS if m != "output_mb")


def _unit(metric: str) -> str:
    for suffix, unit in (
        ("_s", "s"), ("_mb", "MB"), ("tasks", "count"), ("stages", "count"),
        ("jobs", "count"), ("calls", "count"), ("lake_files", "count"),
    ):
        if metric.endswith(suffix):
            return unit
    return {"overlap": "ratio", "success_ratio": "ratio", "write_amp": "ratio",
            "error_rate": "ratio", "lake_bytes_per_bar": "B/bar"}[metric.rsplit(".", 1)[-1]]


def layer_metric_names() -> list[str]:
    """Every per-layer metric a traced run prints, on every workload; a
    layer a workload does not call reads 0."""
    names = ["session.start_s", "plans.plan_s"]
    for q in HEADLINE:
        names += [f"plans.{q}.build_s", f"plans.{q}.exec_s", f"plans.{q}.executor_cpu_s"]
    names += [f"plans.{m}" for m in _GROUP_METRICS]
    for call in PIPELINE_CALLS:
        names += [f"pipeline.{call}.wall_s", f"pipeline.{call}.overlap"]
        names += [f"pipeline.{call}.{m}" for m in _GROUP_METRICS]
    names += [f"pipeline.silver.{s}_s" for s in SILVER_STAGES]
    names += [f"pipeline.gold.{s}_s" for s in GOLD_STAGES]
    names += [f"storage.fs.{op}.calls" for op in FS_OPS]
    names += [
        "storage.fs.put_if_absent.success_ratio", "storage.checkpoints.set.calls",
        "storage.output_mb", "storage.write_amp", "storage.lake_files",
        "storage.lake_bytes_per_bar",
    ]
    return names


def layer_units() -> dict[str, str]:
    return {n: _unit(n) for n in layer_metric_names()}


def _tree_bytes(path: str, skip: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path``, leaving out the ``skip`` subtree."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        if skip:
            dirs[:] = [d for d in dirs if os.path.join(root, d) != skip]
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Bench:
    """State of one benchmark run: the session, the seed, the calls made,
    the timed units and the checks."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.log = CallLog(spark)
        self.attempted = 0
        self.failed = 0
        self.input_s: list[float] = []
        self.prep_s = 0.0  # program calls made during set-up
        self.unit_wall: list[float] = []
        self.unit_cpu: list[float] = []
        self.layers: dict[str, float] = dict.fromkeys(layer_metric_names(), 0.0)
        self.detail: dict = {}

    # -- bookkeeping ---------------------------------------------------------
    def outcome(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    def op(self, what: str, fn, *args, **kwargs):
        """Run one operation; an exception counts as a failure and yields
        None."""
        try:
            out = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed operation is a measurement
            traceback.print_exc(file=sys.stderr)
            self.outcome(False, what)
            return None
        self.outcome(True, what)
        return out

    def check(self, what: str, ok) -> None:
        """A correctness check: ``ok`` is a bool, or a callable returning
        one, where an exception means the check failed."""
        if callable(ok):
            try:
                ok = ok()
            except Exception:  # noqa: BLE001 - a failed check is a result
                traceback.print_exc(file=sys.stderr)
                ok = False
        self.outcome(bool(ok), f"check {what}")

    def build_inputs(self, make) -> None:
        """Make the seeded inputs ``INPUT_REPEATS`` times (identical each
        time) so set-up time is a median."""
        for _ in range(INPUT_REPEATS):
            t0 = time.perf_counter()
            make()
            self.input_s.append(time.perf_counter() - t0)

    def prep(self, group: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return self.op(group, self.log.call, group, -1, fn, *args, **kwargs)
        finally:
            self.prep_s += time.perf_counter() - t0

    def run_units(self, unit, before=None, after=None) -> None:
        """Timed units until ``seconds`` have passed; ``before``/``after``
        run untimed around each. Stops at the first unit with a failure."""
        start = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - start < self.seconds:
            if before:
                before(i)
            failed = self.failed
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            unit(i)
            self.unit_wall.append(time.perf_counter() - t0)
            self.unit_cpu.append(tree_cpu_s(os.getpid()) - c0)
            if after:
                after(i)
            i += 1
            if self.failed > failed:
                break

    def span_median(self, group: str) -> float | None:
        """Median wall of the timed calls made under ``group``."""
        walls = [t1 - t0 for g, u, t0, t1 in self.log.spans if g == group and u >= 0]
        return statistics.median(walls) if walls else None

    # -- results -------------------------------------------------------------
    def setup_s(self, session_s: float) -> float:
        inputs_s = statistics.median(self.input_s) if self.input_s else 0.0
        return session_s + inputs_s + self.prep_s

    def fold(self, folded: dict[str, dict[str, float]]) -> None:
        """Per-layer task metrics of the first unit, from the event log."""
        plans = [g for g in folded if g.startswith("plans.")]
        for g in plans:
            self.layers[f"{g}.executor_cpu_s"] = folded[g]["executor_cpu_s"]
        for m in _GROUP_METRICS:
            if plans:
                self.layers[f"plans.{m}"] = sum(folded[g][m] for g in plans)
            for call in PIPELINE_CALLS:
                if f"pipeline.{call}" in folded:
                    self.layers[f"pipeline.{call}.{m}"] = folded[f"pipeline.{call}"][m]
        out_mb = sum(v["output_mb"] for g, v in folded.items() if g.startswith("pipeline."))
        self.layers["storage.output_mb"] = out_mb
        in_bytes = self.detail.get("unit_input_bytes")
        if in_bytes:
            self.layers["storage.write_amp"] = out_mb * 1024 * 1024 / in_bytes


# --------------------------------------------------------------------------
# catalog_headline
# --------------------------------------------------------------------------


def catalog_headline(b: Bench) -> None:
    """The eight headline catalog queries over the repository's sf0.01 test
    tables, each written to the noop sink with the SQL cache cleared first;
    one pass over them in a seeded order is a unit."""
    import duckdb

    sys.path.append(os.path.join(ROOT, "tests"))
    from test_driver_hash import _dtype_mismatches, _value_hash

    def load():
        from tickerlake_spark.plans import QUERIES
        from tickerlake_spark.plans.catalog import _ensure_loaded

        _ensure_loaded()
        return {q: QUERIES[q] for q in HEADLINE}

    specs = b.prep("plans.load", load)
    # the warm-up pass ends set-up: each query's first (cold) execution,
    # collected for the oracle check
    got = {q: b.prep(f"plans.{q}", lambda q=q: specs[q].fn(b.spark, CATALOG_DIR).toPandas())
           for q in HEADLINE}

    # the repository's strict oracle gate: same columns and dtype kinds, and
    # the same exact order-insensitive value hash as DuckDB over the same files
    con = duckdb.connect()
    for t in CATALOG_TABLES:
        path = os.path.join(CATALOG_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def oracle_parity(q: str) -> bool:
        want = con.execute(specs[q].oracle).fetchdf()
        return (
            len(got[q]) > 0
            and sorted(got[q].columns) == sorted(want.columns)
            and not _dtype_mismatches(got[q], want)
            and _value_hash(got[q]) == _value_hash(want)
        )

    for q in HEADLINE:
        if got[q] is not None:
            b.check(f"oracle parity {q}", lambda q=q: oracle_parity(q))
    con.close()

    rng = np.random.default_rng([b.seed, 5])
    latencies: list[float] = []

    def run_query(q: str, unit: int) -> None:
        t0 = time.perf_counter()
        df = specs[q].fn(b.spark, CATALOG_DIR)
        t1 = time.perf_counter()
        if b.trace:
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        latencies.append(t3 - t0)
        if unit == 0:
            b.layers[f"plans.{q}.build_s"] = t1 - t0
            b.layers[f"plans.{q}.exec_s"] = t3 - t2
            b.layers["plans.plan_s"] += t2 - t1

    def one_pass(unit: int) -> None:
        for q in rng.permutation(HEADLINE).tolist():
            b.spark.catalog.clearCache()
            b.op(q, b.log.call, f"plans.{q}", unit, run_query, q, unit)

    b.run_units(one_pass)
    b.detail["named"] = {
        "query_p50_s": statistics.median(latencies),
        "pass_s": statistics.median(b.unit_wall),
    }


# --------------------------------------------------------------------------
# lake workloads
# --------------------------------------------------------------------------


class Lake:
    """A lake root served through the counting FS, and the pipeline calls
    the benchmark makes against it."""

    def __init__(self, b: Bench, root: str) -> None:
        from tickerlake_spark.storage import LOCAL_FS, Catalog

        self.b = b
        self.root = root
        self.fs = CountingFS(LOCAL_FS)
        self.catalog = Catalog(root=root, fs=self.fs)
        self.checkpoints = self.new_checkpoints()
        self.modes: list[str] = []

    def new_checkpoints(self) -> CountingCheckpoints:
        return CountingCheckpoints(os.path.join(self.root, "checkpoints.json"), self.fs)

    def silver_gold(self, unit: int) -> None:
        """run_silver then run_gold, as one unit (``unit`` -1 is set-up)."""
        from tickerlake_spark.pipeline import run_gold, run_silver

        fs0, sets0 = self.fs.snapshot(), self.checkpoints.sets
        call = self.b.log.call if unit >= 0 else None
        for name, fn, kwargs in (
            ("run_silver", run_silver, {}),
            ("run_gold", run_gold, {"checkpoints": self.checkpoints, "with_counts": False}),
        ):
            args = (self.b.spark, self.catalog) + ((self.checkpoints,) if name == "run_silver" else ())
            if call:
                out = self.b.op(name, call, f"pipeline.{name}", unit, fn, *args, **kwargs)
            else:
                out = self.b.prep(f"pipeline.{name}", fn, *args, **kwargs)
            if out is None:
                return
            self.modes.append(out["mode"])
            if unit == 0:
                self._record_stages(name, out.get("timings", {}))
        if unit == 0:
            fs1 = self.fs.snapshot()
            layers = self.b.layers
            for op in FS_OPS:
                layers[f"storage.fs.{op}.calls"] = fs1.get(op, 0) - fs0.get(op, 0)
            puts = layers["storage.fs.put_if_absent.calls"]
            won = fs1["_put_won"] - fs0["_put_won"]
            layers["storage.fs.put_if_absent.success_ratio"] = won / puts if puts else 0.0
            layers["storage.checkpoints.set.calls"] = self.checkpoints.sets - sets0

    def _record_stages(self, call: str, timings: dict[str, float]) -> None:
        layer = "silver" if call == "run_silver" else "gold"
        known = SILVER_STAGES if layer == "silver" else GOLD_STAGES
        layers = self.b.layers
        for name, secs in timings.items():
            stage = name.replace("+", "_")
            stage = stage if stage in known else "other"
            layers[f"pipeline.{layer}.{stage}_s"] += secs
        wall = self.b.log.wall_s(f"pipeline.{call}", 0)
        layers[f"pipeline.{call}.wall_s"] = wall
        spans = sum(v for k, v in timings.items() if k != "full_parallel_wall")
        layers[f"pipeline.{call}.overlap"] = spans / wall if wall else 0.0

    def measure_disk(self, bars: int) -> None:
        """Files and bytes the program keeps under the lake root."""
        files, size = _tree_bytes(self.root, skip=os.path.join(self.root, "bronze"))
        self.b.layers["storage.lake_files"] = files
        self.b.layers["storage.lake_bytes_per_bar"] = size / bars
        self.b.detail.setdefault("named", {})["lake_bytes_per_bar"] = size / bars

    def check_invariants(self, bars: int, modes: list[str]) -> None:
        from tickerlake_spark.storage import read_table

        def rows(path: str) -> int:
            return self.b.log.call("check", -1, lambda: read_table(
                self.b.spark, path, fs=self.fs).count())

        b = self.b
        counts = b.op("lake row counts", lambda: [rows(p) for p in (
            self.catalog.silver("daily_aggregates"),
            self.catalog.gold("vwap_signals"),
            self.catalog.gold("hvc_daily"),
        )])
        if counts is None:
            return
        silver, vwap, hvc = counts
        b.check(f"silver_daily_rows {silver} == bars {bars}", silver == bars)
        b.check(f"vwap rows {vwap} == silver daily rows {silver}", vwap == silver)
        b.check(f"hvc rows {hvc} > 0", hvc > 0)
        b.check(f"modes {self.modes} == {modes}", self.modes == modes)
        b.detail["lake"] = {"bars": bars, "silver_daily_rows": silver,
                            "vwap_rows": vwap, "hvc_rows": hvc}


def lake_full_build(b: Bench) -> None:
    """run_silver (full) then run_gold (full) over a fresh seeded bronze
    layer; one build is a unit."""
    lake = Lake(b, os.path.join(b.work, "lake"))
    days = inputs.trading_days(HISTORY_START, FULL_DAYS)
    bars = 0

    def make():
        nonlocal bars
        bars = inputs.write_bronze(lake.root, b.seed, FULL_TICKERS, days, FULL_SPLITS)

    b.build_inputs(make)
    b.detail["unit_input_bytes"] = _tree_bytes(lake.catalog.bronze("stocks"))[1]

    def wipe(unit: int) -> None:
        for layer in ("silver", "gold"):
            shutil.rmtree(os.path.join(lake.root, layer), ignore_errors=True)
        if os.path.exists(lake.checkpoints.path):
            os.remove(lake.checkpoints.path)
        lake.checkpoints = lake.new_checkpoints()

    def measured(unit: int) -> None:
        if unit == 0:
            lake.measure_disk(bars)

    b.run_units(lake.silver_gold, before=wipe, after=measured)
    lake.check_invariants(bars, ["full", "full"] * len(b.unit_wall))
    b.detail.setdefault("named", {}).update(
        silver_full_s=b.span_median("pipeline.run_silver"),
        gold_full_s=b.span_median("pipeline.run_gold"),
    )


def lake_daily_append(b: Bench) -> None:
    """A single-day append to a built lake: set-up runs the full build and
    the first (migration) append, then keeps a copy of the lake. Each unit
    starts from that copy, so every unit is the same first steady-state
    day: the day's bronze partition is written untimed, then run_silver
    (append) and run_gold (incremental) are the unit."""
    lake = Lake(b, os.path.join(b.work, "lake"))
    base = os.path.join(b.work, "lake-base")
    days = inputs.trading_days(HISTORY_START, DAILY_DAYS + 2)
    history, migrate_day, day = days[:DAILY_DAYS], days[DAILY_DAYS], days[DAILY_DAYS + 1]
    bars = 0

    def make():
        nonlocal bars
        bars = inputs.write_bronze(lake.root, b.seed, DAILY_TICKERS, history, DAILY_SPLITS)

    b.build_inputs(make)
    lake.silver_gold(-1)
    bars += inputs.append_bronze_days(lake.root, b.seed, DAILY_TICKERS, [migrate_day])
    lake.silver_gold(-1)
    shutil.copytree(lake.root, base)
    bars += inputs.append_bronze_days(lake.root, b.seed, DAILY_TICKERS, [day])
    b.detail["unit_input_bytes"] = _tree_bytes(
        os.path.join(lake.catalog.bronze("stocks"), f"date={day.isoformat()}")
    )[1]

    def restore(unit: int) -> None:
        if unit:
            shutil.rmtree(lake.root)
            shutil.copytree(base, lake.root)
            inputs.append_bronze_days(lake.root, b.seed, DAILY_TICKERS, [day])
            lake.checkpoints = lake.new_checkpoints()

    def measured(unit: int) -> None:
        if unit == 0:
            lake.measure_disk(bars)

    b.run_units(lake.silver_gold, before=restore, after=measured)
    lake.check_invariants(
        bars, ["full", "full", "append", "incremental"]
        + ["append", "incremental"] * len(b.unit_wall),
    )
    b.detail.setdefault("named", {}).update(
        silver_append_s=b.span_median("pipeline.run_silver"),
        gold_incremental_s=b.span_median("pipeline.run_gold"),
    )


WORKLOADS = {
    "catalog_headline": catalog_headline,
    "lake_full_build": lake_full_build,
    "lake_daily_append": lake_daily_append,
}
