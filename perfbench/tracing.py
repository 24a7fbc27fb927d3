"""Per-layer measurement from outside the program.

- ``CountingFS`` / ``CountingCheckpoints``: pass-through wrappers the
  benchmark injects through ``Catalog(fs=...)`` and the pipeline's
  ``checkpoints`` argument, counting the driver-side storage calls.
- ``CallLog``: the benchmark's own spans around every call it makes into
  the program, each under a Spark job group.
- ``fold_event_log``: Spark's uncompressed event log folded into task
  metrics per span.
- ``tree_cpu_s`` / ``jvm_peak_rss_mb``: CPU and memory read from ``/proc``.
"""

from __future__ import annotations

import collections
import json
import os
import threading
import time

from tickerlake_spark.storage import Checkpoints

FS_OPS = (
    "listdir", "walk", "stat", "rename", "remove", "read_tail",
    "write_file_atomic", "put_if_absent", "fsync_dir",
)
# The FS protocol's metadata probes all count as one "stat".
_STAT_OPS = {"exists", "isdir", "isfile", "getsize"}


class CountingFS:
    """Pass-through over another ``storage.fs.FS`` that counts calls by
    operation. It changes no result, so the untraced run uses it too and
    both runs execute the same program paths."""

    def __init__(self, inner) -> None:
        self._inner = inner
        self.atomic_rename = inner.atomic_rename
        self._lock = threading.Lock()
        self.calls: collections.Counter[str] = collections.Counter()
        self.put_if_absent_won = 0

    def __getattr__(self, name: str):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr
        op = "stat" if name in _STAT_OPS else name

        def counted(*args, **kwargs):
            out = attr(*args, **kwargs)
            with self._lock:
                self.calls[op] += 1
                if name == "put_if_absent" and out:
                    self.put_if_absent_won += 1
            return out

        return counted

    def snapshot(self) -> dict[str, int]:
        with self._lock:
            return {**self.calls, "_put_won": self.put_if_absent_won}


class CountingCheckpoints(Checkpoints):
    """``storage.Checkpoints`` that counts ``set`` calls."""

    def __init__(self, path: str, fs) -> None:
        super().__init__(path=path, fs=fs)
        self.sets = 0

    def set(self, key: str, value) -> None:
        self.sets += 1
        super().set(key, value)


class CallLog:
    """Wall-clock spans of the benchmark's calls into the program.

    Each call runs under the Spark job group ``<group>#<unit>``; its epoch
    window also attributes jobs submitted from the program's own pool
    threads, which do not inherit the caller's job group."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.spans: list[tuple[str, int, float, float]] = []  # group, unit, t0, t1 (epoch s)

    def call(self, group: str, unit: int, fn, *args, **kwargs):
        self._sc.setJobGroup(f"{group}#{unit}", group)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans.append((group, unit, t0, time.time()))
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def wall_s(self, group: str, unit: int) -> float:
        return sum(t1 - t0 for g, u, t0, t1 in self.spans if g == group and u == unit)


TASK_METRICS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "scan_mb", "output_mb", "tasks",
    "stages", "jobs", "task_wait_s",
)
_MB = 1024.0 * 1024.0


def fold_event_log(path: str, spans: list[tuple[str, int, float, float]], unit: int) -> dict:
    """Sum task metrics per span group of ``unit`` from an uncompressed
    Spark event log. A job or stage belongs to the span whose job group it
    carries, else to the span whose wall-clock window holds its submission.
    ``task_wait_s`` is the time tasks queued for a slot: launch time minus
    the stage's submission time."""
    windows = [(g, t0 * 1000.0, t1 * 1000.0) for g, u, t0, t1 in spans if u == unit]
    out: dict[str, dict[str, float]] = collections.defaultdict(
        lambda: dict.fromkeys(TASK_METRICS, 0.0)
    )

    def group_of(props: dict, t_ms: float) -> str | None:
        tag = (props or {}).get("spark.jobGroup.id") or ""
        name, _, u = tag.rpartition("#")
        if name and u == str(unit):
            return name
        for g, lo, hi in windows:
            if lo <= t_ms <= hi:
                return g
        return None

    stage_group: dict[tuple[int, int], str] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = group_of(ev.get("Properties"), ev.get("Submission Time", 0))
                if g:
                    out[g]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                t = info.get("Submission Time") or 0
                g = group_of(ev.get("Properties"), t)
                if g:
                    stage_group[key] = g
                    stage_submit[key] = t
                    out[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                g = stage_group.get(key)
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                o = out[g]
                o["tasks"] += 1
                o["executor_run_s"] += m["Executor Run Time"] / 1e3
                o["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                o["gc_s"] += m["JVM GC Time"] / 1e3
                sr = m["Shuffle Read Metrics"]
                o["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / _MB
                o["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
                o["spill_mb"] += m["Disk Bytes Spilled"] / _MB
                o["scan_mb"] += m["Input Metrics"]["Bytes Read"] / _MB
                o["output_mb"] += m["Output Metrics"]["Bytes Written"] / _MB
                launch = ev["Task Info"]["Launch Time"]
                o["task_wait_s"] += max(0.0, launch - stage_submit[key]) / 1e3
    return dict(out)


def event_log_file(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


# --------------------------------------------------------------------------
# /proc readings
# --------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from "state" on


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children = collections.defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children[int(fields[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of ``root`` and its live descendants, including the
    children each of them has reaped."""
    total = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
