#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog_headline --seed 1 --seconds 14 --trace 0

Run from the root of a checkout of the repository; the program under test
is the ``tickerlake_spark`` package next to this directory. Everything the
run writes (inputs, lake, Spark scratch, event log) lives under
``.perfbench/`` in the checkout and is removed at exit.

stdout ends with one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics, or per-layer metrics with
``--trace 1``). The line before it holds the run's detail: host, settings,
the per-workload named figures and every timed unit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "4g"  # the whole local[N] cluster's heap; leaves room on a 16 GB box


def _cpu_spin_ms() -> float:
    """A fixed single-core loop; host CPU steal or throttling inflates it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1e3


def _host_probe() -> dict:
    return {"loadavg": list(os.getloadavg()), "cpu_spin_ms": _cpu_spin_ms()}


def _filesystem(path: str) -> str:
    """Type of the filesystem holding ``path``, from /proc/mounts."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mount, fstype = line.split()[:3]
            inside = path == mount or path.startswith(mount.rstrip("/") + "/")
            if inside and len(mount) > len(best):
                best, kind = mount, fstype
    return kind


def _pin_environment(work: str) -> dict:
    """Size Spark to this box and keep every scratch file in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    import pyspark

    return {
        "cpus": cpus,
        "heap": HEAP,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "filesystem": _filesystem(work),
    }


def _stop(spark, jvm: subprocess.Popen) -> None:
    """Stop Spark, end its JVM and wait for every process under it."""
    from tracing import descendants

    gateway = spark.sparkContext._gateway
    pids = descendants(jvm.pid)
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()  # the JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[-1].split()[0] == "Z":
                    break
            time.sleep(0.05)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, dict]:
    settings = _pin_environment(work)
    sys.path.insert(0, ROOT)
    import workloads
    from tracing import event_log_file, fold_event_log, jvm_peak_rss_mb

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file: the JVM writes it under /tmp whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    log_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": log_dir,
        })
    host_before = _host_probe()
    t0 = time.perf_counter()
    from tickerlake_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc
    try:
        b = workloads.Bench(spark, work, seed, seconds, trace)
        workloads.WORKLOADS[workload](b)
        peak_rss_mb = jvm_peak_rss_mb(jvm.pid)
    finally:
        _stop(spark, jvm)
    setup_s = b.setup_s(session_s)
    if trace:
        b.layers["session.start_s"] = session_s
        b.fold(fold_event_log(event_log_file(log_dir), b.log.spans, unit=0))
        metrics = {n: (b.layers[n], u) for n, u in workloads.layer_units().items()}
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "unit_s": (statistics.median(b.unit_wall), "s"),
        }
    named = b.detail.pop("named", {})
    named.update(
        setup_s=setup_s,
        cpu_s=statistics.median(b.unit_cpu),
        peak_rss_mb=peak_rss_mb,
        error_rate=b.failed / b.attempted,
    )
    detail = {
        "workload": workload, "seed": seed, "trace": trace, **settings,
        "named": {n: {"value": v, "unit": workloads._unit(n)} for n, v in named.items()},
        "units": len(b.unit_wall), "unit_wall_s": b.unit_wall, "unit_cpu_s": b.unit_cpu,
        "session_s": session_s, "input_s": b.input_s, "prep_s": b.prep_s,
        "setup_calls_s": [[g, t1 - t0] for g, u, t0, t1 in b.log.spans if u < 0],
        "host_before": host_before, "host_after": _host_probe(),
        **b.detail,
    }
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }
    return detail, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("catalog_headline", "lake_full_build", "lake_daily_append"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tickerlake_spark", "pipeline.py")):
        print(f"perfbench: no tickerlake_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        detail, result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
