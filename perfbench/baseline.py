#!/usr/bin/env python3
"""Run every workload of BENCHMARK.json over ten seeds and record the figures.

    python3 perfbench/baseline.py --out perfbench/BASELINE.json

Run from the root of a checkout. Runs are made one at a time, untraced,
with the ``run_seconds`` of BENCHMARK.json. For each workload and
end-to-end metric the output holds the ten values, their median and their
quartile spread: (Q3 - Q1) / median, with the quartiles that
``statistics.quantiles(values, n=4)`` gives. It also keeps each run's
result line, its named figures and the host probes taken around it.
Exits non-zero if a run fails or is not correct.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(1, 11)))
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out: dict = {"run_seconds": spec["run_seconds"], "seeds": args.seeds, "workloads": {}}
    ok = True
    for w in spec["workloads"]:
        runs = []
        for seed in args.seeds:
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, os.path.join("perfbench", "run.py"), "--workload", w["name"],
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-3000:])
                return 1
            detail, result = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
            detail = detail["detail"]
            ok = ok and result["correct"]
            out.setdefault("host", {k: detail[k] for k in
                                    ("cpus", "heap", "spark", "python", "filesystem")})
            runs.append({
                "seed": seed, "run_s": time.monotonic() - t0, "result": result,
                "named": detail["named"], "units": detail["units"],
                "cpu_spin_ms": [detail["host_before"]["cpu_spin_ms"],
                                detail["host_after"]["cpu_spin_ms"]],
            })
            print(f"{w['name']} seed {seed}: {json.dumps(result['metrics'])}", flush=True)
        metrics = {}
        for m in spec["end_to_end"]:
            values = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            metrics[m["name"]] = {
                "unit": m["unit"], "bound": m["bound"], "values": values,
                "median": statistics.median(values), "spread": spread(values),
            }
            print(f"{w['name']} {m['name']}: median {metrics[m['name']]['median']:.3f} "
                  f"spread {metrics[m['name']]['spread']:.3f} (bound {m['bound']})", flush=True)
        out["workloads"][w["name"]] = {
            "metrics": metrics,
            "run_s_median": statistics.median(r["run_s"] for r in runs),
            "runs": runs,
        }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
