#!/usr/bin/env python3
"""Run one workload on several seeds and report each end-to-end
metric's median and quartile spread (IQR / median), the steadiness
figure each metric's bound in BENCHMARK.json is checked against, and
the same for the workload's printed figures (in parentheses).

    python3 perfbench/spread.py --workload serve --seeds 1-10 --seconds 10

Runs are sequential; each run's last stdout line is kept in
``.perfbench_out/runs-<workload>.jsonl``.
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
CHECKOUT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args()
    out_dir = os.path.join(CHECKOUT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    values: dict[str, list[float]] = {}
    with open(os.path.join(out_dir, f"runs-{args.workload}.jsonl"), "a") as log:
        for seed in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
            t0 = time.perf_counter()
            out = subprocess.run(cmd, cwd=CHECKOUT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                 text=True, check=True)
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            res["seed"], res["run_s"] = seed, time.perf_counter() - t0
            # the workload's own figures ("perfbench <workload> <name> = <value> <unit>"),
            # printed but not gated, e.g. search latency
            res["figures"] = {
                w[2]: float(w[4]) for w in (ln.split() for ln in lines[:-1]) if len(w) == 6 and w[3] == "="
            }
            log.write(json.dumps(res) + "\n")
            log.flush()
            print(f"seed {seed}: {res['run_s']:.1f}s correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            for k, v in res["figures"].items():
                values.setdefault(f"({k})", []).append(v)
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            print(f"{k:30s} median {med:12.5g}  spread {(q3 - q1) / med:6.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
