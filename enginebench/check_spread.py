#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 enginebench/check_spread.py --workload registry --seeds 1 2 3 4 5

For every end-to-end metric it prints the median of the runs and the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound in
``BENCHMARK.json``; a spread under a third of the bound is steady. It also
prints each run's wall time, which the time budget of a full sweep needs.
Runs go one at a time, in the order given.
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
sys.path.insert(0, ROOT)

from enginebench.stats import quartile_spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    record = json.loads(lines[-2]) if len(lines) > 1 else {}
    return {"result": json.loads(lines[-1]), "record": record}, wall


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(1, 11)))
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        out, wall = run_once(args.workload, seed, bench["run_seconds"])
        walls.append(wall)
        res = out["result"]
        box = out["record"].get("box", {})
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "correct": res["correct"],
                          "attempted": res["attempted"], "failed": res["failed"],
                          "load": [round(box.get("loadavg_start", 0), 2),
                                   round(box.get("loadavg_end", 0), 2)],
                          "steal": box.get("steal_frac_run"),
                          "phases_s": {k: round(v, 1) for k, v
                                       in out["record"].get("phases_s", {}).items()},
                          "metrics": {k: round(v["value"], 4) for k, v in res["metrics"].items()}}),
              flush=True)
        print("  p50 by kind", {k.split("_")[0]: round(v["p50_s"], 2)
                                for k, v in out["record"].get("kinds", {}).items()}, flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall_s median {statistics.median(walls):.1f} max {max(walls):.1f}")
    if len(args.seeds) < 2:
        return 0
    for name, vals in values.items():
        med = statistics.median(vals)
        spread = quartile_spread(vals)
        bound = bounds.get(name)
        verdict = "" if bound is None else ("steady" if spread < bound / 3 else "NOISY")
        print(f"{name:14s} median {med:.4f} spread {spread:.3f} bound {bound} {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
