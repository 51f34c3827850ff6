"""Run the benchmark over several seeds and report, per workload and
end-to-end metric, the median and the quartile spread as a share of the
median (the steadiness test a metric's bound in ``BENCHMARK.json`` must
pass), plus each run's wall-time figures and the CPU time the hypervisor
stole while it measured.

    python3 perfbench/spread.py --seeds 101-110 [--workload lake_scan ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=_seeds, required=True, help="e.g. 101-110")
    ap.add_argument("--workload", action="append",
                    help="default: every workload in BENCHMARK.json")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for workload in args.workload or [w["name"] for w in bench["workloads"]]:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in args.seeds:
            t0 = time.perf_counter()
            out = subprocess.run(
                [*bench["command"], "--workload", workload, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True,
            )
            walls.append(time.perf_counter() - t0)
            result = json.loads(out.stdout.strip().splitlines()[-1])
            wall = re.search(r"^wall time: .*$", out.stdout, re.M)
            print(f"  {workload} seed {seed}: run {walls[-1]:.0f} s, "
                  f"cpu_ms_per_op {result['metrics']['cpu_ms_per_op']['value']:.0f}; "
                  f"{wall.group(0) if wall else ''}", flush=True)
            if not result["correct"]:
                print(f"{workload} seed {seed}: {result['failed']} failed", flush=True)
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        print(f"{workload}: wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s", flush=True)
        for name, vals in values.items():
            spread = quartile_spread(vals) if len(vals) > 1 else 0.0
            flag = "" if spread < bounds[name] / 3 else "  <-- over a third of the bound"
            print(f"  {name:24} median {statistics.median(vals):12.4f}  "
                  f"spread {spread:6.3f}  bound {bounds[name]}{flag}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
