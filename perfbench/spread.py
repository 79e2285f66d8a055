"""Run a workload over several seeds and print each metric's spread.

    python3 perfbench/spread.py --workload cdc_bulk_scd1 --seeds 1-10 --seconds 12

For every metric of the result lines: the median and the distance between
the first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median, next to the metric's bound from ``BENCHMARK.json``.
Each run is a fresh process; runs go one after another.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=False,
    )
    wall = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} exited {out.returncode}")
    steal = next((line.split(": ", 1)[1] for line in lines
                  if line.startswith("# host.steal_frac: ")), "?")
    return json.loads(lines[-1]), wall, steal


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None,
                    help="defaults to run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        result, wall, steal = run_once(args.workload, seed, seconds, args.trace)
        flat = {k: v["value"] for k, v in result["metrics"].items()}
        print(f"seed {seed}: wall {wall:.1f}s steal {steal} correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              + " ".join(f"{k}={v:.4g}" for k, v in sorted(flat.items())), flush=True)
        for k, v in flat.items():
            values.setdefault(k, []).append(v)
    for k, vs in sorted(values.items()):
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _q2, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
        else:
            spread = float("nan")
        print(f"{k:32s} median {med:12.5g}  iqr/median {spread:7.4f}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
