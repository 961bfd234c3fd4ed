"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload table_commits --seeds 1-10 [--seconds 20]

Runs the benchmark once per seed, one run at a time, and prints for
each metric the median, the quartiles and the interquartile range as a
share of the median (``statistics.quantiles(n=4)``), next to the bound
in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from stats import median, quartiles

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr)
            return p.returncode
        res = json.loads(p.stdout.strip().splitlines()[-1])
        spin = [ln.split("spin_s", 1)[1].strip() for ln in p.stderr.splitlines() if "host spin_s" in ln]
        print(f"seed {seed}: {time.perf_counter() - t:.1f} s, spin {' '.join(spin)}, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        q1, q2, q3 = quartiles(xs)
        print(f"{k}: median {median(xs):.4g}  q1 {q1:.4g}  q3 {q3:.4g}  "
              f"iqr/median {(q3 - q1) / median(xs):.4f}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
