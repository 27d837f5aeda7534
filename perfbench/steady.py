"""Steadiness evidence: run the benchmark over many seeds and summarise.

    python3 perfbench/steady.py --label set1 --seeds 1-10 --seconds 8 \
        --workloads forest_build forest_probe

runs ``run.py`` once per (seed, workload), workloads interleaved so host
noise spreads over all of them, and stores under ``--label`` in
``perfbench/steadiness.json`` each metric's values, median, quartiles
(``statistics.quantiles(values, n=4)``) and spread ((q3 - q1) / median).
``--curve`` instead runs with no warm-up and stores every cycle's time, the
curve each workload's warm-up count is read from.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "steadiness.json")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: float, extra: list[str]) -> tuple[dict, list]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
           "--log-cycles", *extra]
    proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                          text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}: "
                           f"{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    cycles = [json.loads(line) for line in proc.stderr.splitlines()
              if line.startswith('{"cycle"')]
    return result, cycles


def summary(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2,
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--label", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--curve", action="store_true")
    args = ap.parse_args()
    extra = ["--warmup", "0"] if args.curve else []
    metrics: dict = {w: {} for w in args.workloads}
    curves: dict = {w: [] for w in args.workloads}
    for seed in seeds(args.seeds):
        for w in args.workloads:
            result, cycles = one_run(w, seed, args.seconds, extra)
            if not result["correct"]:
                raise RuntimeError(f"{w} seed {seed} failed its checks")
            curves[w].append([round(c["s"], 4) for c in cycles])
            for name, m in result["metrics"].items():
                metrics[w].setdefault(name, []).append(m["value"])
            print(w, seed, {k: round(v[-1], 4) for k, v in metrics[w].items()}, flush=True)
    doc = json.load(open(OUT)) if os.path.exists(OUT) else {}
    if args.curve:
        doc.setdefault("warmup_curves", {})[args.label] = curves
    else:
        doc.setdefault("sets", {})[args.label] = {
            w: {name: summary(v) for name, v in ms.items()} for w, ms in metrics.items()
        }
    with open(OUT, "w") as fh:
        json.dump(doc, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
