"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload curate_corpus --seeds 1-10 [--seconds 10]

Runs ``perfbench/run.py`` once per seed, one after another, and prints
per metric the median, the quartiles (``statistics.quantiles(n=4)``)
and the quartile distance as a share of the median, next to the
metric's bound from BENCHMARK.json.  Appends every raw result line to
``--log`` when given.
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


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int)
    p.add_argument("--log")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seconds = a.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        run_s = time.perf_counter() - t0
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        if a.log:
            timed = [ln for ln in lines if " timed " in ln]
            with open(a.log, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed, "run_s": run_s,
                                     "timed": timed[0] if timed else None, **res}) + "\n")
        print(f"seed {seed}: run={run_s:.1f}s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"{k}: median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
              f"spread={(q3 - q1) / med:.4f} bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
