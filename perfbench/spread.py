#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and report, for
every end-to-end metric, the median and the interquartile range as a share
of the median (Python's statistics.quantiles(values, n=4)), next to the
metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload W [--seeds 1-10] [--seconds S]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    secs = a.seconds or bench["run_seconds"]
    values, walls = {}, []
    for s in seeds(a.seeds):
        t0 = time.perf_counter()
        out = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                              a.workload, "--seed", str(s), "--seconds", str(secs),
                              "--trace", "0"], cwd=ROOT,
                             capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        if out.returncode != 0:
            print(f"seed {s}: rc={out.returncode}\n{out.stderr[-2000:]}")
            sys.exit(1)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {s} ({walls[-1]:.0f}s): correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("inf")
        b = bounds.get(k)
        # set-up time is compared by its median only, not by its spread
        flag = "" if b is None or k == "setup_s" else (
            "ok" if spread < b / 3 else "within bound" if spread <= b else "WIDE")
        print(f"{k:28s} median {med:12.4f} iqr/median {spread:.4f} "
              f"bound {b} {flag}")


if __name__ == "__main__":
    main()
