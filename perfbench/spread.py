#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's spread.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 1-10] [--trace 0]
                                [--log <results.jsonl>]

For every workload and metric it prints the median of the runs and the
distance between their first and third quartile (statistics.quantiles,
n=4) as a share of the median, next to the metric's bound from
BENCHMARK.json. Each run's result line is appended to the log, so a
second set of runs can be compared with the first.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--log", type=Path)
    a = p.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for w in a.workloads.split(","):
        values = {}
        for s in a.seeds:
            t0 = time.time()
            r = subprocess.run(
                [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                 "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {s}: FAILED (exit {r.returncode})", flush=True)
                continue
            res = json.loads(lines[-1])
            ctx = next((l for l in lines if l.startswith("perfbench context ")), "")
            if a.log:
                with a.log.open("a") as f:
                    f.write(json.dumps({"workload": w, "seed": s, "trace": a.trace,
                                        "wall_s": round(time.time() - t0, 1),
                                        "context": json.loads(ctx[len("perfbench context "):] or "{}"),
                                        "result": res}) + "\n")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {s}: {time.time() - t0:.0f}s " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                if k in bounds), flush=True)
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            share = (q3 - q1) / med if med else float("inf")
            b = bounds.get(k)
            flag = "" if b is None else (" ok" if share < b / 3 else " WIDE")
            print(f"  {w:14s} {k:36s} median={med:.4g} iqr/median={share:.3f}"
                  + ("" if b is None else f" bound={b}") + flag)


if __name__ == "__main__":
    main()
