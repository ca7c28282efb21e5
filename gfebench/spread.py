#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 gfebench/spread.py --workload release_fold --seeds 1-10 [--seconds 10]

Runs the workload once per seed (untraced, one after another), then
prints, for every end-to-end metric, the median of its values and the
distance between their first and third quartiles as a share of that
median (statistics.quantiles(values, n=4)), next to the metric's bound
from BENCHMARK.json. A JSON summary goes to .bench_build/gfebench/spread/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    secs = a.seconds or str(bench["run_seconds"])
    values, walls = {}, []
    for s in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run(
            ["python3", os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", secs, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.stderr.write(r.stdout[-2000:] + r.stderr[-4000:])
            sys.exit(f"seed {s}: exit {r.returncode}")
        res = json.loads(lines[-1])
        assert res["correct"] and res["failed"] == 0, res
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: {walls[-1]:.1f} s wall  " + "  ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    summary = {}
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("inf")
        summary[k] = {"median": med, "iqr_share": spread, "bound": bounds.get(k),
                      "values": vs}
        print(f"{k:24} median {med:12.4f}  spread {spread:6.3f}  bound {bounds.get(k)}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    out = os.path.join(ROOT, ".bench_build", "gfebench", "spread")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{a.workload}-{int(time.time())}.json"), "w") as f:
        json.dump({"workload": a.workload, "seeds": seeds(a.seeds), "walls": walls,
                   "metrics": summary}, f, indent=1)


if __name__ == "__main__":
    main()
