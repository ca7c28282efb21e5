#!/usr/bin/env python3
"""Smoke-size self-test of every workload, output checks included.

    python3 gfebench/selftest.py

For each workload, at smoke size:
  * an untraced run must exit 0 with a correct result whose metrics are
    exactly BENCHMARK.json's end-to-end metrics, each a number;
  * a traced run must exit 0, report exactly the per-layer metrics, and
    write its span file with self times;
  * a run told to corrupt one of the generator's predictions must exit
    non-zero without printing a result: the output checks catch it.
Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = ["python3", os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    return r.returncode, r.stdout.strip().splitlines(), r.stderr


def fail(msg, err=""):
    sys.stderr.write(err[-3000:] + "\n")
    sys.exit(f"selftest FAILED: {msg}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layer = {m["name"] for m in bench["per_layer"]}
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, want in ((0, e2e), (1, layer)):
            code, out, err = run(w, trace)
            if code != 0 or not out:
                fail(f"{w} trace={trace}: exit {code}", err)
            res = json.loads(out[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                fail(f"{w}: result keys {sorted(res)}")
            if not (res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1):
                fail(f"{w} trace={trace}: {res}")
            if set(res["metrics"]) != want:
                fail(f"{w} trace={trace}: metrics differ from BENCHMARK.json: "
                     f"{sorted(set(res['metrics']) ^ want)}")
            if not all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                fail(f"{w} trace={trace}: non-numeric metric value")
            if trace == 0 and any(res["metrics"][m]["value"] <= 0 for m in e2e):
                fail(f"{w}: an end-to-end metric is not positive")
            if trace == 1:
                spans = os.path.join(ROOT, ".bench_build", "gfebench", "results",
                                     f"spans-{w}-smoke-7.jsonl")
                with open(spans) as f:
                    rows = [json.loads(l) for l in f]
                if not rows or not all("self_ms" in r and "parent" in r for r in rows):
                    fail(f"{w}: span file {spans} lacks spans with self times")
            print(f"ok  {w} trace={trace}: {res['attempted']} checks passed")
        code, out, err = run(w, 0, "--corrupt-expectation")
        if code == 0 or (out and out[-1].startswith("{")):
            fail(f"{w}: a corrupted prediction was not caught (exit {code})")
        if "WRONG ANSWER" not in err:
            fail(f"{w}: no wrong answer reported for the corrupted prediction", err)
        print(f"ok  {w}: corrupted prediction caught, exit {code}")
    print("selftest passed")


if __name__ == "__main__":
    main()
