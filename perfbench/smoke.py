#!/usr/bin/env python3
"""Smoke test of the benchmark at sf0.001. Run from the repository root:

    python3 perfbench/smoke.py

It checks that
  * every workload prints each end-to-end metric of BENCHMARK.json with
    its unit, and its traced run prints each per-layer metric with its
    unit (`run.py` itself fails when a layer the workload uses reports
    nothing) and finds no layer that BENCHMARK.json does not list;
  * a tampered expected fingerprint is counted as a failed operation and
    makes the run incorrect.
"""
import glob
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SCALE = "sf0.001"


def run(*args):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args,
                        "--seed", "1", "--seconds", "1", "--scale", SCALE],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    assert p.returncode == 0, f"run.py {' '.join(args)} exited {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(res, wanted, what):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["attempted"] >= 1
    for m in wanted:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{what}: {m['name']} not printed"
        assert got["unit"] == m["unit"], f"{what}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], float), f"{what}: {m['name']} value"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        res = run("--workload", w["name"], "--trace", "0")
        check_metrics(res, bench["end_to_end"], w["name"])
        assert res["correct"], f"{w['name']}: outputs do not match"
        print(f"ok  {w['name']}: {len(bench['end_to_end'])} end-to-end metrics")
        res = run("--workload", w["name"], "--trace", "1")
        check_metrics(res, bench["per_layer"], f"{w['name']} traced")
        assert res["correct"], f"{w['name']} traced: outputs do not match"
        record = max(glob.glob(os.path.join(
            ROOT, ".bench_build", "runs", f"{w['name']}-s1-t1-*", "record.json")),
            key=os.path.getmtime)
        with open(record) as fh:
            extra = json.load(fh)["uncatalogued"]
        assert not extra, f"{w['name']} traced: not in BENCHMARK.json: {extra}"
        print(f"ok  {w['name']} traced: {len(bench['per_layer'])} per-layer metrics")

    # one wrong fingerprint must show up as a failed, incorrect operation
    src = os.path.join(BENCH, "expected", f"batch-{SCALE}.json")
    with open(src) as fh:
        expected = json.load(fh)
    q = sorted(expected)[0]
    expected[q]["sha256"] = "0" * 64
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    tampered = os.path.join(ROOT, ".bench_build", "smoke-tampered.json")
    with open(tampered, "w") as fh:
        json.dump(expected, fh)
    res = run("--workload", "batch", "--trace", "0", "--expected", tampered)
    assert res["failed"] >= 1 and not res["correct"], res
    print(f"ok  tampered fingerprint of {q}: failed={res['failed']}, correct=false")


if __name__ == "__main__":
    main()
