#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny input scale.

Run from the root of a source checkout:

    python3 perfbench/selftest.py

It checks that the result line parses, that every metric BENCHMARK.json
names appears with its unit and sample count, that clean runs report no
failures, and that two planted faults are counted as failures: a train
item put into a recommendation list, and a matched URI dropped. It also
checks that the benchmark refuses to run outside a source checkout.
"""
import json
import os
import shutil
import subprocess
import sys

SCALE = "0.3"


def run(workload, trace, fault="none", cwd=None):
    cmd = [sys.executable, os.path.abspath("perfbench/run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", SCALE,
           "--fault", fault]
    res = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, timeout=900)
    return res


def parse(res):
    lines = res.stdout.strip().splitlines()
    assert res.returncode == 0, f"exit code {res.returncode}: {res.stderr[-2000:]}"
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    return result, detail


def check_metrics(result, detail, declared):
    for m in declared:
        name = m["name"]
        assert name in result["metrics"], f"missing metric {name}"
        got = result["metrics"][name]
        assert got["unit"] == m["unit"], f"{name}: unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{name}: value {got['value']}"
        assert detail["metrics"][name]["samples"] >= 1, f"{name}: no samples"


def main():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    failures = []

    def case(name, fn):
        try:
            fn()
            print(f"ok    {name}")
        except AssertionError as e:
            failures.append(name)
            print(f"FAIL  {name}: {e}")

    def outside_checkout():
        scratch = os.path.abspath(os.path.join(".bench_build", "selftest-bare"))
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch)
        shutil.copy("BENCHMARK.json", scratch)
        for p in bench["paths"]:
            shutil.copytree(p, os.path.join(scratch, p),
                            ignore=shutil.ignore_patterns("target", "project"))
        res = run(bench["workloads"][0]["name"], 0, cwd=scratch)
        shutil.rmtree(scratch, ignore_errors=True)
        assert res.returncode != 0, "ran outside a source checkout"
        assert not any(l.startswith('{"correct"') for l in res.stdout.splitlines()), \
            "printed a result outside a source checkout"

    def clean(workload, trace, key):
        def body():
            result, detail = parse(run(workload, trace))
            check_metrics(result, detail, bench[key])
            assert result["failed"] == 0 and result["correct"], \
                f"clean run failed: {detail['info'].get('failed_checks')}"
        return body

    def planted(workload, trace, fault):
        def body():
            result, detail = parse(run(workload, trace, fault))
            assert result["failed"] > 0 and not result["correct"], "planted fault not counted"
            assert detail["info"]["failed_ratio"] > 0, "failed_ratio is 0"
        return body

    case("refuses to run outside a source checkout", outside_checkout)
    case("kg-models end-to-end metrics", clean("kg-models", 0, "end_to_end"))
    case("etl-kcore per-layer metrics", clean("etl-kcore", 1, "per_layer"))
    case("train item planted in a recommendation list", planted("kg-models", 1, "train-item"))
    case("matched URI dropped", planted("etl-kcore", 0, "drop-uri"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
