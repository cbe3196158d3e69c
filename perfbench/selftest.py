#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py [workload ...]

From the root of a checkout. For each workload (all by default):
  - one untimed-size run with --trace 0 must print every end-to-end
    metric of BENCHMARK.json with its unit, pass every output check and
    report 0 failed operations;
  - one run with --trace 1 must print every per-layer metric with its
    unit, and its record must hold the workload's own spans with counts;
  - the same seed must give the same output (kept set, star, KPI
    results) in both runs;
  - one run with --corrupt, which damages one output before its check,
    must report the damage as a failed operation.
Finally the command must fail, without printing a result, in a copy
holding only BENCHMARK.json and the benchmark's own directory.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = {"rcm_nightly": "0.1", "curation_stream": "0.2"}
OWN_SPANS = {
    "rcm_nightly": ["etl.extract", "etl.transform", "etl.scan_clean", "etl.dimensions",
                    "operators.scd2", "etl.facts", "etl.validate", "etl.write"]
                   + [f"analytics.q{i}" for i in range(1, 12)],
    "curation_stream": ["operators.process_slice", "streaming.epoch_overhead",
                        "operators.erase", "operators.pack_export"],
}
# spans whose calls run Spark jobs, so their job counts must be positive
EAGER = {"etl.scan_clean", "operators.scd2", "etl.validate", "etl.write",
         "operators.process_slice", "operators.erase", "operators.pack_export"} | \
    {f"analytics.q{i}" for i in range(1, 12)}


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", SCALE[workload], *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and len(lines) >= 2, f"{cmd} exited {p.returncode}"
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert lines[-2].startswith("perfbench-record "), lines[-2][:80]
    return result, json.loads(lines[-2].split(" ", 1)[1])


def check_metrics(result, specs, what):
    names = [m["name"] for m in specs]
    assert sorted(result["metrics"]) == sorted(names), \
        f"{what}: printed {sorted(set(result['metrics']) ^ set(names))} differently"
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], f"{what}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{what}: {m['name']} = {got['value']}"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for w in workloads:
        timed, timed_rec = run(w, 0)
        check_metrics(timed, bench["end_to_end"], f"{w} trace 0")
        assert timed["correct"] and timed["failed"] == 0 and timed["attempted"] >= 1, timed
        for m in bench["end_to_end"]:
            assert timed["metrics"][m["name"]]["value"] > 0, f"{w}: {m['name']} is not positive"

        traced, traced_rec = run(w, 1)
        check_metrics(traced, bench["per_layer"], f"{w} trace 1")
        assert traced["correct"] and traced["failed"] == 0, traced_rec["problems"]
        spans = {}
        for s in traced_rec["spans"]:
            spans.setdefault(s["name"], []).append(s)
        for name in OWN_SPANS[w]:
            assert name in spans, f"{w}: span {name} missing from the record"
            assert traced["metrics"][f"{name}.wall_ms"]["value"] > 0, f"{w}: {name} wall is 0"
            if name in EAGER:
                assert traced["metrics"][f"{name}.jobs"]["value"] > 0, f"{w}: {name} ran no jobs"
        assert traced["metrics"]["trace.overhead_ratio"]["value"] > 0

        # same seed, same output, across processes and trace modes
        if timed_rec["output_hashes"] != [""]:
            assert timed_rec["output_hashes"] == traced_rec["output_hashes"], \
                f"{w}: output differs between runs of one seed"

        bad, bad_rec = run(w, 0, "--corrupt")
        assert not bad["correct"] and bad["failed"] >= 1, f"{w}: corruption not reported"
        print(f"selftest: {w}: ok ({timed['attempted']} ops checked; corruption caught: "
              f"{bad_rec['problems'][0]})", flush=True)

    # without the library sources the command must fail and print no result
    bare = os.path.join(HERE, "target", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target"))
    p = subprocess.run(bench["command"] + ["--workload", workloads[0], "--seed", "1",
                                           "--seconds", "1", "--trace", "0"],
                       cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and '"correct"' not in p.stdout, "bare copy did not fail"
    print("selftest: bare copy fails without a result: ok")


if __name__ == "__main__":
    main()
