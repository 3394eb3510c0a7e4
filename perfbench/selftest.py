#!/usr/bin/env python3
"""Self-test of the benchmark: a smoke pass of both workloads on tiny
inputs, untraced and traced.

    python3 perfbench/selftest.py

Asserts that every metric is printed by name with its unit (and matches
BENCHMARK.json), that every output check passes, that the traced layer
attribution holds (`sources.*` / `maintenance.*` read 0 on read_mix,
`dedup.*` / `functions.*` / `pipeline.*` / `ann.*` read 0 on dba_lifecycle),
that the generator is byte-deterministic per seed, and that a directory
holding only BENCHMARK.json and perfbench/ exits non-zero without a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def bench(workload, trace, seed=7, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


def check_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS), spec["workloads"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    print("ok   BENCHMARK.json names every printed metric with its unit")


def check_run(workload, trace):
    p = bench(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    final, detail = json.loads(lines[-1]), json.loads(lines[-2])["perfbench"]
    assert set(final) == RESULT_KEYS, final.keys()
    units = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in final["metrics"].items()} == units
    assert all(isinstance(v["value"], (int, float)) for v in final["metrics"].values())
    assert final["correct"] and final["failed"] == 0 and final["attempted"] > 0, \
        (final, detail["checks"], detail["op_errors"])
    checks = detail["checks"]
    if workload == "dba_lifecycle":
        assert not any(checks["global"].values()) and not checks["op_mismatches"], checks
    else:
        assert all(v == "match" for v in checks["oracle"].values()), checks
        assert not checks["nondeterministic"], checks
    m = {k: v["value"] for k, v in final["metrics"].items()}
    if trace:
        zero = (("sources.", "maintenance.") if workload == "read_mix"
                else ("dedup.", "functions.", "pipeline.", "ann."))
        nonzero = [k for k, v in m.items() if k.startswith(zero) and v != 0]
        assert not nonzero, f"{workload}: bypassed layers read non-zero: {nonzero}"
        busy = (("operators.jobs", "dedup.jobs", "functions.minhash_sig_ns_row",
                 "pipeline.curate_s", "ann.train_s", "Tables.input_rows")
                if workload == "read_mix" else
                ("sources.jobs", "maintenance.jobs", "sources.delta.merge_s",
                 "sources.iceberg.merge_s", "e2e.write_amp"))
        idle = [k for k in busy if not m[k] > 0]
        assert not idle, f"{workload}: exercised layers read 0: {idle}"
    else:
        assert all(v > 0 for v in m.values()), m
    print(f"ok   {workload} trace={trace}: {final['attempted']} operations, "
          f"checks pass, {len(m)} metrics")


def check_generator():
    base = os.path.join(build.BUILD, "selftest-gen")
    shutil.rmtree(base, ignore_errors=True)
    for w in run.WORKLOADS:
        a = gen.generate(os.path.join(base, w, "a"), w, 3, "tiny")
        b = gen.generate(os.path.join(base, w, "b"), w, 3, "tiny")
        c = gen.generate(os.path.join(base, w, "c"), w, 4, "tiny")
        assert a["files"] == b["files"], f"{w}: same seed, different inputs"
        assert a["files"] != c["files"], f"{w}: seed does not change the inputs"
    shutil.rmtree(base, ignore_errors=True)
    print("ok   generator: same seed byte-identical, another seed differs")


def check_bare_directory():
    os.makedirs(build.BUILD, exist_ok=True)
    bare = tempfile.mkdtemp(dir=build.BUILD, prefix="bare-")
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = bench(run.WORKLOADS[0], 0, cwd=bare)
        assert p.returncode != 0, "ran without the program's sources"
        assert '"metrics"' not in p.stdout, "printed a result without the program"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok   a directory with only the benchmark exits non-zero, no result")


if __name__ == "__main__":
    check_spec()
    check_generator()
    check_bare_directory()
    for w in run.WORKLOADS:
        for t in (0, 1):
            check_run(w, t)
    print("selftest passed")
