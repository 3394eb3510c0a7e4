#!/usr/bin/env python3
"""graft benchmark: two seeded workloads driven through graft's public
functions, with end-to-end metrics and a traced per-module breakdown.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds graft and the benchmark from
source (perfbench/build.py), generates the seeded inputs (perfbench/gen.py),
runs the JVM side (perfbench/src), checks the outputs against DuckDB
(perfbench/oracle.py) and prints, as its last stdout line, one JSON object:
`correct`, `attempted`, `failed` and `metrics` — the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it
carries the run's details: host record, set-up reps, check results and
every metric of both kinds that the run could compute.

Everything it writes stays under `.bench_build/perfbench/` in the checkout;
the run's own directory there is deleted when it ends.
"""
import argparse
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True      # write nothing next to the sources

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("read_mix", "dba_lifecycle")
CORES = 4
RUN_LIMIT_S = 175          # the whole run, build included once it is built

# metric name → unit; the order here is the order printed
END_TO_END = {
    "setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
    "op_tail_s": "s", "retained_heap_mb": "MB",
}
FORMATS = ("delta", "iceberg")
KERNELS = ("minhash_sig", "simhash", "pii_scrub", "token_profile",
           "bpe_count", "lp_sum", "shingle", "winnow")
GATES = {"exact": "dup", "short": "short", "lang": "lang_mismatch",
         "quality": "low_quality", "neardup": "near_dup"}
PER_LAYER = {
    "e2e.write_p50_s": "s", "e2e.read_p50_s": "s", "e2e.maint_s": "s",
    "e2e.write_amp": "ratio", "e2e.space_amp": "ratio",
    "e2e.fail_ratio": "ratio", "e2e.op_tail_pct": "pct", "e2e.op_tail_n": "count",
    "Tables.input_rows": "rows", "Tables.input_bytes": "B",
    **{f"operators.{k}": u for k, u in (
        ("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"),
        ("tasks", "count"), ("cpu_s", "s"), ("core_ratio", "ratio"),
        ("shuffle_bytes", "B"), ("spill_bytes", "B"), ("task_wait_s", "s"),
        ("driver_s", "s"))},
    **{f"sources.{f}.{k}": u for f in FORMATS for k, u in (
        ("merge_s", "s"), ("delete_s", "s"), ("read_where_s", "s"),
        ("time_travel_s", "s"), ("changes_s", "s"), ("snapshot_s", "s"),
        ("merge_skip_ratio", "ratio"), ("read_skip_ratio", "ratio"),
        ("files_live", "count"), ("log_bytes", "B"), ("bytes_written", "B"))},
    **{f"sources.{k}": u for k, u in (
        ("jobs", "count"), ("tasks", "count"), ("cpu_s", "s"),
        ("driver_s", "s"), ("shuffle_bytes", "B"))},
    **{f"maintenance.{k}": u for k, u in (
        ("optimize_s", "s"), ("vacuum_s", "s"), ("checkpoint_s", "s"),
        ("analyze_s", "s"), ("describe_s", "s"), ("bytes_rewritten", "B"),
        ("files_removed", "count"), ("jobs", "count"), ("driver_s", "s"))},
    **{f"dedup.{k}": u for k, u in (
        ("minhash_s", "s"), ("simhash_s", "s"), ("spans_s", "s"),
        ("semantic_s", "s"), ("dup_ratio", "ratio"),
        ("jobs", "count"), ("cpu_s", "s"), ("shuffle_bytes", "B"),
        ("spill_bytes", "B"), ("driver_s", "s"))},
    **{f"functions.{k}_ns_row": "ns/row" for k in KERNELS},
    "functions.pii_scrub_s": "s",
    **{f"pipeline.{k}": u for k, u in (
        ("curate_s", "s"), ("kept_ratio", "ratio"))},
    **{f"pipeline.gate_rows.{g}": "rows" for g in GATES},
    "ann.train_s": "s", "ann.assign_s": "s",
    "trace.overhead_s": "s",
}

# curation operation → the per-layer latency metric it feeds
CURATE_METRIC = {
    "dedup_minhash": "dedup.minhash_s", "dedup_simhash_nn": "dedup.simhash_s",
    "text_dup_span": "dedup.spans_s", "dedup_semantic": "dedup.semantic_s",
    "text_pii_scrub": "functions.pii_scrub_s",
    "pipeline_curate_neardup": "pipeline.curate_s",
}
WRITES = ("merge", "delete")
READS = ("read_where", "time_travel", "changes")
MAINTENANCE = ("optimize", "vacuum", "analyze", "describe_history",
               "describe_detail", "checkpoint")

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# ---------------------------------------------------------------- host
def host_snapshot():
    """Load, runnable and blocked counts, and the CPU tick counters."""
    snap = {"t": time.time()}
    try:
        with open("/proc/loadavg") as f:
            parts = f.read().split()
        snap.update(load1=float(parts[0]), load5=float(parts[1]),
                    runnable=int(parts[3].split("/")[0]))
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    ticks = [int(x) for x in line.split()[1:]]
                    snap["ticks_total"] = sum(ticks)
                    snap["ticks_iowait"] = ticks[4]
                    snap["ticks_steal"] = ticks[7] if len(ticks) > 7 else 0
                elif line.startswith("procs_blocked"):
                    snap["blocked"] = int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return snap


def host_record(pre, pre2, post):
    """Pre-run load and runnable count (two samples around input
    generation, the sampler itself excluded), steal and iowait over the
    run. `degraded` compares against float thresholds."""
    def pct(key):
        dt = post.get("ticks_total", 0) - pre.get("ticks_total", 0)
        if key not in pre or key not in post or dt <= 0:
            return None
        return 100.0 * (post[key] - pre[key]) / dt
    runnable = [s["runnable"] - 1 for s in (pre, pre2) if "runnable" in s]
    runnable = sum(runnable) / len(runnable) if runnable else None
    steal, iowait = pct("ticks_steal"), pct("ticks_iowait")
    busy = max(2.0, CORES / 4.0)
    degraded = bool(
        (steal or 0.0) > 2.0 or (iowait or 0.0) > 5.0
        or (pre.get("load1", 0.0) > 2.0 and (runnable or 0.0) > busy)
        or pre.get("blocked", 0) > busy)
    return {"cpus": os.cpu_count(), "load1": pre.get("load1"),
            "load5": pre.get("load5"), "runnable": runnable,
            "blocked": pre.get("blocked"), "steal_pct": steal,
            "iowait_pct": iowait, "degraded": degraded}


# ---------------------------------------------------------------- metrics
def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(walls):
    """Latency at the highest whole percentile with at least 10 samples
    beyond it: (value, percentile, samples beyond). Fewer than 11 samples
    give the maximum, percentile 100."""
    xs = sorted(walls)
    n = len(xs)
    if n <= 10:
        return (xs[-1] if xs else 0.0), 100, 0
    p = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(p / 100 * n))
    return xs[rank - 1], p, n - rank


def table_rows(manifest):
    return {k[:-len(".parquet")]: v["rows"] for k, v in manifest["files"].items()}


def declared_rows(op, manifest, script, oracles):
    """The input rows the generator declares for one operation."""
    if script is not None:
        cycles = {c["cycle"]: c for c in script["cycles"]}
        live = lambda c: cycles[c]["live_rows"] if c in cycles else script["base_rows"]  # noqa: E731
        if op["kind"] == "merge":
            return cycles[op["cycle"]]["batch_rows"]
        if op["kind"] == "delete":
            return cycles[op["cycle"]]["delete_rows"]
        if op["kind"] == "time_travel":
            return live(op["info"].get("as_of_cycle", op["cycle"]))
        return live(op["cycle"])
    rows = table_rows(manifest)
    sql = oracles.get(op["name"], "")
    used = [t for t in rows if re.search(rf"\b{t}\b", sql)]
    return sum(rows[t] for t in used)


def op_cost(ops, key):
    return [(o.get("cost") or {}).get(key, 0) for o in ops]


def lifecycle_metrics(ops, facts, script):
    """The lifecycle's own end-to-end figures over `ops` (one phase)."""
    out = {
        "e2e.write_p50_s": median(o["wall_s"] for o in ops if o["kind"] in WRITES),
        "e2e.read_p50_s": median(o["wall_s"] for o in ops if o["kind"] in READS),
        "e2e.maint_s": sum(o["wall_s"] for o in ops if o["kind"] in MAINTENANCE),
    }
    cycles = {c["cycle"]: c for c in script["cycles"]}
    batch = sum(cycles[c]["batch_bytes"] for c in {o["cycle"] for o in ops
                                                   if o["kind"] == "merge"})
    written = sum(o["info"].get("bytes_written", 0) for o in ops)
    out["e2e.write_amp"] = written / (len(FORMATS) * batch) if batch else 0.0
    roots = sum(facts["formats"][f]["root_bytes"] for f in FORMATS)
    plain = facts.get("snapshot_plain_bytes", 0)
    out["e2e.space_amp"] = roots / (len(FORMATS) * plain) if plain else 0.0
    return out


def layer_metrics(ops, result, out_dir):
    """Every per-layer metric from the traced phase's records; a layer the
    workload does not exercise reads 0. The `e2e.*` entries are filled in
    from the untraced pass by the caller."""
    m = {k: 0.0 for k in PER_LAYER}
    facts = result["facts"]
    by_layer = lambda layer: [o for o in ops if o["layer"] == layer]  # noqa: E731
    reads_tables = [o for o in ops if o["layer"] not in ("sources", "maintenance")]
    m["Tables.input_rows"] = mean(op_cost(reads_tables, "input_rows"))
    m["Tables.input_bytes"] = mean(op_cost(reads_tables, "input_bytes"))

    def driver(xs):
        return mean(o["wall_s"] - (o.get("cost") or {}).get("covered_s", 0) for o in xs)

    op_ops = by_layer("operators")
    if op_ops:
        wall = sum(o["wall_s"] for o in op_ops)
        m.update({
            "operators.construct_s": mean(o["construct_s"] for o in op_ops),
            "operators.execute_s": mean(o["execute_s"] for o in op_ops),
            "operators.jobs": mean(op_cost(op_ops, "jobs")),
            "operators.tasks": mean(op_cost(op_ops, "tasks")),
            "operators.cpu_s": mean(op_cost(op_ops, "cpu_s")),
            "operators.core_ratio": sum(op_cost(op_ops, "cpu_s")) / (wall * CORES) if wall else 0.0,
            "operators.shuffle_bytes": mean(op_cost(op_ops, "shuffle_write")),
            "operators.spill_bytes": mean(op_cost(op_ops, "spill")),
            "operators.task_wait_s": mean(op_cost(op_ops, "task_wait_s")),
            "operators.driver_s": driver(op_ops),
        })
    src = by_layer("sources")
    if src:
        for f in FORMATS:
            mine = [o for o in ops if o["fmt"] == f]
            for kind in ("merge", "delete", "read_where", "time_travel", "changes", "snapshot"):
                m[f"sources.{f}.{kind}_s"] = mean(o["wall_s"] for o in mine if o["kind"] == kind)
            merges = [o["info"] for o in mine if o["kind"] == "merge" and o["ok"]]
            skipped = sum(i["files_skipped"] for i in merges)
            total = skipped + sum(i["files_rewritten"] for i in merges)
            m[f"sources.{f}.merge_skip_ratio"] = skipped / total if total else 0.0
            reads = [o["info"] for o in mine if o["kind"] == "read_where" and o["ok"]]
            skipped = sum(i["files_skipped"] for i in reads)
            total = skipped + sum(i["files_scanned"] for i in reads)
            m[f"sources.{f}.read_skip_ratio"] = skipped / total if total else 0.0
            m[f"sources.{f}.files_live"] = facts["formats"][f]["files_live"]
            m[f"sources.{f}.log_bytes"] = facts["formats"][f]["log_bytes"]
            m[f"sources.{f}.bytes_written"] = sum(o["info"].get("bytes_written", 0) for o in mine)
        m.update({
            "sources.jobs": mean(op_cost(src, "jobs")),
            "sources.tasks": mean(op_cost(src, "tasks")),
            "sources.cpu_s": mean(op_cost(src, "cpu_s")),
            "sources.driver_s": driver(src),
            "sources.shuffle_bytes": mean(op_cost(src, "shuffle_write")),
        })
    mnt = by_layer("maintenance")
    if mnt:
        kind_wall = lambda *ks: mean(o["wall_s"] for o in mnt if o["kind"] in ks)  # noqa: E731
        m.update({
            "maintenance.optimize_s": kind_wall("optimize"),
            "maintenance.vacuum_s": kind_wall("vacuum"),
            "maintenance.checkpoint_s": kind_wall("checkpoint"),
            "maintenance.analyze_s": kind_wall("analyze"),
            "maintenance.describe_s": kind_wall("describe_history", "describe_detail"),
            "maintenance.bytes_rewritten": sum(o["info"].get("bytes_written", 0)
                                               for o in mnt if o["kind"] == "optimize"),
            "maintenance.files_removed": sum(o["info"].get("files_removed", 0) for o in mnt),
            "maintenance.jobs": mean(op_cost(mnt, "jobs")),
            "maintenance.driver_s": driver(mnt),
        })
    for name, metric in CURATE_METRIC.items():
        walls = [o["wall_s"] for o in ops if o["name"] == name]
        if walls:
            m[metric] = mean(walls)
    dd = by_layer("dedup")
    if dd:
        m.update({
            "dedup.jobs": mean(op_cost(dd, "jobs")),
            "dedup.cpu_s": mean(op_cost(dd, "cpu_s")),
            "dedup.shuffle_bytes": mean(op_cost(dd, "shuffle_write")),
            "dedup.spill_bytes": mean(op_cost(dd, "spill")),
            "dedup.driver_s": driver(dd),
        })
        mh = oracle.read_result(os.path.join(out_dir, "results", "dedup_minhash"))
        if mh is not None and len(mh):
            m["dedup.dup_ratio"] = float((mh["cluster_id"] != mh["doc_id"]).mean())
    cur = oracle.read_result(os.path.join(out_dir, "results", "pipeline_curate_neardup"))
    if cur is not None and len(cur):
        counts = cur["reason"].value_counts().to_dict()
        for g, reason in GATES.items():
            m[f"pipeline.gate_rows.{g}"] = int(counts.get(reason, 0))
        m["pipeline.kept_ratio"] = float(cur["kept"].mean())
    probes = result.get("probes") or {}
    for k, v in (probes.get("kernels_ns_row") or {}).items():
        m[f"functions.{k}_ns_row"] = v
    for k, v in (probes.get("ann") or {}).items():
        m[f"ann.{k}"] = v
    return m


# ---------------------------------------------------------------- checks
def run_checks(result, inputs, out_dir, counted):
    """Failed operation seqs among `counted`, plus named check results."""
    ops = result["ops"]
    failed = {o["seq"] for o in counted if not o["ok"]}
    report = {}
    if result["workload"] == "dba_lifecycle":
        last = result["facts"]["last_cycle"]
        per_op, glob_checks = oracle.check_lifecycle(inputs, out_dir, ops, last)
        bad = {s: why for s, why in per_op.items() if why}
        failed |= {o["seq"] for o in counted if o["seq"] in bad}
        report["ops_checked"] = len(per_op)
        report["op_mismatches"] = {str(s): w for s, w in sorted(bad.items())[:10]}
        report["global"] = glob_checks
        return failed, sum(1 for v in glob_checks.values() if v), report
    names = sorted({o["name"] for o in counted})
    status = oracle.check_queries(inputs, out_dir, result["oracles"], names)
    ref = {}
    for o in ops:                       # first measured digest is the reference
        if o["ok"] and o["phase"] != "prime":
            ref.setdefault(o["name"], o["digest"])
    nondet = sorted({o["name"] for o in ops
                     if o["ok"] and o["name"] in ref and o["digest"] != ref[o["name"]]})
    failed |= {o["seq"] for o in counted
               if status.get(o["name"]) or (o["ok"] and o["digest"] != ref.get(o["name"]))}
    report["oracle"] = {k: v or "match" for k, v in status.items()}
    report["nondeterministic"] = nondet
    return failed, 0, report


# ---------------------------------------------------------------- run
def jvm_command(work, args, inputs):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS]
    return (["java", "-Xmx3g", "-XX:-UsePerfData", *opts,
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-cp", build.classpath(), "graft.perfbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--inputs", inputs, "--work", work])


def run_jvm(cmd, log_path, timeout):
    """Exit code of the JVM, None when it ran out of time. The JVM never
    outlives this call, whatever ends it."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def log_tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            lines = [line for line in f if " INFO " not in line]
        return "".join(lines[-n:])
    except OSError:
        return ""


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", default="full", choices=sorted(gen.SIZES),
                    help="input size (the self-test uses tiny)")
    args = ap.parse_args(argv)
    t_start = time.time()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    t_built = time.time()

    work = os.path.join(build.BUILD, "runs",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = os.path.join(work, "inputs")
    try:
        pre = host_snapshot()
        t0 = time.perf_counter()
        manifest = gen.generate(inputs, args.workload, args.seed, args.size)
        gen_s = time.perf_counter() - t0
        pre2 = host_snapshot()

        log_path = os.path.join(work, "jvm.log")
        t_jvm = time.time()
        rc = run_jvm(jvm_command(work, args, inputs), log_path,
                     RUN_LIMIT_S - (time.time() - t_built) - 15)
        jvm_s = time.time() - t_jvm
        if rc != 0:
            why = "timed out" if rc is None else f"exit code {rc}"
            print(f"[perfbench] JVM {why}:\n{log_tail(log_path)}", file=sys.stderr)
            return 1
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)

        out_dir = os.path.join(work, "out")
        script = None
        if args.workload == "dba_lifecycle":
            with open(os.path.join(inputs, "script.json")) as f:
                script = json.load(f)
        counted = [o for o in result["ops"] if o["phase"] in ("measure", "untraced", "traced")]
        t_checks = time.time()
        failed_ops, failed_global, checks = run_checks(result, inputs, out_dir, counted)
        checks_s = time.time() - t_checks
        attempted = len(counted)
        failed = len(failed_ops) + failed_global
        post = host_snapshot()

        phase = next(p for p in result["phases"] if p["name"] in ("measure", "untraced"))
        timed = [o for o in result["ops"] if o["phase"] == phase["name"]]
        rows = sum(declared_rows(o, manifest, script, result["oracles"]) for o in timed)
        tail_v, tail_p, tail_n = tail([o["wall_s"] for o in timed])
        e2e = {
            "setup_s": gen_s + median(result["setup_s"]) + result["prime_s"],
            "rows_per_s": rows / phase["wall_s"],
            "op_p50_s": median(o["wall_s"] for o in timed),
            "op_tail_s": tail_v,
            "retained_heap_mb": result["heap_retained_mb"],
        }
        extra = {"e2e.op_tail_pct": tail_p, "e2e.op_tail_n": tail_n,
                 "e2e.fail_ratio": failed / attempted if attempted else 0.0}
        if script is not None:
            extra.update(lifecycle_metrics(timed, result["facts"], script))
        layers = None
        if args.trace:
            traced = [o for o in result["ops"] if o["phase"] == "traced"]
            layers = layer_metrics(traced, result, out_dir)
            layers.update(extra)
            walls = {p["name"]: p["wall_s"] for p in result["phases"]}
            layers["trace.overhead_s"] = walls["traced"] - walls["untraced"]

        detail = {
            "perfbench": {
                "workload": args.workload, "seed": args.seed, "trace": args.trace,
                "size": args.size, "host": host_record(pre, pre2, post),
                "gen_s": gen_s, "setup_reps_s": result["setup_s"],
                "prime_s": result["prime_s"], "phases": result["phases"],
                "input_rows": {k: v["rows"] for k, v in manifest["files"].items()
                               if "/" not in k},
                "input_bytes": sum(v["bytes"] for v in manifest["files"].values()),
                "end_to_end": e2e, "end_to_end_extra": extra,
                "op_tail": {"percentile": tail_p, "beyond": tail_n, "samples": len(timed)},
                "fail_base": attempted,
                "op_p50_by_name": {n: median(o["wall_s"] for o in timed if o["name"] == n)
                                   for n in sorted({o["name"] for o in timed})},
                "prime_errors": {o["name"]: o["error"] for o in result["ops"]
                                 if o["phase"] == "prime" and not o["ok"]},
                "op_errors": {str(o["seq"]): f"{o['name']}: {o['error']}"
                              for o in counted if not o["ok"]},
                "checks": checks, "jvm_s": jvm_s, "checks_s": checks_s,
                "wall_s": time.time() - t_start,
            }
        }
        chosen = layers if args.trace else e2e
        units = PER_LAYER if args.trace else END_TO_END
        final = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                 "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()}}
        print(json.dumps(detail, sort_keys=True))
        print(json.dumps(final))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
