#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one JVM.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload analytics_sf0.1 --seed 1 --seconds 25 --trace 0

It builds graft and the harness from source (perfbench/build.py), generates
the GenData fixture once (perfbench/.data), runs the workload's operations
in a seeded order in one JVM (perfbench/harness), checks every operation
against perfbench/goldens.json and prints, as its last line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json; with `--trace 1` they
are the per-layer metrics, and the span tree is written to
perfbench/out/spans-<workload>-seed<seed>.json. A fuller record of every run
goes to perfbench/out/<workload>-seed<seed>-trace<t>.json.

The exit code is 0 only when every operation matched its golden.
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH = build.BENCH
DATA = os.path.join(BENCH, ".data")
WORK = os.path.join(BENCH, ".run")
OUT = os.path.join(BENCH, "out")
GOLDENS = os.path.join(BENCH, "goldens.json")
JVM_TIMEOUT_S = 160
STAGING_REPS = 5

MODULES = ["ScanOps", "JoinOps", "AggOps", "WindowOps", "SetOps", "ScalarOps",
           "GraphOps", "LlmOps", "StreamOps", "UdfOps", "Multimodal"]

STAGERS = ["customerCsv", "documentsJson", "documentsText", "supplierOrc",
           "ordersEvolved", "ordersByYear", "ordersByYearCompact", "eventsDailyCsv",
           "eventsDailyJson", "mediaBmp", "copurchaseEdges", "copurchaseAdjacency",
           "bucketedOrdersLineitem"]

# Each workload: the GenData scale it reads, the fixtures staged during
# set-up (in this order: copurchaseAdjacency reads copurchaseEdges), the
# queries of one pass, and the pass's nominal wall time on a 4-core box,
# from which --seconds sets the number of passes.
WORKLOADS = {
    "analytics_sf0.1": {
        "sf": "0.1",
        "setup": [f for f in STAGERS if not f.startswith("copurchase")],
        "queries": [
            # the 12 queries that read the staged extract/load fixtures back
            "qscan_csv", "qscan_json", "qscan_orc", "qscan_text", "qscan_evolution",
            "qscan_metadata", "qscan_binary", "qsink_partitioned", "qsink_csv",
            "qsink_json", "qjoin_bucketed", "qjoin_dpp",
            # 24 relational queries from the 8 relational ops modules
            "qscan_project", "qfilter_subquery", "qagg_distinct",
            "qjoin_inner", "qjoin_asof", "qjoin_star",
            "qagg_percentile", "qagg_rollup", "qagg_funnel",
            "qwin_gapfill", "qwin_sessionize", "qwin_lag_lead",
            "qset_intersect", "qset_cdcdiff", "qsort_multikey",
            "qdate_busday", "qstr_regex", "qjson_funcs",
            "qstream_session", "qstream_late", "qstream_tumbling",
            "qudf_scalar", "qudaf_typed", "qudtf_bigrams"],
        "nominal_s": 27,
    },
    "training_sf0.1": {
        "sf": "0.1",
        "setup": ["copurchaseEdges", "copurchaseAdjacency"],
        "queries": [
            "qgraph_cc", "qgraph_kcore", "qgraph_triangles",
            "qllm_minhash", "qllm_simhash", "qllm_tfidf", "qllm_dedup_e2e", "qllm_dedup_norm",
            "qllm_srp_lsh", "qllm_ivf", "qllm_hardneg", "qllm_vocab", "qllm_semdedup",
            "qllm_textstats", "qllm_decontam", "qllm_novelty",
            "qmm_phash", "qmm_features", "qmm_frames",
            "qdedup_exact", "qdedup_sorted_nbr"],
        "nominal_s": 27,
    },
}

# name -> unit; must equal BENCHMARK.json (check_schema.py, and every run).
END_TO_END = {
    "setup_s": "s", "suite_s": "s", "op_gmean_s": "s", "op_tail_s": "s", "cpu_s": "s",
    "heap_live_peak_mb": "MB", "load_rows_per_s": "1/s", "write_amp": "ratio",
}
PER_LAYER = dict(
    [("Registry.build_s", "s"), ("Registry.build_jobs", "count")]
    + [(f"build_s.{m}", "s") for m in MODULES]
    + [("plans.plan_s", "s"), ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"),
       ("plans.planning_ms", "ms"),
       ("exec.exec_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
       ("exec.tasks", "count"), ("exec.stage_busy_s", "s"), ("exec.sched_gap_s", "s"),
       ("exec.executor_cpu_s", "s"), ("exec.core_util", "ratio"),
       ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
       ("exec.spill_bytes", "bytes"), ("exec.gc_s", "s"), ("exec.stage_retries", "count")]
    + [(f"exec_s.{m}", "s") for m in MODULES]
    + [(f"ExtractFixtures.stage_s.{f}", "s") for f in STAGERS]
    + [("ExtractFixtures.bytes_written", "bytes"), ("ExtractFixtures.rows_written", "count"),
       ("ExtractFixtures.jobs", "count"),
       ("jvm.peak_rss_mb", "MB"), ("harness.cleanup_s", "s"), ("harness.trace_s", "s")])


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def schema_errors(bench_json="BENCHMARK.json"):
    """Differences between the metrics this script prints and BENCHMARK.json."""
    with open(bench_json) as f:
        spec = json.load(f)
    errs = []
    for key, ours in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        theirs = {m["name"]: m["unit"] for m in spec[key]}
        for n in sorted(set(ours) | set(theirs)):
            if ours.get(n) != theirs.get(n):
                errs.append(f"{key} {n}: run.py says {ours.get(n)}, BENCHMARK.json says {theirs.get(n)}")
    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        errs.append(f"workloads: run.py has {sorted(WORKLOADS)}")
    return errs


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """MemTotal / 2, clamped to 2..8 GB: the rule the tier-1 test command uses."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


JVM_FLAGS = [
    "-XX:-UsePerfData", "-Duser.timezone=UTC",
    f"-Dlog4j2.configurationFile=file:{os.path.abspath(os.path.join(BENCH, 'log4j2.properties'))}",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java(classes, main, args, tmp, log_path, timeout):
    """Run one JVM to completion; its output goes to log_path."""
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
            f"-Dspark.local.dir={os.path.abspath(os.path.join(tmp, 'spark-local'))}"]
           + JVM_FLAGS
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(build.spark_jars(), '*')}", main]
           + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
               SPARK_LOCAL_DIRS=os.path.abspath(os.path.join(tmp, "spark-local")))
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: {main} did not finish within {timeout} s (log: {log_path})")


def fixture(classes, sf):
    """The GenData fixture at scale sf, generated once per checkout."""
    d = os.path.join(DATA, f"sf{sf}")
    if not os.path.exists(os.path.join(d, "_PERFBENCH_OK")):
        log(f"generating the sf{sf} fixture with graft.tools.GenData")
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(OUT, exist_ok=True)
        rc = java(classes, "graft.tools.GenData", [sf, tmp], os.path.join(WORK, "gendata"),
                  os.path.join(OUT, f"gendata-sf{sf}.log"), 600)
        shutil.rmtree(os.path.join(WORK, "gendata"), ignore_errors=True)
        if rc != 0:
            raise SystemExit(f"perfbench: GenData failed ({rc})")
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        open(os.path.join(d, "_PERFBENCH_OK"), "w").close()
    return d


def source_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d)
               for f in fs if f.endswith(".parquet"))


def passes(workload, seed, n):
    """n passes of the workload's queries, each in its own seeded order."""
    out = []
    for p in range(n):
        qs = list(WORKLOADS[workload]["queries"])
        random.Random(f"{workload}/{seed}/{p}").shuffle(qs)
        out.append(qs)
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def union_ms(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def check(rec, sf, goldens):
    """Ids of failed operations: errors, and outputs that differ from the goldens."""
    g = goldens.get(f"sf{sf}", {})
    failed = []
    for kind, key, ops in (("queries", "rows sumhash", rec["ops"]),
                           ("stagers", "rows bytes", sum(rec["staging"], []))):
        for o in ops:
            want = g.get(kind, {}).get(o["op"])
            got = None
            if "error" not in o:
                got = ([o["rows"], o["sumhash"]] if kind == "queries"
                       else [rec["groups"].get(o["id"], 0), o["bytes"]])
            if got is None or got != want:
                failed.append(o["id"])
                log(f"{o['id']} {o['op']}: got {got or o.get('error')}, golden ({key}) {want}")
    return failed


def end_to_end(rec, launch_ms, src_bytes):
    per_op = {}
    for o in rec["ops"]:
        per_op.setdefault(o["op"], []).append(o["wall_ms"] / 1e3)
    meds = sorted(median(v) for v in per_op.values())
    reps = rec["staging"]
    rows = rec["groups"]
    slow = meds[-math.ceil(len(meds) / 4):]
    return {
        "setup_s": (rec["session_ms"] - launch_ms + rec["check_ms"] + rec["warmup_ms"]
                    + median([sum(o["wall_ms"] for o in rep) for rep in reps])) / 1e3,
        "suite_s": sum(meds),
        "op_gmean_s": math.exp(sum(math.log(t) for t in meds) / len(meds)),
        "op_tail_s": sum(slow) / len(slow),
        "cpu_s": rec["cpu_ms"] / 1e3 / rec["passes"],
        "heap_live_peak_mb": rec["heap_after_gc_peak_bytes"] / 2**20,
        "load_rows_per_s": median([sum(rows.get(o["id"], 0) for o in rep) * 1e3
                                   / sum(o["wall_ms"] for o in rep) for rep in reps]),
        "write_amp": median([sum(o["bytes"] for o in rep) for rep in reps]) / src_bytes,
    }


def per_layer(rec, ncores, span_s):
    npass = rec["passes"]
    qs = rec["ops"]
    ops = {o["id"] for o in qs}
    jobs = {j["job"]: j for j in rec["jobs"] if j["group"] in ops}
    stages = [s for s in rec["stages"] if s["group"] in ops]
    consume = [s for s in stages if jobs.get(s["job"], {}).get("phase") == "consume"]
    busy_ms = sum(union_ms([(s["start_ms"], s["end_ms"]) for s in consume if s["group"] == oid])
                  for oid in ops)

    def tot(xs, key, scale=1.0):
        return sum(x[key] for x in xs) * scale / npass

    m = {
        "Registry.build_s": tot(qs, "build_ms", 1e-3),
        "Registry.build_jobs": sum(j["phase"] == "build" for j in jobs.values()) / npass,
        "plans.plan_s": tot(qs, "plan_ms", 1e-3),
        "plans.analysis_ms": tot(qs, "analysis_ms"),
        "plans.optimization_ms": tot(qs, "optimization_ms"),
        "plans.planning_ms": tot(qs, "planning_ms"),
        "exec.exec_s": tot(qs, "consume_ms", 1e-3),
        "exec.jobs": sum(j["phase"] == "consume" for j in jobs.values()) / npass,
        "exec.stages": len(consume) / npass,
        "exec.tasks": tot(consume, "tasks"),
        "exec.stage_busy_s": busy_ms / 1e3 / npass,
        "exec.executor_cpu_s": tot(stages, "cpu_ns", 1e-9),
        "exec.core_util": sum(s["run_ms"] for s in consume) / (busy_ms * ncores) if busy_ms else 0.0,
        "exec.shuffle_read_bytes": tot(stages, "shuffle_read_bytes"),
        "exec.shuffle_write_bytes": tot(stages, "shuffle_write_bytes"),
        "exec.spill_bytes": tot(stages, "spill_bytes"),
        "exec.gc_s": tot(stages, "gc_ms", 1e-3),
        "exec.stage_retries": sum(s["attempt"] > 0 or s["failed"] for s in stages) / npass,
        "jvm.peak_rss_mb": rec["vm_hwm_kb"] / 1024,
        "harness.cleanup_s": rec["cleanup_ms"] / 1e3 / npass,
        "harness.trace_s": rec["trace_cost_ms"] / 1e3 + span_s,
    }
    m["exec.sched_gap_s"] = m["exec.exec_s"] - m["exec.stage_busy_s"]
    for mod in MODULES:
        mine = [o for o in qs if o["module"] == mod]
        m[f"build_s.{mod}"] = tot(mine, "build_ms", 1e-3)
        m[f"exec_s.{mod}"] = tot(mine, "consume_ms", 1e-3)
    reps = rec["staging"]
    for f in STAGERS:
        m[f"ExtractFixtures.stage_s.{f}"] = median(
            [sum(o["wall_ms"] for o in rep if o["op"] == f) / 1e3 for rep in reps])
    m["ExtractFixtures.bytes_written"] = median([sum(o["bytes"] for o in rep) for rep in reps])
    m["ExtractFixtures.rows_written"] = median(
        [sum(rec["groups"].get(o["id"], 0) for o in rep) for rep in reps])
    m["ExtractFixtures.jobs"] = median(
        [sum(j["group"] in {o["id"] for o in rep} for j in rec["jobs"]) for rep in reps])
    return m


def spans(rec):
    """The span tree of the timed operations, with self times."""
    out = []

    def add(kind, name, start, end, parent, **attrs):
        sid = len(out)
        out.append(dict(id=sid, parent=parent, kind=kind, name=name,
                        start_ms=start, end_ms=end, **attrs))
        return sid

    phase_of = {}
    for o in sum(rec["staging"], []) + rec["ops"]:
        t0 = o["start_ms"]
        end = t0 + o["wall_ms"]
        cleanup = o.get("cleanup_ms", 0.0)
        root = add("operation", o["op"], t0, end + cleanup, None, op_id=o["id"])
        phase_of[(o["id"], "")] = root
        if "build_ms" in o:
            t1, t2 = t0 + o["build_ms"], t0 + o["build_ms"] + o["plan_ms"]
            for ph, a, b in (("build", t0, t1), ("plan", t1, t2), ("consume", t2, end)):
                phase_of[(o["id"], ph)] = add("phase", ph, a, b, root)
            add("phase", "cleanup", end, end + cleanup, root)
        else:
            phase_of[(o["id"], "stage")] = add("phase", "stage", t0, end, root)
    job_span = {}
    for j in rec["jobs"]:
        parent = phase_of.get((j["group"], j["phase"]), phase_of.get((j["group"], "")))
        if parent is not None:
            job_span[j["job"]] = add("job", f"job {j['job']}", j["start_ms"],
                                     j.get("end_ms", j["start_ms"]), parent)
    for s in rec["stages"]:
        if s["job"] in job_span:
            add("stage", s["name"], s["start_ms"], s["end_ms"], job_span[s["job"]],
                stage=s["stage"], attempt=s["attempt"], tasks=s["tasks"],
                run_ms=s["run_ms"], cpu_ms=s["cpu_ns"] / 1e6, gc_ms=s["gc_ms"],
                shuffle_read_bytes=s["shuffle_read_bytes"],
                shuffle_write_bytes=s["shuffle_write_bytes"],
                spill_bytes=s["spill_bytes"], output_rows=s["output_rows"])
    children = {}
    for s in out:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in out:
        s["dur_ms"] = s["end_ms"] - s["start_ms"]
        cover = union_ms([(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                          for c in children.get(s["id"], []) if c["end_ms"] > c["start_ms"]])
        s["self_ms"] = s["dur_ms"] - cover
    return out


def git_commit():
    if not os.path.isdir(".git"):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def run(workload, seed, seconds, trace, expect=None):
    """Run one workload in one JVM; return (record, launch epoch ms, fixture dir, classes dir)."""
    wl = WORKLOADS[workload]
    classes = build.build()
    data = fixture(classes, wl["sf"])
    npass = max(1, round(seconds / wl["nominal_s"]))
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        files = {
            "ops": "\n".join(" ".join(p) for p in passes(workload, seed, npass)),
            "setup": "\n".join(wl["setup"]),
            "expect": "\n".join(f"{t} {v}" for t, v in sorted((expect or {}).items())),
        }
        for k, v in files.items():
            with open(os.path.join(work, k + ".txt"), "w") as f:
                f.write(v + "\n")
        record = os.path.join(work, "record.json")
        args = ["--data", os.path.abspath(data), "--reps", str(STAGING_REPS),
                "--trace", str(trace), "--cores", str(cores()),
                "--work", os.path.abspath(work), "--out", record]
        for k in files:
            args += [f"--{k}", os.path.join(work, k + ".txt")]
        launch_ms = time.time() * 1e3
        rc = java(classes, "graftbench.Harness", args, work,
                  os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.log"), JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(record):
            raise SystemExit(f"perfbench: harness exited {rc}; see perfbench/out/*.log")
        with open(record) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return rec, launch_ms, data, classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    errs = schema_errors()
    if errs:
        raise SystemExit("perfbench: metric schema differs from BENCHMARK.json:\n  " + "\n  ".join(errs))
    with open(GOLDENS) as f:
        goldens = json.load(f)
    wl = WORKLOADS[a.workload]
    expect = goldens[f"sf{wl['sf']}"]["tables"]
    rec, launch_ms, data, classes = run(a.workload, a.seed, a.seconds, a.trace, expect=expect)

    failed = check(rec, wl["sf"], goldens)
    ncores = cores()
    if a.trace:
        t0 = time.perf_counter()
        tree = spans(rec)
        with open(os.path.join(OUT, f"spans-{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump(tree, f)
        metrics = per_layer(rec, ncores, time.perf_counter() - t0)
        units = PER_LAYER
    else:
        metrics = end_to_end(rec, launch_ms, source_bytes(data))
        units = END_TO_END
    result = {
        "correct": not failed,
        "attempted": len(rec["ops"]) + len(sum(rec["staging"], [])),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "passes": rec["passes"], "cores": ncores, "heap": heap(),
        "master": f"local[{ncores}]", "staging_reps": STAGING_REPS,
        "jvm_flags": JVM_FLAGS, "session_settings": rec["settings"],
        "spark_version": rec["spark_version"], "git_commit": git_commit(),
        "build": os.path.basename(classes), "failed_ops": failed,
        "check_ms": rec["check_ms"], "warmup_ms": rec["warmup_ms"], "staging": rec["staging"],
        "peak_rss_mb": rec["vm_hwm_kb"] / 1024, "timed_gc_s": rec["gc_ms"] / 1e3,
        "ops": [{k: o.get(k) for k in ("id", "op", "module", "wall_ms", "build_ms", "plan_ms",
                                        "consume_ms", "rows", "sumhash", "error")}
                for o in rec["ops"]],
        "result": result,
    }
    if a.trace:
        untraced = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["result"]["metrics"]["suite_s"]["value"]
            detail["trace_overhead_s"] = end_to_end(rec, launch_ms, source_bytes(data))["suite_s"] - base
            log(f"tracing overhead: {detail['trace_overhead_s']:+.3f} s of suite_s")
    with open(os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(result))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
