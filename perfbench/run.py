#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the driver from source on first use (cached in
perfbench/.build), runs the driver JVM on local[<cores>], checks every
output (DuckDB oracle for queries, the index model for index ops), prints
a report with each metric's unit and sample count, and ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. See README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from pb import build, checks, plans, stats  # noqa: E402

# Wall-clock limits: a run must end within 180 s, the first one in a
# checkout (which builds) within 900 s.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

DATA = {
    "registry_floor": "sf0.001",
    "index_rw": "sf0.1",
}

JVM_HEAP = "2g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

COMMIT_KINDS = ("append", "dvdelete", "compact")
READ_KINDS = ("point", "range", "search", "latest")


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_driver(cp, plan_path, out_path, work, deadline):
    """Run the driver JVM in its own process group; kill the group if it
    outlives the deadline. Returns the exit code."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms1g", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
            # C1 only: see README.md, "Set-up and warm-up"
            "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Driver", plan_path, out_path])
    with open(os.path.join(work, "driver.log"), "w") as log_f:
        proc = subprocess.Popen(cmd, stdout=log_f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError("driver exceeded the run time limit")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def read_records(path):
    recs = []
    with open(path) as f:
        for line in f:
            if line.strip():
                recs.append(json.loads(line))
    return recs


def op_s(r):
    return r["build_s"] + r["exec_s"]


def latency_lines(name, values):
    s = stats.latency_summary(values)
    return {f"{name}_p50_s": (s["p50"], "s", s["n"]),
            f"{name}_p90_s": (s["p90"], "s", s["n"])}


def end_to_end(workload, reps, setup, ops, end):
    """Every end-to-end metric this workload produces:
    {name: (value or None, unit, sample count)}.

    setup_s is the median time of the set-up repetitions, each of which
    builds the workload's starting state from scratch. A run executes
    whole passes of one fixed multiset of ops, so two figures summarise
    it: ops_per_s is the ops of the whole passes over the time they took
    (an index pass's cost rises and falls as compactions find more or
    less to merge, so no single pass stands for the run), and
    op_geomean_s is the geometric mean, over the op types of the pass
    (each query, or each index op kind), of that type's median
    latency."""
    ok = [r for r in ops if r.get("error") is None]
    passes = {}
    by_type = {}
    for r in ok:
        passes.setdefault(r["pass"], []).append(op_s(r))
        by_type.setdefault(r["arg"] if r["kind"] == "query" else r["kind"], []).append(op_s(r))
    m = {
        "setup_s": (stats.median(reps), "s", len(reps)),
        "warmup_s": (setup["warmup_s"], "s", 1),
        "ops_per_s": (len(ok) / sum(sum(p) for p in passes.values())
                      if passes else None, "1/s", len(ok)),
        "op_geomean_s": (stats.geomean([stats.median(v) for v in by_type.values()])
                         if by_type else None, "s", len(ok)),
        "wall_ops_per_s": (len(ops) / end["window_s"], "1/s", len(ops)),
        "cpu_s_per_op": (end["window_cpu_s"] / max(1, len(ops)), "s", len(ops)),
        "live_heap_mb": (end["live_heap_mb"], "MB", 1),
        "peak_rss_mb": (end["peak_rss_mb"], "MB", 1),
    }
    if workload == "index_rw":
        m.update(latency_lines("commit", [op_s(r) for r in ok if r["kind"] in COMMIT_KINDS]))
        m.update(latency_lines("read", [op_s(r) for r in ok if r["kind"] in READ_KINDS]))
    else:
        m.update(latency_lines("query", [op_s(r) for r in ok]))
    return m


def per_layer(workload, ops, trace, end, index=None):
    """Every per-layer metric of a traced run: {name: (value, unit, n)}."""
    n = max(1, len(ops))
    t = trace
    wall = end["window_s"]
    sites = {}
    eager_by_group = {g: 0 for g in ("tables", "staging", "hints", "vectorops", "other")}
    build_jobs = exec_jobs = tables_jobs = 0
    for s in t["jobs_by_site"]:
        sites[f"{s['phase']}:{s['file']}"] = s["jobs"]
        if s["file"] == "Tables.scala":
            tables_jobs += s["jobs"]
        if s["phase"] == "build":
            build_jobs += s["jobs"]
            eager_by_group[site_group(s["file"])] += s["jobs"]
        else:
            exec_jobs += s["jobs"]
    m = {
        "tables.infer_jobs_per_op": (tables_jobs / n, "count", n),
        "tables.infer_s_per_op": (t["tables_job_s"] / n, "s", n),
        "queries.build_s_per_op": (sum(r["build_s"] for r in ops
                                       if r.get("error") is None) / n, "s", n),
        "queries.eager_jobs_per_op": (build_jobs / n, "count", n),
        "queries.exec_jobs_per_op": (exec_jobs / n, "count", n),
        "plan.analysis_s_per_op": (t["analysis_s"] / n, "s", n),
        "plan.optimizer_s_per_op": (t["optimization_s"] / n, "s", n),
        "plan.planning_s_per_op": (t["planning_s"] / n, "s", n),
        "plan.codegen_compiles_per_op": (t["codegen_compiles"] / n, "count", n),
        "sched.jobs_per_op": (t["jobs_started"] / n, "count", n),
        "sched.stages_per_op": (t["stages"] / n, "count", n),
        "sched.tasks_per_op": (t["tasks"] / n, "count", n),
        "sched.task_deser_s_per_op": (t["task_deser_s"] / n, "s", n),
        "sched.idle_share": (1 - t["task_run_s"] / (wall * end["cores"]), "ratio", n),
        "exec.task_cpu_s_per_op": (t["task_cpu_s"] / n, "s", n),
        "exec.task_run_s_per_op": (t["task_run_s"] / n, "s", n),
        "exec.shuffle_write_mb_per_op": (t["shuffle_write_mb"] / n, "MB", n),
        "exec.shuffle_read_mb_per_op": (t["shuffle_read_mb"] / n, "MB", n),
        "exec.spill_mb_per_op": (t["spill_mb"] / n, "MB", n),
        "exec.peak_exec_mem_mb": (t["peak_exec_mem_mb"], "MB", n),
        "exec.gc_s_per_op": (t["gc_s"] / n, "s", n),
    }
    for g, v in eager_by_group.items():
        m[f"queries.eager_jobs.{g}"] = (v / n, "count", n)
    if workload == "index_rw":
        m.update(table_layer(ops, end, **index))
    return m, sites


def site_group(file):
    return {"Tables.scala": "tables", "Staging.scala": "staging",
            "Hints.scala": "hints", "VectorOps.scala": "vectorops"}.get(file, "other")


def table_layer(ops, end, vectors, live_at_search, final_live, plan_ops):
    ok = [r for r in ops if r.get("error") is None]

    def mean_detail(kind, key):
        xs = [r["detail"][key] for r in ok if r["kind"] == kind and key in r["detail"]]
        return (sum(xs) / len(xs) if xs else None, "s", len(xs))

    sidecar = [r["detail"]["sidecar_s"] for r in ok if "sidecar_s" in r["detail"]]
    kept = sum(r["result"]["kept"] for r in ok if r["kind"] in ("point", "range"))
    total = sum(r["result"]["total"] for r in ok if r["kind"] in ("point", "range"))
    tab = end["table"]
    # a live row's payload: the 8-byte id and 64 float32 components
    user_bytes = final_live * (8 + 64 * 4)
    recalls = []
    for r in ok:
        if r["kind"] == "search" and r["i"] in live_at_search:
            want = checks.exact_top10(vectors, live_at_search[r["i"]],
                                      int(plan_ops[r["i"]][2]))
            got = set(int(x) for x in r["result"]["ids"])
            recalls.append(len(got & set(want)) / len(want))
    commits = sum(1 for r in ok if r["kind"] in COMMIT_KINDS)
    return {
        "table.append_s": mean_detail("append", "append_s"),
        "table.dv_delete_s": mean_detail("dvdelete", "dv_delete_s"),
        "table.compact_s": mean_detail("compact", "compact_s"),
        "table.sidecar_s": (sum(sidecar) / len(sidecar) if sidecar else None, "s",
                            len(sidecar)),
        "table.point_s": mean_detail("point", "point_s"),
        "table.range_s": mean_detail("range", "range_s"),
        "table.search_s": mean_detail("search", "search_s"),
        "table.latest_s": mean_detail("latest", "latest_s"),
        "table.files_read_ratio": (kept / total if total else None, "ratio",
                                   sum(1 for r in ok if r["kind"] in ("point", "range"))),
        "table.bytes_per_user_byte": (tab["disk_bytes"] / user_bytes if user_bytes else None,
                                      "ratio", 1),
        "table.files_per_version": (tab["files"], "count", 1),
        "table.occ_attempts_per_commit": (
            tab["append_attempts"] / tab["appends"] if tab["appends"] else None,
            "count", commits),
        "search.recall_at_10": (sum(recalls) / len(recalls) if recalls else None,
                                "ratio", len(recalls)),
    }


def log_passes(ops):
    """Each timed pass's time: what JIT drift the warm-up left shows as a
    trend from the first pass to the last."""
    passes = {}
    for r in ops:
        if r.get("error") is None:
            passes[r["pass"]] = passes.get(r["pass"], 0.0) + op_s(r)
    times = [passes[p] for p in sorted(passes)]
    if len(times) >= 2:
        log("pass seconds: " + " ".join(f"{t:.3f}" for t in times)
            + f"; last/first {times[-1] / times[0]:.3f}")


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=plans.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    try:
        cp = build.classpath(log, BUILD_LIMIT_S)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_LIMIT_S

    data_dir = os.path.join(HERE, "data", DATA[args.workload])
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "check"))
    conf, warm, timed = plans.make_plan(args.workload, args.seed)
    conf.update(data=data_dir, work=work, seconds=str(args.seconds),
                trace=str(args.trace), cores=str(cores()))
    plan_path = os.path.join(work, "plan.tsv")
    out_path = os.path.join(work, "out.jsonl")
    plans.write_plan(plan_path, conf, warm, timed)
    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} cores={conf['cores']} data={DATA[args.workload]}")
    if "queries" in conf:
        log(f"queries drawn: {conf['queries']}")

    try:
        rc = run_driver(cp, plan_path, out_path, work, deadline)
    except RuntimeError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 3
    recs = read_records(out_path) if os.path.exists(out_path) else []
    kinds = {}
    for r in recs:
        kinds.setdefault(r["type"], []).append(r)
    if rc != 0 or "end" not in kinds:
        tail = open(os.path.join(work, "driver.log")).read().splitlines()[-15:]
        print("[perfbench] driver failed (exit %d):\n%s" % (rc, "\n".join(tail)),
              file=sys.stderr)
        return 4
    setup, end = kinds["setup"][0], kinds["end"][0]
    ops = kinds.get("op", [])
    setup_errors = [r for r in kinds.get("warm", []) if r.get("error") is not None]

    # ---- correctness
    errors = sum(1 for r in ops if r.get("error") is not None)
    wrong = {}
    index = None
    if args.workload == "index_rw":
        wrong, live_at_search, model = checks.check_index_run(
            timed, ops, plans.warm_model(warm))
        if args.trace == 1:
            index = {"vectors": checks.load_vectors(data_dir),
                     "live_at_search": live_at_search,
                     "final_live": len(model.live), "plan_ops": timed}
        log(f"index model check: {len(ops) - errors - len(wrong)} of {len(ops)} ops right")
    else:
        queries = conf["queries"].split(",")
        verdicts = checks.oracle_check(data_dir, os.path.join(work, "check"), queries)
        bad = {q: v for q, v in verdicts.items() if v is not None}
        for q, v in verdicts.items():
            log(f"oracle {'PASS' if v is None else 'FAIL'} {q}" + ("" if v is None else f": {v}"))
        wrong = {r["i"]: bad[r["arg"]] for r in ops
                 if r.get("error") is None and r["arg"] in bad}
    for r in ops:
        if r.get("error") is not None:
            log(f"op {r['i']} {r['kind']} {r['arg']} ERROR {r['error']}")
    for i, why in sorted(wrong.items())[:10]:
        log(f"op {i} WRONG {why}")
    for r in setup_errors:
        log(f"setup op {r['kind']} {r['arg']} ERROR {r['error']}")
    attempted = len(ops) + len(setup_errors)
    failed = errors + len(wrong) + len(setup_errors)
    ratio = stats.failed_ratio(max(1, attempted), errors + len(setup_errors), 0,
                               len(wrong))
    correct = attempted > 0 and failed == 0

    # ---- metrics
    reps = [r["s"] for r in kinds["rep"]]
    e2e = end_to_end(args.workload, reps, setup, ops, end)
    e2e["failed_ratio"] = (ratio, "ratio", attempted)
    log(f"set-up repetitions: " + " ".join(f"{s:.3f}" for s in reps) + " s")
    log(f"warm-up: {setup['warmup_s']:.3f} s from JVM start (session "
        f"{setup['session_s']:.3f} s, set-up and warm passes {setup['warm_s']:.3f} s "
        f"over {setup['warm_ops']} ops); window {end['window_s']:.3f} s, {len(ops)} ops")
    for k, (v, unit, n) in e2e.items():
        log(f"metric {k} = {fmt(v)} {unit} (n={n})")
    log_passes(ops)
    result_metrics = {k: e2e[k] for k in E2E_CONTRACT}
    store = os.path.join(HERE, ".results")
    os.makedirs(store, exist_ok=True)
    with open(os.path.join(store, f"{args.workload}.trace{args.trace}.json"), "w") as f:
        json.dump({k: v[0] for k, v in e2e.items()}, f)
    if args.trace == 1:
        trace = kinds["trace"][0]
        if trace["jobs_started"] != trace["jobs_ended"]:
            log(f"trace: {trace['jobs_started']} jobs started, {trace['jobs_ended']} ended")
        layers, sites = per_layer(args.workload, ops, trace, end, index)
        for k, (v, unit, n) in layers.items():
            log(f"layer {k} = {fmt(v)} {unit} (n={n})")
        for site, jobs in sorted(sites.items()):
            log(f"jobs {site} = {jobs}")
        untraced_path = os.path.join(store, f"{args.workload}.trace0.json")
        if os.path.exists(untraced_path):
            untraced = json.load(open(untraced_path))
            for k, (v, unit, _) in e2e.items():
                u = untraced.get(k)
                ratio_s = f"{v / u:.3f}x" if u and v is not None else "n/a"
                log(f"overhead {k}: untraced {fmt(u)} traced {fmt(v)} {unit} ({ratio_s})")
        else:
            log("overhead: no untraced run of this workload stored yet")
        result_metrics = {k: layers[k] for k in LAYER_CONTRACT}

    metrics = {}
    for k, (v, unit, _) in result_metrics.items():
        if v is None:
            print(f"[perfbench] metric {k} has no samples", file=sys.stderr)
            return 5
        metrics[k] = {"value": v, "unit": unit}
    log(f"done in {time.monotonic() - t_start:.1f} s")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


# The end-to-end metrics reported with --trace 0 (every workload has them).
E2E_CONTRACT = ("setup_s", "ops_per_s", "op_geomean_s", "cpu_s_per_op")

# The per-layer metrics every workload produces, reported with --trace 1.
LAYER_CONTRACT = (
    "tables.infer_jobs_per_op",
    "queries.build_s_per_op",
    "queries.eager_jobs_per_op",
    "plan.analysis_s_per_op",
    "plan.optimizer_s_per_op",
    "plan.planning_s_per_op",
    "plan.codegen_compiles_per_op",
    "sched.jobs_per_op",
    "sched.stages_per_op",
    "sched.tasks_per_op",
    "sched.task_deser_s_per_op",
    "sched.idle_share",
    "exec.task_cpu_s_per_op",
    "exec.task_run_s_per_op",
    "exec.shuffle_write_mb_per_op",
    "exec.shuffle_read_mb_per_op",
    "exec.peak_exec_mem_mb",
    "exec.gc_s_per_op",
)


if __name__ == "__main__":
    sys.exit(main())
