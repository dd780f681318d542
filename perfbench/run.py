#!/usr/bin/env python3
"""Benchmark of the graft warehouse engine: three workloads, measured end
to end on fully materialized results and split by layer.

Usage (from the repository root):
  python3 perfbench/run.py --workload olap_dashboard|corpus_curation|warehouse_load|all
                           [--seed N] [--seconds S] [--trace 0|1]

Builds the program and the harness from source with sbt (once per source
tree; kept under .bench_build/), generates the inputs from the seed,
runs the harness JVM, checks every output with DuckDB, and prints the
metrics. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Exits non-zero when an
output is wrong or the program cannot be built. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["olap_dashboard", "corpus_curation", "warehouse_load"]
# Input size: TPC-H scale factor of the generated star schema (60 k lineitem).
SCALE = 0.01
# The heap is sized up front (-Xms = -Xmx), so peak RSS does not depend on
# when the collector chose to grow the heap; it moves with memory used
# outside the heap, and heap pressure shows as GC time and wall time.
HEAP = "2g"
RUN_LIMIT_S = 170
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
MB = 1 << 20


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                 os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for d, subdirs, names in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Classpath of the compiled program plus harness; builds when stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(2, f"program sources not found under {ROOT} (build.sbt, src/main/scala/graft)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            got_stamp, cp = f.read().split("\n", 1)
        cp = cp.strip()
        if got_stamp == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, stamp
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=600)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines) if l.startswith("/")), None)
    if r.returncode != 0 or cp is None:
        fail(3, f"build failed, see {log}:\n" + "\n".join(lines[-20:]))
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp, stamp


def inputs(seed):
    path = os.path.join(BUILD, "data", f"seed{seed}-scale{SCALE}")
    if not os.path.isfile(os.path.join(path, "DONE")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        gen.main(path, seed, SCALE)
        open(os.path.join(path, "DONE"), "w").close()
    return path


def run_jvm(cp, workload, data, work, seed, seconds, trace, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", *JVM_OPENS, "-cp", cp,
           "perfbench.Harness", workload, data, work, str(seed), str(seconds), str(trace)]
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        try:
            code = subprocess.run(cmd, cwd=work, stdout=err, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL,
                                  timeout=max(20, deadline - time.monotonic())).returncode
        except subprocess.TimeoutExpired:
            code = "killed at the time limit"
    if code != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(4, f"{workload}: harness exited ({code}):\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def phase(ops, ph, key):
    return sum(o[ph][key] for o in ops)


# Counters that must repeat exactly from pass to pass once warm.
REPEAT = ("jobs", "stages", "tasks", "shuffle_records", "output_records")


def all_passes(res):
    return [res["warmup"]] + res["passes"]


def repeat_report(res):
    """Counters that did not repeat. Build-phase counters and rows_out are
    compared across all passes; action-phase counters across the timed
    passes (the warm-up pass writes parquet where they use noop)."""
    seen = {}
    for p in all_passes(res):
        for o in p["ops"]:
            vals = seen.setdefault(o["op"], {})
            vals.setdefault("rows_out", []).append(o["rows_out"])
            for c in REPEAT:
                vals.setdefault(f"build.{c}", []).append(o["build"][c])
                if p["pass"] > 0:
                    vals.setdefault(f"action.{c}", []).append(o["action"][c])
    return [f"{op}.{c}: {v}" for op, vals in seen.items()
            for c, v in sorted(vals.items()) if len(set(v)) > 1]


def self_times(spans):
    """Self time per span kind: duration minus the union of its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                    for c in kids.get(s["id"], []))
        covered, end = 0.0, s["start_ms"]
        for a, b in iv:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        own = max(0.0, s["end_ms"] - s["start_ms"] - covered) / 1e3
        out[s["kind"]] = out.get(s["kind"], 0.0) + own
    return out


def best_wall(res):
    """Time to produce every result of a pass: each op's best time over
    the timed passes, summed."""
    return sum(min(o["build_s"] + o["plan_s"] + o["action_s"]
                   for p in res["passes"] for o in p["ops"] if o["op"] == name)
               for name in res["ops"])


def layer_metrics(res, cores, sink_files):
    """Per-layer metrics: medians over the timed passes."""
    passes = res["passes"]

    def per_pass(f):
        return med([f(p["ops"], p) for p in passes])

    m = {
        "tables.schema_jobs": (per_pass(lambda o, p: phase(o, "build", "schema_jobs")), "count"),
        "tables.scan_tasks": (per_pass(lambda o, p: sum(phase(o, ph, "scan_tasks")
                                                        for ph in ("build", "action"))), "count"),
        "tables.input_mb": (per_pass(lambda o, p: sum(phase(o, ph, "input_bytes")
                                                      for ph in ("build", "action")) / MB), "MB"),
        "tables.input_records": (per_pass(lambda o, p: sum(phase(o, ph, "input_records")
                                                           for ph in ("build", "action"))), "count"),
        "staging.build_s": (per_pass(lambda o, p: sum(x["build_s"] for x in o)), "s"),
        "staging.jobs": (per_pass(lambda o, p: phase(o, "build", "jobs")
                                  - phase(o, "build", "schema_jobs")), "count"),
        "staging.cpu_s": (per_pass(lambda o, p: phase(o, "build", "cpu_s")), "s"),
        "staging.build_share": (per_pass(lambda o, p: sum(x["build_s"] for x in o)
                                         / p["wall_s"]), "ratio"),
        "planner.plan_s": (per_pass(lambda o, p: sum(x["plan_s"] for x in o)), "s"),
        "exec.wall_s": (per_pass(lambda o, p: sum(x["action_s"] for x in o)), "s"),
        "exec.jobs": (per_pass(lambda o, p: phase(o, "action", "jobs")), "count"),
        "exec.stages": (per_pass(lambda o, p: phase(o, "action", "stages")), "count"),
        "exec.tasks": (per_pass(lambda o, p: phase(o, "action", "tasks")), "count"),
        "exec.cpu_s": (per_pass(lambda o, p: phase(o, "action", "cpu_s")), "s"),
        "exec.core_util": (per_pass(lambda o, p: phase(o, "action", "run_s") / max(
            1e-9, sum(x["action_s"] for x in o) * cores)), "ratio"),
        "exec.gc_s": (per_pass(lambda o, p: phase(o, "action", "gc_s")), "s"),
        "exec.shuffle_write_mb": (per_pass(lambda o, p: phase(o, "action", "shuffle_bytes") / MB), "MB"),
        "exec.shuffle_records": (per_pass(lambda o, p: phase(o, "action", "shuffle_records")), "count"),
        "exec.spill_mb": (per_pass(lambda o, p: phase(o, "action", "spill_bytes") / MB), "MB"),
        "exec.peak_mem_mb": (per_pass(lambda o, p: max(x["action"]["peak_mem_bytes"] for x in o) / MB), "MB"),
        "exec.rows_out": (per_pass(lambda o, p: sum(x["rows_out"] for x in o)), "count"),
        "exec.task_retries": (per_pass(lambda o, p: sum(phase(o, ph, "task_retries")
                                                        for ph in ("build", "action"))), "count"),
        # the noop sink reports no output, so these count the parquet writes
        "sink.written_mb": (per_pass(lambda o, p: phase(o, "action", "output_bytes") / MB), "MB"),
        "sink.written_records": (per_pass(lambda o, p: phase(o, "action", "output_records")), "count"),
        "sink.files": (sink_files, "count"),
        "pass.wall_s": (best_wall(res), "s"),
    }
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    if traced:
        m["staging.blocks_mb"] = (med([sum(x["staged_bytes"] for x in p["ops"]) / MB
                                       for p in traced]), "MB")
        selfs = self_times(res["spans"])
        for kind in ("pass", "op", "build", "plan", "action", "job", "stage"):
            m[f"self.{kind}_s"] = (selfs.get(kind, 0.0) / len(traced), "s")
    if traced and untraced:
        m["trace.overhead_s"] = (med([p["wall_s"] for p in traced])
                                 - med([p["wall_s"] for p in untraced]), "s")
    return m


def run_workload(args, workload, cp, stamp, deadline):
    data = inputs(args.seed)
    work = os.path.join(BUILD, "work", f"{workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, workload, data, work, args.seed, args.seconds, args.trace, deadline)
        return evaluate(res, workload, data, work, stamp, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def evaluate(res, workload, data, work, stamp, args):
    out = os.path.join(work, "out")
    con = check.connect(data)
    checks = []  # (op, ok, message)
    verified_rows = {}
    for name, sql in sorted(res["oracle_sql"].items()):
        try:
            ok, rows, msg = check.query_check(con, out, name, sql)
            verified_rows[name] = rows
        except Exception as e:  # a crash in the check is a failed check
            ok, msg = False, f"{type(e).__name__}: {e}"
        checks.append((name, ok, msg))
    if workload == "warehouse_load":
        checks += check.load_checks(con, data, out)
        for name in res["ops"]:
            verified_rows[name] = sum(pq.ParquetFile(f).metadata.num_rows
                                      for f in glob.glob(os.path.join(out, name, "*.parquet")))
    unchecked = [o for o in res["ops"] if o not in {c[0] for c in checks}]
    checks += [(o, False, "no output check defined") for o in unchecked]

    # An op execution fails if it raised, if its output check failed (the
    # warm-up execution), or if its row count differs from the checked one.
    bad_ops = {c[0] for c in checks if not c[1]}
    attempted = failed = 0
    errors = []
    for p in all_passes(res):
        for o in p["ops"]:
            attempted += 1
            why = o["error"] or (
                "output check failed" if p["pass"] == 0 and o["op"] in bad_ops else None) or (
                f"rows_out {o['rows_out']} != checked {verified_rows.get(o['op'])}"
                if o["rows_out"] != verified_rows.get(o["op"]) else None)
            if why:
                failed += 1
                errors.append(f"pass {p['pass']} {o['op']}: {why}")

    passes = res["passes"]
    if args.trace:
        # parquet files of the ops whose timed passes write (the warm-up
        # pass writes every op's result, for the checks)
        sink_files = sum(len(glob.glob(os.path.join(out, o["op"], "*.parquet")))
                         for o in passes[0]["ops"] if o["action"]["output_records"] > 0)
        metrics = layer_metrics(res, res["env"]["cores_used"], sink_files)
    else:
        # Best of the timed passes: a stall of the shared host hits one
        # pass, not every pass.
        metrics = {
            "cpu_s": (min(p["cpu_s"] for p in passes), "s"),
            "setup_s": (res["setup_s"], "s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }

    env = dict(res["env"], workload=workload, seed=args.seed, scale=SCALE,
               source=stamp, commit=git_commit(), session_s=res["session_s"],
               timed_passes=len(passes),
               load1_per_pass=[p["load1"] for p in all_passes(res)])
    print(json.dumps({"env": env}))
    for op, ok, msg in checks:
        print(f"check {workload}/{op}: {'ok' if ok else 'MISMATCH'}: {msg}")
    for e in errors:
        print(f"failed {workload}/{e}")
    for r in repeat_report(res):
        print(f"not repeatable {workload}/{r}")
    for name in res["ops"]:
        recs = [o for p in passes for o in p["ops"] if o["op"] == name]
        print(f"op {workload}/{name}: " + " ".join(
            f"{ph}_s={med([o[f'{ph}_s'] for o in recs]):.4f}" for ph in ("build", "plan", "action")))
    for name, (v, unit) in metrics.items():
        print(f"{workload} {name} = {v:.6g} {unit}")
    if not args.trace:
        # printed, not gated: CPU steal on a shared host spreads wall time
        # across runs past any allowed bound (see README)
        print(f"{workload} wall_s = {best_wall(res):.6g} s")
    print(f"{workload} failed_ratio = {failed / max(1, attempted):.6g} ({failed}/{attempted})")
    if args.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        path = os.path.join(BUILD, "traces", f"{workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"env": env, "spans": res["spans"]}, f)
        print(f"{workload} trace written to {os.path.relpath(path, ROOT)}")
    return attempted, failed, metrics


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    cp, stamp = build()
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    attempted = failed = 0
    metrics = {}
    for w in workloads:
        deadline = time.monotonic() + RUN_LIMIT_S - 10
        a, f, m = run_workload(args, w, cp, stamp, deadline)
        attempted, failed = attempted + a, failed + f
        prefix = "" if len(workloads) == 1 else f"{w}."
        metrics.update({prefix + k: {"value": v, "unit": u} for k, (v, u) in m.items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
