#!/usr/bin/env bash
# One-command round close: runs every close gate SEQUENTIALLY (the
# degenerate and mutation audits share Spark temp dirs / mutated
# sources with sbt test, and concurrent load skews the bench)
# and emits ONE JSON ledger line, so a close can't silently skip a gate.
#
# Gates (in order):
#   suite      — `sbt -batch test` (fixtures for the degenerate audit
#                are built here by DegenerateInputSpec)
#   degenerate — tools/audit_degenerate.sh, all default shapes
#   mutation   — tools/audit_mutation.sh, full registry (needs a CLEAN
#                work tree on the mutated files)
#   replica    — sf0.01 full-registry graft.Verify + DuckDB compare
#                (the driver-gate replica; expect 171/0)
#   bench      — standalone fresh-JVM full bench at sf0.1 (sbt-forked
#                samples read high, and subset runs are JIT-cold);
#                headline/ext mins and the census of its untimed first
#                pass (every query but the q15 twins) land in the
#                ledger line; green iff no query failed and nothing
#                spilled
#   delta      — dated Delta/Iceberg/Hudi classpath recheck (expect 0
#                jars; if nonzero, the q17i/k emulations have a real
#                backend to swap in — see SURVEY)
#
# The JVMs use every core (GraftSession's default; SPARK_GRAFT_CPUS
# overrides) and half the machine's memory clamped to 2-8 GB as heap.
#
# Usage: tools/close_round.sh [gate ...]     (default: all six)
# Output: per-gate logs under /tmp/close_round/, one JSON summary line
# on stdout (also saved to /tmp/close_round/ledger.json). Exit 0 iff
# every requested gate is green.
set -u
cd "$(dirname "$0")/.."
OUT=/tmp/close_round
mkdir -p "$OUT"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"
# shellcheck disable=SC2086
jvm() { java $OPENS -Xmx"$HEAP" -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"; }

gates=("$@")
[ $# -eq 0 ] && gates=(suite degenerate mutation replica bench delta)
: > "$OUT/status"

run_gate() { # run_gate <name> <cmd...>
  local name=$1; shift
  echo "==== gate: $name ===="
  local t0 rc
  t0=$(date +%s)
  "$@" > "$OUT/$name.log" 2>&1; rc=$?
  echo "$name $rc $(( $(date +%s) - t0 ))" >> "$OUT/status"
  tail -3 "$OUT/$name.log" | sed 's/^/    /'
  return $rc
}

gate_replica() {
  rm -rf "$OUT/replica_dump"
  jvm \
    graft.Verify /root/testdata/sf0.01 "$OUT/replica_dump" \
    2>&1 | grep "^\[verify\]" || true
  [ -f "$OUT/replica_dump/oracle_sql.json" ] || {
    echo "** replica: Verify produced no oracle dump"; return 1; }
  python3 tools/check_oracle.py /root/testdata/sf0.01 "$OUT/replica_dump"
}

gate_bench() {
  SPARK_GRAFT_BENCH_DETAIL="$OUT/bench_detail.json" jvm graft.Bench  # sf0.1 default
}

gate_delta() {
  date -u +%Y-%m-%dT%H:%MZ
  ls /opt/spark/jars | wc -l
  # grep exits 1 on zero matches — that IS the expected green state
  ls /opt/spark/jars | grep -icE 'delta|iceberg|hudi' || true
}

overall=0
for g in "${gates[@]}"; do
  case "$g" in
    suite)      run_gate suite sbt -batch test ;;
    degenerate) run_gate degenerate tools/audit_degenerate.sh ;;
    mutation)   run_gate mutation tools/audit_mutation.sh ;;
    replica)    run_gate replica gate_replica ;;
    bench)      run_gate bench gate_bench ;;
    delta)      run_gate delta gate_delta ;;
    *) echo "unknown gate: $g"; overall=1; continue ;;
  esac || overall=1
done

python3 - "$OUT" <<'PY'
import json, os, re, sys
out = sys.argv[1]
status = {}
for line in open(f"{out}/status"):
    name, rc, secs = line.split()
    status[name] = dict(rc=int(rc), secs=int(secs))
def log(name):
    p = f"{out}/{name}.log"
    return open(p, errors="replace").read() if os.path.exists(p) else ""
summary = {"metric": "round_close"}
for name, st in status.items():
    entry = {"green": st["rc"] == 0, "secs": st["secs"]}
    text = log(name)
    if name == "suite":
        m = re.search(r"Tests: succeeded (\d+), failed (\d+)", text)
        s = re.search(r"Suites: completed (\d+), aborted (\d+)", text)
        if m: entry["tests"] = f"{m.group(1)}/{m.group(2)}"
        if s: entry["suites"] = s.group(1)
        # a green suite must also be a COMPLETE suite: rc==0 with a
        # missing/failed summary means sbt died oddly — stay red
        entry["green"] &= bool(m) and m.group(2) == "0"
    elif name == "degenerate":
        shapes = re.findall(r"== (\d+) pass / (\d+) fail ==", text)
        entry["shapes"] = [f"{p}/{f}" for p, f in shapes]
    elif name == "mutation":
        m = re.search(r"== mutation audit: (\d+)/(\d+) killed", text)
        if m: entry["killed"] = f"{m.group(1)}/{m.group(2)}"
        entry["green"] &= bool(m) and m.group(1) == m.group(2)
    elif name == "replica":
        m = re.search(r"== (\d+) pass / (\d+) fail ==", text)
        if m: entry["oracle"] = f"{m.group(1)}/{m.group(2)}"
        entry["green"] &= bool(m) and m.group(2) == "0"
    elif name == "bench":
        m = re.search(r'\{"metric":"total".*\}', text)
        if m:
            b = json.loads(m.group(0))
            c = b["census"]
            # per-query census records (build + action) from the side file
            census = json.load(open(f"{out}/bench_detail.json"))["census"]
            def shuffle_mb(key):
                return round(sum(r[ph][key] for r in census.values() if r
                                 for ph in ("build", "action")) / 1e6)
            # a query that failed in the census or in any timed pass
            failed = sorted(set(b["failed"]) | set(c["failed"]))
            entry.update(headline_min=b["value"],
                         median_total=b["median_total"],
                         ext_total=b["ext_total"], failed=failed,
                         n_queries=c["n_queries"],
                         mem_spill=c["mem_spill_bytes"],
                         disk_spill=c["disk_spill_bytes"],
                         shuffle_rw_mb=[shuffle_mb("shuffle_read_bytes"),
                                        shuffle_mb("shuffle_write_bytes")],
                         shuffle_write_records=c["shuffle_write_records"])
            entry["green"] &= (not failed and c["mem_spill_bytes"] == 0
                               and c["disk_spill_bytes"] == 0)
        else:
            entry["green"] = False
    elif name == "delta":
        lines = text.split()
        if len(lines) >= 3:
            entry.update(date=lines[0], jars=int(lines[1]),
                         lakehouse_jars=int(lines[2]))
    summary[name] = entry
summary["all_green"] = all(v["green"] for k, v in summary.items()
                           if isinstance(v, dict))
line = json.dumps(summary, separators=(",", ":"))
open(f"{out}/ledger.json", "w").write(line + "\n")
print(line)
sys.exit(0 if summary["all_green"] else 1)
PY
rc=$?
[ $rc -ne 0 ] && overall=1
exit $overall
