#!/bin/bash
# spark-submit the resumable production pipeline (graft.PipelineMain ->
# Pipeline.runResumable: checkpoint + lineage + metrics ledger) against
# the pinned standalone cluster at TWO cluster sizes — N=1 and 4N=4
# one-core cpuset-isolated executors — and print throughput at both plus
# the scaling efficiency. This is the BASELINE.json north rule's launch
# shape, literally: "run via spark-submit on a multi-executor cluster at
# two cluster sizes (N and 4N executors)".
#
# Usage: scripts/submit_pipeline.sh [sfDir] [reps] [repl]
#   sfDir: testdata scale dir (default /root/testdata/sf0.1)
#   reps:  timed reps per level, interleaved N/4N (default 3)
#   repl:  input replication factor (default 8 = 4.8M turns at sf0.1).
#          The resumable batch carries a fixed per-batch bookkeeping
#          tail (the resume + ledger aggregate, the lineage, metrics
#          and checkpoint commits, and the gaps between those
#          executions; see Pipeline.runResumable) that Amdahl-limits
#          short runs; raise repl so the parallel phase dominates, as a
#          production-sized batch would. Warmup always runs over the
#          small repl=1 copy.
# The prepared input is reused when <work>/prepared records the same
# (sfDir, repl): a rerun over a contended window then repeats only the
# timed reps.
# Requires `sbt package` first (thin jar; the scala runtime comes from
# /opt/spark/jars) and a quiet box (watch steal_pct in the output).
set -e
export SPARK_HOME=${SPARK_HOME:-/opt/spark}
export SPARK_SCALA_VERSION=2.13
HERE="$(cd "$(dirname "$0")" && pwd)"
SF_DIR=${1:-/root/testdata/sf0.1}
REPS=${2:-3}
REPL=${3:-8}
JAR="$HERE/../target/scala-2.13/dhtmlparserspark_2.13-0.1.0.jar"
[ -f "$JAR" ] || { echo "jar missing — run: sbt package" >&2; exit 1; }
WORK=${SPARK_GRAFT_SUBMIT_WORK:-/dev/shm/graft-submit}
MASTER=${SPARK_GRAFT_MASTER_URL:-spark://127.0.0.1:7077}
SUBMIT="$SPARK_HOME/bin/spark-submit"

# 1) materialize the replicated input once, locally (setup, untimed)
if [ -d "$WORK/transcripts" ] && [ "$(cat "$WORK/prepared" 2>/dev/null)" = "$SF_DIR $REPL" ]; then
  echo "reusing the input prepared at $WORK ($SF_DIR, repl=$REPL)" >&2
  rm -f "$WORK"/N.jsonl "$WORK"/N4.jsonl
else
  rm -rf "$WORK"; mkdir -p "$WORK"
  "$SUBMIT" --master 'local[32]' --driver-memory 8g \
    --class graft.PipelineMain "$JAR" prepare "$SF_DIR" "$WORK" "$REPL" \
    2>"$WORK/prepare.log"
  echo "$SF_DIR $REPL" > "$WORK/prepared"
fi

# 2) pinned cluster: four 1-core workers on disjoint cpusets (the N=1
# level physically cannot borrow the other cores)
WORKER_CORES=1 N_WORKERS=4 "$HERE/standalone_cluster.sh" start
trap '"$HERE/standalone_cluster.sh" stop >/dev/null 2>&1 || true' EXIT
sleep 3

run_one() { # $1=total executor cores, $2=tag, $3=rep
  rm -rf "$WORK/out-$2-$3"
  "$SUBMIT" --master "$MASTER" --deploy-mode client \
    --driver-memory 8g --executor-memory 4g --executor-cores 1 \
    --total-executor-cores "$1" \
    --class graft.PipelineMain "$JAR" \
    run "$WORK/transcripts" "$WORK/out-$2-$3" "$WORK/transcripts-warmup" \
    2>"$WORK/$2-$3.log" | tee -a "$WORK/$2.jsonl"
}

# interleave levels so background-load drift hits both symmetrically
for r in $(seq 1 "$REPS"); do
  run_one 1 N  "$r"
  run_one 4 N4 "$r"
done

python3 - "$WORK" <<'EOF'
import json, sys, os
w = sys.argv[1]
def level(tag):
    rows = [json.loads(l) for l in open(os.path.join(w, tag + ".jsonl"))]
    best = max(rows, key=lambda r: r["turns_per_sec"])
    return best, [r["turns_per_sec"] for r in rows], [r["steal_pct"] for r in rows]
bn, tn, sn = level("N")
b4, t4, s4 = level("N4")
print(json.dumps({
    "metric": "spark-submit scaling efficiency (resumable pipeline, 1-core executors)",
    "value": round(b4["turns_per_sec"] / (4.0 * bn["turns_per_sec"]), 3),
    "unit": "ratio",
    "N_turns_per_sec": bn["turns_per_sec"],
    "N4_turns_per_sec": b4["turns_per_sec"],
    "N_wall_sec": round(bn["wall_sec"], 3), "N4_wall_sec": round(b4["wall_sec"], 3),
    "N_all_tps": tn, "N4_all_tps": t4,
    "N_steal_pct": sn, "N4_steal_pct": s4,
    "rows_per_run": bn["rows"]}))
EOF
