#!/bin/bash
# spark-submit the resumable production pipeline (graft.PipelineMain ->
# Pipeline.runResumable: checkpoint + lineage + metrics ledger) against
# the pinned standalone cluster at TWO cluster sizes — N=1 and 4N=4
# one-core cpuset-isolated executors — and print throughput at both plus
# the scaling efficiency. This is the BASELINE.json north rule's launch
# shape, literally: "run via spark-submit on a multi-executor cluster at
# two cluster sizes (N and 4N executors)". Each rep at each level also
# submits the scan-only control (`PipelineMain scan`: parquet scan and
# projection, no parse, exchange or sink), the host-ceiling reference
# measured in the same window.
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
# Prints one JSON line: `value` = median(4N turns/s) / (4 x median(N
# turns/s)); `value_best` = the same ratio over each level's best rep;
# `eff_scan_only` = the median ratio of the scan control; plus the
# per-rep turns/s and steal% arrays. Exits non-zero when a submit fails
# or a level has fewer than `reps` rows.
# Requires `sbt package` first (thin jar; the scala runtime comes from
# /opt/spark/jars) and a quiet box (watch the steal arrays).
set -eo pipefail
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
# Parallelism floor (measured on the repl=24 scaling runs): with the
# default 128m maxPartitionBytes the ~700 MB replicated input scans as 6
# splits, and AQE's 64 MB advisory coalesces the 32 reduce partitions
# to 6 — both stages then run 1.5 waves on a 4-core cluster (25-30%
# idle) and the N-vs-4N ratio measures wave remainder, not the engine.
# 16 MB splits + no reduce coalescing keep every stage's task count well
# above the core count at both levels. A real 100 TB batch never hits
# this (its scan is thousands of splits): it is an artifact of the small
# benchmark input, so it is set here, per submit, and not in the job.
CONF=(--conf spark.sql.shuffle.partitions=32
      --conf spark.sql.files.maxPartitionBytes=16777216
      --conf spark.sql.adaptive.coalescePartitions.enabled=false)

# 1) materialize the replicated input once, locally (setup, untimed)
if [ -d "$WORK/transcripts" ] && [ "$(cat "$WORK/prepared" 2>/dev/null)" = "$SF_DIR $REPL" ]; then
  echo "reusing the input prepared at $WORK ($SF_DIR, repl=$REPL)" >&2
  rm -f "$WORK"/*.jsonl "$WORK"/run-*.log "$WORK"/scan-*.log
else
  rm -rf "$WORK"; mkdir -p "$WORK"
  "$SUBMIT" --master 'local[32]' --driver-memory 8g "${CONF[@]}" \
    --class graft.PipelineMain "$JAR" prepare "$SF_DIR" "$WORK" "$REPL" \
    2>"$WORK/prepare.log"
  echo "$SF_DIR $REPL" > "$WORK/prepared"
fi

# 2) pinned cluster: four 1-core workers on disjoint cpusets (the N=1
# level physically cannot borrow the other cores)
WORKER_CORES=1 N_WORKERS=4 "$HERE/standalone_cluster.sh" start
trap '"$HERE/standalone_cluster.sh" stop >/dev/null 2>&1 || true' EXIT
sleep 3

submit() { # $1=total executor cores, $2=level tag, $3=rep, $4=subcommand, $5..=its args
  local cores=$1 tag=$2 rep=$3 cmd=$4; shift 3
  "$SUBMIT" --master "$MASTER" --deploy-mode client \
    --driver-memory 8g --executor-memory 4g --executor-cores 1 \
    --total-executor-cores "$cores" "${CONF[@]}" \
    --class graft.PipelineMain "$JAR" "$@" \
    2>"$WORK/$cmd-$tag-$rep.log" | tee -a "$WORK/$cmd-$tag.jsonl"
}

level() { # one rep at one level: the production batch, then the scan control
  rm -rf "$WORK/out-$2-$3"
  submit "$1" "$2" "$3" run "$WORK/transcripts" "$WORK/out-$2-$3" \
    "$WORK/transcripts-warmup"
  submit "$1" "$2" "$3" scan "$WORK/transcripts"
}

# interleave levels so background-load drift hits both symmetrically
for r in $(seq 1 "$REPS"); do
  level 1 N  "$r"
  level 4 N4 "$r"
done

python3 - "$WORK" "$REPS" <<'EOF'
import json, sys, os
from statistics import median
w, reps = sys.argv[1], int(sys.argv[2])
def level(cmd, tag):
    p = os.path.join(w, f"{cmd}-{tag}.jsonl")
    rows = [json.loads(l) for l in open(p)] if os.path.exists(p) else []
    if len(rows) < reps:
        sys.exit(f"{cmd} {tag}: {len(rows)} of {reps} reps recorded "
                 f"(see {w}/{cmd}-{tag}-*.log)")
    return rows
def tps(rows): return [r["turns_per_sec"] for r in rows]
def steal(rows): return [r["steal_pct"] for r in rows]
def eff(n, n4, f): return round(f(tps(n4)) / (4.0 * f(tps(n))), 3)
rn, r4 = level("run", "N"), level("run", "N4")
sn, s4 = level("scan", "N"), level("scan", "N4")
print(json.dumps({
    "metric": "spark-submit scaling efficiency (resumable pipeline, 1-core executors)",
    "value": eff(rn, r4, median),
    "value_best": eff(rn, r4, max),
    "eff_scan_only": eff(sn, s4, median),
    "unit": "ratio",
    "N_turns_per_sec": median(tps(rn)), "N4_turns_per_sec": median(tps(r4)),
    "N_wall_sec": median(r["wall_sec"] for r in rn),
    "N4_wall_sec": median(r["wall_sec"] for r in r4),
    "N_all_tps": tps(rn), "N4_all_tps": tps(r4),
    "N_scan_tps": tps(sn), "N4_scan_tps": tps(s4),
    "N_steal_pct": steal(rn), "N4_steal_pct": steal(r4),
    "N_scan_steal_pct": steal(sn), "N4_scan_steal_pct": steal(s4),
    "rows_per_run": rn[0]["rows"]}))
EOF
