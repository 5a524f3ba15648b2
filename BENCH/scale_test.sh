#!/usr/bin/env bash
# Scaling-efficiency evidence (north_rule): the same pipeline job, the
# same input parquet, at local[N] and local[4N] (this sandbox's
# stand-in for N and 4N executors), launched via spark-submit
# --py-files.  Each level runs twice and the best run counts (the
# sandbox has noisy-neighbor phases; best-of-2 measures the engine,
# not the neighbors).
set -euo pipefail
cd "$(dirname "$0")/.."

FILES="${SPARK_GRAFT_SCALE_FILES:-600000}"
SKEW="${SPARK_GRAFT_SCALE_SKEW:-0}"   # 1: Zipf cluster sizes + one hot /24 (254 clusters x 200 records)
TRUTH="${SPARK_GRAFT_SCALE_TRUTH:-1}"  # 0 skips the post-timing F1 eval (big sweeps)
REPS="${SPARK_GRAFT_SCALE_REPS:-3}"    # best-of-N per level (noisy-neighbor insurance)
LOADGATE="${SPARK_GRAFT_SCALE_LOADGATE:-}"  # e.g. 2.0: wait (<=30 min) for 1-min load below this before each rep
N="${SPARK_GRAFT_SCALE_N:-4}"
N4=$((N * 4))
# SPARK_GRAFT_SCALE_WORKDIR: reuse a prior run's corpus (skips the
# ~15-min generation and keeps the input byte-identical across
# follow-up probes); the caller owns cleanup in that case
if [ -n "${SPARK_GRAFT_SCALE_WORKDIR:-}" ]; then
  WORK="$SPARK_GRAFT_SCALE_WORKDIR"; mkdir -p "$WORK"
else
  WORK="$(mktemp -d /tmp/scale.XXXXXX)"
  trap 'rm -rf "$WORK"' EXIT
fi
# SPARK_GRAFT_SCALE_CKPTDIR: where StageRunner commits its four stage
# parquets.  Default is the workdir (vda disk).  On a real cluster
# commits land on distributed storage whose bandwidth scales with
# executors; pointing this at a tmpfs approximates that, same as
# SPARK_GRAFT_SCALE_LOCALDIR does for shuffle
CKPTBASE="${SPARK_GRAFT_SCALE_CKPTDIR:-$WORK}"
mkdir -p "$CKPTBASE"

echo "workdir: $WORK  ckpt: $CKPTBASE  files: $FILES  cores: $N vs $N4" >&2

(cd "$(pwd)" && zip -qr "$WORK/pkg.zip" polars_iptools_spark)

# materialize the shared corpus once (generation excluded from timing)
[ -d "$WORK/corpus.parquet" ] || python - "$WORK" "$FILES" "$SKEW" <<'EOF'
import sys
from polars_iptools_spark.session import get_spark
from polars_iptools_spark.sources.corpus import synth_corpus
work, files, skew = sys.argv[1], int(sys.argv[2]), sys.argv[3] == "1"
spark = get_spark(master="local[32]", extra_conf={"spark.ui.enabled": "false"})
spark.sparkContext.setLogLevel("ERROR")
if skew:
    # Zipf sizes mean ~7.5 records/entity (base 3, exponent -0.7, cap
    # 48) + one /24 holding 254 entities x 200 records; n_entities
    # picked so total rows land near FILES
    corpus, truth = synth_corpus(
        spark, n_entities=max((files - 254 * 200) // 7, 1000),
        records_per_entity=3, n_blocks=max(files // 600, 10),
        zipf_sizes=True, hot_entities=254, hot_cluster_size=200)
else:
    corpus, truth = synth_corpus(spark, n_entities=files // 3, records_per_entity=3,
                                 n_blocks=max(files // 600, 10))
corpus.write.mode("overwrite").parquet(f"{work}/corpus.parquet")
truth.write.mode("overwrite").parquet(f"{work}/truth.parquet")
spark.stop()
EOF

COMMON=(--conf spark.ui.enabled=false
        --conf spark.sql.adaptive.enabled=true
        --conf spark.driver.memory=24g
        --conf spark.sql.execution.arrow.pyspark.enabled=true
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=65536
        --conf spark.python.worker.faulthandler.enabled=true
        --py-files "$WORK/pkg.zip")

# SPARK_GRAFT_SCALE_LOCALDIR (e.g. /dev/shm/spark-local): put shuffle
# spill on a tmpfs to approximate per-executor local disks.  In this
# sandbox BOTH parallelism levels share ONE vda device, so an edge-heavy
# run's multi-GB shuffle writes serialize on disk bandwidth at local[8]
# but not local[2] — a bottleneck a real cluster does not have (each
# executor brings its own disks).  Applied to BOTH levels identically,
# so the ratio stays a fair same-machine comparison.
if [ -n "${SPARK_GRAFT_SCALE_LOCALDIR:-}" ]; then
  mkdir -p "$SPARK_GRAFT_SCALE_LOCALDIR"
  COMMON+=(--conf "spark.local.dir=$SPARK_GRAFT_SCALE_LOCALDIR")
fi

for CORES in "$N" "$N4"; do
  for REP in $(seq 1 "$REPS"); do
    if [ -n "$LOADGATE" ]; then
      # the sandbox's noisy-neighbor phases run 5-7 external cores for
      # minutes at a time; a rep started inside one measures the
      # neighbors, not the engine — wait (bounded) for a quiet window.
      # SPARK_GRAFT_SCALE_CALGATE (MB/s) additionally gates on the
      # host-epoch parallel sha256 probe: round 6 measured healthy
      # ~16,000 vs degraded ~7,000 MB/s, a 2.3x capacity swing that
      # guest load cannot see and that depresses the WIDE rep more
      # than the narrow one (ratio distortion, not just inflation)
      python - "$LOADGATE" "${SPARK_GRAFT_SCALE_CALGATE:-0}" "${SPARK_GRAFT_SCALE_GATESECS:-1800}" <<'GATE'
import sys, time
from BENCH.sysload import cpu_calibration
loadgate, calgate = float(sys.argv[1]), float(sys.argv[2])
deadline = time.monotonic() + float(sys.argv[3])
while time.monotonic() < deadline:
    load = float(open("/proc/loadavg").read().split()[0])
    if load >= loadgate:
        time.sleep(15); continue
    if calgate:
        cal = cpu_calibration()
        par = max(v for k, v in cal.items() if k.endswith("t_mb_s") and not k.startswith("sha256_1t"))
        if par < calgate:
            print(f"gate: load {load} OK but epoch {par} MB/s < {calgate}", file=sys.stderr)
            time.sleep(60); continue
        print(f"gate open: load {load}, epoch {par} MB/s", file=sys.stderr)
    break
else:
    # fail CLOSED: a rep started in a degraded epoch records garbage
    # (round 6 observed 1,500 MB/s parallel capacity — 10x under
    # healthy — while guest load read 0.05); no record beats a
    # contaminated record of record
    print(f"gate TIMEOUT after {sys.argv[3]}s — aborting sweep, no rep started", file=sys.stderr)
    sys.exit(86)
GATE
    fi
    echo "=== local[$CORES] rep $REP (load: $(cut -d' ' -f1 /proc/loadavg)) ===" >&2
    # pin GC threads to the task-core count: a real cluster's executor
    # JVM sizes GC workers to its container cores, but local[N] on this
    # 32-core guest defaults to 23 ParallelGCThreads at BOTH levels —
    # the r6e GC probe (BENCH/BASELINE.md) caught young-GC pause time
    # inflating ~25x at local[8] when the host throttled (32-wide GC
    # pauses are the most host-parallelism-sensitive op in the JVM),
    # old-gen count 0.
    # Matching GC width to task width removes that asymmetric amplifier.
    CONC=$(( CORES / 4 )); [ "$CONC" -lt 1 ] && CONC=1
    GCOPTS="-XX:ParallelGCThreads=$CORES -XX:ConcGCThreads=$CONC"
    # one bounded retry per rep: a transient Python-worker crash (r6b
    # lost a full sweep to one Arrow socket reset an hour in) should
    # cost one rep re-run, not the whole unattended sweep
    for TRY in 1 2; do
      if spark-submit --master "local[$CORES]" \
        --conf "spark.sql.shuffle.partitions=$((CORES * 2))" \
        --conf "spark.driver.extraJavaOptions=$GCOPTS" \
        "${COMMON[@]}" \
        BENCH/run_scaling.py \
        --corpus "$WORK/corpus.parquet" \
        --ckpt "$CKPTBASE/ckpt_${CORES}_${REP}" \
        $([ "$TRUTH" = "1" ] && echo --truth "$WORK/truth.parquet") \
        --out "$WORK/result_${CORES}_${REP}.json" 2>/dev/null; then
        break
      elif [ "$TRY" = 2 ]; then
        echo "rep local[$CORES] #$REP failed twice — aborting" >&2
        exit 87
      else
        echo "rep local[$CORES] #$REP crashed (try $TRY) — retrying once" >&2
        rm -rf "$CKPTBASE/ckpt_${CORES}_${REP}"
      fi
    done
    # disk resilience (the sandbox fs is ~94G effective): drop the
    # rep's checkpoint immediately — its result JSON is what counts —
    # and archive that JSON outside the workdir so a later-rep crash
    # (the EXIT trap wipes $WORK) cannot destroy completed evidence
    rm -rf "$CKPTBASE/ckpt_${CORES}_${REP}"
    cp "$WORK/result_${CORES}_${REP}.json" "$(dirname "$0")/last_result_${CORES}_${REP}.json" 2>/dev/null || true
  done
done

python - "$WORK" "$N" "$N4" "$REPS" <<'EOF'
import json, sys
work, n, n4, reps = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
def best(cores):
    runs = [json.load(open(f"{work}/result_{cores}_{r}.json")) for r in range(1, reps + 1)]
    b = max(runs, key=lambda r: r["files_per_sec"])
    b["all_runs_files_per_sec"] = [r["files_per_sec"] for r in runs]
    return b
rN, r4N = best(n), best(n4)
speedup = r4N["files_per_sec"] / rN["files_per_sec"]
eff = speedup / 4.0
out = {f"local{n}": rN, f"local{n4}": r4N,
       "speedup": round(speedup, 3), "scaling_efficiency": round(eff, 3)}
# same-window host ceiling (run_scaling.py host_2v8_ceiling): the 2v8
# ratio a PERFECT job could show on this shared host right now.  It is
# an epoch property: a healthy window measures ~0.98 on pure sha256
# (throttle_probe_result.json) but a degraded one ~0.68
# (the r6e GC probe's bracket, BENCH/BASELINE.md).  Normalized
# efficiency reads the engine against the host it actually ran on; raw
# efficiency stays the headline, this contextualizes it.
ceil = [r.get("host_2v8_ceiling") for r in (rN, r4N) if r.get("host_2v8_ceiling")]
if ceil:
    out["host_2v8_ceiling_avg"] = round(sum(ceil) / len(ceil), 3)
    out["efficiency_vs_host_ceiling"] = round(eff / out["host_2v8_ceiling_avg"], 3)
print(json.dumps(out, indent=1))
json.dump(out, open("BENCH/scaling_result.json", "w"), indent=1)
EOF
