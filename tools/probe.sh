#!/bin/bash
# Parameterized probe runner — the committed, reproducible form of the
# round-11 java-launcher pattern (absolute classpath, add-opens,
# min-of-N sampling, named topologies). Supersedes the round-specific
# tools/probe_r1*.sh queue scripts: a round's probe queue is now a short
# list of probe.sh invocations.
#
# Usage:
#   tools/probe.sh -T <tag> [-t single|cluster2|cluster4] [-m <xmx>]
#                  [-n <samples>] [-M <mainClass>] [KEY=VAL]... <args>...
#
#   -T tag        log-name tag (required). Logs land at
#                 /tmp/probe_<tag>_<stamp>_run<i>.log — the timestamp
#                 keeps re-runs from overwriting earlier evidence.
#   -t topology   single   = one JVM, -m heap (default 48g)
#                 cluster2 = local-cluster[2,16,26624] (2x24g execs)
#                 cluster4 = local-cluster[4,8,13312]  (4x12g execs)
#                 (cluster drivers run at 8g; all configs share the same
#                 ~48g total executor heap / 32 cores envelope)
#   -n samples    repeat count for min-of-N discipline (default 1)
#   -M mainClass  default graft.ScaleProbe (graft.Verify, graft.MemoProbe,
#                 graft.Bench also work)
#   KEY=VAL       exported into the probe's environment (e.g.
#                 SPARK_GRAFT_SHUFFLE=1600, SPARK_GRAFT_EXEC_MEM=20g);
#                 session-conf A/Bs ride the JVM: Spark reads spark.*
#                 system properties, so pass
#                 JAVA_TOOL_OPTIONS="-Dspark.k=v -Dspark.k2=v2"
#   args          passed through to the main class
#
# Examples (the round-11 queue, re-expressed):
#   tools/probe.sh -T lsh50_single -n 2 /root/testdata/sf0.1 50 lsh_calib
#   tools/probe.sh -T knn50_c4 -t cluster4 -n 2 SPARK_GRAFT_SHUFFLE=1600 \
#     /root/testdata/sf0.1 50 knn_graph
#   tools/probe.sh -T verify_c4 -t cluster4 -M graft.Verify \
#     /root/testdata/sf0.001 /tmp/verify_out_c4
#   tools/probe.sh -T hugemeth -M graft.Bench SPARK_GRAFT_ONLY=knn_graph \
#     "JAVA_TOOL_OPTIONS=-Dspark.sql.codegen.hugeMethodLimit=8000"
#
# Discipline reminders (SCALE.md): host CPU swings 3-6x between windows —
# compare only same-window samples; interleave topologies A/B A/B when
# the claim is a topology ratio; trust task-CPU (tcpu_*) on clusters.
set -u
cd /root/repo
. tools/probe_env.sh

TAG="" TOPO=single XMX=48g N=1 MAIN=graft.ScaleProbe
while getopts "T:t:m:n:M:" opt; do
  case $opt in
    T) TAG=$OPTARG;; t) TOPO=$OPTARG;; m) XMX=$OPTARG;;
    n) N=$OPTARG;; M) MAIN=$OPTARG;;
    *) echo "bad flag" >&2; exit 2;;
  esac
done
shift $((OPTIND-1))
[ -n "$TAG" ] || { echo "probe.sh: -T tag is required" >&2; exit 2; }

# split leading KEY=VAL args into per-run env
ENVV=()
while [ $# -gt 0 ] && [[ "$1" == *=* && "$1" != *//* ]]; do ENVV+=("$1"); shift; done

case $TOPO in
  single)   MASTERV=() ;;
  cluster2) MASTERV=("SPARK_GRAFT_MASTER=local-cluster[2,16,26624]" "SPARK_GRAFT_EXEC_MEM=24g"); XMX=8g ;;
  cluster4) MASTERV=("SPARK_GRAFT_MASTER=local-cluster[4,8,13312]"  "SPARK_GRAFT_EXEC_MEM=12g"); XMX=8g ;;
  *) echo "probe.sh: unknown topology $TOPO" >&2; exit 2 ;;
esac

STAMP=$(date +%m%d%H%M%S)
for i in $(seq 1 "$N"); do
  LOG="/tmp/probe_${TAG}_${STAMP}_run${i}.log"
  echo "probe.sh: [$TOPO $MAIN] run $i/$N -> $LOG" >&2
  env "${MASTERV[@]}" "${ENVV[@]}" bash -c '. tools/probe_env.sh; run_graft "$@"' _ "$XMX" "$MAIN" "$@" \
    > "$LOG" 2>&1
  tail -2 "$LOG" >&2
done
