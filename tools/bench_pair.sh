#!/usr/bin/env bash
# Measure the committed bench pair (sf0.1 -> sf1) the reproducible way:
# direct `java` launch with build.sbt's exact JVM flags (an sbt-launched
# run inherits the compiler burst in its 1-minute loadavg and self-flags),
# and a REAL cool-down between legs — SCALE.md "Round-14 end-of-round
# pair" measured that a leg launched 120 s after the previous 32-thread
# JVM exited read one query family 4-7x over trend; waiting for the
# 1-minute loadavg to drop below 0.2 returned it to trend.
#
# Usage: tools/bench_pair.sh [sf01_dir] [sf1_dir] [out_prefix]
# Spark threads: $SPARK_GRAFT_CPUS, default nproc.
# Writes <prefix>_sf01.json and <prefix>_sf1.json (copies of
# bench_out.json after each leg). Compile first: sbt compile.
set -euo pipefail
cd "$(dirname "$0")/.."

SF01="${1:-/root/testdata/sf0.1}"
SF1="${2:-/tmp/graft_sf1}"
PREFIX="${3:-/tmp/bench_pair}"

CLASSES=target/scala-2.13/classes
[ -d "$CLASSES/graft" ] || { echo "run 'sbt compile' first" >&2; exit 1; }
CP="$CLASSES:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"

OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

wait_quiet() {
  # block until the 1-minute loadavg is < 0.2 (max ~10 min)
  for _ in $(seq 1 60); do
    L=$(cut -d' ' -f1 /proc/loadavg)
    awk -v l="$L" 'BEGIN{exit !(l < 0.2)}' && return 0
    sleep 10
  done
  echo "warning: loadavg never dropped below 0.2; measuring anyway" >&2
}

leg() { # $1 = sf dir, $2 = output json
  wait_quiet
  SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
    java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:ReservedCodeCacheSize=1g \
      -cp "$CP" graft.Bench
  cp bench_out.json "$2"
  python3 - "$2" <<'PY'
import json, sys
d = json.load(open(sys.argv[1]))
print(f"{sys.argv[1]}: total {d['value']:.1f}s, {len(d['queries'])} queries, "
      f"contended={d['contended']} (launch loadavg {d['loadavg_launch']}), "
      f"failed={d['failed']}")
PY
}

leg "$SF01" "${PREFIX}_sf01.json"
leg "$SF1"  "${PREFIX}_sf1.json"
