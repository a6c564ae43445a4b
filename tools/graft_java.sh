#!/usr/bin/env bash
# Raw-java launcher for graft harness mains (Bench/Verify/Gen/Probe/...)
# with Spark's FULL JDK-17 module options (from
# org.apache.spark.launcher.JavaModuleOptions — what spark-class would
# pass). Launching with only the sun.nio.ch export LOOKS fine until an
# executor spills a Kryo-eligible cached block under memory pressure:
# KryoSerializer's class registration then reflects into java.nio and
# dies with 'Unable to create serializer ... HeapByteBuffer' (found in
# round 10 on q227 sf10 @ 24g — NOT an engine bug, a launcher gap; any
# memory-pressured run can hit it).
#
# Usage: tools/graft_java.sh <Xmx|auto> <MainClass> [args...]   (env knobs pass through)
# `auto` sizes the heap by the Tier-1 rule: half the box's memory,
# clamped to 2-8 GiB.
set -euo pipefail
XMX="${1:?heap, e.g. 24g or auto}"; shift
if [ "$XMX" = auto ]; then
  XMX="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)"
fi
exec java "-Xmx$XMX" $(cat "$(dirname "$0")/java_opts.txt") \
  -cp "/opt/spark/jars/*:$(dirname "$0")/../target/scala-2.13/classes" "$@"
