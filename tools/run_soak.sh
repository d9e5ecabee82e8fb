#!/bin/bash
# Launch graft.Soak with the bench JVM profile (tools/run_java.sh).
# Usage: run_soak.sh <outJson> <factor> [query...]
OUT_JSON="$1"; FACTOR="$2"; shift 2
exec env SPARK_GRAFT_SOAK_OUT="$OUT_JSON" "$(dirname "$0")/run_java.sh" \
  graft.Soak /root/testdata/sf0.1 "/tmp/graft_soak$FACTOR" "$FACTOR" "$@"
