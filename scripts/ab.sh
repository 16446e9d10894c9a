#!/bin/bash
# Interleaved A/B of one query:
#   scripts/ab.sh <baseline-classes-dir> <query> <sfDir> [reps] [rounds]
# Alternates the baseline build (e.g. a parent commit's
# target/scala-2.13/classes) with this checkout's build in the same host
# window, flipping which arm runs first each round, and prints RunOne's
# timing lines per arm per round. Both arms launch through runone.sh.
set -e
BASE=$1; Q=$2; SF=$3; REPS=${4:-3}; ROUNDS=${5:-2}
if [ -z "$Q" ] || [ -z "$SF" ]; then
  echo "usage: $0 <baseline-classes-dir> <query> <sfDir> [reps] [rounds]" >&2; exit 2
fi
if [ ! -d "$BASE" ]; then
  echo "baseline classes directory '$BASE' does not exist" >&2; exit 2
fi
ROOT=$(cd "$(dirname "$0")/.." && pwd)
run() { # $1=classes dir $2=tag
  GRAFT_CLASSES=$1 "$ROOT/scripts/runone.sh" "$Q" "$SF" "$REPS" 2>/dev/null \
    | grep '\[runone\]' | sed "s/^/[$2] /"
}
for i in $(seq 1 "$ROUNDS"); do
  if [ $((i % 2)) = 1 ]; then
    run "$BASE" "old$i"; run "$ROOT/target/scala-2.13/classes" "new$i"
  else
    run "$ROOT/target/scala-2.13/classes" "new$i"; run "$BASE" "old$i"
  fi
done
