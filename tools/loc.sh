#!/usr/bin/env bash
# Code-line counts of the Scala sources: lines that are not blank and do
# not start (after indentation) with //, /* or *.
#   bash tools/loc.sh    prints "src/main <n>" and "src/test <n>"
set -euo pipefail
cd "$(dirname "$0")/.."
for d in src/main src/test; do
  n=$(find "$d" -name '*.scala' -print0 | xargs -0 cat |
    grep -Ev '^[[:space:]]*($|//|/\*|\*)' | wc -l)
  echo "$d $n"
done
