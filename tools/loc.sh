#!/bin/bash
# Non-blank, non-comment Scala lines under src/main: the total, then the
# ten largest files. A line counts unless it is blank or starts (after
# indentation) with `//`, `/*` or `*` — scaladoc and block-comment bodies
# included.
#
# Usage: tools/loc.sh [repoRoot]   (default: this script's repository)
set -euo pipefail
ROOT="${1:-$(dirname "$0")/..}"
cd "$ROOT"
count() { grep -v '^\s*$' "$1" | grep -Ev '^\s*(//|/\*|\*)' | wc -l; }
TABLE=$(find src/main -name '*.scala' | sort | while read -r f; do
  echo "$(count "$f") $f"
done)
echo "$TABLE" | awk '{s += $1} END {print "total", s}'
echo "$TABLE" | sort -rn | head -10
