#!/usr/bin/env bash
# Code lines of every Scala file under src/main, and their total:
# lines that are not blank, not a `//` comment and not a scaladoc or
# block-comment line (`/*`, `/**`, `*`, `*/`).
#
#   tools/loc.sh            # from the repository root
set -euo pipefail
cd "$(dirname "$0")/.."
total=0
while IFS= read -r f; do
  n=$(grep -v '^\s*$' "$f" | grep -v '^\s*//' | grep -v '^\s*/\?\*' | wc -l)
  printf '%7d  %s\n' "$n" "$f"
  total=$((total + n))
done < <(find src/main -name '*.scala' | sort)
printf '%7d  total\n' "$total"
