#!/usr/bin/env bash
# Count code lines: every line that is neither blank nor a comment line
# (one starting with //, /* or *), the rule the simplicity changes report.
#
#   scripts/codelines.sh FILE_OR_DIR...
#
# Prints "<count> <path>" for each .scala file given or found under a
# given directory (sorted by path), then "<count> total".
set -euo pipefail

if [ "$#" -eq 0 ]; then
  echo "usage: $0 FILE_OR_DIR..." >&2
  exit 2
fi

for p in "$@"; do
  if [ ! -e "$p" ]; then
    echo "$0: no such file or directory: $p" >&2
    exit 1
  fi
done

total=0
while IFS= read -r f; do
  n=$(grep -cvE '^\s*$|^\s*(//|/\*|\*)' "$f" || true)
  printf '%d %s\n' "$n" "$f"
  total=$((total + n))
done < <(for p in "$@"; do
  if [ -d "$p" ]; then find "$p" -type f -name '*.scala'; else echo "$p"; fi
done | sort)
printf '%d total\n' "$total"
