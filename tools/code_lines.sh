#!/bin/bash
# code_lines.sh FILE... — code lines per file and their total: every line
# that is neither blank nor a comment line (one starting, after leading
# whitespace, with //, *, /* or /**). The count ROADMAP's code-size aims
# are judged by.
#   tools/code_lines.sh src/main/scala/graft/ops/TableManifest.scala
if [ $# -eq 0 ]; then
  echo "usage: $0 FILE..." >&2
  exit 2
fi
total=0
for f in "$@"; do
  n=$(awk '{l=$0; sub(/^[ \t]+/,"",l); if(l=="" || l ~ /^(\/\/|\*|\/\*\*|\/\*)/) next; n++} END{print n+0}' "$f") || exit 1
  printf '%8d %s\n' "$n" "$f"
  total=$((total + n))
done
printf '%8d total\n' "$total"
