#!/usr/bin/env bash
# Prints a code-line count: non-blank lines of the Scala sources under the
# given paths whose first non-blank characters are not `//`, `*` or `/*`
# (the rule CHANGES.md's code-line figures use).
#
# Usage: tools/code_lines.sh [repo-root [path...]]
#   repo-root  checkout to count (default: this script's repo)
#   path...    files or directories relative to repo-root (default: src/main)
# Example: tools/code_lines.sh . src/main/scala/graft/extract/Extractor.scala
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
shift $(( $# > 0 ? 1 : 0 ))
paths=("${@:-src/main}")
cd "$root"
find "${paths[@]}" -name '*.scala' -print0 | xargs -0 cat | awk '
  { t = $0; sub(/^[ \t]+/, "", t) }
  t == "" || t ~ /^\/\// || t ~ /^\*/ || t ~ /^\/\*/ { next }
  { n++ }
  END { print n + 0 }'
