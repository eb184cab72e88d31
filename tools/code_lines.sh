#!/usr/bin/env bash
# Prints the main-source code-line count: non-blank lines of the Scala
# sources under src/main whose first non-blank characters are not `//`,
# `*` or `/*` (the rule CHANGES.md's code-line figures use).
#
# Usage: tools/code_lines.sh [repo-root]   (default: this script's repo)
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
find "$root/src/main" -name '*.scala' -print0 | xargs -0 cat | awk '
  { t = $0; sub(/^[ \t]+/, "", t) }
  t == "" || t ~ /^\/\// || t ~ /^\*/ || t ~ /^\/\*/ { next }
  { n++ }
  END { print n + 0 }'
