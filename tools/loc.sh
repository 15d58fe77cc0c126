#!/usr/bin/env bash
# Code lines of src/main/scala, counted as ROADMAP.md counts them: every
# line of every .scala file that is not blank, not a `//` comment and not
# a `/*`, `*` or `*/` comment line. Prints the total, then the 10 largest
# files by the same count. Run from anywhere: `tools/loc.sh`.
set -euo pipefail
cd "$(dirname "$0")/.."
pat='^\s*($|//|/?\*)'
echo "code lines in src/main/scala: $(find src/main/scala -name '*.scala' -print0 | xargs -0 cat | grep -cvE "$pat")"
find src/main/scala -name '*.scala' -print0 |
  while IFS= read -r -d '' f; do echo "$(grep -cvE "$pat" "$f" || true) $f"; done |
  sort -rn | head -10
