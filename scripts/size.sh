#!/usr/bin/env bash
# Prints the code-size trend lines ROADMAP.md tracks (aim 2, "the same
# numbers from less code"):
#   - lines of Scala under src/main;
#   - ScalaUDF sites under src/main (`udf(`, `udf[`, `udf {` calls);
#   - System.err.println sites under src/main, and the files holding them.
# Usage: scripts/size.sh [repo-root]   (default: the checkout holding this script)
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
main="$root/src/main"

lines=$(find "$main" -name '*.scala' -print0 | xargs -0 cat | wc -l)
udfs=$(grep -rEn --include='*.scala' '\budf\s*[\(\[{]' "$main" | wc -l)
errs=$(grep -rn --include='*.scala' 'System\.err\.println' "$main" | wc -l)
errFiles=$(grep -rln --include='*.scala' 'System\.err\.println' "$main" | wc -l)

echo "src_main_scala_lines $lines"
echo "scala_udf_sites $udfs"
echo "stderr_println_sites $errs (in $errFiles files)"
