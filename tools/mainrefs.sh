#!/usr/bin/env bash
# List the defs under src/main that no main code refers to.
#
#   tools/mainrefs.sh
#
# Prints one "path:line name" row per `def` in src/main whose name occurs
# on no other code line of src/main or perfbench/src, then a
# "mainrefs total <count>" line. Comment lines (stripped, starting with
# `//`, `/**` or `*`, as tools/loc.py counts them) are not code, so a
# name mentioned only in Scaladoc still counts as unreferenced. `override`
# defs are skipped: Spark calls them. A listed def is either dead or
# called only by tests; the list is a lead, not a verdict (a name shared
# by two defs, or used by reflection, hides or fakes a hit).
set -eu
cd "$(dirname "$0")/.."
code() {
  find src/main perfbench/src -name '*.scala' -print0 | sort -z | xargs -0 cat |
    grep -vE '^[[:space:]]*(//|/\*\*|\*)'
}
counts=$(code | grep -oE '[A-Za-z_][A-Za-z0-9_]*' | sort | uniq -c)
grep -rnE '\bdef [A-Za-z_][A-Za-z0-9_]*' src/main --include='*.scala' |
  grep -vE '^[^:]+:[0-9]+:[[:space:]]*(//|/\*\*|\*)' |
  grep -v 'override' |
  sed -E 's/^([^:]+:[0-9]+):.*\bdef ([A-Za-z_][A-Za-z0-9_]*).*/\1 \2/' |
  sort -t: -k1,1 -k2,2n |
  awk -v counts="$counts" '
    BEGIN { n = split(counts, rows, "\n")
            for (i = 1; i <= n; i++) { split(rows[i], f, " "); c[f[2]] = f[1] } }
    c[$2] == 1 { print; total++ }
    END { print "mainrefs total " (total + 0) }'
