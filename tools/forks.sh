#!/usr/bin/env bash
# Count the chmod, chown, ls and stat processes a command starts.
#
#   tools/forks.sh COMMAND [ARG...]
#
# Puts a directory of logging shims first on PATH, runs COMMAND, then
# prints one "forks <name> <count>" line per shimmed command (zeros too)
# on stdout, after the command's own output. Every process of the
# command's tree that resolves one of these names through PATH (a JVM's
# ProcessBuilder does; Hadoop's Shell.execCommand runs `chmod` that way)
# runs the shim, which logs the name and execs the real binary.
# Exits with the command's exit code.
set -u
if [ $# -eq 0 ]; then
  echo "usage: tools/forks.sh COMMAND [ARG...]" >&2
  exit 2
fi
names="chmod chown ls stat"
shims=$(mktemp -d "${TMPDIR:-/tmp}/forks.XXXXXX") || exit 2
log="$shims/log"
: > "$log"
for n in $names; do
  real=$(command -v "$n") || { echo "forks.sh: no $n on PATH" >&2; rm -rf "$shims"; exit 2; }
  printf '#!/bin/sh\necho %s >> "%s"\nexec "%s" "$@"\n' "$n" "$log" "$real" > "$shims/$n"
  chmod 755 "$shims/$n"
done
PATH="$shims:$PATH" "$@"
rc=$?
for n in $names; do
  echo "forks $n $(grep -cx "$n" "$log")"
done
rm -rf "$shims"
exit $rc
