#!/usr/bin/env bash
# List the temp dirs and files a command leaves behind.
#
#   tools/tmpdirs.sh COMMAND [ARG...]
#
# Runs COMMAND with every JVM's java.io.tmpdir set to a fresh empty dir
# (through _JAVA_OPTIONS, which forked JVMs inherit too), then prints one
# "tmpdirs <name> <count>" line per name left in that dir, with the random
# suffix a temp-file API appends (digits, or a UUID) stripped, and a
# "tmpdirs total <count>" line; then removes the dir. Exits with the
# command's exit code.
#
#   tools/tmpdirs.sh sbt --batch "testOnly *"    # the tier-1 suite
set -u
if [ $# -eq 0 ]; then
  echo "usage: tools/tmpdirs.sh COMMAND [ARG...]" >&2
  exit 2
fi
tmp=$(mktemp -d "${TMPDIR:-/tmp}/tmpdirs.XXXXXX") || exit 2
_JAVA_OPTIONS="${_JAVA_OPTIONS:+$_JAVA_OPTIONS }-Djava.io.tmpdir=$tmp" "$@"
rc=$?
ls -A "$tmp" \
  | sed -E 's/-?[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$//; s/[0-9]+$//' \
  | sort | uniq -c | awk '{ print "tmpdirs " $2 " " $1 }'
echo "tmpdirs total $(ls -A "$tmp" | wc -l)"
rm -rf "$tmp"
exit $rc
