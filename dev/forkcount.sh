#!/usr/bin/env bash
# Count the chmod, readlink, ls and stat processes a spec starts on its
# own files.
#
#   dev/forkcount.sh <spec class> [test name substring]
#
# Runs `sbt testOnly <spec> [-- -z <substring>]` from the repository root
# with a PATH shim that logs every chmod, readlink, ls and stat the forked
# test JVM starts, and with java.io.tmpdir pointed at a fresh directory
# (the spec's temp root: everything it makes with createTempDirectory).
# Prints, per command, how many invocations named a path under that
# root, then where the full log is. sbt options (offline mode, heap)
# come from the caller's SBT_OPTS as usual.
set -euo pipefail

spec=${1:?usage: dev/forkcount.sh <spec class> [test name substring]}
filter=${2:-}
repo=$(cd "$(dirname "$0")/.." && pwd)
work=$(mktemp -d "${TMPDIR:-/tmp}/forkcount.XXXXXX")
root=$work/tmp
shim=$work/bin
log=$work/calls.log
mkdir -p "$root" "$shim"
: > "$log"

cmds="chmod readlink ls stat"
for cmd in $cmds; do
  real=$(command -v "$cmd")
  cat > "$shim/$cmd" <<EOF
#!/bin/sh
echo "$cmd \$*" >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$shim/$cmd"
done

test_cmd="testOnly $spec"
[ -n "$filter" ] && test_cmd="$test_cmd -- -z \"$filter\""

cd "$repo"
status=0
PATH="$shim:$PATH" sbt --batch -Dsbt.log.noformat=true \
  "set Test / javaOptions += \"-Djava.io.tmpdir=$root\"" "$test_cmd" \
  > "$work/sbt.log" 2>&1 || status=$?
grep -E '^\[info\] (- |Tests:)' "$work/sbt.log" || true

for cmd in $cmds; do
  awk -v c="$cmd" -v r="$root/" '$1 == c && index($0, r) { n++ }
    END { printf "%-8s %d\n", c, n }' "$log"
done
echo "log: $log (sbt output: $work/sbt.log)"
exit "$status"
