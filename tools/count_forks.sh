#!/usr/bin/env bash
# Count the file-utility processes a command starts.
#
#   tools/count_forks.sh <log> -- <command...>
#
# Hadoop's local file system starts `chmod`, `readlink`, `ls` or `stat`
# processes where it has no native library. This script writes a logging
# wrapper for each of chmod, readlink, ls, stat, rm, mv, cp, ln, df, du,
# id and groups into a temporary directory, runs the command with that
# directory first on PATH, and deletes the directory afterwards. Each
# wrapper appends one line, `<name><TAB><arguments>`, to <log> (emptied
# first) and then runs the real program. The summary counts the calls
# per program and per path class of their arguments: `checkpoint-*`,
# `_staging`, `warehouse` (the first that matches) or `other`.
#
# Example, one extract-load benchmark run (build it once beforehand, so
# the count holds only the run):
#   tools/count_forks.sh /tmp/forks.log -- \
#     python3 perfbench/run.py --workload queue_small --seed 1 --seconds 3 --trace 0
#
# The exit status is the command's.
set -euo pipefail

if [ $# -lt 3 ] || [ "$2" != "--" ]; then
  echo "usage: $0 <log> -- <command...>" >&2
  exit 2
fi
log=$(realpath -m "$1")
shift 2
: > "$log"

wrappers=$(mktemp -d "${TMPDIR:-/tmp}/count-forks.XXXXXX")
trap 'rm -rf "$wrappers"' EXIT
for name in chmod readlink ls stat rm mv cp ln df du id groups; do
  real=$(command -v "$name") || continue
  cat > "$wrappers/$name" <<EOF
#!/bin/sh
printf '%s\t%s\n' "$name" "\$*" >> '$log'
exec '$real' "\$@"
EOF
  chmod +x "$wrappers/$name"
done

status=0
PATH="$wrappers:$PATH" "$@" || status=$?

awk -F '\t' '
  {
    class = $2 ~ /checkpoint-/ ? "checkpoint-*" : $2 ~ /_staging/ ? "_staging" : $2 ~ /warehouse/ ? "warehouse" : "other"
    calls[$1] += 1; byClass[$1 "\t" class] += 1; total += 1
  }
  END {
    printf "%-10s %7s %13s %9s %10s %7s\n", "command", "calls", "checkpoint-*", "_staging", "warehouse", "other"
    for (c in calls)
      printf "%-10s %7d %13d %9d %10d %7d\n", c, calls[c], byClass[c "\tcheckpoint-*"],
        byClass[c "\t_staging"], byClass[c "\twarehouse"], byClass[c "\tother"] | "sort -k2,2nr -k1,1"
    close("sort -k2,2nr -k1,1")
    printf "%-10s %7d\n", "total", total
  }' "$log"
exit "$status"
