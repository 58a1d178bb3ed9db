#!/usr/bin/env bash
# Round-close artifact commit (r18, verdict r17 item 6 / r16 item 1):
# the driver drops BENCH_r*/CORRECTNESS_r*/PERF_r*/VERIFY_r* (and
# refreshes BENCH_FULL/LEAKCHECK/SCALE_PROBE) into the work tree but
# does not commit them, so each round's judge found them untracked.
# Run this once at the end of a round (or right after the driver's
# artifacts appear) to fold every measurement artifact into one commit.
#
#   tools/round_close.sh [round-number]
#
# Idempotent: commits only when something is staged.
set -euo pipefail
cd "$(dirname "$0")/.."
round="${1:-}"
# Stage only the artifacts that exist and are not gitignored: one
# pathspec matching nothing (COPYCHECK.json is gitignored and normally
# absent) makes `git add` fail and stage nothing. Git's own errors are
# left to stop the script.
shopt -s nullglob
present=()
for f in \
  BENCH_r*.json CORRECTNESS_r*.json PERF_r*.json VERIFY_r*.json \
  BENCH_FULL.json BENCH_FULL.meta.json LEAKCHECK.json COPYCHECK.json \
  SCALE_PROBE.json DUCKDB_BASELINE.json CORRECTNESS_RETAIN.json \
  VERDICT.md ADVICE.md; do
  if [[ -e $f ]] && ! git check-ignore -q -- "$f"; then present+=("$f"); fi
done
if (( ${#present[@]} )); then git add -A -- "${present[@]}"; fi
if git diff --cached --quiet; then
  echo "[round_close] nothing to commit"
else
  msg="round${round:+ $round}: measurement artifacts"
  git commit -q -m "$msg"
  echo "[round_close] committed: $(git log --oneline -1)"
fi
