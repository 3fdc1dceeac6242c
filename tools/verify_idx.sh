#!/usr/bin/env bash
# Oracle check of the index-merge path in one command: runs graft.Verify
# restricted to the five idx_* queries that merge change batches into an
# index (batch upserts, retain-deleted, consistency scan, streaming
# maintenance, catchup), then compares them with tools/check_oracle.py.
#
#   bash tools/verify_idx.sh [sfDir] [outDir]
#
# sfDir defaults to $SPARK_GRAFT_SF_DIR, else $HOME/testdata/sf0.01; outDir
# to a fresh temporary directory. Exits non-zero unless all five pass.
set -euo pipefail

root="$(cd "$(dirname "$0")/.." && pwd)"
sf="${1:-${SPARK_GRAFT_SF_DIR:-$HOME/testdata/sf0.01}}"
out="${2:-$(mktemp -d -t verify_idx.XXXXXX)}"
queries=idx_merge_upserts,idx_retain_deleted,idx_scan_consistency,idx_streaming_maintain,idx_catchup
mkdir -p "$out"
n=$(tr ',' '\n' <<<"$queries" | wc -l)

export COURSIER_MODE=offline
opts="-Dsbt.offline=true -Xmx4g"
if [[ -f "$HOME/.sbt/repositories" ]]; then
  opts="$opts -Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories"
fi
export SBT_OPTS="${SBT_OPTS:-$opts}"

cd "$root"
SPARK_GRAFT_VERIFY_ONLY="$queries" \
  sbt --batch -Dsbt.log.noformat=true "runMain graft.Verify $sf $out" \
  > "$out/verify.log" 2>&1 || {
  tail -n 40 "$out/verify.log" >&2
  echo "verify_idx: graft.Verify failed (log: $out/verify.log)" >&2
  exit 1
}
grep -F '[verify]' "$out/verify.log" >&2 || true

report="$(python3 "$root/tools/check_oracle.py" "$sf" "$out")"
echo "$report"
if ! grep -qx "== $n pass, 0 fail, $n oracled of $n listed" <<<"$report"; then
  echo "verify_idx: expected $n of $n idx_* queries to pass" >&2
  exit 1
fi
