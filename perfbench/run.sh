#!/usr/bin/env bash
# Runs one benchmark workload from the root of a checkout:
#   bash perfbench/run.sh --workload <name> --seed <n> --seconds <s> --trace <0|1>
# The first run builds the engine and the benchmark from source (sbt,
# offline); later runs reuse the build until a source file changes.
set -euo pipefail

root="$(pwd)"
bench="$root/perfbench"
out="$root/.bench_build/perfbench"

if [[ ! -f "$root/build.sbt" || ! -d "$root/src/main/scala/graft" ]]; then
  echo "perfbench: run from the root of a checkout holding the engine sources" >&2
  exit 2
fi

mkdir -p "$out"
cp_file="$out/classpath"
stale=1
if [[ -s "$cp_file" ]]; then
  newer="$(find "$root/src/main" "$root/build.sbt" "$root/project" "$bench/src/main" \
    "$bench/build.sbt" -newer "$cp_file" -type f -print -quit 2>/dev/null || true)"
  [[ -z "$newer" ]] && stale=0
fi

if [[ $stale == 1 ]]; then
  export COURSIER_MODE=offline
  sbt_opts="-Dsbt.offline=true -Xmx3g"
  if [[ -f "$HOME/.sbt/repositories" ]]; then
    sbt_opts="$sbt_opts -Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories"
  fi
  export SBT_OPTS="$sbt_opts"
  (cd "$bench" && sbt --batch -Dsbt.log.noformat=true \
      "export perfbench/Runtime/fullClasspath") > "$out/build.log" 2>&1 || {
    grep -E '^\[(error|warn)\]' "$out/build.log" | head -n 40 >&2
    echo "perfbench: build failed" >&2
    exit 3
  }
  tail -n 1 "$out/build.log" > "$cp_file.tmp"
  mv "$cp_file.tmp" "$cp_file"
fi

opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch \
    sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done

mkdir -p "$root/.bench_build/tmp"
exec java "${opens[@]}" -Xmx3g -XX:+UseParallelGC \
  -Djava.io.tmpdir="$root/.bench_build/tmp" \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$(cat "$cp_file")" perfbench.Main "$@"
