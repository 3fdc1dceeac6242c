#!/usr/bin/env bash
# Oracle check of one query set in one command: runs graft.Verify
# restricted to the set's queries, then compares them with
# tools/check_oracle.py.
#
#   bash tools/verify_idx.sh [set] [sfDir] [outDir]
#
# Sets:
#   idx (default)  the five idx_* queries that merge change batches into
#                  an index (batch upserts, retain-deleted, consistency
#                  scan, streaming maintenance, catchup)
#   ann            the ANN store and hybrid-retrieval queries (build,
#                  ingest, upsert, delete, filtered, residual, retrain,
#                  stats, stream maintenance, SQL lifecycle, hybrid search
#                  in every form, multimodal pipeline)
#   codec          the queries that decode untrusted bytes (WARC gz, HTTP
#                  and zst sources and streams, PDF text, the pixel,
#                  resize, TIFF, WebP, GIF, JPEG, MP3 and AAC decoders,
#                  multimodal pipeline)
#   store          the queries over the versioned batch stores outside
#                  ANN (BM25 postings: indexed, incremental, batched,
#                  stats, phrase, fusion; the streaming-dedup and
#                  frontier epoch stores; the link graph; SQL-built
#                  scalar-index versions)
#   artifact       the queries over the file-slot artifact stores
#                  (tokenizer and unigram encodes, language profiles, the
#                  PSL, legacy encoding tables, main-content stoplists,
#                  and the pretraining funnels that load them)
#   all            the union of the five sets in one graft.Verify run,
#                  reported as each set's pass count
#
# sfDir defaults to $SPARK_GRAFT_SF_DIR, else $HOME/testdata/sf0.01; outDir
# to a fresh temporary directory. Exits non-zero unless every query of the
# set (of every set, for `all`) passes.
set -euo pipefail

root="$(cd "$(dirname "$0")/.." && pwd)"
set_name=idx
if [[ "${1:-}" =~ ^(idx|ann|codec|store|artifact|all)$ ]]; then
  set_name="$1"
  shift
fi
queries_of() {
  case "$1" in
    idx) echo idx_merge_upserts,idx_retain_deleted,idx_scan_consistency,idx_streaming_maintain,idx_catchup ;;
    ann) echo sim_ann_persisted,sim_ann_ingest,sim_ann_upsert,sim_ann_delete,sim_ann_filtered,sim_ann_residual,sim_ann_retrain,sim_ann_stats,sim_ann_stream_maintain,ann_build_sql,text_hybrid_search,text_hybrid_batch,text_hybrid_filtered,text_hybrid_stream,hybrid_search_sql,hybrid_batch_sql,pipeline_multimodal ;;
    store) echo text_bm25_indexed,text_bm25_incremental,text_bm25_queries,text_bm25_stats,text_phrase_search,text_rrf_fusion,dedup_streaming_neardup,dedup_streaming_spans,dedup_span_rotate,dedup_semantic_stream,pipeline_frontier_store,pipeline_pagerank,pipeline_pagerank_incremental,idx_build_sql ;;
    artifact) echo tokenize_from_artifact,tokenize_streaming,text_bpe_ids,text_unigram_encode,text_unigram_artifact,text_langid_artifact,text_url_domain_artifact,text_charset_legacy,text_extract_main_artifact,text_extract_main_cjk,text_extract_main_thai,text_extract_main_ruar,pipeline_pretrain_sjis,pipeline_pretrain_detect ;;
    codec) echo source_warc_gz,source_warc_http,source_warc_zst,pipeline_warc_gz_stream,pipeline_crawl_mixed,text_extract_pdf,pipeline_pretrain_pdf,multimodal_pixels,multimodal_resize,multimodal_tiff,multimodal_webp,multimodal_webp_lossy,multimodal_gif,multimodal_jpeg,multimodal_mp3,multimodal_aac,pipeline_multimodal ;;
  esac
}
if [[ "$set_name" == all ]]; then
  sets=(idx ann codec store artifact)
else
  sets=("$set_name")
fi
queries="$(for s in "${sets[@]}"; do queries_of "$s" | tr ',' '\n'; done |
  awk '!seen[$0]++' | paste -sd, -)"
sf="${1:-${SPARK_GRAFT_SF_DIR:-$HOME/testdata/sf0.01}}"
out="${2:-$(mktemp -d -t "verify_$set_name.XXXXXX")}"
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
status=0
if ! grep -qx "== $n pass, 0 fail, $n oracled of $n listed" <<<"$report"; then
  status=1
fi
for s in "${sets[@]}"; do
  total=0 passed=0
  for q in $(queries_of "$s" | tr ',' ' '); do
    total=$((total + 1))
    if grep -q "^PASS $q (" <<<"$report"; then passed=$((passed + 1)); fi
  done
  echo "verify_idx: $s $passed/$total"
  [[ $passed == "$total" ]] || status=1
done
if [[ $status != 0 ]]; then
  echo "verify_idx: expected every query of ${sets[*]} to pass" >&2
fi
exit $status
