#!/bin/bash
# Standing adversarial oracle gate (SURVEY §18 note 6): generate the
# adversarial corpus (heavy-tail tokens, near-dup bursts, the band-keyed
# template cluster, heavy-tail IVF cells), run the banded-dedup + IVF
# families through graft.Verify on it, and compare against the DuckDB
# oracle. Exits non-zero on any mismatch, listing the families that
# failed in Verify or wrote no Spark output (Verify's stderr is kept in
# <outDir>/verify.log).
#
# Usage: tools/adv_gate.sh [nDocs] [outDir]
set -euo pipefail
cd "$(dirname "$0")/.."
N="${1:-5000}"
OUT="${2:-/tmp/graft_adv_gate}"
FAMILIES=(dedup_ngram_jaccard dedup_minhash dedup_minhash_capped
  dedup_minhash_multiprobe dedup_multiprobe_ranked dedup_multiprobe_dfrank
  dedup_simhash_multiprobe dedup_pipeline_mp dedup_pipeline_mp_budget
  dedup_pipeline_smp dedup_recall knn_ivf knn_ivf_pq knn_recall
  # text-analysis / sketch / BPE / packing / curation rows (r15 frontier
  # 1 residual): heavy-tail token bodies and the template cluster stress
  # token counting, quality ratios, sketch accuracy and bin packing too
  token_count lang_id quality_score doc_fingerprint token_histogram
  heavy_hitters length_quantiles source_quantiles distinct_sketch
  vocab_growth freq_estimate quantile_sketch bpe_pairs bpe_train
  bpe_encode bpe_fertility sequence_pack tokenize_pack sequence_manifest
  sequence_shuffle gopher_filter doc_repetition doc_chunk line_dedup
  corpus_stats text_normalize shard_forget pack_increment shard_increment
  shard_compact stream_shard epoch_resume)
DIR=$(SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" tools/run.sh graft.AdversarialCorpus "$N" 2>/dev/null | tail -1)
echo "corpus: $DIR"
rm -rf "$OUT"; mkdir -p "$OUT"
# Verify's stderr is kept: a family that throws (a driver "Java heap
# space" included) leaves only its "[verify] <name> failed:" line there
tools/run.sh graft.Verify "$DIR" "$OUT" "${FAMILIES[@]}" 2>"$OUT/verify.log" >/dev/null ||
  echo "graft.Verify exited with status $?"
# check.py exits non-zero because the oracle set includes queries this
# gate deliberately did not dump — keep its output, judge on the grep
RESULT=$(python3 tools/check.py "$DIR" "$OUT" 2>&1 | grep -E "^(PASS|FAIL)" | grep -v "no spark output" || true)
echo "$RESULT"
N_PASS=$(echo "$RESULT" | grep -c "^PASS" || true)
N_FAIL=$(echo "$RESULT" | grep -c "^FAIL" || true)
echo "== adversarial gate: $N_PASS pass, $N_FAIL fail (of ${#FAMILIES[@]} families) =="
if [ "$N_FAIL" -ne 0 ] || [ "$N_PASS" -ne "${#FAMILIES[@]}" ]; then
  grep -F "[verify] " "$OUT/verify.log" | grep -F " failed:" || true
  MISSING=()
  for f in "${FAMILIES[@]}"; do [ -d "$OUT/$f" ] || MISSING+=("$f"); done
  if [ "${#MISSING[@]}" -gt 0 ]; then echo "no Spark output: ${MISSING[*]}"; fi
  echo "Verify stderr: $OUT/verify.log"
  exit 1
fi
