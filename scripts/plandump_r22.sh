#!/bin/bash
# Dump .explain("formatted") for the r22-touched queries into
# plans/r22/<query>_<suffix>.txt (suffix = $1: before|after), at
# sf0.001 like the r21 dumps. Runs graft.Explain once and splits.
set -e
cd "$(dirname "$0")/.." || exit 1
SUFFIX="${1:?usage: plandump_r22.sh before|after}"
QUERIES="e4_curation_full e6_pretrain_corpus e7_training_mix \
e8_ingest_screen st17_binary_scan dedup_containment st10_containment_scan \
dedup_minhash dedup_clusters dedup_soft dedup_clusters_incremental \
sim_pq_ann sim_pq_recall sim_ivfpq_ann sim_ivfpq_recall sim_eval_mrr \
sim_binary_ann sim_lsh_ann sim_ivf_ann sim_hard_negatives"
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | sort | tr '\n' ':')"
mkdir -p plans/r22
java $OPENS -Xmx8g -cp "$CP" graft.Explain \
  /root/testdata/sf0.001 $QUERIES 2>/dev/null \
| awk -v sfx="$SUFFIX" '
  # formatted explain prints its own "===== Subqueries =====" section
  # header — that one belongs to the CURRENT query, not a new file
  /^===== .* =====$/ && $2 != "Subqueries" {
    if (out) close(out); q=$2; out="plans/r22/" q "_" sfx ".txt"; next }
  { if (out) print > out }'
echo "dumped: $(ls plans/r22/*_$SUFFIX.txt | wc -l) files"
