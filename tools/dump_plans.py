#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan summaries for the headline queries —
the at-a-glance evidence that each plan has the shape you'd want at scale
(scan counts, shuffle counts, join strategies, pushed filters, codegen).

Usage: python tools/dump_plans.py [sf_dir]  (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "hourly_agg", "hourly_with_mode", "mode_event_type", "two_level_avg",
    "pricing_summary", "star_join", "volume_shipping", "semi_join",
    "anti_join", "small_qty_revenue", "range_window_sum",
    "range_window_partitioned", "session_window", "interval_join_batch",
    "asof_join", "top_k_per_group", "union_drift", "exact_dedup",
    "minhash_near_dup", "ngram_jaccard", "embedding_topk", "text_quality",
    "ml_features", "rollup_agg", "cube_agg", "distinct_agg",
    "quantiles", "string_funcs", "token_frequencies", "pivot",
    # round 2: new batch-plan queries (streaming contract queries execute
    # inside their builders and are profiled via bench.py instead)
    "traffic_hourly", "traffic_hourly_fused", "tz_hourly",
    "exact_dedup_digest", "window_analytics",
    "set_ops", "unpivot", "min_cost_per_part", "market_share",
    "embedding_near_dup", "stats_agg", "argmax_agg", "histogram",
    "partition_pruned", "regr_agg", "array_agg", "date_functions",
    "string_funcs2", "conditional_funcs", "bitwise_funcs", "hash_funcs",
    "multimodal_features", "stock_hourly", "weather_hourly",
    "late_supplier_blame", "top_supplier", "grouping_sets",
    "salted_hourly", "csv_roundtrip", "nullsafe_join",
    # round 3: TPC-H shapes + corpus-pipeline stages
    "shipping_priority", "order_priority", "local_supplier_volume",
    "revenue_change", "returned_items", "customer_distribution",
    "promo_revenue", "supplier_part_counts", "large_volume_customer",
    "idle_customers", "hash_sample", "stratified_sample",
    "text_normalize", "doc_chunks", "corpus_prep",
    "sql_surface", "tf_idf", "interval_join_binned",
    # round 4: portable fingerprint + corpus-quality passes + final
    # TPC-H shapes
    "doc_fingerprint_md5", "repetition_stats", "pii_scrub",
    "nation_profit", "priority_lines", "disjunctive_revenue",
    "simhash_md5_pairs", "contamination", "pack_documents",
    "embedding_lsh_portable", "embedding_ivf_portable",
    "embedding_quantize", "embedding_ann_stack", "tokens_to_ids",
    "sketch_mergeable", "balanced_sample", "column_profile",
    # round 5: frequency/quality/mixture/covariance + dedup end-to-end
    "ml_linear_fit", "heavy_hitters", "unigram_surprisal",
    "mixture_sample", "embedding_covariance", "dedup_survivors",
    "hash_split", "bpe_pair_counts", "embedding_standardize",
    "corpus_shuffle", "incremental_dedup", "pca_project",
    "centroid_classify", "classify_eval", "kmeans_step",
    "embedding_outliers", "skew_diagnostics", "source_kl",
    "quality_gate", "zorder_layout", "scd2_history", "join_cardinality",
    "funnel", "cohort_retention", "expectations", "token_pmi",
    "pagerank_step", "equi_depth_histogram", "bigram_surprisal",
    "pit_join", "entity_match", "weighted_sample", "label_propagation",
    # round 6: PCA orthonormality contract + span-level dedup + BM25
    "pca_invariants", "span_dedup", "bm25_search",
    # round 7: the end-to-end corpus pipeline composite + the
    # temperature mixture / semantic dedup operators
    "corpus_pipeline", "temperature_mixture", "semantic_dedup",
    # round 9: the neighbor-cell-probed variant + the hashing-trick
    # featurizer (bpe_train/stream_near_dup execute in their builders —
    # driver loop / streaming drains — and are profiled via bench.py)
    "semantic_dedup_probed", "hashed_vectors",
    # round 10: BPE encode (vocab-fold + order-stable rebuild), the
    # chained text->semantic-dedup loop, and the PQ stack
    "bpe_encode", "text_semantic_dedup", "pq_codes", "embedding_pq_stack",
    "embedding_ivf_pq", "orc_roundtrip",
    # round 11: the tokenizer loop closed end-to-end + the production
    # (balanced-KMeans) IVF-PQ path (csv_roundtrip, already listed
    # above, now carries the fidelity options)
    "tokenizer_pipeline", "embedding_ivf_pq_kmeans",
    # round 11 (cont.): the lambda surfaces — both must stay map-only
    # (one scan, zero exchanges)
    "higher_order_funcs", "map_funcs",
    # round 11 (cont.): token-budget sampling — expects exactly ONE
    # exchange (the group-keyed running-sum window; its docstring states
    # the single shuffle), unlike the map-only lambda families above
    "budget_sample",
    # round 11 (cont.): the last two TPC-H silhouettes (all 22 covered)
    "important_stock", "part_promotion",
    # round 11 (cont.): digest-based corpus versioning diff
    "corpus_diff",
    # round 12: the codes-only streamed ANN index (partition-pruned ADC
    # search), the byte-fallback tokenizer, the DECIMAL money sentinel,
    # and the quantizer-drift monitor (two broadcast-assignment passes,
    # quantizer-sized aggregates)
    "stream_ann_index_pq", "tokenizer_bytes", "pricing_summary_decimal",
    "quantizer_drift",
    # round 12 (cont.): the lossless byte-fallback round trip
    "detokenize_bytes",
    # round 13: the byte-alphabet BPE trainer (vocab-sized rounds), the
    # exact decimal avg/ratio surface (map + one combined shuffle), and
    # the train->encode loop with a data-dependent merge table
    "bpe_train_bytes", "pricing_decimal_avg", "tokenizer_bytes_trained",
    # round 14: train->save->load->encode through the persisted
    # tokenizer artifact (plan = the trained encode over literal merges
    # collected from the artifact; the save/load IO is pre-plan)
    "bpe_artifact_encode",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from bda_spadochrony_spark.session import get_session
    import __spark_entry__ as entry_mod

    spark = get_session("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    lines = [
        "# PLANS — physical-plan summaries (generated by tools/dump_plans.py)",
        "",
        f"Input: `{sf_dir}`. Columns: file scans, exchanges (shuffles +",
        "broadcasts), join strategies, whole-stage-codegen spans, and whether",
        "parquet filter pushdown engaged. Regenerate after plan-affecting",
        "changes.",
        "",
        "| query | scans | exchanges | joins | WSCG spans | pushed filters |",
        "|---|---|---|---|---|---|",
    ]
    for name in QUERIES:
        df = qs[name](spark, sf_dir)
        df.collect()  # materialize THIS plan so AQE settles (count() would
        # execute a different wrapped plan and leave this one non-final)
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # final AQE plan only
        scans = plan.count("FileScan")
        exch = plan.count("Exchange")
        joins = []
        for j in ["BroadcastHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin",
                  "ShuffledHashJoin"]:
            n = plan.count(j)
            if n:
                joins.append(f"{n}×{j.replace('Join', '')}")
        wscg = len(set(re.findall(r"\*\((\d+)\)", plan)))
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "—"
        lines.append(f"| {name} | {scans} | {exch} | {', '.join(joins) or '—'} "
                     f"| {wscg} | {pushed} |")
    lines += [
        "",
        "Notes:",
        "- `hourly_with_mode` is the fused single-scan agg+mode (0 joins) —",
        "  the reference's shape was 2 scans + join.",
        "- `star_join`/`volume_shipping` broadcast every dimension; the fact",
        "  scan is column-pruned with pushed filters.",
        "- `range_window_sum` is the reference-parity GLOBAL window (single",
        "  partition by design); `range_window_partitioned` is the scale path.",
        "- `traffic_hourly` is the reference-parity multi-scan shape;",
        "  `traffic_hourly_fused` is the scale rewrite (same oracle, one",
        "  fused fine aggregate, ~40% fewer scans/exchanges).",
        "- Deliberate Python (Arrow) stages: `asof_join` (cogrouped",
        "  merge_asof), `embedding_topk`/`embedding_near_dup`/",
        "  `dedup_clusters` inputs (cogrouped BLAS block matmul),",
        "  `sessionize` (applyInPandasWithState), `multimodal_features`",
        "  (mapInPandas decode), and since r11 the IVF scoring tiles in",
        "  `ivf_topk`/`ann_index_topk` (`_blas_cell_topk` — the",
        "  interpreted zip_with cosine fold never enters codegen and was",
        "  measured as the whole search at 10x data; SCALE.md has the",
        "  A/B). Everything else is JVM-only codegen.",
        "- `minhash_near_dup` shows 0 scans because its signature and",
        "  candidate frames are localCheckpoint'd (the explain truncates",
        "  lineage at the checkpointed RDD); the upstream stages are the",
        "  shingle scan + 16-min agg profiled in bench.py. The checkpoint",
        "  is the point: without it AQE re-ran the band self-join once per",
        "  verifier consumer.",
        "- `minhash_near_dup` latency floor (round-5 close-out of the <3.0 s",
        "  ticket): exec ~1.3 s, warm end-to-end ~2.6-2.7 s at sf0.1; the cold",
        "  bench number carries ~1 s of one-time plan-analysis/codegen that a",
        "  resident session amortizes (BENCH_SPLIT `warm_rerun`). A/B-measured",
        "  dead ends (do not retry): shared shingle frame (2.5× slower, r2+r4),",
        "  eager checkpoints (equal warm, slower cold, r5), K-M double hashing",
        "  (r1), sp=8 (r4), synthetic compiler warm-up (no effect, r5).",
        "- `embedding_ann_stack` / `simhash_md5_pairs` (round 5): the",
        "  bucket+quantize / fingerprint frames are localCheckpoint'd before",
        "  their self-joins, same rationale as minhash — A/B at sf0.1: warm",
        "  4.0→2.4 s and 2.4→1.7 s respectively.",
        "- `heavy_hitters` (round 5) shows a truncated lineage for the same",
        "  checkpoint reason as minhash: the p*(k+1)-row Misra-Gries summary",
        "  feeds both the exact-N aggregate and the candidate broadcast, so it",
        "  is localCheckpoint'd; the exact pass is a broadcast semi-join into",
        "  a map-side-combined count — the full distinct-key table is never",
        "  shuffled.",
        "- `dedup_survivors` (round 5): cluster labels are localCheckpoint'd",
        "  before their three-way fan-out (sizes/canonicals/dropped) — without",
        "  it each consumer replayed the pairwise-cosine self-join. The",
        "  remaining sf0.1 cost is the star-contraction rounds' eager",
        "  materialization (O(log n) rounds by design — a fixed per-round",
        "  latency at toy scale, the correct asymptotics at 100 TB).",
        "- `embedding_covariance` (round 5): two chained posexplodes (no",
        "  self-join) into ONE shuffle over d(d+1)/2=2080 keys, partial-agg",
        "  combined map-side — the shuffle moves partition-count × 2080",
        "  partial-sum rows regardless of row count.",
        "- Round-5 second tranche: `hash_split` is map-only (zero exchange);",
        "  `corpus_shuffle` range-partitions (no SinglePartition anywhere);",
        "  `bpe_pair_counts` / `skew_diagnostics` pre-prune their global",
        "  top-k rank per hash group (build_vocab discipline) so the",
        "  single-partition sort input is bounded at any scale;",
        "  `centroid_classify` / `kmeans_step` / `embedding_outliers` /",
        "  `embedding_standardize` / `pca_project` broadcast dimension-sized",
        "  stats/centroid frames — the only data-sized shuffles are keyed",
        "  on the row id; `incremental_dedup` checkpoints both signature",
        "  sketches before the cross-frame band join (batch-vs-corpus, never",
        "  corpus²); `source_kl` checkpoints the (source, token) counts that",
        "  feed three rollups; `pca_project`'s eigh runs driver-side on the",
        "  d×d matrix only (dimension-sized at any corpus scale).",
        "- `dedup_survivors` round-5 A/B (alternating reps, sf0.1): warm",
        "  cost ~5.1 s is the star-contraction ROUND latency, not the",
        "  cosine self-join (pairs alone: 0.7 s warm). Measured dead ends,",
        "  do not retry: more matmul blocks (4/8/12 identical warm),",
        "  lazy instead of eager per-round checkpoints (noise-level).",
        "  The per-round cost is fixed job latency at toy scale and the",
        "  correct O(log n) asymptotics at 100 TB.",
        "- `zorder_layout` range-partitions on the Morton code (no",
        "  SinglePartition); `scd2_history` is one key-partitioned window",
        "  pass; `join_cardinality` runs two count aggregates + a key-sized",
        "  count join — never the data-sized join it prices.",
        "- `corpus_pipeline` (round 7): six pipeline stages (normalize →",
        "  quality gate → digest dedup → decontamination → mixture →",
        "  shuffled-epoch pack) compose into ONE lazy plan with no driver",
        "  actions between stages; the normalized corpus and the mixture",
        "  survivors are lazily checkpointed (the two frames consumed by",
        "  multiple stages — exactly what production materializes), so the",
        "  explain shows a checkpoint-truncated lineage and a bounded",
        "  exchange count rather than per-consumer replays of the gate's",
        "  aggregations.",
    ]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(QUERIES)} queries)")


if __name__ == "__main__":
    main()
