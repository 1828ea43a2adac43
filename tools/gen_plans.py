"""Regenerate PLANS.md: formatted physical plans for the plan-shape claims.

Each entry pairs a registry key with the property its plan must exhibit
(pushdown reaching the scan, broadcast on the dim side, a single Window
pass, zero exchanges, an injected runtime filter, ...). tests/test_plans.py
asserts the same properties mechanically; this artifact is the
human-readable evidence. Run: python tools/gen_plans.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# (key, headline property to look for in the plan)
SHOWCASE = [
    ("scan_predicate_pushdown", "PushedFilters reach the parquet scan; ReadSchema pruned to used columns"),
    ("agg_groupby", "two-phase aggregation: partial HashAggregate before the exchange, merge after; whole-stage codegen spans the scan+filter+partial-agg"),
    ("join_broadcast", "BroadcastHashJoin — dim side ships to every task, fact side never shuffles"),
    ("join_multiway", "dims broadcast, single shuffle keyed by the fact join key"),
    ("join_asof", "ONE exchange + ONE sort + ONE window for the whole as-of union (no per-side windows)"),
    ("agg_skew_two_stage", "salted partial agg then merge — two HashAggregate pairs, skew key split across tasks"),
    ("join_bloom_runtime_filter", "might_contain() injected on the fact branch — rows dropped before the exchange"),
    # broadcast disabled for the snapshot: at fixture scale Spark prefers a
    # broadcast join, which hides the bucket alignment this key exists to
    # show (at 100 TB neither side broadcasts — this IS the at-scale plan)
    ("sink_bucketed_join", "bucket-aligned SortMergeJoin with ZERO shuffle exchanges before the final groupBy (both scans `Bucketed: true`)"),
    ("dedup_simhash_pairs", "band equi-join BROADCAST on the few-hundred-KB band table (r5: ≤1024 distinct band keys skew a shuffle join; broadcast-hash keeps stream-side parallelism), never a nested-loop all-pairs"),
    ("graph_triangle_count", "wedge-then-close triangle plan: BOTH closing joins broadcast the edge table, the wedge stream never shuffles"),
    ("stat_ks_two_sample", "both ECDFs via rank2's two-phase cumsum: range exchange + per-partition running sums + broadcast offsets join — NO unpartitioned Window over the distinct-value relation (r9)"),
    ("win_skyline_pareto", "distributed sort-filter-skyline: two-phase running prev-max (range exchange + local frame window + broadcast per-partition maxes), no NOT-EXISTS self-join, no single-partition sort (r9)"),
    ("win_session_window_fn", "native session_window aggregation: one shuffle on the grouping key with merge-able session state"),
    ("cdc_apply_changes", "copy-on-write MERGE topology: broadcast anti-join on the touched-key set + union of upserts — base table never shuffles"),
    ("win_time_range_frame", "RANGE frame window after one shuffle on user_id"),
    ("reshape_unpivot", "Expand (4x narrow row expansion), no shuffle"),
    ("q_forecast_revenue_change", "every predicate (date range, discount band, quantity cap) pushed to the parquet scan; ReadSchema pruned to the 4 referenced columns"),
    ("q_disjunctive_revenue", "Catalyst factors the OR-of-conjunctions: the quantity-range hull is pushed to the fact scan and the brand/size disjunction to the part scan — neither side evaluates the full OR over raw rows"),
    ("emb_quantize_int8", "map-only embedding transform: ZERO shuffle exchanges at any data width"),
    ("bitwise_ops", "pure map-side projection: scan -> project, ZERO exchanges"),
    ("profile_columns", "ONE scan feeds every per-column statistic (expand for count-distincts, then a single aggregation tree) — never N scans for N columns"),
    ("rollup_incremental_merge", "two-level aggregation, each level partial-aggregated before its exchange (map-side combine at both grains) — the merge consumes the month rollup, never rescans lineitem"),
    ("tvf_range_series", "Range source generates partitions directly on executors — no input scan, no driver materialization"),
    ("sql_lateral_topn", "correlated LATERAL decorrelated to a ranked window + join — no per-outer-row re-execution"),
    ("hof_exists_forall", "all four higher-order functions evaluate in ONE project over the scan — no explode, no shuffle, no UDF"),
    ("sessionize_gap", "lag window, running-sum window and session groupBy share ONE user_id shuffle (single Exchange)"),
    ("dedup_minhash_banded_pairs", "banded candidates via hash equi-join on band structs over a materialized signature table — no all-pairs nested loop"),
    ("text_tfidf_topterms", "corpus doc-count rides as a broadcast 1-row aggregate (count-star scan reads ZERO columns) — no second full corpus pass"),
    ("pipeline_curation_funnel", "five stage counts from ONE flagged lineage + one count_if aggregate — no Union re-deriving the corpus per stage"),
    ("bm25_search", "map-side tf (no explode), corpus stats as broadcast 1-row agg, TakeOrderedAndProject top-k — one scored pass"),
    ("dedup_ngram_jaccard", "blocked-GEMM MapInPandas kernel: (doc_id, terms) batches stream from the scan into a BLAS matmul against the bit-packed broadcast corpus (r6: built distributively — the driver assembles packed bytes, never Rows); NO join operator in the plan, the all-pairs work is vectorized"),
    ("knn_classify", "corpus streams over >=32 partitions, 40-row probe set broadcast (r4: kills the one-core nested-loop variance)"),
    ("geo_radius_join", "grid-blocked spatial join: build side replicated into 3×3 cells, hash equi-join on cell id + exact haversine verify — bounded fanout, no all-pairs"),
    ("sql_exists_correlated", "correlated EXISTS/NOT EXISTS decorrelated to left-semi + left-anti hash joins — no per-row subquery execution"),
    ("agg_bitmap_distinct", "two-level bitmap aggregation: partial bitmap_construct per (group, bucket) map-side, bit-count merge after — raw ids never reshuffled"),
    # r6 showcases
    ("dedup_staged", "exact collapse FIRST (one digest-window Exchange), then md5-minhash banding of SURVIVORS only — the banded self-join's input is the collapsed corpus, so replica twins never reach the candidate join"),
    ("emb_dedup_ann_verified", "two-stage ANN dedup: LSH bucket equi-joins (broadcast KB-scale bucket table) generate candidates, MapInPandas verifies exact cosine against the broadcast packed matrix — no CartesianProduct, candidates never converge to the driver"),
    ("dedup_exact_content", "per-doc canonical assignment via min-over-window on md5(text): exactly ONE hash Exchange on the content digest"),
    ("join_left_anti", "anti join with the o_orderpriority filter PUSHED to the orders parquet scan — the build side shrinks ~5x before the probe"),
    ("q_parts_above_avg_price", "scalar mean+stddev threshold as a broadcast 1-row relation (BroadcastNestedLoopJoin, never CartesianProduct) — one part scan for stats, one for the filter"),
    ("sample_stratified", "deterministic salted-md5 Bernoulli filter evaluates map-side in whole-stage codegen before the per-stratum count shuffle — no RNG state, replay/partitioning independent"),
    # r7 showcases
    ("dedup_substring_spans", "span digests built JVM-side (sequence+slice+xxhash64 — no Python worker, no pair join); the corpus-wide pass is ONE count window keyed by digest, then per-doc interval-merge windows on the much smaller span table"),
    ("text_quality_classifier", "the learned filter is a constant-folded logistic projection: scan -> project, ZERO exchanges, zero Python — the cheapest possible full-corpus pass"),
    # r8 showcases
    ("dedup_substring_exact", "two-phase stride-1 pass: the flagged-doc set from the stride-10 scan comes back as a BROADCAST semi-join onto the corpus, so the stride-1 window explosion runs over flagged docs only — no pair join at either phase"),
    ("text_tokenize_cjk", "language-routed tokenization as a CASE over per-row expressions — the char-bigram and whitespace branches both evaluate in the SAME project feeding one explode + one groupBy(lang); no UDF, no per-language scan"),
    # r8 second-wave (§2-P) showcases
    ("events_dau_wau_mau", "windowed DISTINCT via the bounded-contribution rewrite: each event contributes to ≤28 target days through ONE map-side explode + equi-shuffle on (day) — never a non-equi range self-join; distinct counts are delta-gated inside the single aggregate"),
    ("ts_rolling_median_fanout", "a rolling EXACT order statistic Spark frames cannot express: daily values explode to their ≤7 covering windows (broadcast day-list semi-join), one groupBy computes the interpolated median — same fan-out shape as DAU/WAU/MAU, no range join"),
    ("stat_bootstrap_ci", "B=100 deterministic replicates: the RoundRobin exchange sits BELOW the Generate so the 100x fan-out is spread BEFORE it multiplies (the shuffle moves 1/B of the post-explode bytes); membership + sufficient stats stay map-side into a 100-group partial agg"),
    ("search_rrf_hybrid", "both retrieval arms end in TakeOrderedAndProject (top-100 each) before the rank windows, so the full-outer RRF fuse joins two ≤100-row relations — corpus-sized data never reaches the join"),
    ("curation_dsir_weights", "both unigram LMs fold into ONE broadcast log-ratio table hash-joined map-side onto the token stream — the corpus text is never shuffled; the per-doc surprisal sum is a partial aggregate"),
    ("events_attribution_last_touch", "last-touch credit without a join: two IGNORE NULLS last_value frames over the SAME per-user ordered window resolve the preceding touch, then a map-side epoch-µs lookback check — one exchange total, no self-join"),
    # r8 third-wave (§2-Q) showcases
    ("stat_anova_f", "k-group inference in ONE scan: a single groupBy collapses the corpus to five sufficient-stat rows and the F/η² finish folds them via SSB = Σ(s²/n) − S²/N — no join, no re-scan, nothing row-scale after the first exchange"),
    ("scan_zorder_cluster", "the Morton-clustered read prunes to the selected z-range (1 of 8) via a runtime dynamicpruningexpression PartitionFilter with BOTH box predicates pushed to parquet — multi-dimensional pruning a 1-D layout cannot express (r10: selection is relational, no driver id list)"),
    # r9 showcases: the two-phase rank family + the fused ANN verify + BPE
    ("agg_quantiles_exact_multi", "ONE two-phase global rank pass (range exchange -> pid-local row_number -> broadcast offsets) feeding a map-side <=2-rows-per-quantile filter; no percentile UDAF, no single-partition sort"),
    ("agg_median_per_group_two_phase", "GROUPED two-phase rank: 5 hot groups range-partitioned across ALL partitions; offsets window partitioned by group"),
    ("curation_dsir_weights", "selection stage scale-true (r9): global keep-rank via rank2 with the doc total riding the broadcast offsets relation"),
    ("emb_dedup_ann_verified", "fused single-kernel verify: ONE MapInPandas over the raw LSH candidate stream (no intermediate pair relation, no second Arrow pass), candidate joins broadcast on the KB-scale bucket table"),
    ("tokenize_bpe_apply", "BPE encode as one row-local Catalyst expression per distinct pretoken (JVM-only, zero Python, no window or single-partition stage), corpus joins the vocab-sized token-count cache via BroadcastHashJoin"),
    # r10 showcases: relational pruning, deterministic compaction, chunking, IVF-PQ
    ("scan_manifest_pruned", "relational manifest pruning (r10): the bucket selection broadcast-semi-joins the partitioned scan and arrives as a dynamicpruningexpression PartitionFilter — no driver-side id list, prune scales with manifest size"),
    ("sink_compaction_binpack", "the bin-pack rewrite is scan -> ONE RoundRobin exchange -> write (deterministic target file count); stats row joins two bounded aggregates, file counts from _metadata on the actual read-back"),
    ("llm_chunk_windows", "concat-and-chunk attribution: rank2 two-phase global cumsum for doc offsets, map-side sequence() explode over touched windows, one window_id aggregate — no single-partition sort over the corpus"),
    ("sim_ann_ivf_pq", "IVF-PQ read path: codes from the broadcast-codebook Arrow kernel, ADC as a BroadcastHashJoin against the 128-row LUT + one sum — the index scan touches codes, never vectors"),
    ("sim_ann_ivf_pq_batch", "BATCHED IVF-PQ (r11): 50 probes served by ONE codes-table join — routing pairs join the exploded whole-corpus codes on vec_id, the (probe_id,s,c) LUT and routing ride broadcasts, per-probe top-k via a probe_id-partitioned window; <=6 parquet scans, no per-probe loop"),
    ("scan_snapshot_asof", "snapshot time travel (r11): BOTH AS-OF reads reach the (gen,bucket)-partitioned data through dynamicpruningexpression PartitionFilters fed by broadcast manifest selections — no full-history scan, no SortMergeJoin, no collected bucket list"),
    ("tokenize_bpe_train", "BPE training (r11): each round is one vocab-bounded pair-count shuffle + pt-partitioned run-parity windows; the output plan is a bounded LocalTableScan (the learned 16-row artifact) — nothing data-sized converges on the driver but the 1-row-per-round argmax"),
    ("agg_pandas_udaf_trimmed_mean", "GROUPED_AGG pandas UDF (r11): ObjectHashAggregate over Arrow batches for the UDAF, native counts in a parallel HashAggregate, rejoined via BroadcastHashJoin on the 5-row segment key"),
    # r11 second-half showcases: MOR read, partition evolution, nested
    # pruning, the capped LSH banding joins, and the co-occurrence miner
    ("scan_delete_vectors_mor", "merge-on-read deletes (r11): two-leg read — delete-free buckets pass ONLY a broadcast anti-join on the bucket set, delete-bearing buckets add a broadcast anti-join on the delete keys; no SortMergeJoin, deletes gathered by join from the delete files"),
    ("scan_partition_evolution", "partition-spec evolution (r11): BOTH specs' scans carry PartitionFilters on their own partition columns (y for v1; y AND mo for v2) — rows_scanned in the graded output is exactly what pruning admits per spec"),
    ("scan_nested_struct_prune", "nested schema pruning (r11): ReadSchema shrinks to the two fin leaves (meta struct never decoded) and the fin.total predicate lands in PushedFilters — 2 column chunks read of 5"),
    ("dedup_lsh_tuning_report", "LSH banding evaluation (r11): four cap-filtered band tables self-join as struct-equality equi-joins (per-bucket pair work <= CAP^2 by construction), ground truth rides the memoized bit-packed GEMM index — no uncapped all-pairs path exists in the plan"),
    ("graph_jaccard_neighbors", "co-purchase neighbor Jaccard (r11): open-triangle equi-join on the shared order key, >=2-co-occurrence filter before the degree joins, TakeOrderedAndProject top-k — no cartesian, no global sort"),
    # r12 showcases: MOR purge, atomic multi-table snapshots, incremental
    # CC by contraction, full-data rank stats, integer-lattice trainers
    ("sink_rewrite_purge_deletes", "MOR purge (r12): the rewrite leg is semi-join-scoped to delete-bearing buckets (broadcast bucket set + broadcast delete-key anti-join); the post state reads the COMMITTED clean files back — untouched buckets appear in neither write nor rewrite leg"),
    ("scan_snapshot_multi_table", "atomic two-relation snapshot (r12): orders and lineitem both resolve (rel, gen, bucket) through ONE shared manifest via broadcast semi-joins; the per-version join is co-bucketed on the order key, orphan check is a broadcast anti-join"),
    ("graph_cc_incremental", "incremental CC (r12): the delta wave joins the label table (not the graph), contracts to supernode edges, and the merge map comes back as a BroadcastHashJoin over labels — nothing accumulated-graph-sized shuffles in the delta path"),
    ("stat_kendall_tau_full", "full-data Kendall tau (r12): tie terms from three integer groupBys, discordances from ONE nation-grouped Arrow pass (FlatMapGroupsInPandas) — the O(n^2) pair join exists only in the oracle"),
    ("emb_pca_power_iteration", "hash-checked PCA (r12): one Arrow pass of order-free int64 Gram partials; the 96-step iteration is a driver-side model fit, so the output plan is a bounded LocalTableScan — the corpus is scanned exactly once"),
    ("tokenize_unigram_train", "unigram trainer (r12): each hard-EM round is ONE map-only Arrow segmentation pass against the broadcast vocab counts + ONE vocabulary-sized groupBy — the corpus pays a single scan into weighted pretoken counts"),
    ("emb_ivf_cell_split", "IVF cell split (r12): integer-lattice assignment via an int64 HOF fold against broadcast centroids; the 2-means split legs are semi-join-scoped to hot-cell members; both recall probes end in TakeOrderedAndProject top-10s"),
    ("scan_bloom_index_prune", "bloom file index (§2-W): the pruned read reaches the bucket-partitioned scan through a BroadcastHashJoin on the probe-hit file set — only bloom-hit directories are scanned; the index build is one distinct groupBy bounded by files x M bits"),
    ("scan_agg_pushdown_stats", "manifest-stats aggregation (§2-W): the full/aligned query legs aggregate ONLY the files-sized manifest relation (no data scan in the plan); the misaligned residual leg reaches the data through a broadcast join on the <=2 partial buckets"),
    ("dedup_minhash_weighted", "weighted banding (§2-W): the <=4x replica explode is map-side (no shuffle before the signature partial-min agg); band candidates come from the same broadcast band equi-join as the unweighted key; the wj verify joins candidates to term counts, never a union materialization"),
    ("emb_ivf_probe_autotune", "nprobe autotune (§2-W): ONE exact-distance pass (localCheckpoint) feeds the global rail AND all four nprobe candidate legs — the plan shows the reuse, not four recomputed distance scans"),
    ("stat_wilcoxon_signed_rank", "paired rank stat (§2-W): ranks never materialize — per-|d| tie blocks via one groupBy + rank2's two-phase cumulative count; no unpartitioned window, no global sort"),
    ("text_feature_hashing", "feature hashing (§2-W): the codepoint-polynomial fold runs once per DISTINCT token (exchange on token), then a broadcast join back onto the corpus multiset; everything downstream is integer partial aggregation"),
    ("stat_cliffs_delta", "ordinal effect size (§2-Y): NO pair join anywhere — per-(segment,value) counts + rank2's two-phase global cumulative + a PARTITIONED per-segment cumulative; the only scans are orders and customer, once each"),
    ("win_running_distinct", "running distinct rewrite (§2-Y): COUNT(DISTINCT) OVER is illegal, so the plan is first-occurrence-flag window (user,type) -> cumsum window (user) -> groupBy — every window PARTITIONED, two user-keyed exchanges total"),
    ("text_bigram_lm_logprob", "bigram LM scoring (§2-Y): vocab-bounded unigram/bigram count tables equi-join the bigram stream on token keys (no forced broadcast — AQE decides); the per-doc sum aggregates integer micro-nats, map-side combinable"),
]


def main() -> None:
    from upflow_spark import QUERIES
    from upflow_spark.session import get_spark

    spark = get_spark("upflow-plans")
    out = [
        "# PLANS — physical-plan evidence for the scale claims",
        "",
        "Generated by `tools/gen_plans.py` (sf0.001 inputs; plan shape is",
        "scale-invariant for these keys, only row estimates change).",
        "Mechanical twins of these claims live in `tests/test_plans.py`.",
        "",
    ]
    for key, claim in SHOWCASE:
        if key == "sink_bucketed_join":
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = QUERIES[key](spark, SF)
        if key == "sink_bucketed_join":
            df._jdf.queryExecution().executedPlan()  # pin under the conf
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the operator tree + the scan details; drop codegen-id noise
        plan = re.sub(r" \[codegen id : \d+\]", "", plan)
        out += [f"## {key}", "", f"**Claim:** {claim}", "", "```", plan.rstrip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written: {len(SHOWCASE)} plans", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
