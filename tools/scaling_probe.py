"""Scale-ramp probe: time representative operators across the three
testdata scale factors and report the growth exponent.

For each probed query, fit runtime ~ rows^alpha over the 100× ramp
(sf0.001 → sf0.1). Linear operators show alpha ≈ 1 (fixed overhead
pulls it below 1 at these sizes); anything super-linear (alpha >> 1,
e.g. an accidental O(n²) pair blowup) stands out immediately — this is
the cheap local stand-in for the 1000-executor question "does the plan
hold at 100×?".

Usage: python tools/scaling_probe.py [--md SCALING.md] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")

SF_DIRS = [
    ("/root/testdata/sf0.001", 0.001),
    ("/root/testdata/sf0.01", 0.01),
    ("/root/testdata/sf0.1", 0.1),
]

# Default probe set: the heavy hitters + one per operator family.
DEFAULT = [
    "pricing_summary",       # partial+final hash agg
    "star_join_revenue",     # broadcast star join
    "sessionize_events",     # window functions
    "asof_attribution",      # union-scan asof join
    "minhash_pairs",         # LSH banding (the O(n²) trap, avoided)
    "jaccard_near_dups",     # candidate verify join
    "dedup_exact_docs",      # content-hash agg
    "chunk_documents",       # generate fan-out
    "cosine_topk",           # brute-force similarity
    "embedding_near_dups",   # bucketed vector near-dup
    "curated_corpus",        # composite curation pipeline
    "ivf_topk_kmeans",       # Lloyd quantizer + probed search
    "decontaminate_ngrams",  # n-gram overlap join
    "pack_training_sequences",  # per-shard packing window
    "tfidf_top_terms",       # two grouped aggs + scalar broadcast
    "repetition_ratio_docs", # sorted-run in-row fold (O(g log g)/doc)
    "pq_topk_adc",           # PQ codebook train + ADC search
    "bm25_retrieval",        # posting agg + broadcast stats + top-k
    "unigram_logprob_docs",  # LM table + probe join + fixed-point mean
    "duplicate_spans_docs",  # fingerprint count + per-doc rollup
    "semantic_dedup_kmeans", # Lloyd cells + within-cell pairs
    "curated_corpus_v3",     # round-4 capstone composition
    "ivfpq_topk_adc",        # coarse cells + residual PQ + ADC probe
    "pagerank_dedup_graph",  # iterative edge shuffles, fixed rounds
    "cms_heavy_hitters",     # bounded-state sketch build + probe
    "leakage_safe_split",    # components + component-keyed hash split
    "q18_big_orders",        # fact-fact join + having
    "scd2_orders_status",    # history merge
    "burst_events_window",   # bin-bucketed pure range self-join
    "session_concurrency_daily",  # distributed prefix-sum sweep
    "overlapping_sessions",  # interval x interval overlap join
    "knn_graph",             # all-vectors bucket-keyed k-NN self-join
    "decontaminate_embeddings",  # asymmetric train x eval bucket join
    "basket_part_pairs",     # within-order pair fan-out (bounded k^2)
    "funnel_view_click_purchase",  # stacked conditional window-mins
    # round 7-8 heavies
    "rfm_segments",          # chained distributed ranks + ntile buckets
    "revenue_gini",          # global-rank prefix sum + rational finish
    "session_paths_top",     # in-row path sort per gap session
    "bpe_train_merges",      # K merge rounds: score/argmax/fold-apply
    "substring_dedup_spans", # window fingerprints + in-row coverage
    "ivm_minmax_recompute",  # checkpointed base + broadcast-pruned legs
    # round 9
    "bpe_encode_corpus",     # train + single chained-fold encode scan
    "phash_near_dup_assets", # Arrow pHash + Hamming-banded self-join
    "streaming_ivm_revenue", # micro-batched signed fold into state
    "ivm_distinct_support",  # support-count distinct maintenance
    "streaming_phash_assets",  # ingest-time Arrow fingerprint map
    "triangle_count_dedup",  # wedge/closing joins on checkpointed edges
    "incremental_dedup_batch",  # asymmetric batch-vs-base dedup probes
    "pipe_syntax_pack",      # |> sugar lowered to the nested plan
    "observed_write_metrics",  # df.observe in-flight accumulators
    "streaming_incremental_dedup",  # ingest-tick dedup in foreachBatch
    # round 10
    "trailing_active_users",   # day-grain pairs ×28 offset expansion
    "rollup_cascade_daily",    # hour→day mergeable-state re-merge
    "streaming_rollup_cascade",  # foreachBatch fold of hourly partials
    "robust_stats_orders",     # ranked quantile agg + dev/clamp passes
    "bucketed_colocated_join", # bucketed write + exchange-free SMJ
    "containment_near_dups",   # df-capped posting self-join + verify
    "bin_pack_nextfit",        # per-shard sequential Arrow packing loop
    "corpus_drift_chi2",       # token counts + 1-row totals broadcast
    "sql_variables_pack",      # scalar-subquery variable + exec immediate
    # round 10, wave 2
    "time_weighted_avg_daily",   # one type-clustered window + rollup
    "counter_rate_resets",       # user-clustered cumsum/lag/rollup chain
    "pmi_collocations",          # two grouped counts + pinned vocab joins
    "cdc_out_of_order_apply",    # in-row explode + one max_by aggregate
    "streaming_cdc_apply",       # foreachBatch latest-wins fold
    "bfs_dedup_distance",        # per-level frontier join, pinned lineage
    "quantile_rollup_cascade",   # histogram-grain exchanges after one pass
    "hll_merge_days",            # register partials, max-merge, estimate
    "partition_pruned_scan",     # day-partitioned write + pruned scan
    "null_semantics_pack",       # five broadcast(-anti) legs, UNION ALL
    "er_golden_record",          # blocked pairs + closure + one max_by
    "streaming_quantile_cascade",  # foreachBatch histogram-state fold
    "skyline_pareto_orders",     # price-grain frontier decomposition
    "multi_touch_attribution",   # user-keyed trailing-window credit join
    # round 11
    "merge_cdf_ivm_roundtrip",   # 3 CDF commits + feed-only signed fold
    "merge_cdf_join_ivm",        # feed ⋈ broadcast dim → segment state
    "merge_sql_multi_clause",    # clause-ladder CASE over one full-outer
    "quarantine_ingest_events",  # PERMISSIVE parse + dead-letter sink
    "skew_join_hot_keys",        # hot-key fact-fact SMJ fanout
    "zorder_skipping_report",    # 2 grid writes + footer skip report
    "sql_scripting_pack",        # ~17 scripted probes on histogram state
    "bitmap_distinct_users",     # mask partials + OR-merge + popcount
    "streaming_bitmap_distinct", # foreachBatch OR-fold into state
    "bitmap_audience_overlap",   # one bucket-grain conditional rollup
    "ngram_novelty_docs",        # shingle-keyed first-occurrence window
    "funnel_time_to_convert",    # user rollups + value-grain rank walk
    "multimodal_arrow_stats",    # mapInArrow byte-class map stage
    "schema_evolution_read",     # two-schema append + mergeSchema scan
    "collation_pack",            # collated-key grouped aggregate
    "cdf_squash_roundtrip",      # net-change min_by/max_by aggregate
    "k_anonymity_report",        # QI-cell census + one-row rollup
    "udf_iter_text_scores",      # scalar-iterator pandas UDF map stage
    "prefix_filter_near_dups",   # df-ordered prefix posting self-join
    "weighted_median_prices",    # weighted value-grain rank walk
    "q21_sole_late_supplier",    # fact join + order-grain window counts
    "cep_pattern_funnel",        # per-user lead() pattern match
    "range_frame_peak_window",   # RANGE-frame sliding sum per user
    "q2_min_cost_supplier",      # cost-grain agg + per-part window min
    "spatial_grid_knn",          # 9-cell candidates + struct-min refine
    "dpp_partitioned_join",      # partitioned write + dynamic-pruned probe
    "approx_quantile_certified",  # GK sketch + rank-cert rider
    "streaming_cep_funnel",      # boundary-tail fold per micro-batch
    # round 12
    "file_lineage_scan",         # landing write + input_file_name census
    "misra_gries_heavy_hitters", # partition summaries + exact recount
    "mmr_rerank_topk",           # candidate gen + per-query greedy UDF
    "cep_kleene_funnel",         # running-anchor window matcher
    "streaming_cep_kleene",      # cap+1 boundary tail fold
    "history_skip_scan",         # 2 merges + footer stats + pruned scans
    "table_diff_audit",          # digest passes + drill-down diff
    "streaming_misra_gries",     # k-row summary fold + shared recount
    "partition_evolution_read",  # two spec writes + pruned union read
    # round 13
    "partition_evolution_history",  # versioned evolve + x-boundary merge
    "mmr_rerank_stored",         # index build + pruned probe + greedy
    "streaming_partition_evolution",  # cutover ingest + union read
    "manifest_skipping_read",    # manifest-planned pruned scans
    "evolved_merge_cdf",         # per-layout scoped change feed + fold
    "containment_near_dups_dense",  # measured pair-density bound (below)
    # round 14
    "partition_spec_rollback",   # evolve -> rollback -> 3-layout merge
    "sharded_manifest_read",     # sharded census + distributed planning
    "cdf_retention_feed",        # 4 CDF commits + retention + feed fold
    "evolved_subject_delete",    # per-layout leaf-scoped GDPR rewrite
    "evolved_compaction_read",   # per-layout leaf-grain compaction
    "manifest_planning_filecount",  # planning cost vs FILE COUNT (below)
    # round 15
    "cdf_compacted_feed_ivm",    # retention-time net squash + feed fold
    "lakehouse_daily_report",    # landed table + sharded-census report
    "evolved_layout_pruned_read",  # per-layout shards, whole-layout prune
]


def _containment_dense(spark, sf_dir):
    """DENSIFIED containment probe (VERDICT r12 item 8): the gated
    query's alpha (~0.74 at the natural corpus) is PAIR-DENSITY-bound,
    not row-bound — cost model in ``dedup.containment_pairs``'s
    docstring. This probe measures that bound instead of asserting it:
    every document gains a mutated near-copy, so rows double and the
    per-shingle posting density doubles → candidate-pair work ≈ 4× the
    natural corpus at the same sf, while the ramp's alpha must STAY
    sublinear (the df_cap keeps per-shingle fanout bounded no matter
    the density)."""
    from pyspark.sql import functions as F

    from etl_end_to_end_airflow_bigquery_spark.io import load_table
    from etl_end_to_end_airflow_bigquery_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.select(
        (F.col("doc_id") + 100_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" densify probe tail")).alias("text"),
    )
    return D.containment_pairs(docs.unionByName(dup))


def _manifest_filecount(spark, sf_dir):
    """FILE-COUNT ramp for manifest planning (VERDICT r13 item 3: 'a
    SCALING probe over file count, not just row count'): the versioned
    table is committed with a file count scaling 100x across the ramp
    (32 -> 3200 via range-repartition on event_id, so files segregate
    the skipped column), every file's min/max recorded inline in the
    snapshot sidecar, then read_table_skipping plans a narrow event_id
    band from that census. Times the whole commit+plan+scan path; what
    must stay sublinear is planning as #files grows — the commit-time
    footer walk and the per-file keep/skip loop are both O(#files)
    with small constants, never O(rows)."""
    import os

    from pyspark.sql import functions as F

    from etl_end_to_end_airflow_bigquery_spark.io import load_table
    from etl_end_to_end_airflow_bigquery_spark.operators import writers
    from etl_end_to_end_airflow_bigquery_spark.tmputil import session_tmpdir

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[1])
    n_files = max(8, int(32000 * sf))
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    path = os.path.join(session_tmpdir("mfc_"), "tbl")
    vdir = writers._next_version_dir(path)
    ev.repartitionByRange(n_files, "event_id").write.parquet(vdir)
    writers._commit_version(path, vdir, keep_versions=1, partition_spec=[])
    hi = int(ev.count() * 0.02)
    pruned = writers.read_table_skipping(
        spark, path, {"event_id": (0, hi)}
    )
    return pruned.filter(F.col("event_id") <= hi).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
    )


# Probe-only workloads (not registry queries — the gate invariant keeps
# every registered query driver-gated, and these exist purely to
# measure a documented cost bound on synthetic density / file count).
EXTRA_PROBES = {
    "containment_near_dups_dense": _containment_dense,
    "manifest_planning_filecount": _manifest_filecount,
}


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    md_out = None
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--md":
            md_out = argv[i + 1]
    if md_out in args:
        args.remove(md_out)
    names = args or DEFAULT

    from etl_end_to_end_airflow_bigquery_spark.plans import QUERIES
    from etl_end_to_end_airflow_bigquery_spark.session import get_spark

    spark = get_spark("scaling_probe")
    # warm the JVM so sf0.001 times aren't dominated by first-run setup
    QUERIES["pricing_summary"](spark, SF_DIRS[0][0]).write.format(
        "noop"
    ).mode("overwrite").save()

    results = []
    for name in names:
        fn = QUERIES[name] if name in QUERIES else EXTRA_PROBES[name]
        times = []
        for sf_dir, sf in SF_DIRS:
            best = math.inf
            for _ in range(2):  # min-of-2, same protocol as bench.py
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            times.append(best)
        # growth exponent over the full 100× ramp; fixed overhead makes
        # this an overestimate-resistant lower bound on linearity
        alpha = math.log(times[2] / times[0]) / math.log(100)
        results.append((name, times, alpha))
        print(
            f"{name:28s} "
            + " ".join(f"{t:7.3f}s" for t in times)
            + f"  alpha={alpha:.2f}"
        )

    bad = [r for r in results if r[2] > 1.15]
    print(
        f"\n{len(results)} probed, "
        + (f"{len(bad)} SUPER-LINEAR: {[r[0] for r in bad]}" if bad else
           "all within linear growth (alpha <= 1.15)")
    )

    if md_out:
        with open(md_out, "w") as f:
            f.write(
                "# Scale-ramp probe\n\n"
                "Auto-generated by `tools/scaling_probe.py`: min-of-2 "
                "runtime into the noop sink at each testdata scale "
                "factor, and the fitted growth exponent alpha over the "
                "100× ramp (runtime ~ rows^alpha). Linear operators show "
                "alpha <= 1 at these sizes (fixed per-query overhead "
                "dilutes the ramp); alpha >> 1 would mean a pair blowup "
                "or other super-linear shape that cannot survive 100 TB."
                "\n\n| query | sf0.001 | sf0.01 | sf0.1 | alpha |\n"
                "|---|---|---|---|---|\n"
            )
            for name, times, alpha in results:
                f.write(
                    f"| {name} | {times[0]:.3f}s | {times[1]:.3f}s "
                    f"| {times[2]:.3f}s | {alpha:.2f} |\n"
                )
        print(f"wrote {md_out}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
