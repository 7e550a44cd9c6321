"""Physical-plan audit over every registered query.

For each ``queries()`` entry, build the DataFrame at the given sf dir
and inspect the executed plan for the properties that decide 100 TB
behavior: exchange count, join strategies, whole-stage codegen, scan
pushdown, and the red flags (CartesianProduct, BroadcastNestedLoopJoin,
row-at-a-time Python UDFs, and SPREAD_BYPASSED: an in-row fold filtered
below the round-robin exchange of ``io.spread_small_scan``).

Usage:
    python tools/plan_audit.py [sf_dir] [--md PLANS.md] [query ...]

Streaming queries (every ``streaming_*`` registry name) are audited on
their EXECUTED micro-batch physical plan (VERDICT r07 item 3): each
function records its terminated query's last-execution plan in
``queries_stream.MICROBATCH_PLANS``, and the audit counts the
streaming-specific operators — StateStoreSave, StreamingDeduplicate,
session-window state stores, stream-stream symmetric hash joins,
(flat)MapGroupsWithState / TransformWithState — plus exchanges, the
way the batch rows count joins and shuffles.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

# Arrow-batched Python stages that are the documented design (multimodal
# codecs, pandas stats) — ArrowEvalPython/MapInPandas there is expected.
ARROW_OK = {
    "multimodal_decode",
    "multimodal_features",
    "multimodal_resize",
    "multimodal_meta",
    "frame_sample_assets",
    "phash_near_dup_assets",  # perceptual hash rides the Arrow decode path
    "grouped_stats_pandas",
    # §2.10 Spark-4 Python UDTF surface demo (Arrow-batched table
    # function, oracle-equal to the JVM chunker by design)
    "chunk_documents_udtf",
    # genuinely sequential per-shard greedy packing loop — the
    # legitimate applyInPandas case, oracle-matched to a recursive CTE
    "bin_pack_nextfit",
    # the scalar-iterator pandas UDF surface demo (r11): Arrow-batched
    # by construction, value-checked against an engine-function oracle
    "udf_iter_text_scores",
    # r12: per-partition Misra-Gries summaries — the mapInPandas stage
    # IS the operator (bounded dict per partition, <= k rows emitted);
    # the recount stage is JVM-side
    "misra_gries_heavy_hitters",
    # r12: per-query greedy MMR in grouped applyInPandas — O(k*fanout)
    # per group by design, oracle-matched to the SQL argmax ladder
    "mmr_rerank_topk",
    # r13: the SAME greedy stage over stored-index candidates — the
    # serving path; the pandas stage is the operator by design
    "mmr_rerank_stored",
    # r15 (guide §4.2): the BPE trainer/encoder greedy-merge kernel is
    # an Arrow-batched mapInPandas sweep — the Catalyst fold chain it
    # replaces spent ~40% of wall in per-round plan analysis and its
    # per-task expression setup swallowed the scan parallelism; the
    # Python kernel is pytest-pinned to both in-row folds and the
    # queries stay oracle-hash-equal
    "bpe_train_merges",
    "bpe_encode_corpus",
}

# Queries that may keep a lambda-bearing Filter below the round-robin
# exchange of ``io.spread_small_scan`` (flag SPREAD_BYPASSED), each with
# the reason its filter cannot move above the spread. None today.
SPREAD_OK: dict[str, str] = {}

_TREE_PREFIX = re.compile(r"[ :+\-]*")
_FILTER_NODE = re.compile(r"(\*\(\d+\) )?Filter ")


def spread_bypassed(plan: str) -> bool:
    """True iff a ``Filter`` whose condition holds a lambda (a
    higher-order-function fold) sits below an ``Exchange
    RoundRobinPartitioning`` in a physical-plan tree string: the fold
    then runs on the one scan task that ``io.spread_small_scan`` (see
    its docstring) exists to spread, and again above the exchange."""
    spreads: list[int] = []  # depths of the enclosing round-robin exchanges
    for line in plan.splitlines():
        depth = _TREE_PREFIX.match(line).end()
        node = line[depth:]
        while spreads and spreads[-1] >= depth:
            spreads.pop()
        if spreads and _FILTER_NODE.match(node) and "lambdafunction" in node:
            return True
        if node.startswith("Exchange RoundRobinPartitioning"):
            spreads.append(depth)
    return False


# Queries whose BroadcastNestedLoopJoin builds a ≤-handful-of-rows side —
# a scalar aggregate (q22's avg-balance threshold) or a one-row literal
# table (the ANN hyperplane/centroid seeds, the cosine query set). A
# one-row broadcast cross is O(n) work at any scale; the flag exists to
# catch *unintended* cross products, so these verified sites pass.
BNLJ_OK = {
    "q22_idle_customers",
    "cosine_topk",
    "ann_lsh_topk",
    "ann_lsh_multiprobe",
    "ann_lsh_multitable",
    "ivf_topk",
    "ivf_topk_nprobe",
    "embedding_near_dups",
    "knn_graph",  # same 8-row hyperplane broadcast as ann_lsh_topk
    "decontaminate_embeddings",  # same 8-row hyperplane broadcast
    "rfm_segments",  # two 1-row scalar crosses (corpus max-date, n)
    "tfidf_top_terms",  # 1-row corpus-size scalar broadcast
    "bm25_retrieval",  # 1-row (N, avgdl) corpus-stats scalar broadcast
    "unigram_logprob_docs",  # 1-row (T, V) LM-normalizer scalar broadcast
    "curated_corpus_v3",  # same 1-row LM-normalizer broadcast as unigram
    "bigram_logprob_docs",  # 1-row (T, V) LM-normalizer scalar broadcast
    "mix_sources_tokens",  # 1-row (total, n_sources) scalar broadcast
    "ivfpq_topk_adc",  # K-centroid + M*K-codebook broadcasts + probe rank
    # r15 in-row ADC: the one-row codebook broadcast (_cb_attach) and
    # the 5-row query-LUT broadcast cross replace the (s, code) join +
    # score aggregation — same bounded-side pattern as ivfpq_topk_adc
    "pq_topk_adc",
    "dq_expectations_orders",  # 1-row totals frame joined to the report
    "ivfpq_rerank_topk",  # same bounded broadcasts as ivfpq_topk_adc
    "hybrid_rrf_retrieval",  # 1-row dense query vector broadcast cross
    "triangle_count_dedup",  # two 1-row census frames crossed at the end
    "corpus_drift_chi2",  # 1-row (S1, S2) side-totals scalar broadcast
    "pmi_collocations",  # 1-row corpus-token-total scalar broadcast
    "funnel_time_to_convert",  # 1-row (cuts, n) scalar broadcast cross
    "misra_gries_heavy_hitters",  # 1-row corpus-total scalar broadcast
    "mmr_rerank_topk",  # 5-row query-side broadcast cross (cosine_topk)
    # r13 serving path: the same bounded broadcasts as ivfpq_topk_adc
    # (K centroids, M*K codebooks, 5-row query side) feeding the rerank
    "mmr_rerank_stored",
}

# Structurally-high exchange counts with a justification.
EXCHANGES_OK = {
    # union of N independent LSH tables: exchanges scale with the table
    # count (each table's band join is bounded); not a per-row blowup.
    "ann_lsh_multitable",
    # candidate-generation + exact-verify pipelines: LSH banding join,
    # then the shingle/vector frames joined back to both pair sides.
    # ReusedExchange (asserted in test_plan_shapes) keeps each corpus
    # derivation computed once; the count is stages, not amplification.
    "jaccard_near_dups",
    # the asymmetric batch-vs-base variant of the same pipeline (exact
    # probe + band join + verify, base tokenized once behind a reused
    # exchange, batch side broadcast); fixed depth, base never paired
    # with itself.
    "incremental_dedup_batch",
    # the containment variant: df-capped posting self-join + two verify
    # joins, ALL hanging off the one checkpointed tokenization (audit
    # row shows scans=0); fixed candidate-verify depth, never
    # data-size amplification.
    "containment_near_dups",
    # the PPJoin variant: DF aggregate + ordered-prefix build + prefix
    # posting self-join + two verify joins, all off the one
    # checkpointed tokenization (scans=0); fixed depth — the extra
    # stages vs banding ARE the losslessness guarantee, never
    # data-size amplification.
    "prefix_filter_near_dups",
    "embedding_near_dups",
    # near_dups' pipeline with the bucketed frame filtered into train /
    # eval sides (one extra keyed exchange); fixed depth, no blowup.
    "decontaminate_embeddings",
    # fixed pipeline depth: tf agg, df agg, token join, per-doc rank —
    # four keyed shuffles regardless of corpus size.
    "tfidf_top_terms",
    # same fixed depth as tfidf (tf agg, df agg, score agg, top-k rank);
    # the tf posting aggregate is localCheckpoint-pinned so the corpus
    # tokenize/shuffle runs once — the remaining count is pipeline
    # stages, never data-size amplification.
    "bm25_retrieval",
    # the v2 capstone composes the LSH near-dup pipeline (itself in this
    # list as jaccard_near_dups) with the curation + decontamination
    # stages; exchange count is the sum of its verified sub-pipelines,
    # not data-size amplification.
    "curated_corpus_v2",
    # r12 reconciliation protocol: FIXED depth by construction — one
    # digest aggregate per side (shuffle = 64 bucket rows), the 64-row
    # digest full-outer, then the drill-down re-read of each side
    # (re-reading from storage at level 2 IS the protocol: nothing row
    # grain is retained from level 1) + the key full-outer on the
    # drifted slice. Exchange count is protocol stages; the data-sized
    # shuffles are the two bucket-grain digest folds only.
    "table_diff_audit",
    # fixed pipeline depth: first-view window/rollup on user, purchase
    # rollup on user, value-grain latency rollup, singleton rank walk —
    # four keyed stages regardless of table size, never amplification.
    "funnel_time_to_convert",
    # two bounded fact passes (register partials; the exact-count rider
    # the docstring says you'd drop at 100 TB) + register-grain
    # re-merges and the estimate finish — fixed depth, every post-scan
    # frame is ≤ |groups|·64 rows, never data-size amplification.
    "hll_merge_days",
    # the v3 capstone composes the four round-4 signal pipelines
    # (classifier, unigram LM, duplicate spans — each in this list or
    # under 6 exchanges alone) + the dedup window; fixed pipeline
    # depth, not data-size amplification.
    "curated_corpus_v3",
    # two inherent corpus passes (per-source totals, then the bucket
    # cut) + the bounded checkpointed rates table; fixed depth.
    "mix_sources_tokens",
    # bucket-keyed self-join for the all-vectors k-NN graph: the
    # bucketed-vectors frame feeds both join sides through ONE
    # ReusedExchange (the explicit repartition barrier, asserted in the
    # audit row's reused column); the printed count is the candidate
    # pipeline's two branches, not data-size amplification.
    "knn_graph",
    # the subtree ABOVE global_cumsum's persist point (sessionize +
    # range repartition) prints in both the per-partition-window branch
    # and the partition-totals branch of the STATIC plan, but the
    # persist (required for range-boundary consistency — see
    # relational.global_cumsum) executes it once; the deduplicated
    # depth is ~4 keyed shuffles, fixed.
    "session_concurrency_daily",
    # demo query reports sketch estimate NEXT TO the exact distinct
    # count: the exact branch's expand+shuffle exists only for the
    # side-by-side; the sketch itself is two bounded-state aggregates.
    "hll_distinct_users",
    # r13 serving path: stored-index probe search (reads the persisted
    # centroids/codebooks/codes — the training exchanges happen at
    # BUILD time inside the same gated fixture) + exact rerank of the
    # bounded candidate set + the per-query greedy; fixed pipeline
    # depth, exchanges never scale with corpus size.
    "mmr_rerank_stored",
    # two count-table builds (bigram, unigram) + three probe joins +
    # the per-doc mean: fixed LM-pipeline depth, never data-size
    # amplification.
    "bigram_logprob_docs",
    # triangle census over the CHECKPOINTED edge list: wedge join,
    # closing join, degree/und aggregates — fixed census depth; the
    # wedge fan-out is bounded by dup-cluster degree, not corpus size.
    "triangle_count_dedup",
    # composes the full BM25 leg (exempted above) with a single-query
    # dense leg and a 10-row fusion join; fixed pipeline depth.
    "hybrid_rrf_retrieval",
    # sketch pass + certification rider (two conditional rank counts
    # against the broadcast per-flag answers) + the exact-walk
    # reference median: three bounded fact passes, fixed depth — the
    # rider and reference exist only to certify the sketch (the
    # serving path is the first aggregate alone, docstring says which
    # parts you'd drop at 100 TB); never data-size amplification.
    "approx_quantile_certified",
}


def audit(spark, name: str, df) -> dict:
    # Execute first: Spark 4 wraps every exchange-bearing plan in
    # AdaptiveSparkPlan, and the true topology (runtime join strategy,
    # ReusedExchange dedup, codegen spans) only exists in the *final*
    # adaptive plan. Gate queries return gate-sized results, so the
    # collect is bounded.
    df.collect()
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    cg = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        qe, "codegen"
    )
    n_codegen = int(cg.split(" WholeStageCodegen subtree")[0].rsplit(" ", 1)[-1])
    return {
        "name": name,
        "exchanges": plan.count("Exchange hashpartitioning"),
        "range_exchanges": plan.count("Exchange rangepartitioning"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "scans": plan.count("FileScan parquet") + plan.count("Scan parquet"),
        "reused": plan.count("ReusedExchange"),
        "codegen": n_codegen,
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "python_row": plan.count("BatchEvalPython"),
        "python_arrow": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "spread_bypassed": spread_bypassed(plan),
    }


# Streaming queries with no state-store operator by design (plus which
# node carries their statefulness instead).
STREAM_STATELESS_OK: dict[str, str] = {
    # per-batch foreachBatch fold; the durable state is the versioned
    # parquet state table, not the engine state store — by design
    "streaming_ivm_revenue": "foreachBatch IVM fold into parquet state",
    # pure map fingerprint stage at ingest — no keyed state by design;
    # the banded pair join runs downstream on the accumulated table
    "streaming_phash_assets": "stateless Arrow map stage (ingest pHash)",
    # per-tick batch-vs-base dedup probes in foreachBatch; verdicts
    # depend only on the static base — no keyed state by design
    "streaming_incremental_dedup": "foreachBatch asymmetric dedup probes",
    # per-batch foreachBatch fold of mergeable hourly partials into the
    # versioned parquet rollup state — durable state on disk by design
    "streaming_rollup_cascade": "foreachBatch rollup fold into parquet state",
    # per-batch foreachBatch latest-wins fold (max_by seq) into the
    # versioned parquet state table — durable state on disk by design
    "streaming_cdc_apply": "foreachBatch latest-wins CDC fold into parquet state",
    # per-batch foreachBatch fold of value-grain histogram partials into
    # the versioned parquet state — durable state on disk by design
    "streaming_quantile_cascade": "foreachBatch histogram fold into parquet state",
    # per-batch foreachBatch OR-fold of membership masks into the
    # versioned parquet state — durable state on disk by design
    "streaming_bitmap_distinct": "foreachBatch bitmap OR-fold into parquet state",
    # per-batch foreachBatch CEP: boundary tails + mergeable match
    # counts live in versioned parquet state — durable state on disk
    "streaming_cep_funnel": "foreachBatch boundary-tail CEP fold into parquet state",
    # per-batch foreachBatch Kleene CEP: cap+1 boundary tails + mergeable
    # match partials live in versioned parquet state — durable on disk
    "streaming_cep_kleene": "foreachBatch Kleene boundary-tail fold into parquet state",
    # per-batch foreachBatch MG summary merge + k-row re-prune into the
    # versioned parquet state — durable, bounded at k rows by design
    "streaming_misra_gries": "foreachBatch MG merge-then-prune fold into parquet state",
    # per-batch foreachBatch landing append routed by the row's date —
    # spec cutover ingest; the zone on disk IS the state, idempotent
    # via deterministic (batch, leaf, ordinal) file names — by design
    "streaming_partition_evolution": (
        "foreachBatch spec-routed idempotent landing appends"
    ),
}


def audit_streaming(spark, name: str, fn, sf_dir: str) -> dict:
    """Run the availableNow stream (the function executes it) and audit
    the captured micro-batch physical plan."""
    from etl_end_to_end_airflow_bigquery_spark.plans import queries_stream

    # Clear before the run (ADVICE r8): MICROBATCH_PLANS persists across
    # runs in one session, so a capture failure here must surface as
    # NO_CAPTURED_PLAN, never as a stale plan from a prior run.
    queries_stream.MICROBATCH_PLANS.pop(name, None)
    try:
        fn(spark, sf_dir).collect()
    except Exception as e:  # noqa: BLE001 — audit must cover all
        return {"name": name, "flags": [f"RUN_ERR:{type(e).__name__}"]}
    plan = queries_stream.MICROBATCH_PLANS.get(name)
    if plan is None:
        return {"name": name, "flags": ["NO_CAPTURED_PLAN"]}
    # Word-boundary-aware counts (ADVICE r8): 'StateStoreSave' is a
    # substring of 'SessionWindowStateStoreSave', and bare
    # 'SessionWindowStateStore' matches both the Save and Restore
    # nodes — session-window queries were double-counted.
    sw_save = plan.count("SessionWindowStateStoreSave")
    r = {
        "name": name,
        "state_stores": plan.count("StateStoreSave") - sw_save,
        "dedup": plan.count("StreamingDeduplicate"),
        "session_win": sw_save,
        "sym_join": plan.count("StreamingSymmetricHashJoin"),
        "stateful_py": plan.count("FlatMapGroupsInPandasWithState")
        + plan.count("TransformWithStateInPandas"),
        "exchanges": plan.count("Exchange hashpartitioning"),
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "python_row": plan.count("BatchEvalPython"),
        "flags": [],
    }
    stateful = (
        r["state_stores"] + r["dedup"] + r["session_win"]
        + r["sym_join"] + r["stateful_py"]
    )
    if stateful == 0 and name not in STREAM_STATELESS_OK:
        r["flags"].append("NO_STREAMING_STATE_OP")
    if r["cartesian"]:
        r["flags"].append("CARTESIAN")
    if r["bnlj"]:
        r["flags"].append("BNLJ")
    if r["python_row"]:
        r["flags"].append("ROW_PYTHON_UDF")
    return r


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    md_out = None
    for i, a in enumerate(sys.argv[1:]):
        if a == "--md":
            md_out = sys.argv[1:][i + 1]
    if md_out in args:
        args.remove(md_out)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from etl_end_to_end_airflow_bigquery_spark.session import get_spark

    spark = get_spark("plan_audit")
    rows, flagged, stream_rows = [], [], []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        if name.startswith("streaming_"):
            r = audit_streaming(spark, name, fn, sf_dir)
            stream_rows.append(r)
            if r.get("flags"):
                print(f"{name:32s} STREAMING !! {','.join(r['flags'])}")
                flagged.append(name)
            else:
                print(
                    f"{name:32s} STREAMING state={r['state_stores']} "
                    f"dedup={r['dedup']} sesswin={r['session_win']} "
                    f"ssjoin={r['sym_join']} stateful={r['stateful_py']} "
                    f"exch={r['exchanges']}"
                )
            continue
        try:
            r = audit(spark, name, fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — audit must cover all
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:200]}")
            flagged.append(name)
            continue
        rows.append(r)
        flags = []
        if r["cartesian"]:
            flags.append("CARTESIAN")
        if r["bnlj"] and name not in BNLJ_OK:
            flags.append("BNLJ")
        if r["python_row"]:
            flags.append("ROW_PYTHON_UDF")
        if r["python_arrow"] and name not in ARROW_OK:
            flags.append("ARROW_PYTHON(unexpected)")
        if r["exchanges"] > 6 and name not in EXCHANGES_OK:
            flags.append(f"EXCHANGES={r['exchanges']}")
        if r["spread_bypassed"] and name not in SPREAD_OK:
            flags.append("SPREAD_BYPASSED")
        tag = " !! " + ",".join(flags) if flags else ""
        print(
            f"{name:32s} exch={r['exchanges']}+{r['range_exchanges']}r "
            f"bhj={r['bhj']} smj={r['smj']} scans={r['scans']} "
            f"reused={r['reused']} "
            f"codegen={r['codegen']}{tag}"
        )
        if flags:
            flagged.append(name)

    print(f"\n{len(rows)} batch + {len(stream_rows)} streaming audited, "
          f"{len(flagged)} flagged" + (f": {flagged}" if flagged else ""))

    if md_out:
        with open(md_out, "w") as f:
            f.write(
                "# Physical-plan audit\n\n"
                f"Auto-generated by `tools/plan_audit.py` at `{sf_dir}`.\n"
                "Exchanges = hash + range shuffles; flags mark plan shapes "
                "that do not survive scale.\n\n"
                "| query | exchanges | broadcast | sort-merge | scans | "
                "reused-exchange | codegen | flags |\n"
                "|---|---|---|---|---|---|---|---|\n"
            )
            for r in sorted(rows, key=lambda r: r["name"]):
                flags = []
                if r["cartesian"]:
                    flags.append("CARTESIAN")
                if r["bnlj"]:
                    flags.append("one-row-broadcast cross (by design)"
                                 if r["name"] in BNLJ_OK else "BNLJ")
                if r["python_row"]:
                    flags.append("row-Python-UDF")
                if r["python_arrow"]:
                    flags.append("arrow-python (by design)"
                                 if r["name"] in ARROW_OK else "arrow-python?")
                if r["spread_bypassed"]:
                    flags.append("fold below spread (by design)"
                                 if r["name"] in SPREAD_OK else "SPREAD_BYPASSED")
                f.write(
                    f"| {r['name']} | {r['exchanges']}+{r['range_exchanges']}r "
                    f"| {r['bhj']} | {r['smj']} | {r['scans']} "
                    f"| {r['reused']} "
                    f"| {r['codegen']} "
                    f"| {', '.join(flags) or '—'} |\n"
                )
            f.write(
                "\n## Streaming micro-batch plans\n\n"
                "Audited on the EXECUTED last-micro-batch physical plan "
                "captured after each availableNow run "
                "(`queries_stream.MICROBATCH_PLANS`).\n\n"
                "| query | state-stores | dedup | session-window | "
                "stream-stream join | stateful-python | exchanges | "
                "flags |\n|---|---|---|---|---|---|---|---|\n"
            )
            for r in sorted(stream_rows, key=lambda r: r["name"]):
                if "state_stores" not in r:
                    f.write(f"| {r['name']} | — | — | — | — | — | — "
                            f"| {', '.join(r['flags'])} |\n")
                    continue
                f.write(
                    f"| {r['name']} | {r['state_stores']} | {r['dedup']} "
                    f"| {r['session_win']} | {r['sym_join']} "
                    f"| {r['stateful_py']} | {r['exchanges']} "
                    f"| {', '.join(r['flags']) or '—'} |\n"
                )
            f.write(
                "\n## Notes\n\n"
                "- `merge_upsert_orders` (VERDICT r05 item 5, the r4→r5 "
                "1.21x bench drift): the plan row above is byte-identical "
                "across r4/r5/r6 regenerations (4 exchanges, 2 sort-merge "
                "joins, 5 codegen spans) and `operators/writers.py` is "
                "unchanged since r5 — the drift is run-to-run variance on "
                "a ~0.4s query (per-session min-of-3 spread 0.41–0.63s at "
                "a steady canary), not a plan regression. The SMJ is "
                "load-bearing: the merge is a full-outer join, which "
                "Spark cannot execute as broadcast-hash, so no broadcast "
                "shape was lost.\n"
            )
        print(f"wrote {md_out}")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
