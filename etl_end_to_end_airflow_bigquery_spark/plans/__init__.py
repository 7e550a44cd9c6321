"""Query/oracle registry.

The driver's correctness gate verifies **the first 50 entries of
``queries()`` in dict-iteration order** (observed across rounds 1–3).
With 114 registered queries, a naive module-merge order left whole
operator families past position 50 with no hard-signal row — VERDICT
r02's top item. Round 3 fixed the families; round 4 adds ROTATION
(VERDICT r03 item 2): 47 queries had never had a driver row because the
gate membership was a frozen list.

The gate is now two explicit tiers:

1. ``_GATE_ANCHORS`` — ~20 names, one per §2 family and per
   LLM-pipeline component family, permanently gated so no family ever
   loses its hard signal: batch relational core, top-k, JSON explode,
   window, set ops, scalar functions, OLAP agg + star join, MERGE +
   idempotent-append writers, sessionize, as-of, skew-safe agg, exact
   dedup, the curated-corpus capstone (LSH chain + connected components
   + decontamination), text quality, brute-force cosine (also the
   bench-noise watch query), k-means IVF, multimodal decode (Arrow
   UDF), streaming, grouped pandas UDF, SCD2.
2. ``_GATE_ROTATION`` — slots filled each round with names that have
   NEVER had a green driver row in any prior round's CORRECTNESS file.
   Round 7 (VERDICT r06 item 3) gated ALL remaining never-proven
   names and came back 50/50 green — the registry is 100%
   driver-proven (union of CORRECTNESS_r01–r07).

   **Round-8+ gate policy (VERDICT r07 item 1)**: with the rotation
   pool exhausted, rotation slots hold exactly the round's NEW queries
   (never-proven by construction), and ``_REPROOF_BACKFILL`` pads the
   gate to exactly 50 with deliberate re-proofs, chosen in priority
   order: (a) every previously-green query whose code or oracle this
   round touches (ADVICE fixes, shared-helper edits), then (b) the
   names with the STALEST driver evidence (the r01/r02-only rows),
   so old proofs are refreshed against current code rather than
   re-verifying recent greens. Both tiers stay guarded by the
   inverse invariants below.

Membership invariants are enforced with explicit raises (not bare
``assert`` — stripped under ``python -O``, ADVICE r03): every name
registered, no duplicates, exactly 50. The green history itself is not
restated here: ``tests/test_queries_oracle.py`` derives it from the
committed ``CORRECTNESS_r*.json`` files (a round's green rows only — red
rows stay rotation-eligible until a green driver row exists) and checks
the rotation, backfill and coverage rules against it.
"""

from .oracles import ORACLES as _CORE_ORACLES
from .oracles_ext import EXT_ORACLES
from .oracles_olap import OLAP_ORACLES
from .queries import QUERIES as _CORE_QUERIES
from .queries_ext import EXT_QUERIES
from .queries_olap import OLAP_QUERIES
from .queries_stream import STREAM_QUERIES
from .oracles_stream import STREAM_ORACLES

_GATE_ANCHORS: tuple[str, ...] = (
    "daily_avg_report",        # flagship grouped avg + time bucket (A2)
    "topk_recent_events",      # projection + ORDER BY DESC LIMIT (P1/O1)
    "json_map_explode",        # JSON extraction + map→rows (P2/F10)
    "latest_event_per_key",    # window functions (§2.5)
    "setops_intersect",        # set operations (§2.7)
    "scalar_function_pack",    # scalar function surface (F1–F9)
    "pricing_summary",         # OLAP partial+final agg (decimal path)
    "star_join_revenue",       # broadcast star join
    "merge_upsert_orders",     # MERGE equi-join upsert (J1)
    "idempotent_append_orders",# existence anti-join append (J2)
    "sessionize_events",       # gap-based sessionization
    "asof_attribution",        # as-of temporal join
    "skew_safe_event_counts",  # salted two-phase agg
    "dedup_exact_docs",        # exact dedup
    "curated_corpus_v2",       # capstone: LSH chain + components + decon
    "text_stats_quality",      # text stats / quality / lang-ID
    "cosine_topk",             # brute-force cosine (bench-noise watch)
    "ivf_topk_kmeans",         # k-means IVF quantizer + probed search
    "multimodal_decode",       # Arrow-batched multimodal UDF
    "streaming_daily_avg",     # streaming windowed agg (T2)
    "grouped_stats_pandas",    # grouped pandas UDF surface (§2.10)
    "scd2_orders_status",      # SCD2 history merge
)

# Round 16 (optimization round — no new queries by rule): rotation is
# EMPTY and every non-anchor slot is a deliberate re-proof. VERDICT r15
# item 2: the r15 optimizer rewrote the ANN/ADC family, the Arrow BPE
# kernels, the stored-index search, the graph-loop folds, SemDeDup's
# salt and the rfm/sql_scripting staging with only 2 of ~19 touched
# names in the r15 gate — round 16 gates EVERY r15-touched query plus
# everything the r16 optimizer touches.
_GATE_ROTATION: tuple[str, ...] = ()

# Backfill to 50 (r8 policy, see module docstring). Tier (a) leads and
# fills the round: first the queries the R16 optimizer itself rewrote
# (containment metadata-verify, PPJoin positional filter, ivm_minmax
# CDC fold, the three newly spread text folds), then the full VERDICT
# r15 item-2 list — the r15-rewritten ANN/ADC + Arrow-BPE + dedup
# tokenization + SemDeDup + graph-loop + staging paths that had no r15
# driver row on the new code (incl. the 5-name r05 stale-pool
# remainder: ivfpq/pq/ivfpq_rerank, streaming_cms_counts,
# semantic_dedup_kmeans).
_REPROOF_BACKFILL: tuple[str, ...] = (
    # tier (a.1) — r16-rewritten operators, most-affected first:
    "containment_near_dups", "prefix_filter_near_dups",
    "ivm_minmax_recompute", "repetition_ratio_docs",
    "substring_dedup_spans", "duplicate_spans_docs",
    # tier (a.2) — the r15-rewritten paths (VERDICT r15 item 2 list,
    # plus the rest of the in-row ANN family from the same commits):
    "ivfpq_topk_adc", "pq_topk_adc", "ivfpq_rerank_topk",
    "bpe_train_merges", "bpe_encode_corpus", "minhash_pairs",
    "simhash_docs", "jaccard_near_dups", "semantic_dedup_kmeans",
    "er_golden_record", "bfs_dedup_distance", "dedup_clusters",
    "mmr_rerank_topk", "mmr_rerank_stored", "rfm_segments",
    "sql_scripting_pack", "pagerank_dedup_graph", "streaming_cms_counts",
    "knn_graph", "embedding_near_dups", "ann_lsh_topk",
    "decontaminate_embeddings",
)

_GATE_PRIORITY: tuple[str, ...] = (
    _GATE_ANCHORS + _GATE_ROTATION + _REPROOF_BACKFILL
)

_ALL_QUERIES = {
    **_CORE_QUERIES,
    **EXT_QUERIES,
    **STREAM_QUERIES,
    **OLAP_QUERIES,
}

# Import-time invariants — explicit raises, not `assert` (ADVICE r03:
# asserts vanish under python -O, silently shrinking the verified gate).
_missing = [n for n in _GATE_PRIORITY if n not in _ALL_QUERIES]
if _missing:
    raise RuntimeError(f"_GATE_PRIORITY names not registered: {_missing}")
if len(_GATE_PRIORITY) != len(set(_GATE_PRIORITY)):
    raise RuntimeError("gate priority list contains duplicates")
if len(_GATE_PRIORITY) != 50:
    raise RuntimeError(
        f"gate priority list must be exactly 50 names, got {len(_GATE_PRIORITY)}"
    )

QUERIES = {n: _ALL_QUERIES[n] for n in _GATE_PRIORITY}
QUERIES.update(
    (n, fn) for n, fn in _ALL_QUERIES.items() if n not in QUERIES
)

ORACLES = {**_CORE_ORACLES, **EXT_ORACLES, **STREAM_ORACLES, **OLAP_ORACLES}
# Keep oracle iteration order aligned with the gate order (harmless for
# lookup, helpful for humans diffing CORRECTNESS files).
ORACLES = {
    n: ORACLES[n] for n in list(QUERIES) if n in ORACLES
} | {n: s for n, s in ORACLES.items() if n not in QUERIES}

__all__ = ["QUERIES", "ORACLES"]
