"""DuckDB oracles for the extension pack — generated from the same
constants as the Spark side (seeds, band layout, hyperplanes, scoring
formulas), so both engines compute literally the same arithmetic.

DuckDB dialect notes: lists are 1-based (`range(1, n+1)` indexes a full
list); `unnest` lives in the SELECT list; md5/concat_ws/least match
Spark's semantics on these inputs.
"""

from __future__ import annotations

from ..operators.dedup import (
    BAND_SIZE,
    MINHASH_SEEDS,
    N_BANDS,
    NEAR_DUP_JACCARD,
    SLICE_LEN,
)
from ..operators.similarity import EMB_DIM, N_PLANES, hyperplanes
from ..operators.text import LANG_MARKERS, STOPWORDS
from .oracles import _round
from .queries_ext import (
    ANN_K,
    ANN_QUERY_PRED,
    AVG_TOK_SQL,
    CORPUS_LANG,
    CORPUS_MIN_QUALITY,
    CORPUS_MIN_TOKENS,
    COSINE_K,
    DECON_EVAL_BUCKETS,
    EMB_SIM_THRESHOLD,
    LANG_CASE_SQL,
    QUALITY_SQL,
    STOP_RATIO_SQL,
)

_DEC = "DECIMAL(25,12)"


def _dlist(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# --- shared CTE fragments -------------------------------------------------

# Distinct 3-word shingles per doc (1-based list indexing: range(1, n-1)
# yields starts 1..n-2, mirroring Spark's sequence(0, n-3) 0-based).
_SHINGLES_CTE = """
    tok AS (
        SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(tk) - 1),
                   i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS shingles
        FROM tok
    )
"""

# Same hash economy as dedup.minhash_signatures: one 64-hex digest per
# shingle (two md5s), MIN over each 5-char slice.
_MH_EXPRS = ", ".join(
    f"min(substr(h64, {s * SLICE_LEN + 1}, {SLICE_LEN}))"
    for s in range(MINHASH_SEEDS)
)

_BANDS_UNION = "\n        UNION ALL\n".join(
    f"""        SELECT doc_id, mh, {b} AS band_idx,
               mh[{b * BAND_SIZE + 1}] || mh[{b * BAND_SIZE + 2}] || mh[{b * BAND_SIZE + 3}] AS sig
        FROM sig"""
    for b in range(N_BANDS)
)

_PAIRS_CTE = f"""
    {_SHINGLES_CTE.strip()}, shx AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), hashed AS (
        SELECT doc_id,
               md5(concat('0|', shingle)) || md5(concat('1|', shingle)) AS h64
        FROM shx
    ), sig AS (
        SELECT doc_id, [{_MH_EXPRS}] AS mh FROM hashed GROUP BY doc_id
    ), bands AS (
{_BANDS_UNION}
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.mh AS mh_a, b.mh AS mh_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
"""

_SCALE = "1000000000000.0"

# Quantizer training-sample predicate — mirrors
# similarity._train_pred (deterministic md5 bucket of vec_id), so
# Lloyd refinement sees the identical training rows in both engines.
from ..operators.similarity import (  # noqa: E402
    TRAIN_FRACTION as _TRAIN_FRACTION,
    TRAIN_SALT as _TRAIN_SALT,
    _TRAIN_BUCKETS,
)

_TRAIN_CUTOFF = int(round(_TRAIN_FRACTION * _TRAIN_BUCKETS))
_TRAIN_PRED = (
    f"CAST(concat('0x', substr(md5(concat('{_TRAIN_SALT}|', "
    f"CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT) "
    f"% {_TRAIN_BUCKETS} < {_TRAIN_CUTOFF}"
)


def _dot(a: str, b: str) -> str:
    """Exact scaled-integer dot product — mirrors similarity.dot_fold:
    floor(product·1e12) summed as BIGINT (associative ⇒ order-exact)."""
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST(floor(({a}[i] * {b}[i]) * {_SCALE}) AS BIGINT))) AS DOUBLE) / {_SCALE}"
    )


# Vectors cast to double + exact squared norms.
_VECTOR_CTE = f"""
    v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ), vn AS (
        SELECT vec_id, label, e, {_dot('e', 'e')} AS norm2 FROM v
    )
"""

_JACCARD_INTER = "len(list_filter(sh_a, x -> list_contains(sh_b, x)))"
_JACCARD_EXPR = (
    f"CAST({_JACCARD_INTER} AS DOUBLE) / "
    f"(CAST(len(sh_a) AS DOUBLE) + CAST(len(sh_b) AS DOUBLE) - CAST({_JACCARD_INTER} AS DOUBLE))"
)

_LANG_COUNTS = ",\n               ".join(
    f"CAST(len(list_filter(string_split(text, ' '), "
    f"t -> list_contains({_dlist(words)}, t))) AS BIGINT) AS c_{lg}"
    for lg, words in LANG_MARKERS.items()
)

_PLANES_VALUES = ",\n            ".join(
    f"({i}, [{', '.join(repr(float(x)) for x in row)}])"
    for i, row in enumerate(hyperplanes(N_PLANES, EMB_DIM))
)

# Multi-table LSH: the same plane literals per table, tagged with the
# table index (seeds follow similarity.TABLE_SEED_STRIDE).
from ..operators.similarity import PLANE_SEED, TABLE_SEED_STRIDE  # noqa: E402
from .queries_ext import ANN_N_TABLES  # noqa: E402

_MT_PLANES_VALUES = ",\n            ".join(
    f"({t}, {i}, [{', '.join(repr(float(x)) for x in row)}])"
    for t in range(ANN_N_TABLES)
    for i, row in enumerate(
        hyperplanes(N_PLANES, EMB_DIM, seed=PLANE_SEED + t * TABLE_SEED_STRIDE)
    )
)

# The 64-bit blockhash recomputed in pure SQL from the text bytes —
# SHARED between the batch pair oracle and the streaming ingest oracle
# so the two pHash twins can never silently diverge (a fix to the
# packing/slice arithmetic lands in both). byt + hh CTEs, MATERIALIZED
# (hh is referenced twice by the pair join).
#
# ASCII guard (ADVICE r9): the CTE equates DuckDB's per-CHARACTER
# ord(substr(…)) code points with the Spark side's UTF-8 payload
# BYTES, and strlen (bytes) with substr indexing (characters) — both
# only hold for pure-ASCII text. strlen(text) = length(text) iff every
# code point is single-byte; any non-ASCII doc now raises loudly via
# error() instead of silently hash-mismatching at the gate.
BLOCKHASH_HH_CTE = """byt AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN strlen(text) = length(text)
                        THEN strlen(text)
                        ELSE CAST(error(
                          'BLOCKHASH_HH_CTE requires pure-ASCII text: '
                          || 'doc ' || doc_id) AS BIGINT)
                   END AS n,
                   list_transform(range(1, strlen(text) + 1),
                                  i -> ord(substr(text, CAST(i AS INT), 1)))
                       AS by
            FROM documents
        ), hh AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN n = 0 THEN 0 ELSE CAST(
                     list_sum(list_transform(range(0, 64), i ->
                       CASE WHEN coalesce(list_sum(
                                    by[CAST(i * n // 64 + 1 AS BIGINT):
                                       CAST((i + 1) * n // 64 AS BIGINT)]), 0)
                                  * n
                                > list_sum(by)
                                  * ((i + 1) * n // 64 - i * n // 64)
                            THEN CASE WHEN i = 63
                                      THEN -9223372036854775808
                                      ELSE (CAST(1 AS BIGINT)
                                            << CAST(i AS INT)) END
                            ELSE 0 END))
                   AS BIGINT) END AS phash
            FROM byt
        )"""

EXT_ORACLES: dict[str, str] = {
    "dedup_exact_docs": """
        SELECT md5(lower(text)) AS text_hash,
               min(doc_id) AS doc_id_kept,
               count(*) AS n_copies
        FROM documents
        GROUP BY md5(lower(text))
        ORDER BY doc_id_kept
    """,
    "minhash_pairs": f"""
        WITH {_PAIRS_CTE}
        SELECT doc_a, doc_b,
               len(list_filter(range(1, {MINHASH_SEEDS + 1}),
                   i -> mh_a[i] = mh_b[i])) / CAST({MINHASH_SEEDS} AS DOUBLE)
                   AS est_jaccard
        FROM pairs
        ORDER BY doc_a, doc_b
    """,
    # Asymmetric batch-vs-base dedup: the corpus-wide pair pipeline
    # restricted to cross pairs + a content-hash equi-join; per batch
    # doc the verified-near count and the exact-dup flag.
    "incremental_dedup_batch": f"""
        WITH {_PAIRS_CTE}, cross_cand AS (
            SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END
                       AS batch_id,
                   CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END
                       AS base_id
            FROM pairs
            WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)
        ), joined AS (
            SELECT c.batch_id, c.base_id,
                   sa.shingles AS sh_a, sb.shingles AS sh_b
            FROM cross_cand c
            JOIN sh sa ON sa.doc_id = c.batch_id
            JOIN sh sb ON sb.doc_id = c.base_id
        ), near AS (
            SELECT batch_id, count(*) AS n_near
            FROM joined
            WHERE ({_JACCARD_EXPR}) >= {NEAR_DUP_JACCARD}
            GROUP BY batch_id
        ), exact AS (
            SELECT DISTINCT b.doc_id
            FROM documents b
            JOIN documents o
              ON md5(lower(b.text)) = md5(lower(o.text))
            WHERE b.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
        )
        SELECT d.doc_id,
               (e.doc_id IS NOT NULL) AS is_exact_dup,
               CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near_base,
               (e.doc_id IS NULL AND coalesce(n.n_near, 0) = 0) AS keep
        FROM documents d
        LEFT JOIN exact e ON e.doc_id = d.doc_id
        LEFT JOIN near n ON n.batch_id = d.doc_id
        WHERE d.doc_id % 5 = 0
        ORDER BY d.doc_id
    """,
    # Triangle census over the SAME verified edge set as the Spark
    # side (shared pair pipeline + threshold cut); triangles by the
    # a<b<c 3-way self-join, wedges from the degree table, clustering
    # as the cross-multiplied 6-dp integer rational.
    "triangle_count_dedup": f"""
        WITH {_PAIRS_CTE}, cand AS (
            SELECT DISTINCT doc_a, doc_b FROM pairs
        ), joined AS (
            SELECT c.doc_a, c.doc_b, sa.shingles AS sh_a, sb.shingles AS sh_b
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b
        ), edges AS MATERIALIZED (
            SELECT doc_a AS a, doc_b AS b
            FROM joined
            WHERE ({_JACCARD_EXPR}) >= {NEAR_DUP_JACCARD}
        ), deg AS (
            SELECT v, count(*) AS d
            FROM (SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
            GROUP BY v
        ), tri AS (
            SELECT count(*) AS t
            FROM edges e1
            JOIN edges e2 ON e2.a = e1.b
            JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
        ), stats AS (
            SELECT count(*) AS n_nodes,
                   CAST(sum(d) // 2 AS BIGINT) AS n_edges,
                   CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges
            FROM deg
        )
        SELECT n_nodes, n_edges, n_wedges,
               t AS n_triangles,
               CASE WHEN n_wedges = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(CAST((2 * CAST(3 * t AS HUGEINT) * 1000000
                                    + n_wedges)
                                   // (2 * CAST(n_wedges AS HUGEINT))
                              AS BIGINT) AS DOUBLE) / 1000000.0
               END AS clustering
        FROM stats, tri
    """,
    "jaccard_near_dups": f"""
        WITH {_PAIRS_CTE}, cand AS (
            SELECT DISTINCT doc_a, doc_b FROM pairs
        ), joined AS (
            SELECT c.doc_a, c.doc_b, sa.shingles AS sh_a, sb.shingles AS sh_b
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b
        )
        SELECT doc_a, doc_b,
               {_round(_JACCARD_EXPR, 6)} AS jaccard,
               ({_JACCARD_EXPR}) >= {NEAR_DUP_JACCARD} AS is_near_dup
        FROM joined
        ORDER BY doc_a, doc_b
    """,
    "chunk_documents": """
        WITH t AS (
            SELECT doc_id, str_split(text, ' ') AS toks FROM documents
        ), s AS (
            SELECT doc_id, toks,
                   unnest(range(0, greatest(len(toks) - 1, 0) + 1, 15)) AS st
            FROM t
        )
        SELECT doc_id,
               CAST(st // 15 AS BIGINT) AS chunk_idx,
               md5(array_to_string(list_slice(toks, st + 1, st + 20), ' '))
                   AS chunk_hash,
               least(CAST(20 AS BIGINT), len(toks) - st) AS n_chunk_tokens
        FROM s
        ORDER BY doc_id, chunk_idx
    """,
    "hash_sample_docs": """
        SELECT doc_id, lang FROM documents
        WHERE CAST(concat('0x', substr(md5(concat('sample|',
                  CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10000 < 1000
        ORDER BY doc_id
    """,
    "stratified_sample_docs": """
        SELECT doc_id, lang FROM documents
        WHERE CAST(concat('0x', substr(md5(concat('strat|',
                  CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10000
              < CASE lang WHEN 'en' THEN 2000
                          WHEN 'de' THEN 5000
                          ELSE 10000 END
        ORDER BY doc_id
    """,
    "weighted_sample_docs": f"""
        WITH s AS (
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_calc,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(string_split(text, ' '),
                       t -> list_contains({_dlist(STOPWORDS)}, t))) AS BIGINT)
                       AS n_stopwords
            FROM documents
        ), q AS (
            SELECT doc_id, {QUALITY_SQL} AS quality FROM s
        )
        SELECT doc_id, {_round('quality', 4)} AS quality_score
        FROM q
        WHERE CAST(concat('0x', substr(md5(concat('wsample|',
                  CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10000
              < least(greatest(quality, 0.0), 1.0) * 10000
        ORDER BY doc_id
    """,
    "vocab_top_tokens": """
        SELECT token,
               count(*) AS n_occurrences,
               count(DISTINCT doc_id) AS n_docs
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY token
        ORDER BY n_occurrences DESC, token
        LIMIT 50
    """,
    "cap_docs_per_source": """
        WITH r AS (
            SELECT source, doc_id,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY CAST(concat('0x', substr(md5(concat('cap|',
                                    CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
                                % 10000 ASC,
                                doc_id ASC) AS rk
            FROM documents
        )
        SELECT source, doc_id FROM r WHERE rk <= 15
        ORDER BY source, doc_id
    """,
    "dataset_split": """
        WITH b AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(concat('v1|',
                        CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
                       % 10000 AS bucket
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN bucket < 8000 THEN 'train'
                    WHEN bucket < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM b
        ORDER BY doc_id
    """,
    "shard_histogram": """
        WITH s AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(concat('shard|',
                        CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
                       % 16 AS shard
            FROM documents
        )
        SELECT shard, count(*) AS n_docs
        FROM s
        GROUP BY shard
        ORDER BY shard
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE {_PAIRS_CTE}, cand AS (
            SELECT DISTINCT doc_a, doc_b FROM pairs
        ), joined AS (
            SELECT c.doc_a, c.doc_b, sa.shingles AS sh_a, sb.shingles AS sh_b
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b
        ), nd AS (
            SELECT doc_a, doc_b FROM joined
            WHERE ({_JACCARD_EXPR}) >= {NEAR_DUP_JACCARD}
        ), edges AS (
            SELECT doc_a AS a, doc_b AS b FROM nd
            UNION
            SELECT doc_b AS a, doc_a AS b FROM nd
        ), reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        )
        SELECT a AS node, least(a, min(b)) AS component
        FROM reach
        GROUP BY a
        ORDER BY node
    """,
    "simhash_docs": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents
        ), hashes AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
            FROM toks
        ), bits AS (
            SELECT doc_id, h, unnest(range(0, 32)) AS b FROM hashes
        ), bit_sums AS (
            SELECT doc_id, b,
                   sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
            FROM bits
            GROUP BY doc_id, b
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM bit_sums
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "doc_fingerprint": """
        SELECT doc_id, md5(lower(text)) AS fingerprint
        FROM documents
        ORDER BY doc_id
    """,
    "text_stats_quality": f"""
        WITH s AS (
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_calc,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(string_split(text, ' '),
                       t -> list_contains({_dlist(STOPWORDS)}, t))) AS BIGINT)
                       AS n_stopwords
            FROM documents
        )
        SELECT doc_id, n_tokens, n_stopwords,
               {_round(STOP_RATIO_SQL, 4)} AS stop_ratio,
               {_round(AVG_TOK_SQL, 4)} AS avg_token_len,
               {_round(QUALITY_SQL, 4)} AS quality_score
        FROM s
        ORDER BY doc_id
    """,
    "token_count_bpe": r"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                    AS BIGINT) AS n_re_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT)
                    AS n_subwords
        FROM documents
        ORDER BY doc_id
    """,
    "lang_id_heuristic": f"""
        WITH scored AS (
            SELECT doc_id, lang,
               {_LANG_COUNTS}
            FROM documents
        ), p AS (
            SELECT doc_id, lang,
                   {LANG_CASE_SQL} AS pred_lang
            FROM scored
        )
        SELECT doc_id, pred_lang, pred_lang = lang AS is_correct
        FROM p
        ORDER BY doc_id
    """,
    "cosine_topk": f"""
        WITH {_VECTOR_CTE.strip()}, q AS (
            SELECT vec_id AS q_id, e AS qe, norm2 AS qn
            FROM vn WHERE {ANN_QUERY_PRED}
        ), scored AS (
            SELECT q.q_id, vn.vec_id,
                   {_dot('q.qe', 'vn.e')} / (sqrt(q.qn) * sqrt(vn.norm2))
                       AS cosine_raw
            FROM q, vn
            WHERE q.q_id <> vn.vec_id
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
            FROM scored
        )
        SELECT q_id, vec_id AS neighbor_id,
               {_round('cosine_raw', 6)} AS cosine,
               CAST(rnk AS BIGINT) AS rank
        FROM ranked
        WHERE rnk <= {COSINE_K}
        ORDER BY q_id, rnk
    """,
    "ann_lsh_topk": f"""
        WITH {_VECTOR_CTE.strip()}, pl AS (
            SELECT * FROM (VALUES
            {_PLANES_VALUES}
            ) AS t(plane_idx, w)
        ), pdots AS (
            SELECT vn.vec_id, pl.plane_idx, {_dot('vn.e', 'pl.w')} AS dot
            FROM vn, pl
        ), buckets AS (
            SELECT vec_id,
                   CAST(sum(CASE WHEN dot >= 0
                        THEN (CAST(1 AS BIGINT) << plane_idx) ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM pdots GROUP BY vec_id
        ), vb AS (
            SELECT vn.vec_id, vn.e, vn.norm2, b.bucket
            FROM vn JOIN buckets b USING (vec_id)
        ), q AS (
            SELECT vec_id AS q_id, e AS qe, norm2 AS qn, bucket
            FROM vb WHERE {ANN_QUERY_PRED}
        ), scored AS (
            SELECT q.q_id, vb.vec_id, q.bucket,
                   {_dot('q.qe', 'vb.e')} / (sqrt(q.qn) * sqrt(vb.norm2))
                       AS cosine_raw
            FROM q JOIN vb ON q.bucket = vb.bucket AND vb.vec_id <> q.q_id
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
            FROM scored
        )
        SELECT q_id, vec_id AS neighbor_id, bucket,
               {_round('cosine_raw', 6)} AS cosine,
               CAST(rnk AS BIGINT) AS rank
        FROM ranked
        WHERE rnk <= {ANN_K}
        ORDER BY q_id, rnk
    """,
    "ivf_topk": f"""
        WITH {_VECTOR_CTE.strip()}, seeds AS (
            SELECT vec_id AS cell, e AS se, norm2 AS sn
            FROM vn WHERE vec_id < 8
        ), assign_scored AS (
            SELECT vn.vec_id, s.cell,
                   {_dot('vn.e', 's.se')} / (sqrt(vn.norm2) * sqrt(s.sn))
                       AS cos_to_seed
            FROM vn, seeds s
        ), cells AS (
            SELECT vec_id, cell FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY cos_to_seed DESC, cell) AS rn
                FROM assign_scored
            ) WHERE rn = 1
        ), vc AS (
            SELECT vn.vec_id, vn.e, vn.norm2, c.cell
            FROM vn JOIN cells c USING (vec_id)
        ), q AS (
            SELECT vec_id AS q_id, e AS qe, norm2 AS qn, cell
            FROM vc WHERE {ANN_QUERY_PRED}
        ), scored AS (
            SELECT q.q_id, vc.vec_id, q.cell,
                   {_dot('q.qe', 'vc.e')} / (sqrt(q.qn) * sqrt(vc.norm2))
                       AS cosine_raw
            FROM q JOIN vc ON q.cell = vc.cell AND vc.vec_id <> q.q_id
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
            FROM scored
        )
        SELECT q_id, vec_id AS neighbor_id, cell,
               {_round('cosine_raw', 6)} AS cosine,
               CAST(rnk AS BIGINT) AS rank
        FROM ranked
        WHERE rnk <= {ANN_K}
        ORDER BY q_id, rnk
    """,
    "ann_lsh_multiprobe": f"""
        WITH {_VECTOR_CTE.strip()}, pl AS (
            SELECT * FROM (VALUES
            {_PLANES_VALUES}
            ) AS t(plane_idx, w)
        ), pdots AS (
            SELECT vn.vec_id, pl.plane_idx, {_dot('vn.e', 'pl.w')} AS dot
            FROM vn, pl
        ), buckets AS (
            SELECT vec_id,
                   CAST(sum(CASE WHEN dot >= 0
                        THEN (CAST(1 AS BIGINT) << plane_idx) ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM pdots GROUP BY vec_id
        ), vb AS (
            SELECT vn.vec_id, vn.e, vn.norm2, b.bucket
            FROM vn JOIN buckets b USING (vec_id)
        ), q AS (
            SELECT vec_id AS q_id, e AS qe, norm2 AS qn, bucket
            FROM vb WHERE {ANN_QUERY_PRED}
        ), probes AS (
            -- own bucket + the {N_PLANES} Hamming-1 flips (one per plane)
            SELECT q_id, qe, qn,
                   unnest([bucket] || list_transform(range(0, {N_PLANES}),
                       i -> xor(bucket, CAST(1 AS BIGINT) << i))) AS bucket
            FROM q
        ), scored AS (
            SELECT p.q_id, vb.vec_id, vb.bucket,
                   {_dot('p.qe', 'vb.e')} / (sqrt(p.qn) * sqrt(vb.norm2))
                       AS cosine_raw
            FROM probes p JOIN vb ON p.bucket = vb.bucket
                         AND vb.vec_id <> p.q_id
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
            FROM scored
        )
        SELECT q_id, vec_id AS neighbor_id, bucket,
               {_round('cosine_raw', 6)} AS cosine,
               CAST(rnk AS BIGINT) AS rank
        FROM ranked
        WHERE rnk <= {ANN_K}
        ORDER BY q_id, rnk
    """,
    "ann_lsh_multitable": f"""
        WITH {_VECTOR_CTE.strip()}, pl AS (
            SELECT * FROM (VALUES
            {_MT_PLANES_VALUES}
            ) AS t(tbl, plane_idx, w)
        ), pdots AS (
            SELECT vn.vec_id, pl.tbl, pl.plane_idx,
                   {_dot('vn.e', 'pl.w')} AS dot
            FROM vn, pl
        ), buckets AS (
            SELECT vec_id, tbl,
                   CAST(sum(CASE WHEN dot >= 0
                        THEN (CAST(1 AS BIGINT) << plane_idx) ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM pdots GROUP BY vec_id, tbl
        ), q AS (
            SELECT vec_id AS q_id, e AS qe, norm2 AS qn
            FROM vn WHERE {ANN_QUERY_PRED}
        ), qb AS (
            SELECT q.q_id, b.tbl, b.bucket
            FROM q JOIN buckets b ON b.vec_id = q.q_id
        ), cand AS (
            SELECT DISTINCT qb.q_id, b.vec_id
            FROM qb JOIN buckets b
              ON qb.tbl = b.tbl AND qb.bucket = b.bucket
            WHERE b.vec_id <> qb.q_id
        ), scored AS (
            SELECT c.q_id, c.vec_id,
                   {_dot('q.qe', 'vn.e')} / (sqrt(q.qn) * sqrt(vn.norm2))
                       AS cosine_raw
            FROM cand c
            JOIN q  ON c.q_id = q.q_id
            JOIN vn ON c.vec_id = vn.vec_id
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
            FROM scored
        )
        SELECT q_id, vec_id AS neighbor_id,
               {_round('cosine_raw', 6)} AS cosine,
               CAST(rnk AS BIGINT) AS rank
        FROM ranked
        WHERE rnk <= {ANN_K}
        ORDER BY q_id, rnk
    """,
    "ivf_topk_nprobe": f"""
        WITH {_VECTOR_CTE.strip()}, seeds AS (
            SELECT vec_id AS cell, e AS se, norm2 AS sn
            FROM vn WHERE vec_id < 8
        ), assign_scored AS (
            SELECT vn.vec_id, s.cell,
                   {_dot('vn.e', 's.se')} / (sqrt(vn.norm2) * sqrt(s.sn))
                       AS cos_to_seed
            FROM vn, seeds s
        ), cells AS (
            SELECT vec_id, cell FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY cos_to_seed DESC, cell) AS rn
                FROM assign_scored
            ) WHERE rn = 1
        ), vc AS (
            SELECT vn.vec_id, vn.e, vn.norm2, c.cell
            FROM vn JOIN cells c USING (vec_id)
        ), qprobe AS (
            -- each query's top-2 cells by cosine-to-seed (nprobe = 2)
            SELECT vec_id AS q_id, qe, qn, cell FROM (
                SELECT vn.vec_id, vn.e AS qe, vn.norm2 AS qn, s.cell,
                       row_number() OVER (
                           PARTITION BY vn.vec_id
                           ORDER BY {_dot('vn.e', 's.se')}
                                    / (sqrt(vn.norm2) * sqrt(s.sn)) DESC,
                                    s.cell) AS rn
                FROM vn, seeds s
                WHERE {ANN_QUERY_PRED}
            ) WHERE rn <= 2
        ), scored AS (
            SELECT p.q_id, vc.vec_id, vc.cell,
                   {_dot('p.qe', 'vc.e')} / (sqrt(p.qn) * sqrt(vc.norm2))
                       AS cosine_raw
            FROM qprobe p JOIN vc ON p.cell = vc.cell
                         AND vc.vec_id <> p.q_id
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
            FROM scored
        )
        SELECT q_id, vec_id AS neighbor_id, cell,
               {_round('cosine_raw', 6)} AS cosine,
               CAST(rnk AS BIGINT) AS rank
        FROM ranked
        WHERE rnk <= {ANN_K}
        ORDER BY q_id, rnk
    """,
    "embedding_near_dups": f"""
        WITH {_VECTOR_CTE.strip()}, pl AS (
            SELECT * FROM (VALUES
            {_PLANES_VALUES}
            ) AS t(plane_idx, w)
        ), pdots AS (
            SELECT vn.vec_id, pl.plane_idx, {_dot('vn.e', 'pl.w')} AS dot
            FROM vn, pl
        ), buckets AS (
            SELECT vec_id,
                   CAST(sum(CASE WHEN dot >= 0
                        THEN (CAST(1 AS BIGINT) << plane_idx) ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM pdots GROUP BY vec_id
        ), vb AS (
            SELECT vn.vec_id, vn.e, vn.norm2, b.bucket
            FROM vn JOIN buckets b USING (vec_id)
        ), pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   {_dot('a.e', 'b.e')} / (sqrt(a.norm2) * sqrt(b.norm2))
                       AS cosine_raw
            FROM vb a JOIN vb b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, {_round('cosine_raw', 6)} AS cosine
        FROM pairs
        WHERE cosine_raw >= {EMB_SIM_THRESHOLD}
        ORDER BY vec_a, vec_b
    """,
    # asymmetric LSH-bucket join: train×eval same-bucket candidates,
    # eval side = md5 'decon' bucket < 1000 of 10000 (~10%)
    "decontaminate_embeddings": f"""
        WITH {_VECTOR_CTE.strip()}, pl AS (
            SELECT * FROM (VALUES
            {_PLANES_VALUES}
            ) AS t(plane_idx, w)
        ), pdots AS (
            SELECT vn.vec_id, pl.plane_idx, {_dot('vn.e', 'pl.w')} AS dot
            FROM vn, pl
        ), buckets AS (
            SELECT vec_id,
                   CAST(sum(CASE WHEN dot >= 0
                        THEN (CAST(1 AS BIGINT) << plane_idx) ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM pdots GROUP BY vec_id
        ), vb AS (
            SELECT vn.vec_id, vn.e, vn.norm2, b.bucket,
                   CAST(concat('0x', substr(md5(concat('decon|',
                       CAST(vn.vec_id AS VARCHAR))), 1, 8)) AS BIGINT)
                       % 10000 < {DECON_EVAL_BUCKETS} AS is_eval
            FROM vn JOIN buckets b USING (vec_id)
        ), pairs AS (
            SELECT t.vec_id AS train_id, q.vec_id AS eval_id,
                   {_dot('t.e', 'q.e')} / (sqrt(t.norm2) * sqrt(q.norm2))
                       AS cosine_raw
            FROM vb t JOIN vb q
              ON t.bucket = q.bucket
             AND NOT t.is_eval AND q.is_eval
        )
        SELECT train_id, eval_id, {_round('cosine_raw', 6)} AS cosine
        FROM pairs
        WHERE cosine_raw >= {EMB_SIM_THRESHOLD}
        ORDER BY train_id, eval_id
    """,
    "label_centroids": f"""
        WITH v AS (
            SELECT label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), ex AS (
            SELECT label,
                   unnest(list_transform(range(1, len(e) + 1),
                       i -> {{'pos': i - 1, 'val': e[i]}})) AS s
            FROM v
        )
        SELECT label,
               CAST(s.pos AS BIGINT) AS pos,
               {_round(
                   "CAST(sum(CAST(floor(s.val * 1000000000000.0 + 0.5) AS BIGINT))"
                   " AS DOUBLE) / 1000000000000.0 / count(s.val)", 6)}
                   AS centroid
        FROM ex
        GROUP BY label, s.pos
        ORDER BY label, pos
    """,
    "multimodal_meta": """
        SELECT doc_id AS asset_id,
               'text' AS modality,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               md5(text) AS digest
        FROM documents
        ORDER BY asset_id
    """,
    "multimodal_decode": """
        SELECT doc_id AS asset_id,
               'text' AS modality,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               sha256(text) AS sha256,
               CAST(CAST(concat('0x', substr(sha256(text), 1, 4)) AS BIGINT)
                    % 1920 AS INTEGER) AS width,
               CAST(CAST(concat('0x', substr(sha256(text), 5, 4)) AS BIGINT)
                    % 1080 AS INTEGER) AS height,
               CAST(CAST(concat('0x', substr(sha256(text), 9, 4)) AS BIGINT)
                    % 240 + 1 AS INTEGER) AS n_frames
        FROM documents
        ORDER BY asset_id
    """,
    "multimodal_features": """
        WITH f AS (
            SELECT doc_id AS asset_id,
                   unnest(list_transform(range(0, 16),
                       i -> {'feat_idx': i,
                             'feat': CAST(CAST(concat('0x',
                                 substr(sha256(text), i * 2 + 1, 2)) AS INT)
                                 AS DOUBLE) / 256.0})) AS s
            FROM documents
        )
        SELECT asset_id,
               CAST(s.feat_idx AS INT) AS feat_idx,
               s.feat AS feat
        FROM f
        ORDER BY asset_id, feat_idx
    """,
    "multimodal_resize": """
        SELECT doc_id AS asset_id,
               CAST(32 AS INTEGER) AS out_width,
               CAST(32 AS INTEGER) AS out_height,
               CAST(least(strlen(text), 32 * 32) AS BIGINT) AS n_bytes
        FROM documents
        ORDER BY asset_id
    """,
    # Spark: sequence(0, n_frames-1, 10) (inclusive end); DuckDB:
    # range(0, n_frames, 10) (exclusive end) — identical lists for n ≥ 1.
    "frame_sample_assets": """
        WITH d AS (
            SELECT doc_id AS asset_id,
                   sha256(text) AS sha256,
                   CAST(CAST(concat('0x', substr(sha256(text), 9, 4)) AS BIGINT)
                        % 240 + 1 AS INTEGER) AS n_frames
            FROM documents
        )
        SELECT asset_id,
               'text' AS modality,
               CAST(unnest(range(0, n_frames, 10)) AS INTEGER) AS frame_idx,
               sha256
        FROM d
        ORDER BY asset_id, frame_idx
    """,
    # pHash near-dup: identical 64-bit blockhash recomputed from the
    # text column (payload = UTF-8 bytes of ASCII text, so ord(char) =
    # byte value), pairing by OR-of-band-equalities (vs Spark's band
    # explode+equi-join), Hamming via bit_count(xor) on the signed
    # two's-complement hash — bit 63 enters as -2^63 so the packing
    # matches Python's wrap-to-signed exactly.
    "phash_near_dup_assets": f"""
        WITH {BLOCKHASH_HH_CTE}
        SELECT a.doc_id AS asset_a,
               b.doc_id AS asset_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
        FROM hh a JOIN hh b
          ON a.doc_id < b.doc_id
         AND ((a.phash & 65535) = (b.phash & 65535)
           OR ((a.phash >> 16) & 65535) = ((b.phash >> 16) & 65535)
           OR ((a.phash >> 32) & 65535) = ((b.phash >> 32) & 65535)
           OR ((a.phash >> 48) & 65535) = ((b.phash >> 48) & 65535))
        WHERE bit_count(xor(a.phash, b.phash)) <= 16
        ORDER BY asset_a, asset_b
    """,
    "curated_corpus": f"""
        WITH s AS (
            SELECT doc_id, text,
                   CAST(length(text) AS BIGINT) AS n_chars_calc,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(string_split(text, ' '),
                       t -> list_contains({_dlist(STOPWORDS)}, t))) AS BIGINT)
                       AS n_stopwords,
                   {_LANG_COUNTS}
            FROM documents
        ), p AS (
            SELECT *,
                   {LANG_CASE_SQL} AS pred_lang,
                   ({QUALITY_SQL}) AS quality
            FROM s
        ), kept AS (
            SELECT * FROM p
            WHERE pred_lang = '{CORPUS_LANG}'
              AND quality >= {CORPUS_MIN_QUALITY}
              AND n_tokens >= {CORPUS_MIN_TOKENS}
        ), uniq AS (
            SELECT *,
                   row_number() OVER (PARTITION BY md5(lower(text))
                                      ORDER BY doc_id) AS rn
            FROM kept
        )
        SELECT doc_id, n_tokens,
               {_round('quality', 4)} AS quality_score
        FROM uniq
        WHERE rn = 1
        ORDER BY doc_id
    """,
}


def _kmeans_ivf_oracle(
    n_seeds: int = 8, n_iters: int = 2, dim: int = 64, nprobe: int = 2
) -> str:
    """Generated oracle for ``ivf_topk_kmeans``: unrolls the fixed Lloyd
    rounds as CTE layers. Per round: assignment (argmax cosine over the
    current centroids, ties → lowest cell) then per-cell per-dimension
    exact fixed-point means — the same scaled-int arithmetic and pinned
    divide order as the numpy Lloyd kernel behind
    ``similarity.kmeans_vectors`` (``_lloyd_train_arrow``), so centroid
    components (and therefore cells and search results) are
    bit-identical across engines. Lloyd rounds read only the ``vns``
    training sample (similarity._train_pred's md5-bucket predicate);
    the final assignment and search read the full corpus."""

    def assign(
        cte_c: str, name: str, pred: str | None = None, src: str = "vn"
    ) -> str:
        where = f"WHERE {pred}" if pred else ""
        return f"""{name} AS (
            SELECT vec_id, cell FROM (
                SELECT {src}.vec_id, c.cell,
                       row_number() OVER (PARTITION BY {src}.vec_id
                           ORDER BY {_dot(f'{src}.e', 'c.ce')}
                               / (sqrt({src}.norm2) * sqrt(c.cn)) DESC,
                               c.cell) AS rn
                FROM {src}, {cte_c} c {where}
            ) WHERE rn = 1
        )"""

    def means(a_cte: str, m_name: str, c_name: str) -> str:
        # DECIMAL(38,0) accumulator mirrors the Spark side's
        # overflow-proof exact sum (similarity._exact_group_sums;
        # DuckDB would promote to HUGEINT anyway — the explicit cast
        # keeps both engines' arithmetic declared identical).
        sums = ",\n                   ".join(
            f"SUM(CAST(FLOOR(vns.e[{i + 1}] * {_SCALE}) AS DECIMAL(38,0)))"
            f" AS s{i}"
            for i in range(dim)
        )
        comps = ", ".join(
            f"CAST(s{i} AS DOUBLE) / {_SCALE} / n" for i in range(dim)
        )
        return f"""{m_name} AS (
            SELECT a.cell, COUNT(*) AS n,
                   {sums}
            FROM vns JOIN {a_cte} a USING (vec_id) GROUP BY a.cell
        ), {c_name}_raw AS (
            SELECT cell, list_value({comps}) AS ce FROM {m_name}
        ), {c_name} AS (
            SELECT cell, ce, {_dot('ce', 'ce')} AS cn FROM {c_name}_raw
        )"""

    rounds = []
    prev = "c0"
    for r in range(1, n_iters + 1):
        rounds.append(assign(prev, f"a{r}", src="vns"))
        rounds.append(means(f"a{r}", f"m{r}", f"c{r}"))
        prev = f"c{r}"
    body = ",\n        ".join(rounds)
    return f"""
        WITH {_VECTOR_CTE.strip()}, vns AS (
            SELECT * FROM vn WHERE {_TRAIN_PRED}
        ), c0 AS (
            SELECT vec_id AS cell, e AS ce, norm2 AS cn
            FROM vn WHERE vec_id < {n_seeds}
        ),
        {body},
        {assign(prev, 'cells')},
        vc AS (
            SELECT vn.vec_id, vn.e, vn.norm2, c.cell
            FROM vn JOIN cells c USING (vec_id)
        ), qp AS (
            SELECT q_id, qe, qn, cell FROM (
                SELECT vn.vec_id AS q_id, vn.e AS qe, vn.norm2 AS qn, c.cell,
                       row_number() OVER (PARTITION BY vn.vec_id
                           ORDER BY {_dot('vn.e', 'c.ce')}
                               / (sqrt(vn.norm2) * sqrt(c.cn)) DESC,
                               c.cell) AS rn
                FROM vn, {prev} c WHERE {ANN_QUERY_PRED}
            ) WHERE rn <= {nprobe}
        ), scored AS (
            SELECT qp.q_id, vc.vec_id, vc.cell,
                   {_dot('qp.qe', 'vc.e')} / (sqrt(qp.qn) * sqrt(vc.norm2))
                       AS cosine_raw
            FROM qp JOIN vc ON qp.cell = vc.cell AND vc.vec_id <> qp.q_id
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
            FROM scored
        )
        SELECT q_id, vec_id AS neighbor_id, cell,
               {_round('cosine_raw', 6)} AS cosine,
               CAST(rnk AS BIGINT) AS rank
        FROM ranked
        WHERE rnk <= {ANN_K}
        ORDER BY q_id, rnk
    """


EXT_ORACLES["ivf_topk_kmeans"] = _kmeans_ivf_oracle()


# --- round-3 LLM-pipeline pack oracles ----------------------------------

from .queries_ext import DECON_K, PACK_BUDGET  # noqa: E402  (shared tunables)

_GRAMS = (
    f"list_transform(range(1, len(t) - {DECON_K - 2}), "
    f"i -> array_to_string(list_slice(t, i, i + {DECON_K - 1}), ' '))"
)
_TRIGRAMS = (
    "list_transform(range(1, len(t) - 1), "
    "i -> array_to_string(list_slice(t, i, i + 2), ' '))"
)

EXT_ORACLES["decontaminate_ngrams"] = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), g AS (
        SELECT doc_id, list_distinct({_GRAMS}) AS grams
        FROM toks WHERE len(t) >= {DECON_K}
    ), bench AS (
        SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 20 = 0
    ), corpus AS (
        SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 20 <> 0
    )
    SELECT c.doc_id, CAST(COUNT(DISTINCT c.gram) AS BIGINT) AS n_shared
    FROM corpus c JOIN bench b USING (gram)
    GROUP BY c.doc_id
    ORDER BY c.doc_id
"""

EXT_ORACLES["pack_training_sequences"] = f"""
    WITH t AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ), c AS (
        SELECT *, SUM(n_tokens) OVER (
            PARTITION BY source ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT source, doc_id, n_tokens,
           CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % {PACK_BUDGET} AS BIGINT) AS pack_offset,
           ((cum - n_tokens) // {PACK_BUDGET})
               <> ((cum - 1) // {PACK_BUDGET}) AS crosses_boundary
    FROM c
    ORDER BY source, doc_id
"""

EXT_ORACLES["repetition_ratio_docs"] = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), g AS (
        SELECT doc_id, {_TRIGRAMS} AS grams
        FROM toks WHERE len(t) >= 3
    ), occ AS (
        SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram FROM g
    ), cnt AS (
        SELECT doc_id, n_grams, gram, COUNT(*) AS c
        FROM occ GROUP BY doc_id, n_grams, gram
    )
    SELECT doc_id,
           {_round(
               "CAST(MAX(c) AS DOUBLE) / CAST(MAX(n_grams) AS DOUBLE)", 6
           )} AS rep_ratio
    FROM cnt
    GROUP BY doc_id
    ORDER BY doc_id
"""

EXT_ORACLES["tfidf_top_terms"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, token
    ), dfreq AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
    ), n AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
    ), s AS (
        SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
               tf.tf * ln(n.n_docs / dfreq.df) AS score
        FROM tf JOIN dfreq USING (token), n
    ), r AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, token) AS rn
        FROM s
    )
    SELECT doc_id, token, tf, df,
           {_round('score', 6)} AS tfidf,
           CAST(rn AS BIGINT) AS rank
    FROM r
    WHERE rn <= 3
    ORDER BY doc_id, rn
"""


EXT_ORACLES["curated_corpus_v2"] = f"""
    WITH RECURSIVE {_PAIRS_CTE}, cand AS (
        SELECT DISTINCT doc_a, doc_b FROM pairs
    ), joined AS (
        SELECT c.doc_a, c.doc_b, sa.shingles AS sh_a, sb.shingles AS sh_b
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
    ), nd AS (
        SELECT doc_a, doc_b FROM joined
        WHERE ({_JACCARD_EXPR}) >= {NEAR_DUP_JACCARD}
    ), edges AS (
        SELECT doc_a AS a, doc_b AS b FROM nd
        UNION
        SELECT doc_b AS a, doc_a AS b FROM nd
    ), reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
        SELECT a AS node, least(a, min(b)) AS component
        FROM reach GROUP BY a
    ), nonrep AS (
        SELECT node AS doc_id FROM comp WHERE node <> component
    ), s AS (
        SELECT doc_id, text,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                   t -> list_contains({_dlist(STOPWORDS)}, t))) AS BIGINT)
                   AS n_stopwords,
               {_LANG_COUNTS}
        FROM documents
    ), p AS (
        SELECT *,
               {LANG_CASE_SQL} AS pred_lang,
               ({QUALITY_SQL}) AS quality
        FROM s
    ), kept AS (
        SELECT * FROM p
        WHERE pred_lang = '{CORPUS_LANG}'
          AND quality >= {CORPUS_MIN_QUALITY}
          AND n_tokens >= {CORPUS_MIN_TOKENS}
    ), uniq AS (
        SELECT *,
               row_number() OVER (PARTITION BY md5(lower(text))
                                  ORDER BY doc_id) AS rn
        FROM kept
    ), toksd AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), gd AS (
        SELECT doc_id, list_distinct({_GRAMS}) AS grams
        FROM toksd WHERE len(t) >= {DECON_K}
    ), bench AS (
        SELECT DISTINCT unnest(grams) AS gram FROM gd WHERE doc_id % 20 = 0
    ), contaminated AS (
        SELECT DISTINCT g.doc_id
        FROM (SELECT doc_id, unnest(grams) AS gram FROM gd
              WHERE doc_id % 20 <> 0) g
        JOIN bench b USING (gram)
    )
    SELECT doc_id, n_tokens, {_round('quality', 4)} AS quality_score
    FROM uniq
    WHERE rn = 1
      AND doc_id % 20 <> 0
      AND doc_id NOT IN (SELECT doc_id FROM nonrep)
      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ORDER BY doc_id
"""


# --- round-4 LLM-pipeline pack oracles ----------------------------------

from ..operators.text import CLASSIFIER_KEEP_SQL, CLASSIFIER_SCORE_SQL, PII_PATTERNS  # noqa: E402
from .queries_ext import (  # noqa: E402
    BM25_B,
    BM25_K1,
    BM25_TERMS,
    BM25_TOPK,
    PII_DECOR_SQL,
    SPAN_K,
)

_PII_COUNTS = ",\n               ".join(
    f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
    for name, pat, _ in PII_PATTERNS
)
_PII_REDACT = "text"
for _name, _pat, _repl in PII_PATTERNS:
    _PII_REDACT = f"regexp_replace({_PII_REDACT}, '{_pat}', '{_repl}', 'g')"

EXT_ORACLES["pii_scrub_docs"] = f"""
    WITH decorated AS (
        SELECT doc_id, {PII_DECOR_SQL} AS text FROM documents
    )
    SELECT doc_id,
           {_PII_COUNTS},
           md5({_PII_REDACT}) AS clean_hash
    FROM decorated
    ORDER BY doc_id
"""

EXT_ORACLES["quality_classifier_docs"] = f"""
    WITH s AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                   t -> list_contains({_dlist(STOPWORDS)}, t))) AS BIGINT)
                   AS n_stopwords,
               CAST(length(regexp_replace(text, '[a-z ]', '', 'g'))
                    AS BIGINT) AS n_nonalpha
        FROM documents
    )
    SELECT doc_id,
           {_round(CLASSIFIER_SCORE_SQL, 6)} AS quality_prob,
           {CLASSIFIER_KEEP_SQL} AS keep
    FROM s
    ORDER BY doc_id
"""

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)
# Mirrors the Spark expression tree exactly, including the constants the
# Python layer folds before Catalyst sees them: (k1+1)=2.2, (1-b)=0.25.
EXT_ORACLES["bm25_retrieval"] = f"""
    WITH lens AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents
    ), corpus AS (
        SELECT count(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
        FROM lens
    ), toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM toks WHERE token IN ({_BM25_TERMS_SQL})
        GROUP BY doc_id, token
    ), dfreq AS (
        SELECT token, count(*) AS df FROM tf GROUP BY token
    ), contrib AS (
        SELECT tf.doc_id,
               ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (tf.tf * {BM25_K1 + 1.0!r})
                   / (tf.tf + {BM25_K1!r} * ({1.0 - BM25_B!r}
                      + {BM25_B!r} * l.dl / c.avgdl)) AS contrib
        FROM tf
        JOIN dfreq d USING (token)
        JOIN lens l USING (doc_id), corpus c
    ), scored AS (
        SELECT doc_id,
               CAST(SUM(CAST(FLOOR(contrib * 1000000000.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1000000000.0 AS score,
               count(*) AS n_terms_hit
        FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, n_terms_hit,
           {_round('score', 6)} AS bm25,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {BM25_TOPK}
"""

def _span_gram(k: int) -> str:
    return (
        f"list_transform(range(1, len(tk) - {k - 2}), i -> md5("
        + "concat_ws(' ', "
        + ", ".join(f"tk[i+{j}]" for j in range(k))
        + ")))"
    )


_SPAN_GRAM = _span_gram(SPAN_K)
EXT_ORACLES["duplicate_spans_docs"] = f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents
        WHERE len(string_split(text, ' ')) >= {SPAN_K}
    ), g AS (
        SELECT doc_id, unnest(list_distinct({_SPAN_GRAM})) AS h FROM tok
    ), gc AS (
        SELECT h, count(*) AS n_docs_with_span FROM g GROUP BY h
    ), per AS (
        SELECT g.doc_id,
               count(*) AS n_spans,
               CAST(SUM(CASE WHEN gc.n_docs_with_span >= 2 THEN 1
                        ELSE 0 END) AS BIGINT) AS n_shared_spans
        FROM g JOIN gc USING (h)
        GROUP BY g.doc_id
    )
    SELECT doc_id, n_spans, n_shared_spans,
           {_round('n_shared_spans / CAST(n_spans AS DOUBLE)', 6)}
               AS shared_frac
    FROM per
    ORDER BY doc_id
"""


def _pq_oracle(
    m: int = 32, subdim: int = 2, n_codes: int = 32, n_iters: int = 1
) -> str:
    """Generated oracle for ``pq_topk_adc``: per-subspace Lloyd rounds
    unrolled as CTE layers, then ADC scoring — the same exact
    fixed-point dots, scaled-int centroid means, and pinned tie rules
    as ``similarity._pq_train_rows`` (its numpy Lloyd kernel) and
    ``pq_topk``'s in-row encode, so codebooks, code
    assignments, and ADC scores are bit-identical across engines.
    Lloyd rounds read only the ``svns`` training sample; the final
    code assignment and search read the full corpus."""

    def assign(cb: str, name: str, src: str = "svn") -> str:
        return f"""{name} AS (
            SELECT vec_id, s, code FROM (
                SELECT {src}.vec_id, {src}.s, c.code,
                       row_number() OVER (PARTITION BY {src}.vec_id, {src}.s
                           ORDER BY {src}.xn - 2.0 * {_dot(f'{src}.x', 'c.ce')}
                               + c.cn, c.code) AS rn
                FROM {src} JOIN {cb} c ON {src}.s = c.s
            ) WHERE rn = 1
        )"""

    def means(a_cte: str, m_name: str, c_name: str) -> str:
        sums = ",\n                   ".join(
            f"SUM(CAST(FLOOR(svns.x[{i + 1}] * {_SCALE.replace('.0','')}.0)"
            f" AS DECIMAL(38,0))) AS s{i}"
            for i in range(subdim)
        )
        comps = ", ".join(
            f"CAST(s{i} AS DOUBLE) / {_SCALE} / n" for i in range(subdim)
        )
        return f"""{m_name} AS (
            SELECT a.s, a.code, COUNT(*) AS n,
                   {sums}
            FROM svns JOIN {a_cte} a USING (vec_id, s)
            GROUP BY a.s, a.code
        ), {c_name}_raw AS (
            SELECT s, code, list_value({comps}) AS ce FROM {m_name}
        ), {c_name} AS (
            SELECT s, code, ce, {_dot('ce', 'ce')} AS cn FROM {c_name}_raw
        )"""

    rounds = []
    prev = "cb0"
    for r in range(1, n_iters + 1):
        rounds.append(assign(prev, f"pa{r}", src="svns"))
        rounds.append(means(f"pa{r}", f"pm{r}", f"cb{r}"))
        prev = f"cb{r}"
    body = ",\n        ".join(rounds)
    adc = "1000000000.0"
    return f"""
        WITH {_VECTOR_CTE.strip()}, sv AS (
            SELECT vec_id, ss.s AS s,
                   list_slice(e, ss.s * {subdim} + 1,
                              ss.s * {subdim} + {subdim}) AS x
            FROM vn, (SELECT unnest(range(0, {m})) AS s) ss
        ), svn AS (
            SELECT vec_id, s, x, {_dot('x', 'x')} AS xn FROM sv
        ), svns AS (
            SELECT * FROM svn WHERE {_TRAIN_PRED}
        ), cb0 AS (
            SELECT s, vec_id AS code, x AS ce, xn AS cn
            FROM svn WHERE vec_id < {n_codes}
        ),
        {body},
        {assign(prev, 'codes')},
        q AS (
            SELECT vec_id AS q_id, s, x AS qx FROM svn
            WHERE {ANN_QUERY_PRED}
        ), lut AS (
            SELECT q.q_id, c.s, c.code, {_dot('q.qx', 'c.ce')} AS val
            FROM q JOIN {prev} c ON q.s = c.s
        ), scored AS (
            SELECT l.q_id, k.vec_id,
                   CAST(SUM(CAST(FLOOR(l.val * {adc} + 0.5) AS BIGINT))
                        AS DOUBLE) / {adc} AS approx
            FROM codes k
            JOIN lut l ON k.s = l.s AND k.code = l.code
            WHERE k.vec_id <> l.q_id
            GROUP BY l.q_id, k.vec_id
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY approx DESC, vec_id) AS rnk
            FROM scored
        )
        SELECT q_id, vec_id AS neighbor_id,
               {_round('approx', 6)} AS approx_dot,
               CAST(rnk AS BIGINT) AS rank
        FROM ranked
        WHERE rnk <= {ANN_K}
        ORDER BY q_id, rnk
    """


EXT_ORACLES["pq_topk_adc"] = _pq_oracle()

EXT_ORACLES["unigram_logprob_docs"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), counts AS (
        SELECT token, count(*) AS cnt FROM toks GROUP BY token
    ), totals AS (
        SELECT SUM(cnt) AS t_tokens, count(*) AS v_size FROM counts
    ), logp AS (
        SELECT token,
               ln((cnt + 1.0) / CAST(t_tokens + v_size AS DOUBLE)) AS logp
        FROM counts, totals
    ), per AS (
        SELECT t.doc_id,
               count(*) AS n_tokens,
               CAST(SUM(CAST(FLOOR(l.logp * 1000000000.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1000000000.0 / count(*) AS mean_raw
        FROM toks t JOIN logp l USING (token)
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, {_round('mean_raw', 6)} AS mean_logprob
    FROM per
    ORDER BY doc_id
"""

from .queries_ext import (  # noqa: E402
    CORPUS_V3_MAX_SHARED,
    CORPUS_V3_MIN_LOGPROB,
    V3_SPAN_K,
)

EXT_ORACLES["curated_corpus_v3"] = f"""
    WITH clean AS (
        SELECT doc_id, {_PII_REDACT} AS text FROM documents
    ), s AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                   t -> list_contains({_dlist(STOPWORDS)}, t))) AS BIGINT)
                   AS n_stopwords,
               CAST(length(regexp_replace(text, '[a-z ]', '', 'g'))
                    AS BIGINT) AS n_nonalpha
        FROM clean
    ), cls AS (
        SELECT doc_id, ({CLASSIFIER_SCORE_SQL}) AS qp,
               {CLASSIFIER_KEEP_SQL} AS keep FROM s
    ), toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM clean
    ), counts AS (
        SELECT token, count(*) AS cnt FROM toks GROUP BY token
    ), totals AS (
        SELECT SUM(cnt) AS t_tokens, count(*) AS v_size FROM counts
    ), logp AS (
        SELECT token,
               ln((cnt + 1.0) / CAST(t_tokens + v_size AS DOUBLE)) AS logp
        FROM counts, totals
    ), lm AS (
        SELECT t.doc_id,
               CAST(SUM(CAST(FLOOR(l.logp * 1000000000.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1000000000.0 / count(*) AS mlp
        FROM toks t JOIN logp l USING (token)
        GROUP BY t.doc_id
    ), tok2 AS (
        SELECT doc_id, string_split(text, ' ') AS tk
        FROM clean
        WHERE len(string_split(text, ' ')) >= {V3_SPAN_K}
    ), g AS (
        SELECT doc_id, unnest(list_distinct({_span_gram(V3_SPAN_K)})) AS h
        FROM tok2
    ), gc AS (
        SELECT h, count(*) AS nd FROM g GROUP BY h
    ), spans AS (
        SELECT g.doc_id,
               SUM(CASE WHEN gc.nd >= 2 THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE) AS frac
        FROM g JOIN gc USING (h)
        GROUP BY g.doc_id
    ), kept AS (
        SELECT cls.doc_id, cls.qp, lm.mlp, spans.frac
        FROM cls
        JOIN lm USING (doc_id)
        JOIN spans USING (doc_id)
        WHERE cls.keep
          AND lm.mlp >= {CORPUS_V3_MIN_LOGPROB!r}
          AND spans.frac <= {CORPUS_V3_MAX_SHARED!r}
    ), uniq AS (
        SELECT k.*,
               row_number() OVER (PARTITION BY md5(lower(c.text))
                                  ORDER BY k.doc_id) AS rn
        FROM kept k JOIN clean c USING (doc_id)
    )
    SELECT doc_id,
           {_round('qp', 6)} AS quality_prob,
           {_round('mlp', 6)} AS mean_logprob,
           {_round('frac', 6)} AS shared_frac
    FROM uniq
    WHERE rn = 1
    ORDER BY doc_id
"""

EXT_ORACLES["mix_sources_tokens"] = f"""
    WITH docs AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        FROM documents
    ), per_source AS (
        SELECT source, count(*) AS n_docs, SUM(n_toks) AS n_tokens
        FROM docs GROUP BY source
    ), totals AS (
        SELECT SUM(n_tokens) AS total_tokens, count(*) AS n_sources
        FROM per_source
    ), rates AS (
        -- exact-integer mirror of the Spark side (VERDICT r05): the
        -- keep cut is cross-multiplied over HUGEINT, and keep_prob is
        -- the integer half-up micro-round (num*2e6 + den) // (2*den)
        -- followed by one final double division by 1e6
        SELECT source, n_docs, n_tokens,
               CAST(n_sources AS HUGEINT) * n_tokens AS den,
               CAST(total_tokens AS HUGEINT) AS tot,
               (least(CAST(total_tokens AS HUGEINT),
                      CAST(n_sources AS HUGEINT) * n_tokens) * 2000000
                + CAST(n_sources AS HUGEINT) * n_tokens)
               // (2 * CAST(n_sources AS HUGEINT) * n_tokens) AS kp_micro
        FROM per_source, totals
    ), kept AS (
        SELECT d.source, count(*) AS n_kept, SUM(d.n_toks) AS kept_tokens
        FROM docs d JOIN rates r USING (source)
        WHERE CAST(CAST(concat('0x', substr(md5(concat('mix|',
                  CAST(d.doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10000
                  AS HUGEINT) * r.den
              < r.tot * 10000
        GROUP BY d.source
    )
    -- Output columns are CAST to BIGINT: DuckDB's SUM(BIGINT) yields
    -- HUGEINT, and the driver's hash canonicalizes HUGEINT cells
    -- differently from BIGINT (VERDICT r06 root cause — the r5/r6
    -- hash_match:false rows). Internal HUGEINT arithmetic is fine;
    -- only result columns reach the hash.
    SELECT r.source, r.n_docs, CAST(r.n_tokens AS BIGINT) AS n_tokens,
           CAST(r.kp_micro AS DOUBLE) / 1000000.0 AS keep_prob,
           COALESCE(k.n_kept, 0) AS n_kept,
           CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
    FROM rates r LEFT JOIN kept k USING (source)
    ORDER BY r.source
"""

from .queries_ext import EMB_SIM_THRESHOLD  # noqa: E402


def _semantic_dedup_oracle(
    n_seeds: int = 8, n_iters: int = 2, dim: int = 64
) -> str:
    """Generated oracle for ``semantic_dedup_kmeans``: the same unrolled
    Lloyd rounds as ``_kmeans_ivf_oracle`` (identical assignment tie
    rules and fixed-point centroid means, including the ``vns``
    training-sample restriction of the Lloyd rounds), then within-cell
    pairwise cosine above the shared threshold."""

    def assign(cte_c: str, name: str, src: str = "vn") -> str:
        return f"""{name} AS (
            SELECT vec_id, cell FROM (
                SELECT {src}.vec_id, c.cell,
                       row_number() OVER (PARTITION BY {src}.vec_id
                           ORDER BY {_dot(f'{src}.e', 'c.ce')}
                               / (sqrt({src}.norm2) * sqrt(c.cn)) DESC,
                               c.cell) AS rn
                FROM {src}, {cte_c} c
            ) WHERE rn = 1
        )"""

    def means(a_cte: str, m_name: str, c_name: str) -> str:
        sums = ",\n                   ".join(
            f"SUM(CAST(FLOOR(vns.e[{i + 1}] * {_SCALE}) AS DECIMAL(38,0)))"
            f" AS s{i}"
            for i in range(dim)
        )
        comps = ", ".join(
            f"CAST(s{i} AS DOUBLE) / {_SCALE} / n" for i in range(dim)
        )
        return f"""{m_name} AS (
            SELECT a.cell, COUNT(*) AS n,
                   {sums}
            FROM vns JOIN {a_cte} a USING (vec_id) GROUP BY a.cell
        ), {c_name}_raw AS (
            SELECT cell, list_value({comps}) AS ce FROM {m_name}
        ), {c_name} AS (
            SELECT cell, ce, {_dot('ce', 'ce')} AS cn FROM {c_name}_raw
        )"""

    rounds = []
    prev = "c0"
    for r in range(1, n_iters + 1):
        rounds.append(assign(prev, f"a{r}", src="vns"))
        rounds.append(means(f"a{r}", f"m{r}", f"c{r}"))
        prev = f"c{r}"
    body = ",\n        ".join(rounds)
    return f"""
        WITH {_VECTOR_CTE.strip()}, vns AS (
            SELECT * FROM vn WHERE {_TRAIN_PRED}
        ), c0 AS (
            SELECT vec_id AS cell, e AS ce, norm2 AS cn
            FROM vn WHERE vec_id < {n_seeds}
        ),
        {body},
        {assign(prev, 'cells')},
        vc AS (
            SELECT vn.vec_id, vn.e, vn.norm2, c.cell
            FROM vn JOIN cells c USING (vec_id)
        ), pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell,
                   {_dot('a.e', 'b.e')} / (sqrt(a.norm2) * sqrt(b.norm2))
                       AS cos_raw
            FROM vc a JOIN vc b ON a.cell = b.cell AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, cell,
               {_round('cos_raw', 6)} AS cosine
        FROM pairs
        WHERE cos_raw >= {EMB_SIM_THRESHOLD!r}
        ORDER BY vec_a, vec_b
    """


EXT_ORACLES["semantic_dedup_kmeans"] = _semantic_dedup_oracle()


def _ivfpq_oracle(
    n_seeds: int = 8,
    kmeans_iters: int = 2,
    dim: int = 64,
    m: int = 32,
    subdim: int = 2,
    n_codes: int = 32,
    pq_iters: int = 1,
    nprobe: int = 2,
    k: int | None = None,
) -> str:
    """Generated oracle for ``ivfpq_topk_adc``: the kmeans-cell rounds
    (as in ``_kmeans_ivf_oracle``), residual computation against the
    final centroids, the residual PQ rounds (as in ``_pq_oracle``), and
    ADC probe scoring q·c + Σ LUT — every stage the same fixed-point
    arithmetic and pinned tie rules as the Spark side, including the
    training-sample restriction (``vns`` / ``rsvns``) of both Lloyd
    loops; assignment, encoding, and search read the full corpus."""

    def kassign(cte_c: str, name: str, src: str = "vn") -> str:
        return f"""{name} AS (
            SELECT vec_id, cell FROM (
                SELECT {src}.vec_id, c.cell,
                       row_number() OVER (PARTITION BY {src}.vec_id
                           ORDER BY {_dot(f'{src}.e', 'c.ce')}
                               / (sqrt({src}.norm2) * sqrt(c.cn)) DESC,
                               c.cell) AS rn
                FROM {src}, {cte_c} c
            ) WHERE rn = 1
        )"""

    def kmeans(a_cte: str, m_name: str, c_name: str) -> str:
        sums = ",\n                   ".join(
            f"SUM(CAST(FLOOR(vns.e[{i + 1}] * {_SCALE}) AS DECIMAL(38,0)))"
            f" AS s{i}"
            for i in range(dim)
        )
        comps = ", ".join(
            f"CAST(s{i} AS DOUBLE) / {_SCALE} / n" for i in range(dim)
        )
        return f"""{m_name} AS (
            SELECT a.cell, COUNT(*) AS n,
                   {sums}
            FROM vns JOIN {a_cte} a USING (vec_id) GROUP BY a.cell
        ), {c_name}_raw AS (
            SELECT cell, list_value({comps}) AS ce FROM {m_name}
        ), {c_name} AS (
            SELECT cell, ce, {_dot('ce', 'ce')} AS cn FROM {c_name}_raw
        )"""

    def passign(cb: str, name: str, src: str = "rsvn") -> str:
        return f"""{name} AS (
            SELECT vec_id, s, code FROM (
                SELECT {src}.vec_id, {src}.s, c.code,
                       row_number() OVER (PARTITION BY {src}.vec_id, {src}.s
                           ORDER BY {src}.xn - 2.0 * {_dot(f'{src}.x', 'c.ce')}
                               + c.cn, c.code) AS rn
                FROM {src} JOIN {cb} c ON {src}.s = c.s
            ) WHERE rn = 1
        )"""

    def pmeans(a_cte: str, m_name: str, c_name: str) -> str:
        sums = ",\n                   ".join(
            f"SUM(CAST(FLOOR(rsvns.x[{i + 1}] * {_SCALE}) AS DECIMAL(38,0)))"
            f" AS s{i}"
            for i in range(subdim)
        )
        comps = ", ".join(
            f"CAST(s{i} AS DOUBLE) / {_SCALE} / n" for i in range(subdim)
        )
        return f"""{m_name} AS (
            SELECT a.s, a.code, COUNT(*) AS n,
                   {sums}
            FROM rsvns JOIN {a_cte} a USING (vec_id, s)
            GROUP BY a.s, a.code
        ), {c_name}_raw AS (
            SELECT s, code, list_value({comps}) AS ce FROM {m_name}
        ), {c_name} AS (
            SELECT s, code, ce, {_dot('ce', 'ce')} AS cn FROM {c_name}_raw
        )"""

    krounds = []
    kprev = "c0"
    for r in range(1, kmeans_iters + 1):
        krounds.append(kassign(kprev, f"a{r}", src="vns"))
        krounds.append(kmeans(f"a{r}", f"m{r}", f"c{r}"))
        kprev = f"c{r}"
    prounds = []
    pprev = "pcb0"
    for r in range(1, pq_iters + 1):
        prounds.append(passign(pprev, f"pa{r}", src="rsvns"))
        prounds.append(pmeans(f"pa{r}", f"pm{r}", f"pcb{r}"))
        pprev = f"pcb{r}"
    kbody = ",\n        ".join(krounds)
    pbody = ",\n        ".join(prounds)
    sub = f"(SELECT unnest(range(0, {m})) AS s)"
    residual = f"list_transform(range(1, {dim} + 1), i -> "
    adc = "1000000000.0"
    return f"""
        WITH {_VECTOR_CTE.strip()}, vns AS (
            SELECT * FROM vn WHERE {_TRAIN_PRED}
        ), c0 AS (
            SELECT vec_id AS cell, e AS ce, norm2 AS cn
            FROM vn WHERE vec_id < {n_seeds}
        ),
        {kbody},
        {kassign(kprev, 'cells')},
        resv AS (
            SELECT vn.vec_id, cl.cell,
                   {residual}vn.e[i] - c.ce[i]) AS e
            FROM vn
            JOIN cells cl USING (vec_id)
            JOIN {kprev} c ON cl.cell = c.cell
        ), rsv AS (
            SELECT vec_id, ss.s AS s,
                   list_slice(e, ss.s * {subdim} + 1,
                              ss.s * {subdim} + {subdim}) AS x
            FROM resv, {sub} ss
        ), rsvn AS (
            SELECT vec_id, s, x, {_dot('x', 'x')} AS xn FROM rsv
        ), rsvns AS (
            SELECT * FROM rsvn WHERE {_TRAIN_PRED}
        ), pcb0 AS (
            SELECT s, vec_id AS code, x AS ce, xn AS cn
            FROM rsvn WHERE vec_id < {n_codes}
        ),
        {pbody},
        {passign(pprev, 'codes')},
        kc AS (
            SELECT k.vec_id, k.s, k.code, cl.cell
            FROM codes k JOIN cells cl USING (vec_id)
        ), qp AS (
            SELECT q_id, qe, cell FROM (
                SELECT vn.vec_id AS q_id, vn.e AS qe, c.cell,
                       row_number() OVER (PARTITION BY vn.vec_id
                           ORDER BY {_dot('vn.e', 'c.ce')}
                               / (sqrt(vn.norm2) * sqrt(c.cn)) DESC,
                               c.cell) AS rn
                FROM vn, {kprev} c WHERE {ANN_QUERY_PRED}
            ) WHERE rn <= {nprobe}
        ), qr AS (
            SELECT qp.q_id, qp.cell,
                   {_dot('qp.qe', 'c.ce')} AS qdotc,
                   {residual}qp.qe[i] - c.ce[i]) AS e
            FROM qp JOIN {kprev} c USING (cell)
        ), qsv AS (
            SELECT q_id, cell, qdotc, ss.s AS s,
                   list_slice(e, ss.s * {subdim} + 1,
                              ss.s * {subdim} + {subdim}) AS qx
            FROM qr, {sub} ss
        ), lut AS (
            SELECT q.q_id, q.cell, q.qdotc, c.s, c.code,
                   {_dot('q.qx', 'c.ce')} AS val
            FROM qsv q JOIN {pprev} c ON q.s = c.s
        ), scored AS (
            SELECT l.q_id, kc.vec_id, kc.cell,
                   MAX(l.qdotc)
                   + CAST(SUM(CAST(FLOOR(l.val * {adc} + 0.5) AS BIGINT))
                          AS DOUBLE) / {adc} AS approx
            FROM kc
            JOIN lut l ON kc.cell = l.cell AND kc.s = l.s
                      AND kc.code = l.code
            WHERE kc.vec_id <> l.q_id
            GROUP BY l.q_id, kc.vec_id, kc.cell
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY approx DESC, vec_id) AS rnk
            FROM scored
        )
        SELECT q_id, vec_id AS neighbor_id, cell,
               {_round('approx', 6)} AS approx_ip,
               CAST(rnk AS BIGINT) AS rank
        FROM ranked
        WHERE rnk <= {k if k is not None else ANN_K}
        ORDER BY q_id, rnk
    """


EXT_ORACLES["ivfpq_topk_adc"] = _ivfpq_oracle()

from ..operators.dedup import (  # noqa: E402
    PAGERANK_DAMPING,
    PAGERANK_ITERS,
)


def _pagerank_oracle(
    n_iters: int = PAGERANK_ITERS, damping: float = PAGERANK_DAMPING
) -> str:
    """Generated oracle for ``pagerank_dedup_graph``: the verified
    near-dup pair CTE (same as jaccard_near_dups), then the PageRank
    rounds unrolled — identical constants (repr-exact literals),
    fixed-point contribution sums, pinned divide order."""
    base = f"{1.0 - damping!r} / n.n"
    rounds = []
    prev = "r0"
    for i in range(1, n_iters + 1):
        rounds.append(f"""r{i} AS (
            SELECT e.b AS node,
                   {base} + {damping!r} * (
                       CAST(SUM(CAST(FLOOR(r.rank / d.deg * 1000000000000.0
                                           + 0.5) AS BIGINT)) AS DOUBLE)
                       / 1000000000000.0) AS rank
            FROM e
            JOIN {prev} r ON e.a = r.node
            JOIN deg d ON e.a = d.node, n
            GROUP BY e.b, n.n
        )""")
        prev = f"r{i}"
    body = ",\n        ".join(rounds)
    return f"""
        WITH {_PAIRS_CTE}, cand AS (
            SELECT DISTINCT doc_a, doc_b FROM pairs
        ), joined AS (
            SELECT c.doc_a, c.doc_b, sa.shingles AS sh_a, sb.shingles AS sh_b
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b
        ), nd AS (
            SELECT doc_a, doc_b FROM joined
            WHERE ({_JACCARD_EXPR}) >= {NEAR_DUP_JACCARD}
        ), e AS (
            SELECT doc_a AS a, doc_b AS b FROM nd
            UNION
            SELECT doc_b AS a, doc_a AS b FROM nd
        ), nodes AS (
            SELECT DISTINCT a AS node FROM e
        ), n AS (
            SELECT count(*) AS n FROM nodes
        ), deg AS (
            SELECT a AS node, count(*) AS deg FROM e GROUP BY a
        ), r0 AS (
            SELECT node, 1.0 / n.n AS rank FROM nodes, n
        ),
        {body}
        SELECT r.node, d.deg, {_round('r.rank', 9)} AS rank
        FROM {prev} r JOIN deg d USING (node)
        ORDER BY r.node
    """


EXT_ORACLES["pagerank_dedup_graph"] = _pagerank_oracle()

from ..operators.sketch import (  # noqa: E402
    CMS_DEPTH,
    CMS_WIDTH,
    HLL_ALPHA,
    HLL_M,
)

_CMS_POS = "CAST(concat('0x', substr(md5(concat('cms{r}|', token)), 1, 8)) AS BIGINT) % " + str(CMS_WIDTH)
_CMS_ROWS = "\n            UNION ALL\n".join(
    f"            SELECT token, {r} AS r, "
    + _CMS_POS.replace("{r}", str(r))
    + " AS pos FROM toks"
    for r in range(CMS_DEPTH)
)

EXT_ORACLES["cms_heavy_hitters"] = f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), rp AS (
{_CMS_ROWS}
    ), sketch AS (
        SELECT r, pos, count(*) AS cnt FROM rp GROUP BY r, pos
    ), exact AS (
        SELECT token, count(*) AS n_exact FROM toks GROUP BY token
    ), probes AS (
        SELECT DISTINCT e.token, e.n_exact, p.r, p.pos
        FROM exact e JOIN rp p USING (token)
    ), est AS (
        SELECT p.token, p.n_exact, MIN(s.cnt) AS cms_estimate
        FROM probes p JOIN sketch s USING (r, pos)
        GROUP BY p.token, p.n_exact
    )
    SELECT token, n_exact, cms_estimate
    FROM est
    ORDER BY n_exact DESC, token
    LIMIT 20
"""

EXT_ORACLES["hll_distinct_users"] = f"""
    WITH ranked AS (
        SELECT event_type,
               CAST(concat('0x', substr(md5(concat('hllreg|',
                   CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % {HLL_M}
                   AS reg,
               CASE WHEN CAST(concat('0x', substr(md5(concat('hllrank|',
                        CAST(user_id AS VARCHAR))), 9, 8)) AS BIGINT) = 0
                    THEN 33
                    ELSE 33 - length(bin(CAST(concat('0x',
                        substr(md5(concat('hllrank|',
                        CAST(user_id AS VARCHAR))), 9, 8)) AS BIGINT)))
               END AS rank
        FROM events
    ), registers AS (
        SELECT event_type, reg, MAX(rank) AS mx
        FROM ranked GROUP BY event_type, reg
    ), sums AS (
        SELECT event_type,
               SUM(pow(2.0, -mx)) AS s,
               count(*) AS present
        FROM registers GROUP BY event_type
    ), est AS (
        SELECT event_type,
               {HLL_ALPHA * HLL_M * HLL_M!r}
                   / (s + ({HLL_M} - present)) AS hll_estimate
        FROM sums
    ), exact AS (
        SELECT event_type, count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT e.event_type, e.n_exact,
           {_round('x.hll_estimate', 4)} AS hll_estimate,
           {_round('(x.hll_estimate - e.n_exact) / CAST(e.n_exact AS DOUBLE)', 4)}
               AS rel_error
    FROM exact e JOIN est x USING (event_type)
    ORDER BY e.event_type
"""

from ..operators.sketch import BLOOM_BITS, BLOOM_K  # noqa: E402

_BLOOM_POS = (
    "(CAST(concat('0x', substr(md5(concat('bloom{i}|',"
    " CAST({col} AS VARCHAR))), 1, 8)) AS BIGINT) % " + str(BLOOM_BITS) + ")"
)
_BSET_UNION = "\n            UNION\n".join(
    "            SELECT DISTINCT "
    + _BLOOM_POS.format(i=i, col="c_custkey")
    + " AS pos FROM keys"
    for i in range(BLOOM_K)
)
_PROBE_PASS = " AND ".join(
    _BLOOM_POS.format(i=i, col="o.o_custkey") + " IN (SELECT pos FROM bset)"
    for i in range(BLOOM_K)
)

EXT_ORACLES["bloom_join_prune"] = f"""
    WITH keys AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ), bset AS (
{_BSET_UNION}
    ), flagged AS (
        SELECT o.o_custkey,
               ({_PROBE_PASS}) AS pass,
               o.o_custkey IN (SELECT c_custkey FROM keys) AS istrue
        FROM orders o
    )
    SELECT count(*) AS n_orders,
           CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_pass,
           CAST(SUM(CASE WHEN istrue THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_match,
           CAST(SUM(CASE WHEN pass AND NOT istrue THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive,
           {_round(
               "SUM(CASE WHEN pass AND NOT istrue THEN 1 ELSE 0 END)"
               " / CAST(count(*) - SUM(CASE WHEN istrue THEN 1 ELSE 0 END)"
               " AS DOUBLE)", 6)} AS fp_rate
    FROM flagged
"""

EXT_ORACLES["leakage_safe_split"] = f"""
    WITH RECURSIVE {_PAIRS_CTE}, cand AS (
        SELECT DISTINCT doc_a, doc_b FROM pairs
    ), joined AS (
        SELECT c.doc_a, c.doc_b, sa.shingles AS sh_a, sb.shingles AS sh_b
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
    ), nd AS (
        SELECT doc_a, doc_b FROM joined
        WHERE ({_JACCARD_EXPR}) >= {NEAR_DUP_JACCARD}
    ), edges AS (
        SELECT doc_a AS a, doc_b AS b FROM nd
        UNION
        SELECT doc_b AS a, doc_a AS b FROM nd
    ), reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
        SELECT a AS node, least(a, min(b)) AS component
        FROM reach GROUP BY a
    ), labeled AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ), bucketed AS (
        SELECT doc_id, component,
               CAST(concat('0x', substr(md5(concat('v1|',
                   CAST(component AS VARCHAR))), 1, 8)) AS BIGINT) % 10000
                   AS b
        FROM labeled
    )
    SELECT doc_id, component,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM bucketed
    ORDER BY doc_id
"""

from .queries_ext import RERANK_FANOUT  # noqa: E402


def _ivfpq_rerank_oracle() -> str:
    """Generated oracle for ``ivfpq_rerank_topk``: the full IVF-PQ
    statement (widened to k·RERANK_FANOUT candidates) as a subquery,
    then exact cosine re-scoring of just those candidates."""
    inner = _ivfpq_oracle(k=ANN_K * RERANK_FANOUT)
    return f"""
        WITH {_VECTOR_CTE.strip()}, cand AS (
            SELECT q_id, neighbor_id FROM ({inner})
        ), rescored AS (
            SELECT c.q_id, c.neighbor_id,
                   {_dot('qv.e', 'nv.e')} / (sqrt(qv.norm2) * sqrt(nv.norm2))
                       AS cos_raw
            FROM cand c
            JOIN vn qv ON qv.vec_id = c.q_id
            JOIN vn nv ON nv.vec_id = c.neighbor_id
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY cos_raw DESC, neighbor_id) AS rnk
            FROM rescored
        )
        SELECT q_id, neighbor_id,
               {_round('cos_raw', 6)} AS cosine,
               CAST(rnk AS BIGINT) AS rank
        FROM ranked
        WHERE rnk <= {ANN_K}
        ORDER BY q_id, rnk
    """


EXT_ORACLES["ivfpq_rerank_topk"] = _ivfpq_rerank_oracle()

from .queries_ext import PHRASE  # noqa: E402

EXT_ORACLES["phrase_search_docs"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), hits AS (
        SELECT doc_id,
               list_filter(range(1, len(tk)),
                   i -> tk[i] = '{PHRASE[0]}' AND tk[i+1] = '{PHRASE[1]}')
                   AS idx
        FROM t
    )
    SELECT doc_id,
           CAST(len(idx) AS BIGINT) AS n_occurrences,
           CAST(idx[1] - 1 AS BIGINT) AS first_pos
    FROM hits
    WHERE len(idx) > 0
    ORDER BY doc_id
"""

from .queries_ext import BACKOFF  # noqa: E402

EXT_ORACLES["bigram_logprob_docs"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), bigrams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk)),
                   i -> concat(tk[i], ' ', tk[i+1]))) AS bg
        FROM t WHERE len(tk) >= 2
    ), train_bg AS (
        SELECT bg, count(*) AS c_bg FROM bigrams
        WHERE doc_id % 2 = 0 GROUP BY bg
    ), toks AS (
        SELECT doc_id, unnest(tk) AS token FROM t
    ), train_uni AS (
        SELECT token, count(*) AS c_uni FROM toks
        WHERE doc_id % 2 = 0 GROUP BY token
    ), totals AS (
        SELECT SUM(c_uni) AS t_tokens, count(*) AS v_size FROM train_uni
    ), scored AS (
        SELECT b.doc_id,
               ln(CASE WHEN tb.c_bg IS NOT NULL AND u1.c_uni IS NOT NULL
                       THEN tb.c_bg / CAST(u1.c_uni AS DOUBLE)
                       ELSE {BACKOFF!r} * (COALESCE(u2.c_uni, 0) + 1.0)
                            / CAST(tt.t_tokens + tt.v_size AS DOUBLE)
                  END) AS lp
        FROM bigrams b
        LEFT JOIN train_bg tb USING (bg)
        LEFT JOIN train_uni u1 ON u1.token = string_split(b.bg, ' ')[1]
        LEFT JOIN train_uni u2 ON u2.token = string_split(b.bg, ' ')[2]
        CROSS JOIN totals tt
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           {_round(
               "CAST(SUM(CAST(FLOOR(lp * 1000000000.0 + 0.5) AS BIGINT))"
               " AS DOUBLE) / 1000000000.0 / count(*)", 6)}
               AS mean_logprob,
           doc_id % 2 = 1 AS held_out
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
"""

from .queries_ext import HYBRID_QVEC, HYBRID_TOPK, RRF_K  # noqa: E402


def _hybrid_rrf_oracle() -> str:
    """Generated oracle for ``hybrid_rrf_retrieval``: the full BM25
    statement as the sparse leg, a single-query brute-force cosine
    top-k as the dense leg, fused with 1/(k+rank) rational arithmetic."""
    return f"""
        WITH {_VECTOR_CTE.strip()}, sparse AS (
            SELECT doc_id, rank AS r_sparse
            FROM ({EXT_ORACLES['bm25_retrieval']})
        ), q AS (
            SELECT e AS qe, norm2 AS qn FROM vn
            WHERE vec_id = {HYBRID_QVEC}
        ), dense AS (
            SELECT vec_id AS doc_id, rnk AS r_dense FROM (
                SELECT vn.vec_id,
                       row_number() OVER (ORDER BY
                           {_dot('q.qe', 'vn.e')}
                               / (sqrt(q.qn) * sqrt(vn.norm2)) DESC,
                           vn.vec_id) AS rnk
                FROM vn, q WHERE vn.vec_id <> {HYBRID_QVEC}
            ) WHERE rnk <= {HYBRID_TOPK}
        ), fused AS (
            SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
                   s.r_sparse, d.r_dense,
                   (CASE WHEN s.r_sparse IS NOT NULL
                         THEN 1.0 / (s.r_sparse + {float(RRF_K)!r})
                         ELSE 0.0 END
                    + CASE WHEN d.r_dense IS NOT NULL
                           THEN 1.0 / (d.r_dense + {float(RRF_K)!r})
                           ELSE 0.0 END) AS rrf
            FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
        )
        SELECT doc_id,
               COALESCE(r_sparse, 0) AS r_sparse,
               COALESCE(r_dense, 0) AS r_dense,
               {_round('rrf', 9)} AS rrf_score,
               CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
                    AS BIGINT) AS rank
        FROM fused
        ORDER BY rank
        LIMIT {HYBRID_TOPK}
    """


EXT_ORACLES["hybrid_rrf_retrieval"] = _hybrid_rrf_oracle()

from ..operators.similarity import KNN_K  # noqa: E402

EXT_ORACLES["knn_graph"] = f"""
    WITH {_VECTOR_CTE.strip()}, pl AS (
        SELECT * FROM (VALUES
        {_PLANES_VALUES}
        ) AS t(plane_idx, w)
    ), pdots AS (
        SELECT vn.vec_id, pl.plane_idx, {_dot('vn.e', 'pl.w')} AS dot
        FROM vn, pl
    ), buckets AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN dot >= 0
                    THEN (CAST(1 AS BIGINT) << plane_idx) ELSE 0 END)
                    AS BIGINT) AS bucket
        FROM pdots GROUP BY vec_id
    ), vb AS (
        SELECT vn.vec_id, vn.e, vn.norm2, b.bucket
        FROM vn JOIN buckets b USING (vec_id)
    ), scored AS (
        SELECT q.vec_id AS q_id, vb.vec_id,
               {_dot('q.e', 'vb.e')} / (sqrt(q.norm2) * sqrt(vb.norm2))
                   AS cosine_raw
        FROM vb q JOIN vb ON q.bucket = vb.bucket AND vb.vec_id <> q.vec_id
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id) AS rnk
        FROM scored
    )
    SELECT q_id, vec_id AS neighbor_id,
           {_round('cosine_raw', 6)} AS cosine,
           CAST(rnk AS BIGINT) AS rank
    FROM ranked
    WHERE rnk <= {KNN_K}
    ORDER BY q_id, rnk
"""

# the UDTF twin is semantics-identical to the JVM chunker: same oracle.
EXT_ORACLES["chunk_documents_udtf"] = EXT_ORACLES["chunk_documents"]

# cogroup+merge_asof must equal the as-of operator: same oracle.
from .oracles import ORACLES as _CORE_FOR_COGROUP  # noqa: E402

EXT_ORACLES["cogroup_asof_pandas"] = _CORE_FOR_COGROUP["asof_attribution"]

EXT_ORACLES["bpe_merge_candidates"] = """
    WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
    ), pairs AS (
        SELECT t[i] AS a, t[i + 1] AS b
        FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
    )
    SELECT a, b, count(*) AS n_pairs
    FROM pairs GROUP BY a, b
    ORDER BY n_pairs DESC, a, b
    LIMIT 20
"""

# integer-rational 6-dp mirror: HUGEINT cross-multiplication, // on
# positives == Spark's DECIMAL div, ONE final double division; output
# ints cast to BIGINT (the registry type lint bans HUGEINT results)
EXT_ORACLES["token_diversity_docs"] = """
    WITH counts AS (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok
    ), m AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_distinct,
               CAST(sum(c * c) AS BIGINT) AS sum_sq
        FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           CAST(CAST((2 * (CAST(n_tokens AS HUGEINT) * n_tokens - sum_sq)
                      * 1000000
                      + CAST(n_tokens AS HUGEINT) * n_tokens)
               // (2 * CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
               AS DOUBLE) / 1000000.0 AS simpson,
           CAST(CAST((2 * CAST(n_distinct AS HUGEINT) * 1000000 + n_tokens)
               // (2 * CAST(n_tokens AS HUGEINT)) AS BIGINT)
               AS DOUBLE) / 1000000.0 AS ttr
    FROM m ORDER BY doc_id
"""


def _bpe_train_parts(k: int = 5) -> tuple[str, str]:
    """Build the k-round BPE training oracle as (cte_chain,
    final_select) so the trainer and encoder oracles compose from the
    SAME parts instead of string surgery on the assembled SQL (ADVICE
    r9: the old ``rindex`` splice on a literal whitespace pattern was
    one reformat away from silently truncating the chain at the wrong
    point)."""
    return _bpe_train_chain(k), _bpe_train_select(k)


def _bpe_train_select(k: int) -> str:
    return " UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_round, a, b, n_pairs FROM m{r}"
        for r in range(1, k + 1)
    )


def _bpe_train_chain(k: int = 5) -> str:
    """Unroll k BPE merge rounds in SQL. Each round scores adjacent
    pairs from the current token lists, takes the (count DESC, a, b)
    argmax, and applies it via the separator-delimited string-replace
    trick: every token is wrapped in chr(31) on BOTH sides, so the
    pattern U||a||UU||b||U only matches whole adjacent tokens, and
    consecutive occurrences don't share characters — SQL replace's
    left-to-right non-overlap IS greedy BPE application. A different
    mechanism from the Spark fold on purpose: hash-equality certifies
    two independent greedy-merge implementations.

    Every chain CTE is ``AS MATERIALIZED``: each m{{r}} is referenced
    by 2-3 scalar subqueries downstream, and DuckDB otherwise
    re-evaluates the whole upstream chain per reference —
    exponential-in-k blowup (measured 30s → 0.1s at sf0.01 for the
    k=5 encoder, identical rows)."""
    u = "chr(31)"
    parts = [
        f"""WITH t1 AS MATERIALIZED (
        SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
        WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2
    )"""
    ]
    for r in range(1, k + 1):
        parts.append(f""", p{r} AS (
        SELECT t[i] AS a, t[i + 1] AS b
        FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t{r})
    ), m{r} AS MATERIALIZED (
        SELECT a, b, count(*) AS n_pairs
        FROM p{r} GROUP BY a, b
        ORDER BY n_pairs DESC, a, b LIMIT 1
    )""")
        if r < k:
            parts.append(f""", t{r + 1} AS MATERIALIZED (
        SELECT string_split(substring(s, 2, length(s) - 2), {u}||{u}) AS t
        FROM (
            SELECT replace(
                {u} || array_to_string(t, {u}||{u}) || {u},
                {u} || (SELECT a FROM m{r}) || {u}||{u}
                    || (SELECT b FROM m{r}) || {u},
                {u} || (SELECT a || b FROM m{r}) || {u}) AS s
            FROM t{r}
        )
    )""")
    return "".join(parts)


def _bpe_train_oracle(k: int = 5) -> str:
    chain, select = _bpe_train_parts(k)
    return chain + f"\n    {select}\n    ORDER BY merge_round"


EXT_ORACLES["bpe_train_merges"] = _bpe_train_oracle()


def _bpe_encode_oracle(k: int = 5) -> str:
    """Encoder twin of :func:`_bpe_train_oracle`: the same k-round
    training CTE chain (m1..mk), then ONE pass applying all k merges in
    priority order to EVERY document — including the size<2 docs the
    trainer never scores — via the same separator-delimited nested
    ``replace``. The Spark side chains its fold-based greedy merges
    instead; hash-equality certifies the two encoders agree corpus-wide."""
    u = "chr(31)"
    # the training WITH chain, shared by construction (no final SELECT)
    chain, _ = _bpe_train_parts(k)
    s = f"{u} || array_to_string(t, {u}||{u}) || {u}"
    for r in range(1, k + 1):
        s = f"""replace({s},
                {u} || (SELECT a FROM m{r}) || {u}||{u}
                    || (SELECT b FROM m{r}) || {u},
                {u} || (SELECT a || b FROM m{r}) || {u})"""
    return chain + f""", alltoks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), enc AS (
        SELECT doc_id, t,
               CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
                    ELSE string_split(
                        substring(s, 2, length(s) - 2), {u}||{u})
               END AS e
        FROM (SELECT doc_id, t, {s} AS s FROM alltoks)
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_raw,
           CAST(len(e) AS BIGINT) AS n_enc,
           array_to_string(e, ' ') AS enc_text
    FROM enc ORDER BY doc_id
"""


EXT_ORACLES["bpe_encode_corpus"] = _bpe_encode_oracle()


# ExactSubstr span removal — same rule as the Spark side but coverage by
# EXPLODED positions + anti-join, and canonical-first by a WINDOW
# row_number over (doc_id, i) — two deliberately different mechanisms
# from the in-row position filter + struct-min groupBy; hash-equality
# proves both. (The window form is exact for any doc length, matching
# the Spark side's struct min — VERDICT r08 item 5.)
EXT_ORACLES["substring_dedup_spans"] = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), g AS (
        SELECT doc_id, i,
               md5(array_to_string(t[i:i+49], ' ')) AS h
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 50 + 2)) AS i
              FROM t WHERE len(t) >= 50)
    ), ranked AS (
        SELECT doc_id, i,
               count(*) OVER (PARTITION BY h) AS c,
               row_number() OVER (
                   PARTITION BY h ORDER BY doc_id, i) AS rn
        FROM g
    ), removable AS (
        SELECT doc_id, i FROM ranked WHERE c >= 2 AND rn > 1
    ), covered AS (
        SELECT DISTINCT doc_id, i + off AS p
        FROM (SELECT doc_id, i, unnest(range(0, 50)) AS off FROM removable)
    ), positions AS (
        SELECT doc_id, i AS p, t[i] AS tok
        FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM t)
    ), kept AS (
        SELECT positions.doc_id, p, tok
        FROM positions
        LEFT JOIN covered USING (doc_id, p)
        WHERE covered.p IS NULL
    )
    SELECT tt.doc_id,
           len(tt.t) AS n_tokens,
           coalesce(cv.nrem, 0) AS n_removed,
           coalesce(kp.clean, '') AS clean_text
    FROM t tt
    LEFT JOIN (SELECT doc_id, count(*) AS nrem
               FROM covered GROUP BY doc_id) cv USING (doc_id)
    LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean
               FROM kept GROUP BY doc_id) kp USING (doc_id)
    ORDER BY tt.doc_id
"""


from ..operators.dedup import CONTAINMENT_DF_CAP, CONTAINMENT_T  # noqa: E402

# Containment: same DF-capped posting join + exact verify; smaller
# shingle set is the contained side (integer-size compare both sides).
_CONT_INTER = "len(list_filter(sh_a, x -> list_contains(sh_b, x)))"
EXT_ORACLES["containment_near_dups"] = f"""
    WITH {_SHINGLES_CTE.strip()}, posts AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), rare AS (
        SELECT shingle FROM posts GROUP BY shingle HAVING count(*) <= {CONTAINMENT_DF_CAP}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM posts a
        JOIN rare r ON a.shingle = r.shingle
        JOIN posts b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
    ), joined AS (
        SELECT c.doc_a, c.doc_b,
               sa.shingles AS sh_a, sb.shingles AS sh_b
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
    ), m AS (
        SELECT doc_a, doc_b,
               CAST({_CONT_INTER} AS DOUBLE) AS inter,
               CAST(len(sh_a) AS DOUBLE) AS na,
               CAST(len(sh_b) AS DOUBLE) AS nb,
               len(sh_a) AS ia, len(sh_b) AS ib
        FROM joined
    )
    SELECT doc_a, doc_b,
           {_round('inter / na', 6)} AS cont_a,
           {_round('inter / nb', 6)} AS cont_b,
           CASE WHEN ia <= ib THEN doc_a ELSE doc_b END AS contained_id
    FROM m
    WHERE greatest(inter / na, inter / nb) >= {CONTAINMENT_T}
    ORDER BY doc_a, doc_b
"""


from .queries_ext import PACK_NF_CAPACITY, PACK_NF_SHARDS  # noqa: E402

# Next-fit packing replayed as a recursive CTE: one row per (shard,
# rank) step, the running (bin_id, fill) carried through the
# recurrence — the sequential greedy decision sequence, independently
# re-implemented.
EXT_ORACLES["bin_pack_nextfit"] = f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               CAST(doc_id % {PACK_NF_SHARDS} AS INTEGER) AS shard,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ), ord AS (
        SELECT *,
               row_number() OVER (PARTITION BY shard
                                  ORDER BY n_tokens DESC, doc_id) AS rn
        FROM toks
    ), packed AS (
        SELECT shard, rn, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS bin_id,
               CAST(0 AS BIGINT) AS "offset",
               n_tokens AS fill
        FROM ord WHERE rn = 1
        UNION ALL
        SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
               CASE WHEN p.fill + o.n_tokens > {PACK_NF_CAPACITY}
                    THEN p.bin_id + 1 ELSE p.bin_id END,
               CASE WHEN p.fill + o.n_tokens > {PACK_NF_CAPACITY}
                    THEN CAST(0 AS BIGINT) ELSE p.fill END,
               CASE WHEN p.fill + o.n_tokens > {PACK_NF_CAPACITY}
                    THEN o.n_tokens ELSE p.fill + o.n_tokens END
        FROM packed p
        JOIN ord o ON o.shard = p.shard AND o.rn = p.rn + 1
    )
    SELECT doc_id, shard, n_tokens, bin_id, "offset" AS offset
    FROM packed
    ORDER BY doc_id
"""


# Same integer-rational chi-square (HUGEINT mirror of DECIMAL(38,0);
# DuckDB `//` = Spark `div` on positives — den and the rounded
# numerator are non-negative because d enters squared).
EXT_ORACLES["corpus_drift_chi2"] = """
    WITH tok AS (
        SELECT doc_id % 2 = 0 AS is_a,
               unnest(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS token
        FROM documents
    ), counts AS (
        SELECT token,
               CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS o1,
               CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS o2
        FROM tok GROUP BY token
    ), tot AS (
        SELECT sum(o1) AS s1, sum(o2) AS s2 FROM counts
    ), m AS (
        SELECT token, o1, o2,
               CAST(o1 AS HUGEINT) * (s1 + s2)
                 - CAST(s1 AS HUGEINT) * (o1 + o2) AS d,
               CAST(o1 + o2 AS HUGEINT) * s1 * s2 AS den,
               CAST(s1 + s2 AS HUGEINT) AS n
        FROM counts, tot
        WHERE s1 > 0 AND s2 > 0 AND o1 + o2 >= 20
    )
    SELECT token, o1, o2,
           CAST((2 * (d * d * n) * 1000000 + den) // (2 * den)
                AS DOUBLE) / 1000000.0 AS chi2
    FROM m
    ORDER BY chi2 DESC, token
    LIMIT 40
"""


from .queries_ext import PMI_MIN_SUPPORT  # noqa: E402  (shared tunable)

# Lift as the same HUGEINT rational; bigrams via the same shifted-zip
# construction bigram_logprob_docs' oracle uses.
EXT_ORACLES["pmi_collocations"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), bg_counts AS (
        SELECT bg, count(*) AS c_ab FROM (
            SELECT unnest(list_transform(range(1, len(tk)),
                       i -> concat(tk[i], ' ', tk[i+1]))) AS bg
            FROM t WHERE len(tk) >= 2
        ) GROUP BY bg
        HAVING count(*) >= {PMI_MIN_SUPPORT}
    ), uni AS (
        SELECT token, count(*) AS c_uni FROM (
            SELECT unnest(tk) AS token FROM t
        ) GROUP BY token
    ), totals AS (
        SELECT sum(c_uni) AS n_tokens FROM uni
    )
    SELECT string_split(bg, ' ')[1] AS w1,
           string_split(bg, ' ')[2] AS w2,
           c_ab,
           CAST((2 * CAST(c_ab AS HUGEINT) * n_tokens * 1000000
                 + CAST(u1.c_uni AS HUGEINT) * u2.c_uni)
                // (2 * CAST(u1.c_uni AS HUGEINT) * u2.c_uni)
                AS DOUBLE) / 1000000.0 AS lift
    FROM bg_counts
    JOIN uni u1 ON u1.token = string_split(bg, ' ')[1]
    JOIN uni u2 ON u2.token = string_split(bg, ' ')[2]
    CROSS JOIN totals
    ORDER BY lift DESC, w1, w2
    LIMIT 40
"""


from .queries_ext import BFS_MAX_HOPS, BFS_SEED_MOD  # noqa: E402

# BFS min-distance as a RECURSIVE CTE with UNION (set) semantics: the
# working table carries (node, d) pairs, the d < cap guard bounds the
# walk, and min(d) per node is the BFS level — a wholly different
# fixed-point mechanism from the Spark side's frontier expansion.
EXT_ORACLES["bfs_dedup_distance"] = f"""
    WITH RECURSIVE {_PAIRS_CTE}, cand AS (
        SELECT DISTINCT doc_a, doc_b FROM pairs
    ), joined AS (
        SELECT c.doc_a, c.doc_b, sa.shingles AS sh_a, sb.shingles AS sh_b
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
    ), nd AS (
        SELECT doc_a, doc_b FROM joined
        WHERE ({_JACCARD_EXPR}) >= {NEAR_DUP_JACCARD}
    ), e AS (
        SELECT doc_a AS a, doc_b AS b FROM nd
        UNION
        SELECT doc_b AS a, doc_a AS b FROM nd
    ), walk(node, d) AS (
        SELECT doc_id AS node, 0 AS d FROM documents
        WHERE doc_id % {BFS_SEED_MOD} = 0
        UNION
        SELECT e.b, w.d + 1 FROM walk w JOIN e ON e.a = w.node
        WHERE w.d < {BFS_MAX_HOPS}
    )
    SELECT node, CAST(min(d) AS INT) AS dist
    FROM walk GROUP BY node ORDER BY node
"""


# Direct whole-period registers (never day-sliced): equality against
# the Spark side's day-state MAX-merge is the mergeability proof.
EXT_ORACLES["hll_merge_days"] = f"""
    WITH ranked AS (
        SELECT event_type,
               CAST(concat('0x', substr(md5(concat('hllreg|',
                   CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % {HLL_M}
                   AS reg,
               CASE WHEN CAST(concat('0x', substr(md5(concat('hllrank|',
                        CAST(user_id AS VARCHAR))), 9, 8)) AS BIGINT) = 0
                    THEN 33
                    ELSE 33 - length(bin(CAST(concat('0x',
                        substr(md5(concat('hllrank|',
                        CAST(user_id AS VARCHAR))), 9, 8)) AS BIGINT)))
               END AS rank
        FROM events
    ), registers AS (
        SELECT event_type, reg, MAX(rank) AS mx
        FROM ranked GROUP BY event_type, reg
    ), sums AS (
        SELECT event_type,
               SUM(pow(2.0, -mx)) AS s,
               count(*) AS present
        FROM registers GROUP BY event_type
    ), est AS (
        SELECT event_type,
               {HLL_ALPHA * HLL_M * HLL_M!r}
                   / (s + ({HLL_M} - present)) AS hll_estimate
        FROM sums
    ), facts AS (
        SELECT event_type,
               count(DISTINCT CAST(ts AS DATE)) AS n_day_states,
               count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT f.event_type, f.n_day_states, f.n_exact,
           {_round('x.hll_estimate', 4)} AS hll_merged
    FROM facts f JOIN est x USING (event_type)
    ORDER BY f.event_type
"""

# First-occurrence novelty over the same 3-word shingle definition:
# MIN(doc_id) per shingle, doc-grain rollup, half-up integer-rational
# ratio (// on BIGINT, one final double division).
EXT_ORACLES["ngram_novelty_docs"] = f"""
    WITH {_SHINGLES_CTE},
    ex AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), fx AS (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY s) AS first_doc
        FROM ex
    )
    SELECT doc_id,
           count(*) AS n_shingles,
           count(*) FILTER (WHERE first_doc = doc_id) AS n_novel,
           CAST((2 * count(*) FILTER (WHERE first_doc = doc_id) * 1000000
                 + count(*)) // (2 * count(*)) AS DOUBLE) / 1000000.0
               AS novelty
    FROM fx
    GROUP BY doc_id
    ORDER BY doc_id
"""

# Character-class counts over the source text: for the classes counted
# ([a-z], space, [0-9]) UTF-8 bytes == characters (continuation bytes
# are >= 0x80), so these match the Arrow path's byte counts exactly.
EXT_ORACLES["multimodal_arrow_stats"] = """
    SELECT doc_id AS asset_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))
               AS BIGINT) AS n_lower,
           CAST(length(text) - length(replace(text, ' ', ''))
               AS BIGINT) AS n_space,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS BIGINT) AS n_digit
    FROM documents
    ORDER BY asset_id
"""

# Vowel counts via engine string functions (docs are ASCII; char counts
# == regex findall counts).
EXT_ORACLES["udf_iter_text_scores"] = """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))
               AS BIGINT) AS n_vowels
    FROM documents
    ORDER BY doc_id
"""

# ALL pairs sharing at least one shingle (a strict superset of any
# pair with Jaccard > 0), exact-verified and cut at the threshold — a
# different candidate mechanism than the prefix filter, so equality
# certifies the pruning lossless.
EXT_ORACLES["prefix_filter_near_dups"] = f"""
    WITH {_SHINGLES_CTE},
    ex AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), joined AS (
        SELECT c.doc_a, c.doc_b, sa.shingles AS sh_a, sb.shingles AS sh_b
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           {_round(_JACCARD_EXPR, 6)} AS jaccard
    FROM joined
    WHERE ({_JACCARD_EXPR}) >= {NEAR_DUP_JACCARD}
    ORDER BY doc_a, doc_b
"""

from .queries_ext import MG_HH_DIVISOR as _MG_HH

EXT_ORACLES["misra_gries_heavy_hitters"] = f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), total AS (
        SELECT count(*) AS n_total FROM toks
    )
    SELECT token, count(*) AS n_exact
    FROM toks, total
    GROUP BY token, n_total
    HAVING count(*) * {_MG_HH} > n_total
    ORDER BY n_exact DESC, token
"""

from ..operators.similarity import (  # noqa: E402
    MMR_FANOUT as _MMR_FANOUT,
    MMR_K as _MMR_K,
    MMR_LAMBDA as _MMR_LAM,
)


def _mmr_ladder_sql(cands_head: str | None = None) -> str:
    """Unrolled greedy MMR argmax ladder (one CTE pair per pick) — a
    deliberately engine-independent formulation: no procedural loop,
    just k chained relational argmax steps over the same candidate and
    pairwise-sim relations the UDF sees. ``(1 - lam)`` is spelled as a
    subtraction, not a folded literal, because 1-0.3 != 0.7 in IEEE
    doubles and the engine computes the subtraction.

    ``cands_head`` parameterizes the CANDIDATE stage (VERDICT r12
    item 2): a full WITH prefix over the shared vector CTE ending in a
    CTE named ``cands (q_id, vec_id, rel)``. Default is the brute
    exact-cosine top-fanout (the correctness path); the stored-index
    serving path swaps in the complete IVF-PQ chain."""
    lam = repr(_MMR_LAM)
    if cands_head is None:
        cands_head = f"""WITH {_VECTOR_CTE.strip()}, q AS (
        SELECT vec_id AS q_id, e AS qe, norm2 AS qn
        FROM vn WHERE {ANN_QUERY_PRED}
    ), scored AS (
        SELECT q.q_id, vn.vec_id,
               {_dot('q.qe', 'vn.e')} / (sqrt(q.qn) * sqrt(vn.norm2)) AS rel
        FROM q, vn
        WHERE q.q_id <> vn.vec_id
    ), cands AS (
        SELECT q_id, vec_id, rel FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rnk
            FROM scored)
        WHERE rnk <= {_MMR_FANOUT}
    )"""
    parts = [
        cands_head
        + f""", cv AS (
        SELECT c.q_id, c.vec_id, c.rel, vn.e, vn.norm2
        FROM cands c JOIN vn USING (vec_id)
    ), pairsims AS (
        SELECT a.q_id, a.vec_id AS ia, b.vec_id AS ib,
               {_dot('a.e', 'b.e')} / (sqrt(a.norm2) * sqrt(b.norm2)) AS sim
        FROM cv a JOIN cv b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
    ), pick1 AS (
        SELECT q_id, vec_id, rel, {lam} * rel AS mmr FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY {lam} * rel DESC, vec_id) AS rn
            FROM cands)
        WHERE rn = 1
    ), sel1 AS (SELECT q_id, vec_id FROM pick1)"""
    ]
    for t in range(2, _MMR_K + 1):
        parts.append(f""", sc{t} AS (
        SELECT c.q_id, c.vec_id, c.rel,
               {lam} * c.rel - (1 - {lam}) * max(p.sim) AS mmr
        FROM cands c
        JOIN pairsims p ON p.q_id = c.q_id AND p.ia = c.vec_id
        JOIN sel{t-1} s ON s.q_id = p.q_id AND s.vec_id = p.ib
        LEFT JOIN sel{t-1} x ON x.q_id = c.q_id AND x.vec_id = c.vec_id
        WHERE x.vec_id IS NULL
        GROUP BY c.q_id, c.vec_id, c.rel
    ), pick{t} AS (
        SELECT q_id, vec_id, rel, mmr FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY mmr DESC, vec_id) AS rn
            FROM sc{t})
        WHERE rn = 1
    ), sel{t} AS (
        SELECT q_id, vec_id FROM sel{t-1}
        UNION ALL SELECT q_id, vec_id FROM pick{t}
    )""")
    finals = "\n        UNION ALL ".join(
        f"SELECT q_id, CAST({t} AS BIGINT) AS pick, vec_id AS neighbor_id, "
        f"{_round('rel', 6)} AS relevance, {_round('mmr', 6)} AS mmr "
        f"FROM pick{t}"
        for t in range(1, _MMR_K + 1)
    )
    parts.append(f"\n    {finals}\n    ORDER BY q_id, pick")
    return "".join(parts)


EXT_ORACLES["mmr_rerank_topk"] = _mmr_ladder_sql()


def _mmr_stored_oracle() -> str:
    """Oracle for the SERVING path (VERDICT r12 item 2): candidates come
    from the complete IVF-PQ chain (``_ivfpq_oracle`` widened to the MMR
    fanout — every quantizer-training round, residual encoding and ADC
    probe scoring in the same fixed-point arithmetic as the stored
    index), relevance is the EXACT cosine recomputed for just those
    pairs (the ``_ivfpq_rerank_oracle`` precedent), and the greedy is
    the same unrolled argmax ladder parameterized by that candidate
    set."""
    head = f"""WITH {_VECTOR_CTE.strip()}, cand AS MATERIALIZED (
        SELECT q_id, neighbor_id FROM ({_ivfpq_oracle(k=_MMR_FANOUT)})
    ), cands AS MATERIALIZED (
        SELECT c.q_id, nv.vec_id,
               {_dot('qv.e', 'nv.e')} / (sqrt(qv.norm2) * sqrt(nv.norm2))
                   AS rel
        FROM cand c
        JOIN vn qv ON qv.vec_id = c.q_id
        JOIN vn nv ON nv.vec_id = c.neighbor_id
    )"""
    # AS MATERIALIZED: DuckDB inlines plain CTEs per reference; the
    # ladder references cands 5x and pairsims 4x, and re-expanding the
    # entire IVF-PQ chain under each exhausts file handles. Forced
    # materialization evaluates the chain ONCE — values unchanged.
    return _mmr_ladder_sql(head)


EXT_ORACLES["mmr_rerank_stored"] = _mmr_stored_oracle()
