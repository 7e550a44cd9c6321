"""Extension-pack query inventory: dedup, similarity search, text
analysis, multimodal — the LLM-data-pipeline operators (SURVEY.md §7
step 5), each with an exact DuckDB oracle in ``oracles_ext.py``.

Cross-engine exactness recipe: md5-based hashing (portable), decimal
accumulation for every floating sum (order-insensitive), shared SQL
formula strings for scoring heuristics, portable floor-based rounding.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, spread_small_scan
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators.relational import decimal_sum, round_half_up
from ..operators.text import (
    CLASSIFIER_KEEP_SQL,
    CLASSIFIER_SCORE_SQL,
    LANG_MARKERS,
    marker_count,
    fingerprint,
    ngram_expr,
    pack_sequences,
    repetition_ratio,
    scrub_pii,
    text_stats,
    token_count,
)
from .queries import QueryFn

# Shared scoring formulas — interpreted by Spark's F.expr AND embedded
# verbatim in the DuckDB oracle. A single int/int division is IEEE
# correctly-rounded identically in both engines; a CHAIN of double (or
# worse, decimal-literal) ops is not — the engines' literal typing and
# promotion rules differ by an ulp, which flipped a 4-dp rounding on one
# sf0.1 document. So every shared score is spelled as ONE exact-integer
# rational with ONE final double division.
STOP_RATIO_SQL = "n_stopwords / CAST(n_tokens AS DOUBLE)"
AVG_TOK_SQL = "(n_chars_calc - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE)"
# quality = 0.4·min(nt/100, 1) + 0.4·(1 − ns/nt) + 0.2·min(avg_tok/8, 1)
# over the common denominator 1000·nt — numerator and denominator are
# exact BIGINT expressions, then one division:
QUALITY_NUM_SQL = (
    "(4 * least(n_tokens, 100) * n_tokens"
    " + 400 * (n_tokens - n_stopwords)"
    " + 25 * least(n_chars_calc - n_tokens + 1, 8 * n_tokens))"
)
QUALITY_SQL = f"(CAST({QUALITY_NUM_SQL} AS DOUBLE) / (1000 * n_tokens))"
# Marker-vote language classifier — shared verbatim with the oracle.
LANG_CASE_SQL = """
        CASE
          WHEN c_en = 0 AND c_de = 0 AND c_es = 0 AND c_fr = 0 THEN 'und'
          WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
          WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
          WHEN c_es >= c_fr THEN 'es'
          ELSE 'fr'
        END
"""
# Curation cuts for the composite corpus pipeline.
CORPUS_LANG = "en"
CORPUS_MIN_QUALITY = 0.5
CORPUS_MIN_TOKENS = 30
ANN_QUERY_PRED = "vec_id < 5"
COSINE_K = 5
ANN_K = 3
# Gate threshold: the synthetic embeddings top out near cosine 0.51, so a
# production dedup cut (0.95) would test empty-vs-empty; 0.4 exercises the
# full candidate→filter path with real survivors.
EMB_SIM_THRESHOLD = 0.4


# --- deduplication -------------------------------------------------------


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy keeping the smallest doc_id.
    One shuffle on the 128-bit fingerprint; at 100 TB this is the only
    dedup pass that needs no candidate generation."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(fingerprint().alias("text_hash"))
        .agg(
            F.min("doc_id").alias("doc_id_kept"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("doc_id_kept")
    )


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs with estimated Jaccard (banding:
    12 hashes, 4 bands × 3). See operators.dedup for the scale story."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_candidate_pairs(docs).orderBy("doc_a", "doc_b")


def jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-shingle Jaccard on the LSH candidates; flags pairs
    above the near-dup threshold."""
    docs = load_table(spark, sf_dir, "documents")
    j = D.jaccard_verify(docs)
    return j.select(
        "doc_a",
        "doc_b",
        round_half_up(F.col("jaccard"), 6).alias("jaccard"),
        "is_near_dup",
    ).orderBy("doc_a", "doc_b")


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tail of the production dedup pipeline: verified near-dup
    pairs → connected components → (node, component) cluster labels
    (component = min doc_id; keep that doc, drop the rest). Iterative
    min-label propagation — O(diameter) rounds of one edge shuffle each;
    the oracle computes the same closure with a recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_verify(docs).filter(F.col("is_near_dup"))
    return D.connected_components(pairs).orderBy("node")


def triangle_count_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the verified near-dup graph — the graph
    statistic that tells a dedup pipeline whether its duplicate
    neighborhoods are CLIQUES (the same source copied everywhere:
    transitive, safe to collapse to one representative) or CHAINS
    (A~B~C drift where A and C may not be duplicates — collapsing by
    connected component alone over-merges). Reports nodes, edges,
    wedges (open+closed 2-paths), triangles, and the global clustering
    coefficient 3·T/W as an exact integer rational (6-dp cross-
    multiplied half-up round, ONE final double division).

    Plan: edges are (doc_a < doc_b) once, ``localCheckpoint``-pinned
    (the LSH verify pipeline above them must not run three times);
    triangles = edges ⋈ edges on the shared middle vertex (wedge build)
    ⋈ edges on the closing pair — each triangle counted exactly once by
    the a<b<c total order, no distinct pass. Wedge totals come from the
    degree table (Σ d·(d−1)/2), never from materialized 2-paths.

    Scale: wedge fan-out is Σ_v deg(v)² — bounded by near-dup cluster
    size exactly like the LSH band joins; for power-law graphs the
    standard degree-orientation refinement (orient edges toward the
    higher-degree endpoint) caps it at O(E^1.5) with the same join
    shape. Oracle: same census from the SQL pair pipeline + a 3-way
    self-join."""
    docs = load_table(spark, sf_dir, "documents")
    edges = (
        D.jaccard_verify(docs)
        .filter(F.col("is_near_dup"))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    return D.triangle_census(edges)


def incremental_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus incremental dedup — the shape dedup actually
    runs in production (per ingest tick: today's crawl against the
    accumulated corpus), vs. the corpus-wide backfill the rest of the
    family demonstrates. ``doc_id % 5 == 0`` plays the arriving batch;
    the rest is the base. See ``operators.dedup.incremental_dedup``:
    both probes stream the 100 TB base side exactly once and broadcast
    the batch (content hashes, bands, batch shingles) — the base is
    never self-paired and never shuffled.

    Oracle: the corpus-wide SQL pair pipeline restricted to
    batch×base cross pairs + a hash equi-join for the exact probe —
    hash-equality proves the asymmetric plan admits exactly the docs
    the full-corpus pipeline would."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return D.incremental_dedup(base, batch).orderBy("doc_id")


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (near-dup via Hamming distance)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs).orderBy("doc_id")


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint per document (md5 of normalized text)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint().alias("fingerprint")).orderBy("doc_id")


# --- text analysis -------------------------------------------------------


def text_stats_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring (length/stopword/token-shape
    heuristics). Single projection, fully codegen'd."""
    docs = load_table(spark, sf_dir, "documents")
    s = text_stats(docs)
    return s.select(
        "doc_id",
        "n_tokens",
        "n_stopwords",
        round_half_up(F.expr(STOP_RATIO_SQL), 4).alias("stop_ratio"),
        round_half_up(F.expr(AVG_TOK_SQL), 4).alias("avg_token_len"),
        round_half_up(F.expr(QUALITY_SQL), 4).alias("quality_score"),
    ).orderBy("doc_id")


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways (north-star spec): whitespace, a BPE-ish
    pre-tokenizer regex (word/number/punct classes), and ≤4-char subword
    chunks — the usual proxy for LLM token-budget estimation. All via
    JVM-side regexp_extract_all; identical greedy-left-to-right matches
    in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("bigint").alias("n_ws_tokens"),
        F.expr(r"size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
        .cast("bigint")
        .alias("n_re_tokens"),
        F.expr(r"size(regexp_extract_all(text, '[a-z]{1,4}', 0))")
        .cast("bigint")
        .alias("n_subwords"),
    ).orderBy("doc_id")


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (stopword-list voting). On this synthetic
    shared-vocabulary corpus only the mechanism is meaningful — accuracy
    against the generator's `lang` label is reported as `is_correct`."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        *[marker_count(lg).alias(f"c_{lg}") for lg in LANG_MARKERS],
    )
    pred = F.expr(LANG_CASE_SQL)
    return scored.select(
        "doc_id",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_correct"),
    ).orderBy("doc_id")


# --- similarity search ---------------------------------------------------


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column (ANN baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = S.cosine_topk(emb, query_pred=ANN_QUERY_PRED, k=COSINE_K)
    return res.select(
        "q_id",
        "neighbor_id",
        round_half_up(F.col("cosine"), 6).alias("cosine"),
        "rank",
    ).orderBy("q_id", "rank")


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (random hyperplanes): top-k within the query's
    bucket — the 100 TB path where the bucket is a partition key."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = S.ann_lsh_topk(spark, emb, query_pred=ANN_QUERY_PRED, k=ANN_K)
    return res.select(
        "q_id",
        "neighbor_id",
        "bucket",
        round_half_up(F.col("cosine"), 6).alias("cosine"),
        "rank",
    ).orderBy("q_id", "rank")


def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph over ALL vectors (operators.similarity.knn_join): the
    SemDeDup / near-dup-cluster / graph-index primitive. Unlike the
    few-queries ANN path (broadcast query set), every vector is a query
    — the candidate stage is the bucket-keyed self-join, so the plan
    scales with Σ|bucket|², not n²."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = S.knn_join(spark, emb, k=S.KNN_K)
    return res.select(
        "q_id",
        "neighbor_id",
        round_half_up(F.col("cosine"), 6).alias("cosine"),
        "rank",
    ).orderBy("q_id", "rank")


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned ANN (nearest-seed coarse quantizer): top-k within
    the query's cell — the third ANN strategy next to brute force and
    hyperplane LSH."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = S.ivf_topk(emb, query_pred=ANN_QUERY_PRED, k=ANN_K)
    return res.select(
        "q_id",
        "neighbor_id",
        "cell",
        round_half_up(F.col("cosine"), 6).alias("cosine"),
        "rank",
    ).orderBy("q_id", "rank")


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each query also searches the P buckets at
    Hamming distance 1 — the recall knob over ``ann_lsh_topk`` (a near
    neighbor that landed one sign bit away is recovered). Candidate cost
    ×(P+1) buckets, still bucket-keyed/partition-pruned."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = S.ann_lsh_topk(
        spark, emb, query_pred=ANN_QUERY_PRED, k=ANN_K, probe_hamming=1
    )
    return res.select(
        "q_id",
        "neighbor_id",
        "bucket",
        round_half_up(F.col("cosine"), 6).alias("cosine"),
        "rank",
    ).orderBy("q_id", "rank")


ANN_N_TABLES = 4


def ann_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH (L=4 independent hyperplane tables, candidates
    OR-combined) — the production recall lever: 1−(1−p^P)^L."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = S.ann_lsh_multitable(
        spark, emb, query_pred=ANN_QUERY_PRED, k=ANN_K, n_tables=ANN_N_TABLES
    )
    return res.select(
        "q_id",
        "neighbor_id",
        round_half_up(F.col("cosine"), 6).alias("cosine"),
        "rank",
    ).orderBy("q_id", "rank")


def ivf_topk_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe=2: each query unions its two nearest cells before
    the (unchanged) rank window — the standard IVF recall knob."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = S.ivf_topk(emb, query_pred=ANN_QUERY_PRED, k=ANN_K, nprobe=2)
    return res.select(
        "q_id",
        "neighbor_id",
        "cell",
        round_half_up(F.col("cosine"), 6).alias("cosine"),
        "rank",
    ).orderBy("q_id", "rank")


def ivf_topk_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over the *production* coarse quantizer: 2 deterministic Lloyd
    k-means rounds refine the first-k seeds into balanced cells
    (engine-exact centroid means — VERDICT r02 item 6), then the
    standard nprobe=2 probed search."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = S.ivf_topk_kmeans(emb, query_pred=ANN_QUERY_PRED, k=ANN_K, nprobe=2)
    return res.select(
        "q_id",
        "neighbor_id",
        "cell",
        round_half_up(F.col("cosine"), 6).alias("cosine"),
        "rank",
    ).orderBy("q_id", "rank")


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucket-candidated (the
    fifth dedup strategy: exact / minhash / simhash / jaccard / cosine)."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = S.embedding_near_dups(spark, emb, threshold=EMB_SIM_THRESHOLD)
    return res.select(
        "vec_a",
        "vec_b",
        round_half_up(F.col("cosine"), 6).alias("cosine"),
    ).orderBy("vec_a", "vec_b")


DECON_EVAL_BUCKETS = 1000  # of 10000: ~10% of vectors act as the eval set


def decontaminate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: train vectors within
    EMB_SIM_THRESHOLD cosine of any held-out eval vector (deterministic
    ~10% md5 split) — the semantic sibling of ``decontaminate_ngrams``,
    catching paraphrased benchmark leakage that exact n-grams miss.
    LSH-bucketed asymmetric join (operators.similarity
    .embedding_decontaminate); exact fixed-point cosine.
    """
    from ..operators.sampling import hash_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    is_eval = hash_bucket("vec_id", salt="decon") < DECON_EVAL_BUCKETS
    res = S.embedding_decontaminate(
        spark, emb, is_eval, threshold=EMB_SIM_THRESHOLD
    )
    return res.select(
        "train_id",
        "eval_id",
        round_half_up(F.col("cosine"), 6).alias("cosine"),
    ).orderBy("train_id", "eval_id")


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, flattened to (label, pos, centroid) —
    vector aggregation via posexplode + grouped decimal-exact average."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "label", F.expr("transform(embedding, x -> cast(x as double))").alias("e")
    )
    ex = v.select("label", F.posexplode("e").alias("pos", "val"))
    return (
        ex.groupBy("label", F.col("pos").cast("bigint").alias("pos"))
        .agg(
            round_half_up(
                decimal_sum(F.col("val"), 12, wide=True) / F.count("val"), 6
            ).alias("centroid")
        )
        .orderBy("label", "pos")
    )


# --- multimodal ----------------------------------------------------------


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata over the multimodal column pattern: byte
    length + content digest of the payload (text bytes stand in for
    image/audio blobs; decode itself is the stubbed mapInPandas path in
    operators.multimodal, exercised in tests)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text").alias("modality"),
        F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("bigint").alias("n_bytes"),
        F.md5(F.col("text")).alias("digest"),
    ).orderBy("asset_id")


# --- composite curation pipeline -----------------------------------------


def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pass, composed from the
    individual operators: quality scoring + language ID + length cut +
    exact dedup, in one lazy plan.

    Shape at scale: scoring/lang-ID are pure projections (whole-stage
    codegen, no shuffle); the filters cut the corpus *before* the only
    shuffle (dedup's hash partition on the content fingerprint) — the
    expensive stage sees curated rows only. This is the operator order a
    100 TB pipeline wants: cheap row-local cuts first, shuffling last.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = (
        text_stats(docs)
        .withColumns({f"c_{lg}": marker_count(lg) for lg in LANG_MARKERS})
        .withColumn("pred_lang", F.expr(LANG_CASE_SQL))
        .withColumn("quality", F.expr(QUALITY_SQL))
    )
    kept = scored.filter(
        (F.col("pred_lang") == CORPUS_LANG)
        & (F.col("quality") >= CORPUS_MIN_QUALITY)
        & (F.col("n_tokens") >= CORPUS_MIN_TOKENS)
    )
    w = Window.partitionBy(fingerprint()).orderBy("doc_id")
    return (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "doc_id",
            "n_tokens",
            round_half_up(F.col("quality"), 4).alias("quality_score"),
        )
        .orderBy("doc_id")
    )


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal decode path through the gate: binary payloads →
    Arrow-batched ``mapInPandas`` (operators.multimodal.decode_assets,
    stub codec) → typed metadata. Verifies the *Python* batch path
    bit-for-bit: the stub's content-derived dimensions are re-derived in
    SQL by the oracle. Pure map stage — no shuffle; batch-at-a-time
    memory regardless of corpus size."""
    from ..operators.multimodal import decode_assets, text_as_assets

    docs = load_table(spark, sf_dir, "documents")
    return decode_assets(text_as_assets(docs)).orderBy("asset_id")


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction (payload → dense embedding) through the gate:
    ``extract_features``'s stub is content-derived (sha256 digest bytes
    /256 — exact in binary floating point), so the oracle re-derives
    every vector component in SQL. Exploded to (asset_id, feat_idx,
    feat) rows for comparison; the operator itself returns
    ``array<float>`` ready for cosine_topk/ivf_topk."""
    from ..operators.multimodal import extract_features, text_as_assets

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(text_as_assets(docs))
    return feats.select(
        "asset_id", F.posexplode("features").alias("feat_idx", "feat")
    ).select(
        "asset_id", "feat_idx", F.col("feat").cast("double").alias("feat")
    ).orderBy("asset_id", "feat_idx")


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing (binary→binary Pandas-UDF transform) through the
    gate: the stub resamples each payload to a ``width*height`` byte
    budget, so the oracle checks the per-row byte arithmetic and target
    dims (the truncated-payload sha is covered by a unit test — this
    DuckDB build cannot slice blobs)."""
    from ..operators.multimodal import resize_assets, text_as_assets

    docs = load_table(spark, sf_dir, "documents")
    resized = resize_assets(text_as_assets(docs), width=32, height=32)
    return resized.select(
        "asset_id",
        F.col("meta.width").alias("out_width"),
        F.col("meta.height").alias("out_height"),
        F.length("payload").cast("long").alias("n_bytes"),
    ).orderBy("asset_id")


SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
N_SHARDS = 16


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment per document — hash-based
    (md5 of salt|key → bucket → cumulative ranges), never RNG: a doc
    keeps its split across runs, engines, and corpus refreshes (no
    train/test leakage on rebuild). Row-local; zero shuffle."""
    from ..operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return hash_split(docs, "doc_id", SPLIT_WEIGHTS).orderBy("doc_id")


def shard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable shard assignment for distributed-loader output files:
    md5-bucket per doc mod N_SHARDS, histogram proves uniformity and the
    oracle proves engine-portability of every assignment."""
    from ..operators.sampling import shard_assign

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        shard_assign(docs, "doc_id", N_SHARDS)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("shard")
    )


def frame_sample_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the gate: decode (stub, content-derived
    n_frames) → ``sequence``/``explode`` into per-frame rows every 10th
    frame. The explode is the real contract — per-asset fan-out happens
    JVM-side after the Arrow-batched decode, so a 2-hour video becomes
    rows without ever holding all frames in Python. The oracle re-derives
    n_frames from sha256 and unnests the same arithmetic range."""
    from ..operators.multimodal import frame_sample, text_as_assets

    docs = load_table(spark, sf_dir, "documents")
    frames = frame_sample(text_as_assets(docs), every_n=10)
    return frames.select(
        "asset_id", "modality", F.col("frame_idx").cast("int").alias("frame_idx"),
        "sha256",
    ).orderBy("asset_id", "frame_idx")


def phash_near_dup_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup dedup (VERDICT r08 item 6) — the dedup
    modality for image/audio/video columns: perceptual blockhash
    fingerprints computed over the Arrow-batched decode path
    (``operators.multimodal.perceptual_hash`` — the stub hashes raw
    payload bytes; a real deployment decodes pixels first, nothing
    downstream changes), then Hamming-banded LSH pairing
    (``phash_near_dup_pairs``): 4×16-bit band self-join → exact
    ``bit_count(xor)`` verify — candidates only where a band collides,
    NEVER all-pairs, exactly the MinHash banding plan shape.

    The oracle recomputes the identical 64-bit blockhash from the text
    column in pure SQL (the payload is the text's UTF-8 bytes and the
    corpus is ASCII, so ``ord`` per char = byte values) and pairs via
    an OR-of-band-equalities join — a different banding mechanism;
    hash-equality certifies fingerprint arithmetic (two's-complement
    packing, arithmetic-shift band slices, XOR popcount) across
    Python, the JVM, and DuckDB.

    Scale: hashes are 8 bytes/asset; only (band_idx, band_val,
    asset_id, phash) rows shuffle. Band-bucket skew is bounded by
    near-dup cluster size (pigeonhole catches Hamming ≤ 3 pairs with
    certainty; the verify filter keeps output at true perceptual
    dups). Reference analog: none (extension surface — the brief's
    multimodal mandate)."""
    from ..operators.multimodal import (
        perceptual_hash,
        phash_near_dup_pairs,
        text_as_assets,
    )

    docs = load_table(spark, sf_dir, "documents")
    hashes = perceptual_hash(text_as_assets(docs))
    return phash_near_dup_pairs(hashes).orderBy("asset_a", "asset_b")


CHUNK_SIZE = 20
CHUNK_OVERLAP = 5
SAMPLE_FRACTION = 0.1
CAP_PER_SOURCE = 15


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping token windows per document,
    tokenized once below the Generate barrier (see
    ``operators.text.chunk_tokens``). Chunks are hashed (md5) so the gate
    compares fixed-width rows; the text itself is what a training
    pipeline would write."""
    from ..operators.text import chunk_tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_tokens(docs, "text", CHUNK_SIZE, CHUNK_OVERLAP)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.md5("chunk_text").alias("chunk_hash"),
        "n_chunk_tokens",
    ).orderBy("doc_id", "chunk_idx")


def hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sample — hash-gated, not RNG: the same
    doc survives every run/engine/partitioning, so incremental corpus
    rebuilds never flip membership. Plain row-local filter."""
    from ..operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_sample(docs, "doc_id", SAMPLE_FRACTION).orderBy("doc_id")


STRAT_FRACTIONS = {"en": 0.2, "de": 0.5}


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: per-language keep fractions (downsample the
    dominant languages, keep the rest whole) — hash-gated, so the cut is
    reproducible across engines and corpus refreshes. Pure row-local
    filter, no shuffle."""
    from ..operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_hash_sample(docs, "lang", "doc_id", STRAT_FRACTIONS).orderBy(
        "doc_id"
    )


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus downsampling: each doc survives with
    probability equal to its own quality score (deterministic hash coin
    — ``sampling.weighted_hash_sample``). The curation move that keeps
    the corpus's best docs without a hard threshold."""
    from ..operators.sampling import weighted_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    scored = text_stats(docs).withColumn("quality", F.expr(QUALITY_SQL))
    kept = weighted_hash_sample(scored, "doc_id", F.col("quality"))
    return kept.select(
        "doc_id", round_half_up(F.col("quality"), 4).alias("quality_score")
    ).orderBy("doc_id")


VOCAB_TOP_K = 50


def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-k tokens by total occurrences with their
    document frequencies — the tokenizer-training / IDF-table pass.

    Shape at 100 TB: explode fans out ~tokens-per-doc rows, but the
    grouped count is partial+final (map-side combine collapses each
    partition to its distinct-token counts before the single shuffle on
    token), and document frequency rides the same shuffle via
    count(distinct doc_id)'s partial de-dup. Top-k is
    TakeOrderedAndProject — no global sort. IDF itself is left to the
    consumer (ln() is libm-dependent; the exact integer pair here is
    engine-portable)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(VOCAB_TOP_K)
    )


def cap_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (curation staple: bound any one domain's
    share of the corpus). Hash-ordered rank window per source; selection
    is deterministic and engine-portable."""
    from ..operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    return cap_per_group(docs, "source", "doc_id", CAP_PER_SOURCE).orderBy(
        "source", "doc_id"
    )


EXT_QUERIES: dict[str, QueryFn] = {
    "dedup_exact_docs": dedup_exact_docs,
    "minhash_pairs": minhash_pairs,
    "jaccard_near_dups": jaccard_near_dups,
    "dedup_clusters": dedup_clusters,
    "triangle_count_dedup": triangle_count_dedup,
    "incremental_dedup_batch": incremental_dedup_batch,
    "simhash_docs": simhash_docs,
    "doc_fingerprint": doc_fingerprint,
    "text_stats_quality": text_stats_quality,
    "token_count_bpe": token_count_bpe,
    "lang_id_heuristic": lang_id_heuristic,
    "cosine_topk": cosine_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "knn_graph": knn_graph,
    "ivf_topk": ivf_topk,
    "embedding_near_dups": embedding_near_dups,
    "label_centroids": label_centroids,
    "multimodal_meta": multimodal_meta,
    "curated_corpus": curated_corpus,
    "multimodal_decode": multimodal_decode,
    "multimodal_features": multimodal_features,
    "multimodal_resize": multimodal_resize,
    "frame_sample_assets": frame_sample_assets,
    "phash_near_dup_assets": phash_near_dup_assets,
    "dataset_split": dataset_split,
    "shard_histogram": shard_histogram,
    "chunk_documents": chunk_documents,
    "hash_sample_docs": hash_sample_docs,
    "stratified_sample_docs": stratified_sample_docs,
    "weighted_sample_docs": weighted_sample_docs,
    "vocab_top_tokens": vocab_top_tokens,
    "cap_docs_per_source": cap_docs_per_source,
    "ann_lsh_multiprobe": ann_lsh_multiprobe,
    "ann_lsh_multitable": ann_lsh_multitable,
    "ivf_topk_nprobe": ivf_topk_nprobe,
    "ivf_topk_kmeans": ivf_topk_kmeans,
}


# --- round-3 LLM-pipeline pack: decontamination, packing, quality, tf-idf ---

DECON_K = 5  # word n-gram order for contamination checks
PACK_BUDGET = 64  # tokens per training sequence


def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the step every LLM training pipeline
    runs before the tokenizer: find corpus documents sharing word
    ``DECON_K``-grams with a held-out eval set (here: every 20th doc
    stands in for the benchmark suite). Output: contaminated corpus
    doc_id + how many distinct eval n-grams it shares.

    Shape for 100 TB: grams materialize in-row below the Generate (one
    tokenization per doc), the join keys on the gram string (shuffle
    bounded by gram count, not doc size), and the eval side is small by
    construction — broadcastable, so the corpus side never shuffles.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = docs.filter(
        F.expr(f"size(split(text, ' ')) >= {DECON_K}")
    ).select(
        "doc_id",
        F.explode(
            F.expr(f"array_distinct({ngram_expr(DECON_K)})")
        ).alias("gram"),
    )
    bench = (
        grams.filter(F.col("doc_id") % 20 == 0).select("gram").distinct()
    )
    corpus = grams.filter(F.col("doc_id") % 20 != 0)
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("gram")).alias("n_shared"))
        .orderBy("doc_id")
    )


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop packing of the corpus into PACK_BUDGET-token
    training sequences per source shard (operators.text.pack_sequences):
    one running-sum window per shard, rows keep their pack id, offset,
    and a boundary-crossing flag for the attention mask."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=PACK_BUDGET).orderBy(
        "source", "doc_id"
    )


def repetition_ratio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition score: share of trigram occurrences taken by
    the most frequent trigram — the boilerplate/template filter of a
    corpus-quality pass. In-row fold; codegen'd map at any scale.
    Spread first (r16, guide §2.5): the fold was the whole query and
    ran as ONE task under the tiny single-file scan (profiled as two
    sequential single-task stages, 1.4 s + 1.1 s); no-op once the scan
    carries ≥ parallelism splits."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        spread_small_scan(docs)
        .filter(F.expr("size(split(text, ' ')) >= 3"))
        .select(
            "doc_id",
            round_half_up(repetition_ratio(3), 6).alias("rep_ratio"),
        )
        .orderBy("doc_id")
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document (tf·ln(N/df)) — the classic
    keyword/feature extraction over a corpus. Two grouped aggregates
    (term frequency per doc, document frequency per term) + a broadcast
    of the scalar corpus size; ranking is a per-doc window."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (
                F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
            ).alias("__score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("__score").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            round_half_up(F.col("__score"), 6).alias("tfidf"),
            "rank",
        )
        .orderBy("doc_id", "rank")
    )


EXT_QUERIES["decontaminate_ngrams"] = decontaminate_ngrams
EXT_QUERIES["decontaminate_embeddings"] = decontaminate_embeddings
EXT_QUERIES["pack_training_sequences"] = pack_training_sequences
EXT_QUERIES["repetition_ratio_docs"] = repetition_ratio_docs
EXT_QUERIES["tfidf_top_terms"] = tfidf_top_terms


def curated_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data curation pipeline in one lazy plan —
    the v2 capstone composing every corpus operator family:

        quality score + language ID + length cut   (row-local, first)
        exact dedup                                 (one fingerprint shuffle)
        near-dup removal                            (MinHash-LSH → Jaccard
                                                     verify → connected
                                                     components; keep each
                                                     cluster's min-doc_id
                                                     representative)
        benchmark decontamination                   (drop eval docs + any doc
                                                     sharing an eval 5-gram)

    Near-dup clusters are computed over the FULL corpus (a kept doc's
    near-twin may sit below the quality cut; clustering the full corpus
    keeps representatives stable under threshold changes) — at 100 TB
    that pass is the LSH pipeline already verified standalone
    (``minhash_pairs``/``jaccard_near_dups``/``dedup_clusters``); all
    row-local cuts still run before the fingerprint shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    # near-dup representatives (full corpus)
    pairs = D.jaccard_verify(docs).filter(F.col("is_near_dup"))
    comp = D.connected_components(pairs)
    nonrep = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    # curation cuts + exact dedup (same stages as curated_corpus)
    scored = (
        text_stats(docs)
        .withColumns({f"c_{lg}": marker_count(lg) for lg in LANG_MARKERS})
        .withColumn("pred_lang", F.expr(LANG_CASE_SQL))
        .withColumn("quality", F.expr(QUALITY_SQL))
    )
    kept = scored.filter(
        (F.col("pred_lang") == CORPUS_LANG)
        & (F.col("quality") >= CORPUS_MIN_QUALITY)
        & (F.col("n_tokens") >= CORPUS_MIN_TOKENS)
    )
    w = Window.partitionBy(fingerprint()).orderBy("doc_id")
    uniq = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "n_tokens", "quality")
    )
    # decontamination vs the held-out eval set (every 20th doc)
    grams = docs.filter(
        F.expr(f"size(split(text, ' ')) >= {DECON_K}")
    ).select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({ngram_expr(DECON_K)})")).alias(
            "gram"
        ),
    )
    bench = grams.filter(F.col("doc_id") % 20 == 0).select("gram").distinct()
    contaminated = (
        grams.filter(F.col("doc_id") % 20 != 0)
        .join(F.broadcast(bench), "gram")
        .select("doc_id")
        .distinct()
    )
    return (
        uniq.filter(F.col("doc_id") % 20 != 0)
        .join(nonrep, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
        .select(
            "doc_id",
            "n_tokens",
            round_half_up(F.col("quality"), 4).alias("quality_score"),
        )
        .orderBy("doc_id")
    )


EXT_QUERIES["curated_corpus_v2"] = curated_corpus_v2


# --- round-4 LLM-pipeline pack: PII / classifier / BM25 / span dedup ----

# Deterministic PII decoration appended to each document before the
# scrub — the synthetic corpus carries no PII, so the query plants one
# instance of each type (keyed on doc_id) and then proves the scrubber
# removes it. Shared verbatim with the oracle: identical string in both
# engines, so counts and the redacted-text hash match exactly.
PII_DECOR_SQL = (
    "concat(text,"
    " ' contact user', CAST(doc_id AS STRING), '@example.com',"
    " ' tel 555-867-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'),"
    " ' ssn 123-45-', lpad(CAST((doc_id + 13) % 10000 AS STRING), 4, '0'),"
    " ' ip 10.0.', CAST(doc_id % 256 AS STRING), '.',"
    " CAST((doc_id + 7) % 256 AS STRING))"
)

# BM25 retrieval tunables — shared with the oracle.
BM25_TERMS = ("spark", "window", "merge")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10

SPAN_K = 3  # word n-gram order for cross-document span sharing


def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: plant one email/SSN/phone/IPv4 per
    document (PII_DECOR_SQL — the synthetic corpus has none), count hits
    per type, redact, and emit the md5 of the redacted text.

    All row-local regexp projections (operators.text.scrub_pii):
    codegen'd, zero shuffle, linear at any scale. The redacted hash is
    the gate's proof that both engines rewrote the text identically.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(PII_DECOR_SQL).alias("text")
    )
    scrubbed = scrub_pii(docs)
    return scrubbed.select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ipv4",
        F.md5(F.col("text")).alias("clean_hash"),
    ).orderBy("doc_id")


def quality_classifier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear keep/drop quality classifier (the model-based filter step
    of a curation pipeline) over the text_stats features, squashed with
    the rational sigmoid x/(1+|x|) — exact IEEE arithmetic in any
    engine, unlike exp() (operators.text.CLASSIFIER_SCORE_SQL).

    Row-local projections only; the keep decision is made on the
    unrounded score so the cut is identical in both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = text_stats(docs.select("doc_id", "text"))
    score = F.expr(CLASSIFIER_SCORE_SQL)
    return feats.select(
        "doc_id",
        round_half_up(score, 6).alias("quality_prob"),
        # score >= 0.5 <=> logit >= 0, decided on the exact integer
        # numerator — a double comparison at the cut flips per-engine
        # for documents whose logit is exactly 0
        F.expr(CLASSIFIER_KEEP_SQL).alias("keep"),
    ).orderBy("doc_id")


def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed query (BM25_TERMS): the
    classic sparse-retrieval scorer over the corpus.

    Plan shape at 100 TB: one explode+groupBy for per-doc term
    frequencies (only query terms survive the filter, so the shuffle
    carries ≤ |terms| rows per doc), a broadcast of the per-term df and
    the two corpus scalars (N, avgdl), and a TakeOrderedAndProject for
    the top-k — no global sort, no driver loop. Per-term contributions
    are summed with decimal_sum (order-insensitive fixed point), so the
    score hash-matches the oracle despite float addition being
    non-associative.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lens = docs.select("doc_id", token_count().alias("dl"))
    corpus = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    # dl rides along as a group key (functionally dependent on doc_id),
    # so no join back to a lengths table is ever needed.
    toks = docs.select(
        "doc_id",
        token_count().alias("dl"),
        F.explode(F.split("text", " ")).alias("token"),
    ).filter(F.col("token").isin(*BM25_TERMS))
    # tf feeds BOTH the df aggregate and the score join; without a
    # materialization point the lazy plan tokenizes and shuffles the
    # corpus twice (verified in the AQE final plan — no stage reuse
    # fires across the two branches). localCheckpoint pins the bounded
    # posting aggregate (≤ N·|terms| rows — tiny next to the corpus) so
    # the expensive scan+explode runs exactly once.
    tf = toks.groupBy("doc_id", "dl", "token").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "token",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("__c"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        decimal_sum(F.col("__c"), 9).alias("__score"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    top = scored.orderBy(F.col("__score").desc(), F.col("doc_id")).limit(
        BM25_TOPK
    )
    w = Window.orderBy(F.col("__score").desc(), F.col("doc_id"))
    return top.select(
        "doc_id",
        "n_terms_hit",
        round_half_up(F.col("__score"), 6).alias("bm25"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    ).orderBy("rank")


def duplicate_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span detection (the span-level analog
    of exact dedup, after Lee et al.'s deduplication work):
    fingerprint every distinct word SPAN_K-gram per document, count how
    many documents share each fingerprint corpus-wide, and report each
    document's shared-span fraction — the boilerplate/template signal a
    curation pipeline cuts on.

    Scale: only 16-byte md5 fingerprints ever shuffle (never gram
    text); one exchange keyed on the fingerprint for the global
    document count, one keyed on doc_id for the per-doc rollup. Both
    aggregates partial-aggregate map-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    # spread (r16, guide §2.5): the per-doc gram-md5 fold ran as one
    # task under the tiny single-file scan; no-op at scale
    grams = spread_small_scan(docs).filter(
        F.expr(f"size(split(text, ' ')) >= {SPAN_K}")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(transform({ngram_expr(SPAN_K)},"
                " g -> md5(g)))"
            )
        ).alias("h"),
    )
    global_counts = grams.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_docs_with_span")
    )
    return (
        grams.join(global_counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("n_docs_with_span") >= 2, 1).otherwise(0)
            ).cast("bigint").alias("n_shared_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_shared_spans",
            round_half_up(
                F.col("n_shared_spans") / F.col("n_spans").cast("double"), 6
            ).alias("shared_frac"),
        )
        .orderBy("doc_id")
    )


EXT_QUERIES["pii_scrub_docs"] = pii_scrub_docs
EXT_QUERIES["quality_classifier_docs"] = quality_classifier_docs
EXT_QUERIES["bm25_retrieval"] = bm25_retrieval
EXT_QUERIES["duplicate_spans_docs"] = duplicate_spans_docs

SPAN_W = 50  # ExactSubstr window: spans >= 50 tokens (Lee et al.)


def substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup with REMOVAL (VERDICT r07 item 8) —
    the ExactSubstr modality of "Deduplicating Training Data Makes
    Language Models Better" (Lee et al., 2022), completing the dedup
    family (exact-doc, MinHash, SimHash, k-gram detection, semantic).
    Any duplicated substring of >= SPAN_W tokens contains a duplicated
    aligned SPAN_W-token window at every offset, so the rule is exact:
    fingerprint every SPAN_W-gram occurrence, keep the corpus-wide
    canonical FIRST occurrence — the lexicographic (doc_id, i) min,
    taken as a STRUCT min so it is exact for any doc length / doc_id
    (VERDICT r08 item 5: the earlier ``doc_id*1e6+i`` bigint packing
    silently mis-ranked canonical-first past 1M tokens per doc and
    overflowed past doc_id ~9.2e12) — and delete every token covered
    by any other occurrence of a duplicated fingerprint.
    Output: per-doc token counts + the cleaned text.

    Plan shape: only 16-byte md5 fingerprints shuffle (never gram
    text) — one exchange on the fingerprint for (count, canonical-min),
    one fingerprint-keyed join back, one doc_id-keyed collect of
    removable starts (bounded by doc length); span COVERAGE is then
    computed IN-ROW (position filter against the starts array), so no
    per-position rows ever shuffle — unlike the oracle, which explodes
    covered positions; hash-equality proves the two coverage mechanisms
    agree. At 100 TB: grams ~ corpus token count; the Bloom-prune trick
    (``bloom_join_prune``) cuts the join-back to likely-duplicated
    fingerprints.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # spread (r16, guide §2.5): the SPAN_W-gram md5 fold (~150 grams ×
    # 50-token join + md5 per doc) and the in-row coverage filter both
    # ran as single-task stages under the tiny one-file scan (profiled
    # 1.0 s + 0.7 s + 0.28 s + 0.25 s single-task chain); no-op at scale
    toks = spread_small_scan(docs).select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("t")
    )
    # The length guard sits inside the explode, not in a filter on t:
    # Catalyst would push that filter, token fold and all, through the
    # spread exchange onto the one-task scan.
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"IF(size(t) >= {SPAN_W},"
                f" transform(sequence(1, size(t) - {SPAN_W} + 1),"
                f" i -> named_struct('i', i, 'h',"
                f" md5(array_join(slice(t, i, {SPAN_W}), ' ')))), array())"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.i").alias("i"), F.col("g.h").alias("h"))
    # Struct min orders lexicographically by (doc_id, i) — exact for
    # any doc length, and only 16B fingerprint + 12B key ever shuffle.
    occ_key = F.struct(F.col("doc_id"), F.col("i"))
    stats = (
        grams.withColumn("k", occ_key)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"), F.min("k").alias("mk"))
    )
    removable = (
        grams.withColumn("k", occ_key)
        .join(stats, "h")
        .filter((F.col("c") >= 2) & (F.col("k") != F.col("mk")))
        .groupBy("doc_id")
        .agg(F.collect_list("i").alias("starts"))
    )
    return (
        toks.join(removable, "doc_id", "left")
        .withColumn("starts", F.coalesce("starts", F.expr("array()")))
        .withColumn(
            "kept",
            # Positions built as slice(sequence(0, n), 2, n) == [1..n]
            # rather than sequence(1, n): for an empty doc (n = 0) the
            # latter yields the DESCENDING [1, 0] and element_at(t, 1)
            # throws under ANSI (ADVICE r8); the slice form yields []
            # so empty docs pass through with clean_text = '' exactly
            # like the oracle.
            F.expr(
                "filter(transform(slice(sequence(0, size(t)), 2, size(t)),"
                " p -> named_struct('p', p, 'tok', element_at(t, p))),"
                f" s -> NOT exists(starts,"
                f" st -> st <= s.p AND s.p < st + {SPAN_W}))"
            ),
        )
        .select(
            "doc_id",
            F.size("t").cast("bigint").alias("n_tokens"),
            (F.size("t") - F.size("kept")).cast("bigint").alias("n_removed"),
            F.expr("array_join(transform(kept, s -> s.tok), ' ')").alias(
                "clean_text"
            ),
        )
        .orderBy("doc_id")
    )


EXT_QUERIES["substring_dedup_spans"] = substring_dedup_spans


def pq_topk_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (PQ/ADC): Lloyd-trained sub-codebooks,
    32×-compressed code table, asymmetric-distance top-k by inner
    product. See operators.similarity.pq_topk for the 100 TB story
    (search reads M bytes/vector, never the embeddings)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.pq_topk(emb, query_pred=ANN_QUERY_PRED, k=ANN_K)
    return out.select(
        "q_id",
        "neighbor_id",
        round_half_up(F.col("approx_dot"), 6).alias("approx_dot"),
        "rank",
    ).orderBy("q_id", "rank")


EXT_QUERIES["pq_topk_adc"] = pq_topk_adc


def unigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document — the statistical
    language-model quality filter (the kenlm-perplexity step of a
    curation pipeline, with the corpus itself as the LM). Add-one
    smoothing: logp(t) = ln((count(t)+1)/(T+V)).

    Plan at 100 TB: one explode+groupBy builds the unigram table (one
    shuffle keyed on token, partial-aggregated); the per-doc pass joins
    tokens to that table — the probe side has exactly one row per
    distinct token, so the join never amplifies and a skewed hot token
    is just a popular probe key. T and V ride as a 1-row scalar
    broadcast. The per-doc mean is a fixed-point decimal sum (doc token
    order varies with partitioning; integer accumulation makes the sum
    order-insensitive), so scores hash-match the oracle exactly.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("t_tokens"),
        F.count(F.lit(1)).alias("v_size"),
    )
    logp = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        F.log(
            (F.col("cnt") + 1.0)
            / (F.col("t_tokens") + F.col("v_size")).cast("double")
        ).alias("logp"),
    )
    return (
        toks.join(logp, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                decimal_sum(F.col("logp"), 9) / F.count(F.lit(1))
            ).alias("__mean"),
        )
        .select(
            "doc_id",
            "n_tokens",
            round_half_up(F.col("__mean"), 6).alias("mean_logprob"),
        )
        .orderBy("doc_id")
    )


EXT_QUERIES["unigram_logprob_docs"] = unigram_logprob_docs


# v3 capstone cuts — shared with the oracle generator.
CORPUS_V3_MIN_LOGPROB = -3.404
CORPUS_V3_MAX_SHARED = 0.83
# The capstone's span ceiling uses 5-grams, not the 3-grams of the
# diagnostic duplicate_spans_docs query: 3-gram sharing SATURATES as the
# corpus grows (at sf0.1 every doc's every 3-gram collides somewhere, so
# frac == 1.0 for all docs and any ceiling empties the corpus), while
# 5-gram sharing stays bimodal at every probed sf — near-zero for
# organic docs, ~0.99 for the generator's planted near-duplicates.
# Real curation pipelines use 8-13-gram spans for the same reason.
V3_SPAN_K = 5


def curated_corpus_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 curation capstone — the modern model-filtered pipeline,
    one lazy plan: PII scrub → linear quality classifier → unigram-LM
    score → duplicate-span cut → exact dedup keep-first.

    Composition of the individually-gated round-4 operators (each cut
    uses the UNROUNDED score, identical bit-for-bit in both engines, so
    the survivor set is exact). Multi-signal curation inherently scans
    the corpus once per signal family (stats projection, unigram
    explode, 3-gram explode) — at 100 TB the scrubbed corpus would be a
    materialized clean-zone table; the per-signal plans are exactly the
    gated ones."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    clean = scrub_pii(docs).select("doc_id", "text")

    feats = text_stats(clean)
    cls = feats.select(
        "doc_id",
        F.expr(CLASSIFIER_SCORE_SQL).alias("__qp"),
        # exact integer keep decision (zero-logit docs tie at qp == 0.5)
        F.expr(CLASSIFIER_KEEP_SQL).alias("__keep"),
    )

    toks = clean.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("t_tokens"), F.count(F.lit(1)).alias("v_size")
    )
    logp = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        F.log(
            (F.col("cnt") + 1.0)
            / (F.col("t_tokens") + F.col("v_size")).cast("double")
        ).alias("logp"),
    )
    lm = (
        toks.join(logp, "token")
        .groupBy("doc_id")
        .agg(
            (decimal_sum(F.col("logp"), 9) / F.count(F.lit(1))).alias("__mlp")
        )
    )

    grams = clean.filter(
        F.expr(f"size(split(text, ' ')) >= {V3_SPAN_K}")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(transform({ngram_expr(V3_SPAN_K)},"
                " g -> md5(g)))"
            )
        ).alias("h"),
    )
    gcounts = grams.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    spans = (
        grams.join(gcounts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("__nspans"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("__nshared"),
        )
        .select(
            "doc_id",
            (
                F.col("__nshared") / F.col("__nspans").cast("double")
            ).alias("__frac"),
        )
    )

    kept = (
        cls.join(lm, "doc_id")
        .join(spans, "doc_id")
        .filter(
            F.col("__keep")
            & (F.col("__mlp") >= CORPUS_V3_MIN_LOGPROB)
            & (F.col("__frac") <= CORPUS_V3_MAX_SHARED)
        )
    )
    w = Window.partitionBy(fingerprint()).orderBy("doc_id")
    uniq = (
        clean.join(kept, "doc_id")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return uniq.select(
        "doc_id",
        round_half_up(F.col("__qp"), 6).alias("quality_prob"),
        round_half_up(F.col("__mlp"), 6).alias("mean_logprob"),
        round_half_up(F.col("__frac"), 6).alias("shared_frac"),
    ).orderBy("doc_id")


EXT_QUERIES["curated_corpus_v3"] = curated_corpus_v3


def mix_sources_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mixing — re-weight a multi-source corpus to an equal
    per-source token budget (the data-mixology step of a training run:
    target proportions per source, realized by deterministic hash
    sampling, so the mix is reproducible on any rebuild).

    keep_prob(source) = min(1, target_tokens / source_tokens) with
    target = total/n_sources; a doc survives iff its md5 bucket falls
    under keep_prob — the same engine-portable bucket primitive as
    hash_sample. Plan: one grouped pass for per-source token totals, a
    1-row scalar broadcast of (total, n_sources), and a row-local
    bucket test — the doc-level pass shuffles once on source for the
    kept-count rollup.

    Exactness (VERDICT r05): both the keep cut and the reported
    ``keep_prob`` are computed in exact integer arithmetic — no double
    enters the decision path. The cut ``bucket < min(1, p)·10000`` is
    cross-multiplied to ``bucket·n_sources·n_tokens <
    total_tokens·10000`` over DECIMAL(38,0) (equivalent because
    ``bucket ≤ 9999 < 10000 ≤ total·10000/den`` whenever the min
    clamps), and the 6-dp half-up round of ``p = min(total, den)/den``
    is the integer ``(num·2000000 + den) div (2·den)`` — ``div`` on
    decimals yields the same BIGINT quotient as DuckDB ``//`` on
    HUGEINT — followed by ONE final double division by 1e6 (a ≤1e6
    integer divided by an exact power of ten: bit-identical IEEE on
    both engines). This is the repo's QUALITY_NUM_SQL convention; the
    r5 driver red was `src3`'s pre-round value sitting 8.7e-9 from the
    .5 boundary, where literal-typing drift between engines could flip
    the digit.
    """
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count().alias("n_toks")
    )
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
    )
    totals = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    dec = "decimal(38,0)"
    den = F.col("n_sources").cast(dec) * F.col("n_tokens").cast(dec)
    tot = F.col("total_tokens").cast(dec)
    rates = per_source.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        den.alias("__den"),
        tot.alias("__tot"),
        # half-up 6-dp round of min(tot, den)/den, all-integer:
        # (num*2000000 + den) div (2*den) — a bigint in [0, 1000000]
        F.expr(
            f"(least(CAST(total_tokens AS {dec}),"
            f"       CAST(n_sources AS {dec}) * CAST(n_tokens AS {dec}))"
            f" * 2000000"
            f" + CAST(n_sources AS {dec}) * CAST(n_tokens AS {dec}))"
            f" div (2 * CAST(n_sources AS {dec}) * CAST(n_tokens AS {dec}))"
        ).alias("__kp_micro"),
    )
    kept = (
        docs.join(F.broadcast(rates.select("source", "__den", "__tot")), "source")
        .filter(
            hash_bucket("doc_id", salt="mix").cast(dec) * F.col("__den")
            < F.col("__tot") * F.lit(10000)
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_toks").alias("kept_tokens"),
        )
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (
                F.col("__kp_micro").cast("double") / F.lit(1000000.0)
            ).alias("keep_prob"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
        )
        .orderBy("source")
    )


EXT_QUERIES["mix_sources_tokens"] = mix_sources_tokens


def semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: cluster the
    embeddings with the deterministic Lloyd quantizer, then compare
    pairs ONLY within a cluster (cosine ≥ EMB_SIM_THRESHOLD, a < b).
    The k-means twin of ``embedding_near_dups`` (which buckets by LSH):
    candidate generation cost is Σ|cell|² instead of n², and the
    cluster structure is the one the IVF index already maintains.

    Scale: one self-join keyed on the bounded cell id; within-cell
    pairing is quadratic in cell size only (the quantizer's balance is
    the tuning knob, same as every SemDeDup deployment)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r15 (guide §2.4): the quantizer returns vectors WITH their cell
    # (in-row literal-centroid assignment — no vec_id re-join).
    # r15 (guide §2.5, hot keys): ``cell`` has only N_IVF_SEEDS (8)
    # distinct values, so a plain cell-keyed self-join caps the
    # quadratic pairwise stage at 8-way parallelism — and AQE's
    # size-based coalescing collapses these small-bytes/huge-compute
    # partitions to ONE task (measured: the two 1-task sort/join
    # stages were the whole query). SALT the join: side a keeps its
    # deterministic bucket ``pmod(xxhash64(vec_id), B)``, side b
    # explodes B ways — the textbook salt trade (B× replication of one
    # side buys K·B-way parallelism); explicit numPartitions on both
    # repartitions keeps AQE from re-collapsing them. Pair set, cosine
    # arithmetic and tie order are unchanged.
    va, _ = S.kmeans_vectors(emb)
    # norm2 is null only where e is null or holds a null, and then the
    # pair's dot fold is null too, so the 0.0 fallback never reaches a
    # cosine. It makes norm2 non-nullable: the cosine filter then infers
    # no isnotnull(norm2) for Catalyst to push, norm fold and all,
    # below the spread.
    v = va.select(
        "vec_id", "e", F.coalesce("norm2", F.lit(0.0)).alias("norm2"), "cell"
    )
    n_part = spark.sparkContext.defaultParallelism
    salt_b = 8
    a = v.select(
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"),
        F.col("norm2").alias("na"),
        "cell",
        F.expr(f"pmod(xxhash64(vec_id), {salt_b})").alias("__salt"),
    ).repartition(n_part, "cell", "__salt")
    b = v.select(
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        F.col("norm2").alias("nb"),
        "cell",
        F.explode(
            F.expr(f"sequence(CAST(0 AS BIGINT), {salt_b - 1})")
        ).alias("__salt"),
    ).repartition(n_part, "cell", "__salt")
    pairs = (
        a.join(b, ["cell", "__salt"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            "cell",
            (
                F.expr(S.dot_fold("ea", "eb"))
                / (F.sqrt("na") * F.sqrt("nb"))
            ).alias("__cos"),
        )
        .filter(F.col("__cos") >= EMB_SIM_THRESHOLD)
    )
    return pairs.select(
        "vec_a",
        "vec_b",
        "cell",
        round_half_up(F.col("__cos"), 6).alias("cosine"),
    ).orderBy("vec_a", "vec_b")


EXT_QUERIES["semantic_dedup_kmeans"] = semantic_dedup_kmeans


def ivfpq_topk_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: coarse k-means cells + PQ-coded residuals + ADC probe
    search — the canonical production vector index (FAISS IVFPQ
    layout). See operators.similarity.ivfpq_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.ivfpq_topk(emb, query_pred=ANN_QUERY_PRED, k=ANN_K)
    return out.select(
        "q_id",
        "neighbor_id",
        "cell",
        round_half_up(F.col("approx_ip"), 6).alias("approx_ip"),
        "rank",
    ).orderBy("q_id", "rank")


EXT_QUERIES["ivfpq_topk_adc"] = ivfpq_topk_adc


def pagerank_dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the verified near-dup graph: rank
    the hub copy of each duplicate neighborhood (a keep-the-best dedup
    policy's tiebreaker). Iterative edge-keyed shuffles with exact
    fixed-point contribution sums — see operators.dedup.pagerank."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_verify(docs).filter(F.col("is_near_dup"))
    return (
        D.pagerank(pairs)
        .select(
            "node",
            "deg",
            round_half_up(F.col("rank"), 9).alias("rank"),
        )
        .orderBy("node")
    )


EXT_QUERIES["pagerank_dedup_graph"] = pagerank_dedup_graph


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters: the exact top-20 tokens next to
    their sketch point estimates — the bounded-state frequency
    structure a 100 TB pipeline uses when exact per-item counts don't
    fit (operators.sketch; estimates are deterministic md5 functions of
    the data, so they hash-match the oracle exactly, not just within
    error bounds)."""
    from ..operators.sketch import cms_estimates

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    )
    est = cms_estimates(toks, "token")
    return (
        est.orderBy(F.col("n_exact").desc(), F.col("token"))
        .limit(20)
        .select("token", "n_exact", "cms_estimate")
    )


def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw HyperLogLog distinct-user estimate per event type, next to
    the exact count and relative error — the mergeable bounded-state
    COUNT(DISTINCT) every 100 TB pipeline replaces the exact shuffle
    with (operators.sketch; the register sum is IEEE-exact, so the
    estimate itself cross-checks)."""
    from ..operators.sketch import hll_estimate
    from ..sources.events import load_events

    ev = load_events(spark, sf_dir)
    out = hll_estimate(ev, "user_id", "event_type")
    return out.select(
        "event_type",
        "n_exact",
        round_half_up(F.col("hll_estimate"), 4).alias("hll_estimate"),
        round_half_up(
            (F.col("hll_estimate") - F.col("n_exact"))
            / F.col("n_exact").cast("double"),
            4,
        ).alias("rel_error"),
    ).orderBy("event_type")


EXT_QUERIES["cms_heavy_hitters"] = cms_heavy_hitters
EXT_QUERIES["hll_distinct_users"] = hll_distinct_users


def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: build a 4096-bit bitmask over
    the BUILDING-segment customer keys (bounded — it collects bit
    POSITIONS, never keys), probe every order row-locally, and report
    the pruning quality vs the exact semi-join. At 100 TB this is the
    scan-side filter that keeps non-matching fact rows off the join
    exchange entirely (the hand-rolled twin of Spark's runtime bloom
    join, here engine-exact so the oracle can rebuild it)."""
    from ..operators.sketch import bloom_bitmask, bloom_probe

    cust = load_table(spark, sf_dir, "customer")
    keys = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey")
    )
    mask = bloom_bitmask(keys, "c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    flagged = orders.select(
        "o_custkey",
        bloom_probe("o_custkey", mask).alias("__pass"),
    ).join(
        F.broadcast(keys.withColumn("__true", F.lit(True))),
        orders.o_custkey == keys.c_custkey,
        "left",
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("__pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_pass"),
        F.sum(F.when(F.col("__true"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_true_match"),
        F.sum(
            F.when(F.col("__pass") & F.col("__true").isNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_positive"),
    ).select(
        "n_orders",
        "n_bloom_pass",
        "n_true_match",
        "n_false_positive",
        round_half_up(
            F.col("n_false_positive")
            / (F.col("n_orders") - F.col("n_true_match")).cast("double"),
            6,
        ).alias("fp_rate"),
    )


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that can never leak near-duplicates
    across splits: documents are keyed by their near-dup COMPONENT (the
    connected-components label; singletons key by themselves) and the
    hash split is drawn on the component — every member of a duplicate
    cluster lands in the same split by construction. The correctness
    property naive per-doc splitting violates silently.
    """
    from ..operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_verify(docs).filter(F.col("is_near_dup"))
    comp = D.connected_components(pairs)
    labeled = (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "component"
            ),
        )
    )
    out = hash_split(
        labeled,
        key="component",
        weights={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return out.select("doc_id", "component", "split").orderBy("doc_id")


EXT_QUERIES["bloom_join_prune"] = bloom_join_prune
EXT_QUERIES["leakage_safe_split"] = leakage_safe_split


RERANK_FANOUT = 3  # candidate multiplier before the exact re-rank


def ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the standard production shape: the IVF-PQ
    index proposes k·RERANK_FANOUT candidates per query (compressed
    codes only), then ONLY those candidates are re-scored with exact
    cosine against the full vectors. At 100 TB the expensive exact pass
    touches k·fanout rows per query instead of the corpus; the
    approximate pass never touches a full-width vector at all."""
    emb = load_table(spark, sf_dir, "embeddings")
    cand = S.ivfpq_topk(
        emb, query_pred=ANN_QUERY_PRED, k=ANN_K * RERANK_FANOUT
    ).select("q_id", "neighbor_id")
    v = S._vectors(emb)
    q = v.filter(ANN_QUERY_PRED).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    scored = (
        cand.join(F.broadcast(q), "q_id")
        .join(
            v.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("e").alias("ne"),
                F.col("norm2").alias("nn"),
            ),
            "neighbor_id",
        )
        .select(
            "q_id",
            "neighbor_id",
            (
                F.expr(S.dot_fold("qe", "ne"))
                / (F.sqrt("qn") * F.sqrt("nn"))
            ).alias("__cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("__cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= ANN_K)
        .select(
            "q_id",
            "neighbor_id",
            round_half_up(F.col("__cos"), 6).alias("cosine"),
            "rank",
        )
        .orderBy("q_id", "rank")
    )


EXT_QUERIES["ivfpq_rerank_topk"] = ivfpq_rerank_topk


PHRASE = ("data", "value")  # the fixed search phrase, shared w/ oracle


def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search through a positional inverted index: posting lists
    (doc_id, token, pos) for the two phrase terms, joined on adjacent
    positions — the retrieval-infrastructure primitive (the index is
    built inline here; at 100 TB it is a stored table partitioned by
    token, so a phrase query reads two posting lists, not the corpus).

    The oracle recomputes matches directly from the token arrays —
    index mechanics validated against ground truth, not against a copy
    of themselves.
    """
    a, b = PHRASE
    docs = load_table(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "token"),
    ).filter(F.col("token").isin(a, b))
    pa = postings.filter(F.col("token") == a).select(
        "doc_id", F.col("pos").alias("pa")
    )
    pb = postings.filter(F.col("token") == b).select(
        "doc_id", F.col("pos").alias("pb")
    )
    hits = pa.join(pb, "doc_id").filter(F.col("pb") == F.col("pa") + 1)
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("pa").cast("bigint").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


EXT_QUERIES["phrase_search_docs"] = phrase_search_docs


BACKOFF = 0.4  # stupid-backoff weight, shared with the oracle


def bigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language model with stupid backoff, trained on the even
    doc_ids and scoring every document — the held-out half genuinely
    exercises the backoff path (training on the full corpus would make
    'unseen bigram' dead code in the gate).

    p(w2|w1) = c(w1,w2)/c(w1) when the bigram was seen in training,
    else BACKOFF · (c(w2)+1)/(T+V). Plan: two grouped count tables
    (bigram, unigram — both shuffled once on their key), a probe join
    per scored bigram (one row per key, non-amplifying), and the
    fixed-point per-doc mean of ln p. Cross-engine exact: rational
    arithmetic + ln on identical doubles + order-insensitive sums.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bigrams = docs.filter(F.expr("size(split(text, ' ')) >= 2")).select(
        "doc_id",
        F.explode(F.expr(ngram_expr(2))).alias("bg"),
    )
    train_bg = (
        bigrams.filter(F.col("doc_id") % 2 == 0)
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_bg"))
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    train_uni = (
        toks.filter(F.col("doc_id") % 2 == 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )
    totals = train_uni.agg(
        F.sum("c_uni").alias("t_tokens"), F.count(F.lit(1)).alias("v_size")
    )
    scored = (
        bigrams.withColumn("w1", F.expr("split(bg, ' ')[0]"))
        .withColumn("w2", F.expr("split(bg, ' ')[1]"))
        .join(F.broadcast(train_bg), "bg", "left")
        .join(
            F.broadcast(train_uni.select(F.col("token").alias("w1"),
                                         F.col("c_uni").alias("c_w1"))),
            "w1",
            "left",
        )
        .join(
            F.broadcast(train_uni.select(F.col("token").alias("w2"),
                                         F.col("c_uni").alias("c_w2"))),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.log(
                F.when(
                    F.col("c_bg").isNotNull() & F.col("c_w1").isNotNull(),
                    F.col("c_bg") / F.col("c_w1").cast("double"),
                ).otherwise(
                    BACKOFF
                    * (F.coalesce(F.col("c_w2"), F.lit(0)) + 1.0)
                    / (F.col("t_tokens") + F.col("v_size")).cast("double")
                )
            ).alias("__lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round_half_up(
                decimal_sum(F.col("__lp"), 9) / F.count(F.lit(1)), 6
            ).alias("mean_logprob"),
        )
        .withColumn("held_out", F.col("doc_id") % 2 == 1)
        .orderBy("doc_id")
    )


EXT_QUERIES["bigram_logprob_docs"] = bigram_logprob_docs


RRF_K = 60       # the standard reciprocal-rank-fusion constant
HYBRID_TOPK = 10
HYBRID_QVEC = 0  # the dense query vector (vec_id aligns with doc_id in
                 # the synthetic corpus — the usual doc↔embedding link)


def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 (sparse)
    top-k and the cosine (dense) top-k are fused as
    Σ 1/(RRF_K + rank) — the standard score-free combiner (Cormack et
    al.). Pure rational arithmetic on two bounded ranked lists, so the
    fusion is engine-exact; each leg is the already-gated operator.
    """
    sparse = bm25_retrieval(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("r_sparse")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    dense_raw = S.cosine_topk(
        emb, query_pred=f"vec_id = {HYBRID_QVEC}", k=HYBRID_TOPK
    )
    dense = dense_raw.select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("r_dense"),
    )
    fused = sparse.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce(F.col("r_sparse"), F.lit(0)).alias("r_sparse"),
        F.coalesce(F.col("r_dense"), F.lit(0)).alias("r_dense"),
        (
            F.when(
                F.col("r_sparse").isNotNull(),
                1.0 / (F.col("r_sparse") + F.lit(float(RRF_K))),
            ).otherwise(F.lit(0.0))
            + F.when(
                F.col("r_dense").isNotNull(),
                1.0 / (F.col("r_dense") + F.lit(float(RRF_K))),
            ).otherwise(F.lit(0.0))
        ).alias("__rrf"),
    )
    w = Window.orderBy(F.col("__rrf").desc(), F.col("doc_id"))
    return (
        fused.orderBy(F.col("__rrf").desc(), F.col("doc_id"))
        .limit(HYBRID_TOPK)
        .select(
            "doc_id",
            "r_sparse",
            "r_dense",
            round_half_up(F.col("__rrf"), 9).alias("rrf_score"),
            F.row_number().over(w).cast("bigint").alias("rank"),
        )
        .orderBy("rank")
    )


EXT_QUERIES["hybrid_rrf_retrieval"] = hybrid_rrf_retrieval


def chunk_documents_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.10 Spark-4 Python UDTF surface: context-window chunking as
    a user-defined TABLE function (one input row → many output rows from
    Python), semantics identical to the JVM-side ``chunk_documents`` —
    it shares that query's oracle verbatim, so the gate proves the
    Python table-function path hash-equal to the Catalyst plan.

    Arrow-batched (``useArrow=True``): rows stream through the Python
    worker in Arrow batches, not pickled one at a time. Still the slow
    path vs the JVM chunker — this exists to cover the API surface
    (UDTFs are how users package custom fan-out logic the built-ins
    can't express); production chunking stays on ``text.chunk_tokens``.
    """
    from pyspark.sql.functions import udtf

    chunk_size, overlap = CHUNK_SIZE, CHUNK_OVERLAP

    @udtf(
        returnType=(
            "doc_id bigint, chunk_idx bigint, chunk_hash string,"
            " n_chunk_tokens bigint"
        ),
        useArrow=True,
    )
    class ChunkDoc:
        def eval(self, doc_id, text):  # noqa: ANN001 — UDTF protocol
            import hashlib

            toks = text.split(" ")
            stride = chunk_size - overlap
            last_start = max(len(toks) - 1, 0)
            for i, start in enumerate(range(0, last_start + 1, stride)):
                piece = " ".join(toks[start : start + chunk_size])
                yield (
                    doc_id,
                    i,
                    hashlib.md5(piece.encode("utf-8")).hexdigest(),
                    min(chunk_size, len(toks) - start),
                )

    name = f"chunk_doc_{uuid.uuid4().hex[:12]}"
    spark.udtf.register(name, ChunkDoc)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    view = f"docs_{uuid.uuid4().hex[:12]}"
    docs.createOrReplaceTempView(view)
    return spark.sql(
        f"SELECT c.doc_id, c.chunk_idx, c.chunk_hash, c.n_chunk_tokens"
        f" FROM {view} d, LATERAL {name}(d.doc_id, d.text) c"
        f" ORDER BY c.doc_id, c.chunk_idx"
    )


EXT_QUERIES["chunk_documents_udtf"] = chunk_documents_udtf


def cogroup_asof_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last §2.10 Python-API member: COGROUPED applyInPandas —
    two frames grouped on the same key meet in one pandas function per
    key. The demo is the canonical one (Spark's own docs use it):
    per-user ``pd.merge_asof`` of purchases against views, i.e. the
    as-of join computed by the pandas path. It must return EXACTLY what
    ``temporal.asof_join`` returns — the query shares
    ``asof_attribution``'s oracle verbatim, so the gate proves the
    cogroup path equivalent to the union-scan operator (ties included:
    views sort by (ts, view_id) and merge_asof backward takes the last,
    = the operator's struct-greatest rule).

    Scale shape: one hash exchange per side on user_id (identical to
    the operator), then Arrow-batched pandas per key — no key ever
    holds more than its own rows. The slow path vs the JVM window plan,
    kept for when per-key logic genuinely needs pandas (irregular
    resampling, scipy calls).
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                columns=["event_id", "user_id", "view_id", "view_ts"]
            )
        left = left.sort_values(["ts", "event_id"])
        right = right.sort_values(["view_ts", "view_id"])
        out = pd.merge_asof(
            left,
            right.drop(columns=["user_id"]),
            left_on="ts",
            right_on="view_ts",
            direction="backward",
            allow_exact_matches=True,
        )
        out["view_id"] = out["view_id"].astype("Int64")
        return out[["event_id", "user_id", "view_id", "view_ts"]]

    matched = (
        purchases.groupBy("user_id")
        .cogroup(views.groupBy("user_id"))
        .applyInPandas(
            merge,
            schema=(
                "event_id long, user_id long, view_id long,"
                " view_ts timestamp"
            ),
        )
    )
    joined = matched.join(
        purchases.select("event_id", "ts"), "event_id"
    )
    return joined.select(
        "event_id",
        "user_id",
        "view_id",
        (
            F.unix_micros("ts") - F.unix_micros("view_ts")
        ).alias("lag_us"),
    ).orderBy("event_id")


EXT_QUERIES["cogroup_asof_pandas"] = cogroup_asof_pandas


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training primitive: the top adjacent-pair counts over
    the corpus — the scoring step of one BPE merge iteration (pick the
    most frequent adjacent pair, merge, repeat), run over whitespace
    pre-tokens. The pair expansion happens IN-ROW (``transform`` over
    an index ``sequence`` → struct array → one ``explode``), so the
    only shuffle is the grouped count; top-20 with the total
    (count DESC, a, b) tie-break is a deterministic TakeOrdered.

    Scale: pair rows ≈ token count (~corpus size); grouped count gets
    map-side partials, and the candidate table is vocab², heavy-hitter
    dominated — at 100 TB the exact count is one shuffle, or swap in
    the count-min sketch (``operators/sketch.py``) for a bounded-memory
    approximation between merge rounds.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS a, t[i + 1] AS b))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "a", "b")
        .limit(20)
    )


EXT_QUERIES["bpe_merge_candidates"] = bpe_merge_candidates


def _bpe_apply_merge(t, a: str, b: str):
    """Greedy left-to-right non-overlapping application of merge (a,b)
    to a token array, entirely IN-ROW via an ``F.aggregate`` fold —
    state = (emitted prefix, one pending token); no UDF, no shuffle.
    Literals ride as ``F.lit`` columns, so no SQL-string escaping.

    Since r15 the production trainer/encoder runs the Arrow-batched
    :func:`_bpe_py_merge` kernel (guide §4.2); this fold stays as the
    JVM-side reference implementation the kernel tests compare
    against."""
    merged = F.lit(a + b)
    zero = F.struct(
        F.expr("cast(array() as array<string>)").alias("out"),
        F.expr("cast(null as string)").alias("pend"),
    )

    def step(s, x):
        return (
            F.when(
                s["pend"].isNull(),
                F.struct(s["out"].alias("out"), x.alias("pend")),
            )
            .when(
                (s["pend"] == F.lit(a)) & (x == F.lit(b)),
                F.struct(
                    F.concat(s["out"], F.array(merged)).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(s["out"], F.array(s["pend"])).alias("out"),
                    x.alias("pend"),
                )
            )
        )

    def finish(s):
        return F.when(s["pend"].isNull(), s["out"]).otherwise(
            F.concat(s["out"], F.array(s["pend"]))
        )

    return F.aggregate(t, zero, step, finish)


def _bpe_py_merge(seq, a: str, b: str) -> list:
    """Greedy left-to-right non-overlapping application of merge (a, b)
    in plain Python — extensionally equal to :func:`_bpe_apply_merge`
    (pytest pins both on adversarial and randomized inputs). This is
    the per-row kernel of
    the Arrow-batched trainer/encoder passes (r15, guide §4.2)."""
    out, i, n = [], 0, len(seq)
    while i < n:
        if i + 1 < n and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def _bpe_flat_view(col):
    """(flat values, offsets ndarray, valid-pair mask) of a null-free
    ``list<string>`` Arrow array. ``flat[i], flat[i+1]`` is an adjacent
    pair of the SAME document iff ``valid[i]``: interior list
    boundaries (and empty lists, whose repeated offsets are skipped by
    the >0 guard on a fresh batch) are masked out."""
    import numpy as np

    lengths = col.value_lengths().to_numpy(zero_copy_only=False)
    offsets = np.concatenate(([0], np.cumsum(lengths, dtype=np.int64)))
    flat = col.flatten()
    n = len(flat)
    valid = np.ones(max(n - 1, 0), dtype=bool)
    interior = offsets[1:-1]
    interior = interior[(interior > 0) & (interior <= n - 1)]
    valid[interior - 1] = False
    return flat, offsets, valid


def _bpe_match_starts(flat, valid, a: str, b: str):
    """Greedy non-overlapping match START positions of pair (a, b) over
    the flat token view — the vectorized form of :func:`_bpe_py_merge`'s
    cursor walk. Matches are adjacent only when a == b (a run of equal
    tokens); greedy left-to-right = take every OTHER match within each
    maximal run of consecutive match positions (pytest-pinned equal to
    the sequential kernel on randomized inputs)."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(flat)
    if n < 2:
        return np.empty(0, dtype=np.int64)
    m = pc.and_(
        pc.equal(flat.slice(0, n - 1), a), pc.equal(flat.slice(1, n - 1), b)
    ).to_numpy(zero_copy_only=False)
    idx = np.flatnonzero(np.asarray(m, dtype=bool) & valid)
    if idx.size == 0:
        return idx
    is_start = np.concatenate(([True], np.diff(idx) != 1))
    run_first = idx[is_start][np.cumsum(is_start) - 1]
    return idx[(idx - run_first) % 2 == 0]


def _bpe_merge_list_column(col, a: str, b: str):
    """Apply ONE greedy merge to a ``list<string>`` Arrow array in
    vectorized Arrow/numpy ops (guide §4.2): replace each taken match
    start with the merged token, drop its consumed right neighbour, and
    re-slice the list offsets — no per-row Python loop. Null lists (not
    produced by these pipelines) fall back to the pinned per-row
    kernel."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if col.null_count:
        return pa.array(
            [
                None if t is None else _bpe_py_merge(t.as_py(), a, b)
                for t in col
            ],
            type=pa.list_(pa.string()),
        )
    flat, offsets, valid = _bpe_flat_view(col)
    taken = _bpe_match_starts(flat, valid, a, b)
    if taken.size == 0:
        return col
    n = len(flat)
    rep_mask = np.zeros(n, dtype=bool)
    rep_mask[taken] = True
    keep = np.ones(n, dtype=bool)
    keep[taken + 1] = False
    new_flat = pc.filter(
        pc.replace_with_mask(
            flat, pa.array(rep_mask), pa.array([a + b] * taken.size)
        ),
        pa.array(keep),
    )
    # dropped positions are never list starts (a pair lies inside one
    # list), so each list's new offset is its old one minus the number
    # of drops before it
    new_offsets = offsets - np.searchsorted(taken + 1, offsets)
    return pa.ListArray.from_arrays(
        pa.array(new_offsets, type=pa.int32()), new_flat
    )


def _bpe_pair_counts_after(merges: tuple):
    """``mapInArrow`` kernel: apply the merges learned so far (K
    vectorized column sweeps) and emit the batch's adjacent-pair
    partial counts — the map-side combine of the grouped pair count,
    fully vectorized (join each valid adjacent pair with a space —
    tokens come from a space split and merges concatenate, so no token
    ever contains one — then ``value_counts``). Per-task state is
    bounded by the batch's distinct pairs (vocab²-bounded, heavy-hitter
    dominated), never its token count; the JVM groupBy downstream
    merges partials exactly. Fusing apply+count keeps each trainer
    round at ONE JVM↔Arrow crossing of the corpus (closure pickled by
    value; the module-level kernels resolve by import — same
    executor-importability assumption as the writers' distributed
    manifest planner, trivially true in local mode)."""

    def fn(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in it:
            col = batch.column(0)
            if col.null_count:  # not produced by these pipelines
                col = col.drop_null()
            for a, b in merges:
                col = _bpe_merge_list_column(col, a, b)
            flat, _offsets, valid = _bpe_flat_view(col)
            n = len(flat)
            if n < 2:
                continue
            joined = pc.binary_join_element_wise(
                flat.slice(0, n - 1), flat.slice(1, n - 1), " "
            )
            vc = pc.filter(joined, pa.array(valid)).value_counts()
            if len(vc) == 0:
                continue
            parts = pc.split_pattern(vc.field("values"), " ", max_splits=1)
            yield pa.RecordBatch.from_arrays(
                [
                    pc.list_element(parts, 0),
                    pc.list_element(parts, 1),
                    vc.field("counts"),
                ],
                names=["a", "b", "n"],
            )

    return fn


def _bpe_encode_arrow(merges: list):
    """``mapInArrow`` kernel for the corpus-wide encode pass: applies
    the learned merge list IN PRIORITY ORDER (K vectorized column
    sweeps per batch) and emits per-doc raw/encoded counts + the
    space-joined encoded text."""

    def fn(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in it:
            t = batch.column(batch.schema.get_field_index("t"))
            n_raw = pc.cast(t.value_lengths(), pa.int64())
            enc = t
            for a, b in merges:
                enc = _bpe_merge_list_column(enc, a, b)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("doc_id")),
                    n_raw,
                    pc.cast(enc.value_lengths(), pa.int64()),
                    # cast: binary_join has no kernel for the
                    # non-nullable element annotation from_arrays emits
                    pc.binary_join(pc.cast(enc, pa.list_(pa.string())), " "),
                ],
                names=["doc_id", "n_raw", "n_enc", "enc_text"],
            )

    return fn


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTUAL tokenizer-training kernel (VERDICT r07 item 5):
    K = 5 applied BPE merge rounds, not just one scoring pass. Each
    round scores adjacent pairs over the CURRENT sequences
    (Arrow-batched partial counts → one grouped sum — the same
    single-shuffle shape as :func:`bpe_merge_candidates`), collects the
    argmax (count DESC, a, b tie-break — ONE row of driver metadata,
    the same bounded-collect pattern as pagerank's convergence scalar),
    applies it greedily left-to-right with the :func:`_bpe_py_merge`
    kernel (Arrow-batched; extensionally pinned to the in-row folds),
    and repeats — fixed-iteration unrolled like
    ``pagerank_dedup_graph``. Returns the learned merge table
    (merge_round, a, b, n_pairs): the artifact a BPE tokenizer ships.

    The oracle unrolls the SAME 5 rounds in SQL but applies each merge
    through a completely different mechanism — separator-delimited
    string ``replace`` (greedy left-to-right by construction) — so
    hash-equality certifies two independent greedy-merge
    implementations agree round by round.

    Scale: per round, one scan of the previous round's checkpointed
    token arrays + one batch-grain-combined grouped count + a 1-row
    collect; K rounds = K such passes. For production vocab building (K ~ 30k), swap the
    exact count for the count-min sketch (``operators/sketch.py``) and
    batch top-pairs per pass. Reference analog: the recompute cadence
    (`README.md:98`) — a fixed, bounded retrain loop.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        F.filter(F.split("text", " "), lambda x: x != "").alias("t")
    ).filter(F.size("t") >= 2)
    learned = _bpe_train_loop(toks, k=5)
    # K rows of driver metadata, landed via the Arrow/pandas local path
    # (r15, guide §6 "Arrow for driver transfers"): the list-of-tuples
    # path parallelizes into defaultParallelism pickled slices, and the
    # downstream sort then pays a Python deserializer handshake PER
    # SLICE (~0.68 s probed for 5 rows; 4.1 s if coalesced to one
    # sequential task). The pandas/Arrow local relation probes at
    # 0.14 s for the identical plan and rows.
    import pandas as pd

    pdf = pd.DataFrame(
        learned, columns=["merge_round", "a", "b", "n_pairs"]
    )
    return spark.createDataFrame(
        pdf, schema="merge_round int, a string, b string, n_pairs bigint"
    ).orderBy("merge_round")


def _bpe_train_loop(toks, k: int) -> list[tuple[int, str, str, int]]:
    """K score→argmax→apply rounds over a ``t array<string>`` frame —
    the shared trainer kernel behind :func:`bpe_train_merges` and
    :func:`bpe_encode_corpus`. Each argmax is ONE row of driver
    metadata (the bounded-collect pattern).

    r15 (guide §4.2): each round runs ONE Arrow-batched ``mapInArrow``
    stage over the checkpointed RAW token arrays — apply the merges
    learned so far (k vectorized pyarrow/numpy column sweeps, no
    per-row Python) and emit adjacent-pair partial counts; the JVM
    groupBy merges the partials exactly and the argmax / tie-break
    (count DESC, a, b) is the same TakeOrdered over the same exact
    integer sums. This replaces the Catalyst higher-order-function
    folds, whose version spent ~40% of its wall in DRIVER planning
    gaps (the chained lambda expression re-analyzed every round) and
    whose per-task expression setup was so large that spreading the
    scan parallelized nothing (32 tasks × ~460 ms each where one task
    took 430 ms). Fusing apply+count also drops the per-round
    materialize-back-to-JVM checkpoint: K is a small constant (the
    fixed-iteration contract), so re-applying ≤K−1 cheap vectorized
    sweeps per round costs far less than serializing the merged corpus
    out of Arrow every round. Docs that collapse below 2 tokens simply
    contribute no pairs (the boundary mask yields no valid positions),
    which is exactly the refilter semantics the checkpointed loop
    enforced (ADVICE r8/r9)."""
    learned: list[tuple[int, str, str, int]] = []
    base = toks.localCheckpoint(eager=False)
    for rnd in range(1, k + 1):
        rows = (
            base.mapInArrow(
                _bpe_pair_counts_after(
                    tuple((a, b) for _, a, b, _n in learned)
                ),
                "a string, b string, n bigint",
            )
            .groupBy("a", "b")
            .agg(F.sum("n").alias("n_pairs"))
            .orderBy(F.desc("n_pairs"), "a", "b")
            .limit(1)
            .collect()
        )
        if not rows:
            # Degenerate corpus (ADVICE r9): every doc collapsed below
            # 2 tokens before round k — no pairs left to score. Emit
            # the rounds learned so far, matching the oracle, whose
            # m{rnd} CTE is empty and contributes no row.
            break
        top = rows[0]
        learned.append((rnd, top["a"], top["b"], top["n_pairs"]))
    return learned


EXT_QUERIES["bpe_train_merges"] = bpe_train_merges


def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE ENCODER twin (VERDICT r08 item 4) — the operator a
    training pipeline actually runs at 100 TB: the trainer runs once,
    the encoder runs on everything. Trains the K=5 merge table exactly
    like :func:`bpe_train_merges` (shared :func:`_bpe_train_loop`),
    then applies the merges IN PRIORITY ORDER to EVERY document —
    including the size<2 docs the trainer never scores — in ONE final
    corpus pass: an Arrow-batched ``mapInPandas`` sweep applying the
    :func:`_bpe_py_merge` greedy kernel per document (r15, guide §4.2 —
    the in-row Catalyst fold chain this replaces grew a 6^k-character
    expression tree whose per-task setup cost swallowed the scan
    parallelism), so the encode pass is a single scan with zero
    shuffles (the only exchange in the final plan is the output sort).

    Returns per-doc raw/encoded token counts + the encoded text. The
    oracle trains through the same SQL CTE chain and applies the same
    5 merges via the separator-delimited string-replace mechanism —
    hash-equality certifies trainer AND encoder agree end-to-end
    across two independent greedy-merge implementations (and the
    pytest Python-reference pin makes it three).

    Scale: K bounded training passes (see bpe_train_merges) + one
    encode scan; the merge table rides in the encode kernel's closure
    (at vocab-scale K the same kernel applies a broadcast trie — same
    contract, no plan change). Reference analog: the batch transform
    step of the load pipeline (`dags/README.md`), applied corpus-wide.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # r15: the scan spread added for the in-row fold era is REMOVED —
    # the vectorized kernels process the whole sf0.1 corpus in ~30 ms,
    # so per-task fixed overhead (Arrow conversion + Python worker
    # round trip) dominates and 32-way spreading multiplies it
    # (profiled: spread rounds ran 32 tasks × ~500 ms vs one task ×
    # ~400 ms unspread). At 100 TB the scan is already wide and
    # spread_small_scan would be a no-op, so nothing is lost at scale.
    toks = docs.select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("t")
    )
    merges = _bpe_train_loop(toks.select("t").filter(F.size("t") >= 2), k=5)
    id_type = toks.schema["doc_id"].dataType.simpleString()
    return toks.mapInArrow(
        _bpe_encode_arrow([(a, b) for _, a, b, _n in merges]),
        f"doc_id {id_type}, n_raw bigint, n_enc bigint, enc_text string",
    ).orderBy("doc_id")


EXT_QUERIES["bpe_encode_corpus"] = bpe_encode_corpus


def token_diversity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity scoring for corpus quality
    filtering: type-token ratio and the Gini–Simpson index
    (1 − Σ(cᵢ/N)²) over whitespace tokens — the de-facto repetition
    screens next to ``repetition_ratio_docs``'s n-gram form. Both
    ratios are FINISHED EXACTLY: integer moments (N, distinct, Σcᵢ²)
    from one grouped pass, then the 6-dp half-up integer-rational round
    ``(2·num·10⁶ + den) div (2·den)`` in DECIMAL(38,0) with ONE final
    double division — the engine-exactness recipe (no double chains, no
    transcendentals; a log-based entropy would differ across libm
    implementations, Simpson's polynomial form cannot).

    Scale: explode → two grouped integer aggregations, both with
    map-side partials, partitioned by doc_id; no window, no driver
    state. DECIMAL(38,0) headroom: N² ≤ 1e38 up to ~1e19-token docs.
    """
    # One repartition(doc_id) serves BOTH grouped passes:
    # HashPartitioning(doc_id) satisfies the clustered distribution of
    # the superset key (doc_id, tok) and of doc_id itself, and survives
    # the narrow explode — 2 exchanges total (shuffle + output sort)
    # instead of the naive 4.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition("doc_id")
    )
    counts = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.expr("c * c")).alias("sum_sq"),
    )
    dec = "decimal(38,0)"
    n2 = f"CAST(n_tokens AS {dec}) * CAST(n_tokens AS {dec})"
    return (
        m.select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.expr(
                f"CAST((2 * ({n2} - CAST(sum_sq AS {dec})) * 1000000"
                f" + {n2}) div (2 * {n2}) AS BIGINT)"
            ).alias("__simpson_micro"),
            F.expr(
                f"CAST((2 * CAST(n_distinct AS {dec}) * 1000000"
                f" + CAST(n_tokens AS {dec}))"
                f" div (2 * CAST(n_tokens AS {dec})) AS BIGINT)"
            ).alias("__ttr_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            (F.col("__simpson_micro").cast("double") / F.lit(1000000.0)).alias(
                "simpson"
            ),
            (F.col("__ttr_micro").cast("double") / F.lit(1000000.0)).alias(
                "ttr"
            ),
        )
        .orderBy("doc_id")
    )


EXT_QUERIES["token_diversity_docs"] = token_diversity_docs


def containment_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (``operators.dedup
    .containment_pairs``): quote/boilerplate inclusion pairs the
    Jaccard cut misses — candidate pairs from a DF-capped
    inverted-index join (never all-pairs; fanout bounded by df_cap²
    per shingle), exact shingle verify on candidates only, smaller
    set = contained side. Completes the dedup family's sixth modality
    (exact, MinHash-LSH, SimHash, Jaccard, ExactSubstr spans → now
    containment)."""
    docs = load_table(spark, sf_dir, "documents")
    p = D.containment_pairs(docs)
    return p.select(
        "doc_a",
        "doc_b",
        round_half_up(F.col("cont_a"), 6).alias("cont_a"),
        round_half_up(F.col("cont_b"), 6).alias("cont_b"),
        "contained_id",
    ).orderBy("doc_a", "doc_b")


EXT_QUERIES["containment_near_dups"] = containment_near_dups


PACK_NF_CAPACITY = 256  # context-window token budget per bin
PACK_NF_SHARDS = 8


def bin_pack_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing WITHOUT document splitting — the other standard
    packing mode next to ``pack_training_sequences``' concat-and-chop:
    greedy NEXT-FIT-DECREASING bin packing of whole documents into
    fixed token-budget bins (capacity {cap}): docs sort by (n_tokens
    DESC, doc_id) within a shard, and each doc goes into the current
    bin unless it would overflow, which closes the bin and opens the
    next. No document crosses a bin boundary — the mode used when
    attention must never span two documents and truncation is
    unacceptable (eval sets, instruction tuning).

    Genuinely SEQUENTIAL logic (each decision depends on the running
    fill), so it cannot be a window expression: this is the legitimate
    ``applyInPandas`` case — deterministic shards (``doc_id % {sh}``,
    engine-portable, NOT a hash) bound each pandas group, and the
    greedy loop runs per shard in one Arrow batch. Bin ids are
    per-shard, exactly how a 1000-executor cluster runs it (global bin
    ids would serialize the whole corpus through one task; per-shard
    packing is embarrassingly parallel and loses at most one
    partially-filled bin per shard). Oversized docs (> capacity) get a
    bin alone — loudly visible as fill > capacity, never dropped.

    The oracle replays the same greedy recurrence as a RECURSIVE CTE
    stepping rank-by-rank within each shard — two independent
    sequential-fold implementations, hash-equality certified.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        .cast("long")
        .alias("n_tokens"),
    )
    sharded = docs.withColumn(
        "shard", (F.col("doc_id") % PACK_NF_SHARDS).cast("int")
    )

    cap = PACK_NF_CAPACITY

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        bins, offs = [], []
        bin_id, fill = 0, 0
        for n in pdf["n_tokens"]:
            if bins and fill + n > cap:
                bin_id += 1
                fill = 0
            bins.append(bin_id)
            offs.append(fill)
            fill += n
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        pdf["offset"] = pd.Series(offs, dtype="int64")
        return pdf[["doc_id", "shard", "n_tokens", "bin_id", "offset"]]

    return (
        sharded.groupBy("shard")
        .applyInPandas(
            pack,
            schema=(
                "doc_id long, shard int, n_tokens long,"
                " bin_id long, offset long"
            ),
        )
        .orderBy("doc_id")
    )


bin_pack_nextfit.__doc__ = bin_pack_nextfit.__doc__.format(
    cap=PACK_NF_CAPACITY, sh=PACK_NF_SHARDS
)
EXT_QUERIES["bin_pack_nextfit"] = bin_pack_nextfit


def corpus_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor — the distribution-shift report a training
    pipeline runs between yesterday's corpus and today's (here the
    deterministic even/odd doc_id halves): per-token chi-square
    divergence of the two unigram distributions, top drifted tokens
    first. For a 2×2 contingency (token vs rest, side A vs B) the
    statistic collapses to χ² = D²·N / (t·S₁·S₂) with
    D = O₁·N − S₁·t — ALL INTEGER terms, so the whole statistic is an
    exact integer rational finished with the repo's half-up 6-dp
    single-division pattern: no logs, no engine-dependent float
    accumulation anywhere (the reason chi-square beats KL here — KL's
    ln() is not exactness-portable).

    Scale: one tokenize+explode pass → one grouped count per token
    (map-side partials) → a 1-row totals aggregate broadcast back (the
    bounded-scalar cross pattern) → per-token in-row arithmetic +
    TakeOrdered top-40. The DECIMAL(38,0) intermediates hold to ~1e12
    tokens per side; past that, finish in double (the statistic is a
    rank signal at that point, not a hash-gated value) — documented
    swap, same plan shape. Reference analog: the daily report diff a
    BigQuery user schedules between staging and prod tables.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 2 == 0).alias("is_a"),
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("token"),
    )
    counts = tok.groupBy("token").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("o1"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("o2"),
    )
    totals = counts.agg(
        F.sum("o1").alias("s1"), F.sum("o2").alias("s2")
    )
    dec = "decimal(38,0)"
    m = (
        counts.crossJoin(F.broadcast(totals))
        # degenerate-corpus guard: if either half is EMPTY the 2x2
        # denominator t*S1*S2 is 0 for every token — report no drift
        # (an empty frame) instead of a division error; the oracle
        # carries the same predicate so the gate proves the branch
        .filter((F.col("s1") > 0) & (F.col("s2") > 0))
        .filter(F.col("o1") + F.col("o2") >= 20)
        .select(
            "token",
            "o1",
            "o2",
            F.expr(
                f"CAST(o1 AS {dec}) * (s1 + s2)"
                f" - CAST(s1 AS {dec}) * (o1 + o2)"
            ).alias("d"),
            F.expr(
                f"CAST(o1 + o2 AS {dec}) * s1 * s2"
            ).alias("den"),
            F.expr(f"CAST(s1 + s2 AS {dec})").alias("n"),
        )
    )
    chi = m.select(
        "token",
        "o1",
        "o2",
        F.expr(
            "CAST((2 * (d * d * n) * 1000000 + den) div (2 * den)"
            " AS DOUBLE) / 1000000.0"
        ).alias("chi2"),
    )
    return chi.orderBy(F.desc("chi2"), "token").limit(40)


EXT_QUERIES["corpus_drift_chi2"] = corpus_drift_chi2


PMI_MIN_SUPPORT = 5


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining — the PMI-ranked bigram report (Church &
    Hanks' association ratio) every corpus-analysis pipeline runs to
    find multiword expressions worth protecting from tokenization
    ('new york', 'machine learning'). PMI = log lift with
    lift = c(w1,w2)·N / (c(w1)·c(w2)); since log is monotone, ranking
    by the LIFT itself needs no transcendentals — and the lift is a
    pure integer rational, finished with the repo's half-up 6-dp
    single-division pattern, so the whole report is engine-exact
    (the same reason ``corpus_drift_chi2`` chose χ² over KL).

    Scale: one corpus pass per grain — the bigram scan and the unigram
    scan each feed one map-side-combining hash aggregate, and the
    unigram table is checkpoint-pinned so its THREE consumers (both
    probe joins and the totals row) reuse one derivation instead of
    re-tokenizing — the support filter (≥{sup}) prunes the long tail before any join,
    and the two unigram probe joins are broadcasts of the
    vocabulary-bounded count table — never a fact-fact shuffle. The
    DECIMAL(38,0) cross-product c_ab·N·1e6 holds to ~1e12-token
    corpora. TakeOrdered top-40 with the (w1, w2) unique tiebreak.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bg_counts = (
        docs.filter(F.expr("size(split(text, ' ')) >= 2"))
        .select(F.explode(F.expr(ngram_expr(2))).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_SUPPORT)
    )
    # pinned: the unigram table feeds BOTH probe joins and the totals
    # row — without the pin each reference re-derives the tokenize +
    # count (3 corpus scans instead of 1, the rfm_segments lesson)
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c_uni"))
        .localCheckpoint(eager=False)
    )
    totals = uni.agg(F.sum("c_uni").alias("n_tokens"))
    dec = "decimal(38,0)"
    scored = (
        bg_counts.withColumn("w1", F.expr("split(bg, ' ')[0]"))
        .withColumn("w2", F.expr("split(bg, ' ')[1]"))
        .join(
            F.broadcast(
                uni.select(F.col("token").alias("w1"),
                           F.col("c_uni").alias("c_w1"))
            ),
            "w1",
        )
        .join(
            F.broadcast(
                uni.select(F.col("token").alias("w2"),
                           F.col("c_uni").alias("c_w2"))
            ),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.expr(
                f"CAST((2 * CAST(c_ab AS {dec}) * n_tokens * 1000000"
                f" + CAST(c_w1 AS {dec}) * c_w2)"
                f" div (2 * CAST(c_w1 AS {dec}) * c_w2)"
                " AS DOUBLE) / 1000000.0"
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), "w1", "w2").limit(40)


pmi_collocations.__doc__ = pmi_collocations.__doc__.format(
    sup=PMI_MIN_SUPPORT
)
EXT_QUERIES["pmi_collocations"] = pmi_collocations


BFS_MAX_HOPS = 6
BFS_SEED_MOD = 10


def bfs_dedup_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination radius — minimum hop distance from a flagged seed
    set (every 10th document, the deterministic stand-in for "known
    benchmark/PII documents") over the VERIFIED near-dup graph: the
    transitive-exposure query a training pipeline runs after
    decontamination flags land ("which documents sit within k hops of
    a flagged one, and how close"). Connected components answer
    membership; BFS answers PROXIMITY, which is what graded retention
    policies key on (drop dist ≤ 1, down-weight dist ≤ 3, keep the
    rest).

    Spark side: level-synchronous frontier expansion
    (``operators.dedup.bfs_levels`` — one edge-keyed join + one
    anti-join per round, lineage pinned per level, empty-frontier
    early exit, {hops}-hop cap). Oracle: the same reachability as a
    DuckDB RECURSIVE CTE with UNION (set) semantics and a min-dist
    rollup — two entirely different fixed-point mechanisms, hash-equal.
    Isolated seeds legitimately report dist 0 (the flag itself).
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_verify(docs).filter(F.col("is_near_dup"))
    seeds = docs.filter(F.col("doc_id") % BFS_SEED_MOD == 0).select(
        F.col("doc_id").alias("node")
    )
    return D.bfs_levels(pairs, seeds, BFS_MAX_HOPS).orderBy("node")


bfs_dedup_distance.__doc__ = bfs_dedup_distance.__doc__.format(
    hops=BFS_MAX_HOPS
)
EXT_QUERIES["bfs_dedup_distance"] = bfs_dedup_distance


def hll_merge_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup proof — HyperLogLog as STATE, not a
    one-shot answer: per-day register tables (the thing a pipeline
    would persist next to each day's partition) fold across the month
    by register-wise MAX, and the month's distinct-user estimate is
    served from the MERGED registers. The oracle computes the same
    estimator DIRECTLY over the whole period, so hash-equality
    certifies the lossless-merge law (max is associative/commutative
    over day slices) holds through this implementation — the license
    to answer "distinct users this quarter" from daily rollups without
    rescanning raw, the same contract ``rollup_cascade_daily`` proves
    for count/sum/min/max and ``quantile_rollup_cascade`` for
    percentiles, completing the mergeable-state family with the
    sketch-backed aggregate (``operators.sketch.hll_ranked`` /
    ``hll_est_from_registers``).

    Scale: the raw scan partial-aggregates map-side into per-(type,
    day, register) maxima — ≤ 64 rows per group leave each executor;
    every later exchange is register-grain. n_exact rides along for
    the error column (at 100 TB you would drop it — it is the exact
    COUNT(DISTINCT) shuffle the sketch exists to avoid).
    """
    from ..operators.sketch import hll_est_from_registers, hll_ranked
    from ..sources.events import load_events

    ev = load_events(spark, sf_dir).withColumn("d", F.to_date("ts"))
    day_states = (
        hll_ranked(ev, "user_id", ["event_type", "d"])
        .groupBy("event_type", "d", "reg")
        .agg(F.max("rank").alias("mx"))
    )
    merged = day_states.groupBy("event_type", "reg").agg(
        F.max("mx").alias("mx")
    )
    est = hll_est_from_registers(merged, ["event_type"])
    facts = ev.groupBy("event_type").agg(
        F.countDistinct("d").alias("n_day_states"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    return (
        facts.join(est, "event_type")
        .select(
            "event_type",
            "n_day_states",
            "n_exact",
            round_half_up(F.col("hll_estimate"), 4).alias("hll_merged"),
        )
        .orderBy("event_type")
    )


EXT_QUERIES["hll_merge_days"] = hll_merge_days


def ngram_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram NOVELTY scoring — the corpus-curation signal between
    exact dedup (is this doc a copy?) and decontamination (does it leak
    eval data?): per document, the fraction of its distinct 3-word
    shingles that NO earlier document (by doc_id, the ingest order)
    contains. Boilerplate-heavy late arrivals score near 0 and get
    down-weighted or dropped; genuinely new text scores near 1 — the
    standard freshness gate in front of a training mix.

    Mechanism: tokenize once (``dedup.shingle_rows``: the shared
    shingle fold, exploded as it is computed, so it runs once and wide
    above the spread), first-occurrence via MIN(doc_id) windowed over
    the shingle — one shuffle on the shingle key, no self-join, no timeline loop;
    then one doc-grain rollup. The ratio is the half-up integer
    rational ((2·novel·10⁶ + n) div (2n)), engine-exact. The oracle
    recomputes first-occurrence relationally over the same shingle
    definition.

    Scale: the shingle exchange is the cost (corpus token volume); the
    window is a partial MIN per key — no skew beyond true shingle
    frequency (stopword shingles are the hot keys; cap with a DF filter
    if a corpus makes them pathological).
    """
    from ..operators.dedup import shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    ex = shingle_rows(docs)
    w = Window.partitionBy("shingle")
    per = (
        ex.withColumn("first_doc", F.min("doc_id").over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)).alias(
                "n_novel"
            ),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.expr(
            "CAST((2 * n_novel * 1000000 + n_shingles)"
            " div (2 * n_shingles) AS DOUBLE) / 1000000.0"
        ).alias("novelty"),
    ).orderBy("doc_id")


EXT_QUERIES["ngram_novelty_docs"] = ngram_novelty_docs


def multimodal_arrow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``mapInArrow`` surface through the gate (the last missing
    cell of the Python-batch matrix): binary payload byte-class counts
    computed on raw Arrow RecordBatches (``multimodal.byte_stats_arrow``
    — no pandas boxing of the binary column). The oracle re-derives
    every count from the TEXT the payload encodes (lowercase/space/
    digit bytes in UTF-8 are always standalone ASCII bytes, so byte
    counts equal character counts) — a wrong offset, a swapped buffer,
    or a dropped final batch shifts a count and fails the hash."""
    from ..operators.multimodal import byte_stats_arrow, text_as_assets

    docs = load_table(spark, sf_dir, "documents")
    return byte_stats_arrow(text_as_assets(docs)).orderBy("asset_id")


EXT_QUERIES["multimodal_arrow_stats"] = multimodal_arrow_stats


def udf_iter_text_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALAR-ITERATOR pandas UDF surface (``Iterator[pd.Series] →
    Iterator[pd.Series]``) — the remaining cell of the Python-batch
    matrix, and the form production pipelines use when per-executor
    one-time init (a model, a tokenizer table) must amortize across
    batches: init happens once before the loop, then every Arrow batch
    streams through. Here the "model" is a compiled regex scoring
    vowel density per document; the oracle recomputes both counts with
    engine string functions, so the batch loop (and its tail batch) is
    value-checked, not just smoke-tested.

    Scale: pure map stage, Arrow-batched, no shuffle — identical plan
    envelope to the mapInPandas/mapInArrow siblings.
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _n_vowels(batches):
        import re

        vowel = re.compile(r"[aeiou]")  # once per executor-task stream
        for s in batches:
            yield s.map(lambda t: len(vowel.findall(t or "")))

    # real typing objects, not strings: this module's `from __future__
    # import annotations` would stringify an inline signature and
    # pandas_udf's iterator-form detection rejects string annotations
    _n_vowels.__annotations__ = {
        "batches": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    n_vowels = pandas_udf(_n_vowels, "long")

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        n_vowels(F.col("text")).alias("n_vowels"),
    ).orderBy("doc_id")


EXT_QUERIES["udf_iter_text_scores"] = udf_iter_text_scores


def prefix_filter_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ninth dedup modality, and the one with a GUARANTEE: exact
    enumeration of every pair with shingle Jaccard ≥ 0.5 via PPJoin
    prefix filtering (``dedup.prefix_filter_pairs``) — order shingles
    by ascending global DF, join only on each set's provably-sufficient
    prefix, length-filter, verify exactly. MinHash banding
    (``jaccard_near_dups``) finds candidates with an S-curve
    PROBABILITY; prefix filtering finds them all, by theorem. The
    oracle enumerates pairs sharing ANY shingle (a strict candidate
    superset) and filters on exact Jaccard — so a hash match proves the
    prefix+length pruning lost NO qualifying pair and the verify is
    exact: recall 1.0, certified, not sampled.

    Scale: the join's fanout rides the df-ascending PREFIX posting
    lists (rare shingles), so boilerplate hot tokens never drive pairs
    unless a doc is nearly all boilerplate — the same pair-density
    cost profile as banding with one extra DF shuffle buying the
    losslessness.
    """
    from ..operators.dedup import prefix_filter_pairs

    docs = load_table(spark, sf_dir, "documents")
    return (
        prefix_filter_pairs(docs)
        .select(
            "doc_a",
            "doc_b",
            round_half_up(F.col("__jac"), 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


EXT_QUERIES["prefix_filter_near_dups"] = prefix_filter_near_dups


MG_HH_DIVISOR = 200   # heavy hitter: true count > n / 200
MG_K = 400            # MG counters per partition summary (2x divisor)


def misra_gries_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters via the deterministic two-pass Misra-Gries
    pattern (SURVEY §7 deferred; VERDICT r11 item 5) — the exact
    counterpart to ``cms_heavy_hitters``'s probabilistic sketch: where
    CMS keeps a fixed d×w counter grid and answers with overestimates,
    MG keeps <= k counters per input partition with NO raw-token
    shuffle (``operators.sketch.mg_candidates``), merges the bounded
    summaries by weight sum (undercount <= n/(k+1), Mergeable
    Summaries PODS'12), prunes candidates with the integer-exact bound
    ``merged*HH*(k+1) > n*(k+1-HH)`` (any true heavy hitter's merged
    weight must clear it), and then RECOUNTS the survivors exactly in
    one semi-joined pass. Output = every token with true count
    > n/{hh}, with its exact count — deterministic regardless of the
    physical partitioning, because the candidate stage is
    recall-lossless for the threshold and the recount is exact.

    The oracle is a plain GROUP BY ... HAVING count(*)*{hh} > total —
    deliberately sketch-free, so a hash match certifies the candidate
    stage dropped no true hitter (the same recall-1.0 certification
    pattern as prefix_filter_near_dups).

    Scale: pass 1 ships k·P summary rows instead of n tokens; pass 2
    recounts only the pruned candidate set (broadcast semi-join, near
    the true hitter count after the lower-bound filter). At 100 TB the
    raw-token shuffle this avoids IS the cost of the naive plan.
    """
    from ..operators.sketch import mg_candidates

    toks = _mg_tokens(spark, sf_dir)
    merged = (
        mg_candidates(toks, "token", MG_K)
        .groupBy("token")
        .agg(F.sum("mg_weight").alias("mg_weight"))
    )
    return _mg_exact_recount(toks, merged)


def _mg_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus token stream both MG twins summarize and recount."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(F.explode(F.split("text", " ")).alias("token"))


def _mg_exact_recount(toks: DataFrame, merged: DataFrame) -> DataFrame:
    """THE serving tail both MG twins share (the CEP twins'
    single-implementation contract): prune the merged summary with the
    integer-exact lower bound ``weight*HH*(K+1) > n*(K+1-HH)`` — any
    true heavy hitter's merged weight must clear it, whatever slicing
    produced the summary — then recount the survivors exactly and
    filter on the true threshold. ``merged`` is a (token, mg_weight)
    summary whose total undercount is <= n/(K+1) (single-pass partials
    or a streaming merge-then-prune fold — the bound is the same)."""
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    candidates = (
        merged.crossJoin(F.broadcast(total))
        .filter(
            F.col("mg_weight") * MG_HH_DIVISOR * (MG_K + 1)
            > F.col("n_total") * (MG_K + 1 - MG_HH_DIVISOR)
        )
        .select("token")
    )
    return (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_exact") * MG_HH_DIVISOR > F.col("n_total"))
        .select("token", "n_exact")
        .orderBy(F.col("n_exact").desc(), F.col("token"))
    )


misra_gries_heavy_hitters.__doc__ = misra_gries_heavy_hitters.__doc__.format(
    hh=MG_HH_DIVISOR
)
EXT_QUERIES["misra_gries_heavy_hitters"] = misra_gries_heavy_hitters


def mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified rerank over the ANN stack (SURVEY §7 deferred;
    VERDICT r11 item 6): per query, exact-cosine top-{fanout}
    candidates, then the Carbonell-Goldstein greedy —
    ``{lam}*rel - (1-{lam})*max-sim-to-picked`` — picks {k} results
    that trade relevance against redundancy
    (``operators.similarity.mmr_rerank``, grouped applyInPandas;
    every similarity is the scaled-integer dot_fold, IEEE-replicated
    inside the UDF, so scores are bit-identical to the oracle's
    unrolled {k}-step SQL argmax ladder and ties break identically).

    Scale: candidate generation is whatever ANN index serves top-N
    (here the brute baseline — swap ivf/lsh at 100 TB); the greedy is
    O(k·fanout) per query with the pairwise-sim matrix never leaving
    the group.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    res = S.mmr_rerank(
        emb, query_pred=ANN_QUERY_PRED, k=S.MMR_K, fanout=S.MMR_FANOUT,
        lam=S.MMR_LAMBDA,
    )
    return res.select(
        "q_id",
        "pick",
        "neighbor_id",
        round_half_up(F.col("relevance"), 6).alias("relevance"),
        round_half_up(F.col("mmr"), 6).alias("mmr"),
    ).orderBy("q_id", "pick")


mmr_rerank_topk.__doc__ = mmr_rerank_topk.__doc__.format(
    fanout=S.MMR_FANOUT, k=S.MMR_K, lam=S.MMR_LAMBDA
)
EXT_QUERIES["mmr_rerank_topk"] = mmr_rerank_topk


def mmr_rerank_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING-path MMR, gated (VERDICT r12 item 2 — until now only
    bench + pytest covered it): build the PERSISTED IVF-PQ index
    (``similarity.build_ivfpq_index``: train quantizers once, write
    centroids/codebooks/cell-partitioned codes), fetch {fanout}
    candidates per query from a partition-pruned ADC probe search over
    the STORED index, recompute the EXACT cosine for just those pairs
    as MMR relevance (``mmr_rerank``'s ``candidate_ids`` arm), then the
    same Carbonell-Goldstein greedy — the full production read path:
    stored index -> pruned probe -> exact rerank -> greedy diversity.

    The oracle is the complete IVF-PQ SQL chain (identical fixed-point
    arithmetic to the ``ivfpq_topk_adc`` oracle, widened to the
    fanout) feeding the unrolled argmax ladder parameterized by that
    candidate set — so a hash match certifies index build, probe,
    rerank and greedy all at once.

    Scale: the probe reads nprobe/K of the code table via cell= leaf
    pruning; the rerank touches only |queries|·fanout vectors; the
    greedy is O(k·fanout) per query group. Next to the brute-candidate
    ``mmr_rerank_topk`` (the correctness baseline), this is the path a
    production user runs at 100 TB.
    """
    import os

    from ..tmputil import session_tmpdir

    emb = load_table(spark, sf_dir, "embeddings")
    idx = os.path.join(session_tmpdir("ivfpq_serve_"), "index")
    S.build_ivfpq_index(emb, idx)
    cand = S.search_ivfpq_index(
        spark, idx, emb, ANN_QUERY_PRED, k=S.MMR_FANOUT
    ).select("q_id", "neighbor_id")
    res = S.mmr_rerank(
        emb, query_pred=ANN_QUERY_PRED, k=S.MMR_K, lam=S.MMR_LAMBDA,
        candidate_ids=cand,
    )
    return res.select(
        "q_id",
        "pick",
        "neighbor_id",
        round_half_up(F.col("relevance"), 6).alias("relevance"),
        round_half_up(F.col("mmr"), 6).alias("mmr"),
    ).orderBy("q_id", "pick")


mmr_rerank_stored.__doc__ = mmr_rerank_stored.__doc__.format(
    fanout=S.MMR_FANOUT
)
EXT_QUERIES["mmr_rerank_stored"] = mmr_rerank_stored
