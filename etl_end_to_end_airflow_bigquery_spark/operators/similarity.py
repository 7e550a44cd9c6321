"""Vector similarity search over an embedding column (extension pack).

Two paths, per the standard ANN playbook:

- **brute-force cosine top-k** (the exactness baseline): queries ×
  corpus, dot products computed engine-side. Cost O(|Q|·N·d) — fine for
  small |Q| at any N because the corpus side streams; the per-query
  top-k is a windowed rank, not a global sort.
- **LSH-bucketed ANN** (the scale path): random-hyperplane signatures
  (sign of ⟨e, h_p⟩ over P fixed planes) bucket the corpus; search only
  the query's bucket. At 100 TB the bucket column is a partition key —
  candidate scans touch one bucket, not the corpus.

Numerics are engineered for cross-engine exactness without leaving the
row: float32 embeddings are cast to double, each per-dimension product
is scaled by 1e12 and floored to BIGINT, and the integer sum — exact and
associative, so partitioning-independent — folds in-row via
``aggregate()`` (no explode, no extra shuffle). The DuckDB oracle runs
the same scaled-integer arithmetic; sqrt/divide then operate on
identical doubles. Hyperplanes come from a fixed numpy seed and are
embedded as literals in both engines.

The k-means and PQ quantizers train on a bounded, deterministic sample
inside ONE ``mapInArrow`` task each (:func:`_lloyd_train_arrow`): the
Lloyd rounds run in numpy with the same fixed-point folds, replicated
term for term (:func:`_np_dot_fold`, :func:`_exact_group_sums`), so the
trained centroids and codebooks are bit-identical to the SQL spelling.
Assignment and encoding of the full corpus stay in-row projections over
the trained rows as literals.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from ..io import read_parquet
from ..io import spread_small_scan as _spread  # guide §2.5

N_PLANES = 8
PLANE_SEED = 7
EMB_DIM = 64
# Fixed-point scale for exact dot products: |x|<0.6, d=64 ⇒ |dot·1e12| ≲
# 2e13 ≪ 2^53, so the BIGINT sum converts to double exactly.
DOT_SCALE = "1000000000000.0"


def dot_fold(a: str, b: str) -> str:
    """Spark SQL expr: exact scaled-integer dot product of two double
    arrays, folded in-row (see module docstring)."""
    return (
        f"CAST(aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, p) -> acc + floor(p * {DOT_SCALE})) "
        f"AS DOUBLE) / {DOT_SCALE}"
    )


def hyperplanes(
    n_planes: int = N_PLANES, dim: int = EMB_DIM, seed: int = PLANE_SEED
) -> np.ndarray:
    """Fixed random hyperplanes, identical across engines/runs. Distinct
    ``seed``s give the independent tables of multi-table LSH."""
    return np.random.RandomState(seed).randn(n_planes, dim)


def _vectors(df: DataFrame) -> DataFrame:
    """vec_id + embedding cast float→double + exact squared norm."""
    return df.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
    ).withColumn("norm2", F.expr(dot_fold("e", "e")))


def cosine_topk(
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k: (q_id, neighbor_id, cosine, rank).

    Query side broadcast; one pass over the corpus computes the dot
    in-row; the per-query top-k is a window rank partitioned by query —
    the only shuffle is on q_id.
    """
    v = _vectors(embeddings)
    q = v.filter(query_pred).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(v.select("vec_id", "e", "norm2"))
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            (
                F.expr(dot_fold("qe", "e"))
                / (F.sqrt("qn") * F.sqrt("norm2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


def _with_buckets(
    v: DataFrame, dim: int = EMB_DIM, seed: int = PLANE_SEED
) -> DataFrame:
    """``v`` + its LSH ``bucket`` column, computed IN-ROW (r15, guide
    §2.4): the hyperplanes are compile-time constants (fixed numpy
    seed), so the per-plane sign bits fold over a literal plane array
    in one projection — the broadcast cross of P planes and the
    grouped bit-sum exchange of the r14 spelling are gone, and callers
    that need (e, norm2, bucket) together skip the ``vec_id`` re-join.
    The fold sums the same CASE/shiftleft BIGINT terms in plane order
    (integer adds — associative), so buckets are bit-identical."""
    # one parsed SQL expression — see _cents_arr for why not F.lit
    planes_arr = F.expr(
        "array("
        + ",".join(
            "named_struct('plane_idx', {i}, 'w', array({w}))".format(
                i=i, w=",".join(_sql_double(x) for x in row)
            )
            for i, row in enumerate(hyperplanes(dim=dim, seed=seed))
        )
        + ")"
    )
    dot = dot_fold("e", "pl.w")
    bucket = F.expr(
        "aggregate(__planes, CAST(0 AS BIGINT), (accb, pl) -> accb + "
        f"(CASE WHEN {dot} >= 0 THEN shiftleft(CAST(1 AS BIGINT), "
        "pl.plane_idx) ELSE CAST(0 AS BIGINT) END))"
    )
    return (
        v.withColumn("__planes", planes_arr)
        .withColumn("bucket", bucket)
        .drop("__planes")
    )


def ann_lsh_topk(
    spark: SparkSession,
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    dim: int = EMB_DIM,
    n_planes: int = N_PLANES,
    probe_hamming: int = 0,
) -> DataFrame:
    """ANN via LSH buckets: top-k cosine *within the query's bucket(s)*.

    (q_id, neighbor_id, bucket, cosine, rank). Recall trades against the
    number of planes; candidates shrink ~2^-P per bucket so the pairwise
    stage touches a constant fraction of the corpus. The candidate join
    keys on the bucket — at scale, a partition-pruned scan.

    ``probe_hamming=1`` is the multi-probe recall knob: each query also
    probes the P buckets at Hamming distance 1 (one sign bit flipped —
    the buckets a near neighbor most likely fell into when its dot with
    one hyperplane landed on the other side of zero). Candidate cost
    grows ×(P+1) buckets ≈ ×(P+1)/2^P of the corpus — still bucket-keyed
    and partition-pruned; each corpus vector lives in exactly one bucket,
    so no candidate dedup stage is needed.
    """
    if probe_hamming not in (0, 1):
        raise ValueError("probe_hamming must be 0 or 1")
    # r15 (guide §2.4): bucket computed in-row (literal planes) — no
    # bucket join; the candidate join keys the in-row bucket directly.
    v = _vectors(embeddings)
    vb = _with_buckets(v, dim=dim).select("vec_id", "e", "norm2", "bucket")
    q = vb.filter(query_pred).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("norm2").alias("qn"),
        F.col("bucket"),
    )
    if probe_hamming == 1:
        flips = ", ".join(f"bucket ^ {1 << i}" for i in range(n_planes))
        q = q.select(
            "q_id",
            "qe",
            "qn",
            F.explode(F.expr(f"array(bucket, {flips})")).alias("bucket"),
        )
    scored = (
        F.broadcast(q)
        .join(vb, "bucket")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            "bucket",
            (
                F.expr(dot_fold("qe", "e"))
                / (F.sqrt("qn") * F.sqrt("norm2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "bucket", "cosine", "rank")
    )


TABLE_SEED_STRIDE = 101  # table t hashes with seed PLANE_SEED + t·stride


def ann_lsh_multitable(
    spark: SparkSession,
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    dim: int = EMB_DIM,
    n_tables: int = 4,
) -> DataFrame:
    """Multi-table LSH ANN: L independent hyperplane tables, candidates
    OR-combined — the *production* recall lever (recall = 1−(1−p^P)^L vs
    a single table's p^P; at p=0.9, P=8: 0.43 → 0.90 with L=4).

    (q_id, neighbor_id, cosine, rank). Each table is its own bucket
    column — at scale, L bucket-partitioned index tables, each probed
    with one partition-pruned scan; candidate lists union and dedup on
    (q_id, vec_id) before the (unchanged) scoring/rank stage, so a pair
    found by several tables is scored once.
    """
    if n_tables < 1:
        raise ValueError("n_tables must be >= 1")
    v = _vectors(embeddings)
    qv = v.filter(query_pred).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    cands = None
    for t in range(n_tables):
        # r15: per-table buckets in-row (literal planes) on both sides —
        # the per-table bucket join against the corpus disappears.
        bt = _with_buckets(
            v, dim=dim, seed=PLANE_SEED + t * TABLE_SEED_STRIDE
        ).select("vec_id", "bucket")
        qb = bt.filter(query_pred).select(
            F.col("vec_id").alias("q_id"), "bucket"
        )
        ct = F.broadcast(qb).join(bt, "bucket").select("q_id", "vec_id")
        cands = ct if cands is None else cands.union(ct)
    cands = cands.filter(F.col("q_id") != F.col("vec_id")).distinct()
    scored = (
        cands.join(F.broadcast(qv), "q_id")
        .join(v.select("vec_id", "e", "norm2"), "vec_id")
        .select(
            "q_id",
            "vec_id",
            (
                F.expr(dot_fold("qe", "e")) / (F.sqrt("qn") * F.sqrt("norm2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


N_IVF_SEEDS = 8
NEAR_DUP_COSINE = 0.95


def embedding_near_dups(
    spark: SparkSession,
    embeddings: DataFrame,
    threshold: float = NEAR_DUP_COSINE,
    dim: int = EMB_DIM,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine).

    Scale path: candidates are restricted to same-LSH-bucket pairs (near
    duplicates at cosine ≥ 0.95 almost surely agree on every hyperplane
    sign), so the pairwise stage runs within buckets — ~2^-P of the
    all-pairs cost — and the bucket is the shuffle/partition key.
    """
    v = _vectors(embeddings)
    vb = _with_buckets(v, dim=dim).select(
        "vec_id", "e", "norm2", "bucket"
    ).repartition("bucket")  # exchange barrier → self-join reuses one computation
    a = vb.alias("a")
    b = vb.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        (
            F.expr(dot_fold("a.e", "b.e"))
            / (F.sqrt(F.col("a.norm2")) * F.sqrt(F.col("b.norm2")))
        ).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)


def embedding_decontaminate(
    spark: SparkSession,
    embeddings: DataFrame,
    eval_pred: "Column",
    threshold: float = NEAR_DUP_COSINE,
    dim: int = EMB_DIM,
) -> DataFrame:
    """Semantic decontamination: find TRAIN vectors that are
    near-duplicates (cosine ≥ threshold) of any EVAL vector — the
    embedding-space sibling of n-gram decontamination
    (``decontaminate_ngrams``), catching paraphrased benchmark leakage
    that exact n-grams miss (the check modern training pipelines run
    against eval sets; see e.g. the GPT-3/Llama contamination
    appendices).

    ``eval_pred`` is a boolean Column over the embeddings frame marking
    the eval side; everything else is train. Asymmetric LSH-bucket
    join: both sides get the same hyperplane signature, candidates are
    same-bucket (train, eval) pairs only — at 100 TB the cost is
    Σ|train_bucket|·|eval_bucket|, not |train|·|eval|, and the bucket
    is the shuffle key. Same exact fixed-point dot machinery as
    ``embedding_near_dups``, so the result is engine-exact.

    Returns (train_id, eval_id, cosine) — one row per leaking pair;
    downstream either drops the train docs or audits the pairs.
    """
    v = _vectors(embeddings)
    vb = _with_buckets(v, dim=dim).select(
        "vec_id", "e", "norm2", "bucket", eval_pred.alias("__is_eval")
    ).repartition("bucket")
    t = vb.filter(~F.col("__is_eval")).alias("t")
    q = vb.filter(F.col("__is_eval")).alias("q")
    pairs = t.join(
        q, F.col("t.bucket") == F.col("q.bucket")
    ).select(
        F.col("t.vec_id").alias("train_id"),
        F.col("q.vec_id").alias("eval_id"),
        (
            F.expr(dot_fold("t.e", "q.e"))
            / (F.sqrt(F.col("t.norm2")) * F.sqrt(F.col("q.norm2")))
        ).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)


def ivf_cells(embeddings: DataFrame, n_seeds: int = N_IVF_SEEDS) -> DataFrame:
    """vec_id → IVF cell (nearest seed by cosine).

    Seeds are the first ``n_seeds`` vectors by vec_id — deterministic
    coarse quantizer initialization (a production index would k-means
    them; the partition/search mechanics are identical and this keeps
    the assignment exactly reproducible in any engine). Cell assignment
    uses the same exact dot fold, so the partitioning is engine-exact.
    """
    v = _vectors(embeddings)
    # r15 (guide §2.4): seeds are n_seeds bounded rows — collect them
    # and assign in-row (projection; no crossJoin, no argmax exchange).
    # Same dots, same tie rule → identical assignments.
    seed_rows = (
        v.filter(F.col("vec_id") < n_seeds)
        .select(
            F.col("vec_id").alias("cell"),
            F.col("e").alias("ce"),
            F.col("norm2").alias("cn"),
        )
        .collect()
    )
    return _with_cells_lit(v, seed_rows).select("vec_id", "cell")


def _sql_double(x: float) -> str:
    """Shortest-round-trip double literal (``repr`` → Java
    ``parseDouble`` is IEEE-exact both ways), ``D``-suffixed."""
    return repr(float(x)) + "D"


def _cents_arr(cent_rows) -> "F.Column":
    """Literal ``array<struct<cell,ce,cn>>`` from centroid rows — the
    K-row driver-side state the trainer returns (:func:`_kmeans_state`),
    re-entered into the plan as a literal so assignment can run IN-ROW
    (guide §2.4: the crossJoin + argmax-aggregate exchange disappears; see
    :func:`_with_cells_lit`). Doubles round-trip driver↔plan
    bit-exactly (same IEEE values), so results are unchanged.

    Built as ONE parsed SQL expression, not per-element ``F.lit``
    composition: K·d literals as individual py4j Column calls cost
    seconds of driver time PER QUERY CONSTRUCTION (measured — the
    first spelling of this refactor was driver-bound, guide §7.3);
    one ``expr()`` parse of the same text is milliseconds. The
    optimizer constant-folds the parsed tree to a single Literal."""
    return F.expr(
        "array("
        + ",".join(
            "named_struct('cell', CAST({c} AS BIGINT), 'ce', array({ce}),"
            " 'cn', {cn})".format(
                c=int(r["cell"]),
                ce=",".join(_sql_double(x) for x in r["ce"]),
                cn=_sql_double(r["cn"]),
            )
            for r in cent_rows
        )
        + ")"
    )


def _with_cells_lit(
    v: DataFrame, cent_rows, keep_centroid: bool = False
) -> DataFrame:
    """``v`` + its nearest-centroid ``cell`` column, computed IN-ROW
    over a literal centroid array — a pure projection: zero exchanges,
    zero joins, where a broadcast cross + grouped struct-max argmax
    costs an exchange (guide §2.4 "remove shuffles outright").
    EXACT-identical to that aggregate spelling: the cosine
    is the same ``dot_fold`` fixed-point expression on the same
    doubles, and ``array_max`` over ``struct(cos_to_seed, neg_cell)``
    uses the very struct ordering ``F.max`` used — max cosine, ties →
    lowest cell (A/B-verified equal at sf0.01/sf0.1).

    ``keep_centroid=True`` additionally emits the winning centroid's
    ``ce``/``cn`` (rides in the same struct; the comparator never
    reaches those fields because ``neg_cell`` is unique) so residual
    computation needs no join back to the centroid table.

    ``cell`` is NON-NULLABLE: the centroid literal is never empty
    (checked here), so the argmax struct is never null, and the
    ``coalesce`` fallback is unreachable — it only tells Catalyst so.
    A nullable ``cell`` would make every join on it infer
    ``isnotnull(cell)``, which Catalyst pushes, with the whole argmax
    substituted for the alias, through the :func:`_spread` exchange
    onto the one-task scan: the assignment would run twice, once
    serially.
    """
    if not cent_rows:
        raise ValueError("cell assignment needs at least one centroid")
    dot = dot_fold("e", "c.ce")
    best = F.expr(
        "array_max(transform(__cents, c -> struct("
        f"{dot} / (sqrt(norm2) * sqrt(c.cn)) AS cos_to_seed, "
        "-c.cell AS neg_cell, c.ce AS ce, c.cn AS cn)))"
    )
    out = (
        v.withColumn("__cents", _cents_arr(cent_rows))
        .withColumn("__best", best)
        .withColumn(
            "cell", F.coalesce(-F.col("__best.neg_cell"), F.lit(0).cast("bigint"))
        )
    )
    if keep_centroid:
        out = out.withColumn("__ce", F.col("__best.ce")).withColumn(
            "__cn", F.col("__best.cn")
        )
    return out.drop("__cents", "__best")


def _probe_cells_lit(q: DataFrame, cent_rows, nprobe: int) -> DataFrame:
    """Per-query top-``nprobe`` centroids by cosine, IN-ROW (explode of
    a sorted literal-array slice) — replaces the broadcast-cross +
    row_number window of the probe stage with a projection (guide
    §2.4). Ordering is EXACT-identical to the window spelling
    ``orderBy(cos_to_seed DESC, cell)``: ``array_sort`` on
    ``struct(neg_cos, cell, ce, cn)`` compares neg_cos ascending
    (= cosine descending), then cell ascending; ce/cn ride along for
    the residual/LUT stage (never compared — (neg_cos, cell) is
    already a total order).

    ``q`` must carry ``qe``/``qn``; output adds (cell, ce, cn) one row
    per probed cell.
    """
    dot = dot_fold("qe", "c.ce")
    probes = F.expr(
        f"slice(array_sort(transform(__cents, c -> struct("
        f"-({dot} / (sqrt(qn) * sqrt(c.cn))) AS neg_cos, "
        f"c.cell AS cell, c.ce AS ce, c.cn AS cn))), 1, {int(nprobe)})"
    )
    return (
        q.withColumn("__cents", _cents_arr(cent_rows))
        .withColumn("__p", F.explode(probes))
        .select(
            *[c for c in q.columns],
            F.col("__p.cell").alias("cell"),
            F.col("__p.ce").alias("ce"),
            F.col("__p.cn").alias("cn"),
        )
    )


KMEANS_ITERS = 2
MEAN_SCALE = "1000000000000.0"  # fixed-point scale for exact centroid means

# Quantizer TRAINING sample (VERDICT r04 item 2): Lloyd refinement runs
# on a deterministic hash sample of the corpus, not the corpus — the
# FAISS practice (train on a bounded sample, assign/encode everything).
# The sample is a pure function of vec_id (same md5-bucket scheme as
# operators.sampling.hash_bucket), so membership is identical across
# engines, partitionings, and re-runs, and the DuckDB oracles apply the
# same predicate. At 100 TB training reads the sample, not the corpus;
# assignment and encoding still see every vector.
TRAIN_FRACTION = 0.5
TRAIN_SALT = "qtrain"
_TRAIN_BUCKETS = 10_000


def _train_pred(fraction: float = TRAIN_FRACTION) -> "F.Column":
    """Deterministic Bernoulli training-sample predicate keyed on vec_id."""
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"train fraction must be in (0,1], got {fraction}")
    if fraction >= 1.0:
        return F.lit(True)
    cutoff = int(round(fraction * _TRAIN_BUCKETS))
    h = F.expr(
        f"conv(substring(md5(concat('{TRAIN_SALT}|', "
        f"CAST(vec_id AS STRING))), 1, 8), 16, 10)"
    ).cast("bigint")
    return (h % _TRAIN_BUCKETS) < cutoff


def _np_dot_fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """numpy twin of :func:`dot_fold` over the last axis:
    ``floor((x*y)*1e12)`` per term, an exact int64 sum, then a cast to
    double and one divide by 1e12 — the same IEEE operations in the
    same order, so every dot is bit-identical to the SQL fold."""
    scale = float(DOT_SCALE)
    terms = np.floor((a * b) * scale).astype(np.int64)
    return terms.sum(axis=-1).astype(np.float64) / scale


def _exact_group_sums(
    terms: np.ndarray, group: np.ndarray
) -> tuple[np.ndarray, np.ndarray, list]:
    """Exact per-group column sums of int64 ``terms`` (n, d): returns
    (group ids present, member counts, sums as Python ints, one list per
    group). Each term is split into a signed high limb (``>> 32``) and
    an unsigned 32-bit low limb; below 2^31 rows neither limb's int64
    sum can overflow, and the two are recombined as Python ints — the
    exact decimal(38,0) sum the SQL means take, at any member count."""
    if len(terms) >= 2**31:
        raise ValueError("exact group sums take fewer than 2^31 rows")
    if not len(terms):
        return group[:0], group[:0], []
    order = np.argsort(group, kind="stable")
    g, t = group[order], terms[order]
    starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    hi = np.add.reduceat(t >> 32, starts, axis=0)
    lo = np.add.reduceat(t & 0xFFFFFFFF, starts, axis=0)
    sums = [
        [(int(h) << 32) + int(l) for h, l in zip(hr, lr)]
        for hr, lr in zip(hi, lo)
    ]
    return g[starts], np.diff(np.r_[starts, len(g)]), sums


_TRAIN_CHUNK_TERMS = 1 << 20  # rows × codewords × dims per scoring block


def _lloyd_train_arrow(n_iters: int, metric: str):
    """``mapInArrow`` kernel: every Lloyd round of one quantizer in ONE
    task (the caller coalesces its input to one partition).

    Input rows (vec_id, s, x, xn, __seed, __train): sub-quantizer ``s``
    (always 0 for the k-means coarse quantizer), the (sub)vector ``x``
    and its exact squared norm ``xn``, both computed in Spark. Seed rows
    (``__seed``) initialise codeword ``vec_id`` of subspace ``s`` as
    (x, xn); training rows (``__train``, the md5 sample evaluated in
    Spark) are reassigned and averaged ``n_iters`` times. Emits the
    trained (s, code, ce, cn) rows.

    Arithmetic is the SQL spelling's, replicated term for term:
    - scores use :func:`_np_dot_fold`; ``metric="cosine"`` is
      ``dot / (sqrt(xn) * sqrt(cn))`` (k-means cells), ``"l2"`` is
      ``-((xn - 2.0*dot) + cn)`` (PQ codes);
    - the argmax takes the first maximum over codewords sorted by id, so
      ties go to the lowest id, and ``np.argmax`` ranks NaN above every
      number, as Spark's ordering does;
    - means are ``floor(v*1e12)`` summed exactly
      (:func:`_exact_group_sums`), then ``(double(sum)/1e12)/n``, and
      ``cn`` is the dot fold of the new codeword with itself;
    - a codeword that loses every member drops out (an absent codeword
      scores ``-inf``; present scores are finite or NaN).

    Memory: the task holds the training rows (sample rows × 64 doubles,
    ~0.5 MB at sf0.1) plus one scoring block of at most
    ``_TRAIN_CHUNK_TERMS`` doubles; no option sizes it."""

    def fn(it):
        import pyarrow as pa

        batches = [b for b in it if b.num_rows]
        if not batches:
            return
        t = pa.Table.from_batches(batches).combine_chunks()
        col = {n: t.column(n).chunk(0) for n in t.column_names}
        n = t.num_rows
        vec_id = col["vec_id"].to_numpy()
        sub = col["s"].to_numpy().astype(np.int64)
        x = col["x"].flatten().to_numpy().reshape(n, -1)
        xn = col["xn"].to_numpy()
        seed = col["__seed"].to_numpy(zero_copy_only=False)
        train = col["__train"].to_numpy(zero_copy_only=False)

        codes = np.unique(vec_id[seed])  # codeword ids, ascending
        n_sub = int(sub.max()) + 1
        cb = np.zeros((n_sub, len(codes), x.shape[1]))
        cn = np.zeros((n_sub, len(codes)))
        live = np.zeros((n_sub, len(codes)), dtype=bool)
        si, ki = sub[seed], np.searchsorted(codes, vec_id[seed])
        cb[si, ki], cn[si, ki], live[si, ki] = x[seed], xn[seed], True

        tx, txn, tsub = x[train], xn[train], sub[train]
        terms = np.floor(tx * float(MEAN_SCALE)).astype(np.int64)
        step = max(1, _TRAIN_CHUNK_TERMS // max(1, cb[0].size))
        for _ in range(n_iters):
            best = np.empty(len(tx), dtype=np.int64)
            for lo in range(0, len(tx), step):
                hi = lo + step
                ss = tsub[lo:hi]
                dot = _np_dot_fold(tx[lo:hi, None, :], cb[ss])
                if metric == "cosine":
                    score = dot / (
                        np.sqrt(txn[lo:hi])[:, None] * np.sqrt(cn[ss])
                    )
                else:
                    score = -((txn[lo:hi, None] - 2.0 * dot) + cn[ss])
                best[lo:hi] = np.argmax(
                    np.where(live[ss], score, -np.inf), axis=1
                )
            gid, cnt, sums = _exact_group_sums(
                terms, tsub * len(codes) + best
            )
            mean = (
                np.array([[float(v) for v in r] for r in sums]).reshape(
                    len(gid), x.shape[1]
                )
                / float(MEAN_SCALE)
                / cnt[:, None]
            )
            si, ki = np.divmod(gid, len(codes))
            cb[:], cn[:], live[:] = 0.0, 0.0, False
            cb[si, ki], cn[si, ki], live[si, ki] = (
                mean, _np_dot_fold(mean, mean), True
            )
        si, ki = np.nonzero(live)
        ce = cb[si, ki]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(si, pa.int32()),
                pa.array(codes[ki], pa.int64()),
                pa.ListArray.from_arrays(
                    pa.array(np.arange(len(ce) + 1) * ce.shape[1], pa.int32()),
                    pa.array(ce.ravel(), pa.float64()),
                ),
                pa.array(cn[si, ki], pa.float64()),
            ],
            names=["s", "code", "ce", "cn"],
        )

    return fn


def _lloyd_train(
    rows: DataFrame, n_seeds: int, n_iters: int, fraction: float,
    metric: str, job: str,
) -> list:
    """Run :func:`_lloyd_train_arrow` over ``rows`` (vec_id, s, x, xn):
    seeds are the rows with ``vec_id < n_seeds``, the training sample is
    :func:`_train_pred`, both selected in Spark in one scan; the kernel
    runs in one task, so training is ONE Spark job, described ``job``
    (``<op>:<phase>``) for the status store and restored afterwards."""
    feed = rows.select(
        "vec_id", "s", "x", "xn",
        (F.col("vec_id") < n_seeds).alias("__seed"),
        _train_pred(fraction).alias("__train"),
    ).filter("__seed OR __train")
    sc = rows.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(job)
    try:
        return (
            feed.coalesce(1)
            .mapInArrow(
                _lloyd_train_arrow(n_iters, metric),
                "s int, code bigint, ce array<double>, cn double",
            )
            .collect()
        )
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def kmeans_vectors(
    embeddings: DataFrame,
    n_seeds: int = N_IVF_SEEDS,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMB_DIM,
    train_fraction: float = TRAIN_FRACTION,
) -> tuple[DataFrame, DataFrame]:
    """Production coarse quantizer: deterministic seeded Lloyd k-means
    (VERDICT r02 item 6). Returns (va, cents) where ``va`` is
    :func:`_vectors` of the corpus PLUS its ``cell`` column and
    ``cents`` = (cell, ce, cn).

    Init = the first ``n_seeds`` vectors by vec_id (same deterministic
    seeding as :func:`ivf_cells`); each Lloyd round reassigns the
    TRAINING SAMPLE (``train_fraction`` of the corpus by deterministic
    vec_id hash — see :func:`_train_pred`) to the nearest centroid by
    cosine and recomputes centroids as the per-cell, per-dimension mean
    of exact fixed-point sums. All rounds run in one Arrow task
    (:func:`_kmeans_state`), so training is one Spark job whatever
    ``n_iters`` is. Engine-exact: scaled-int sums and a pinned divide
    order make every centroid component bit-identical in the DuckDB
    oracle, so cell assignments — and therefore search results —
    hash-match. Cells that lose all sampled members drop out
    (deterministically, in both engines).

    The final assignment is ONE in-row projection over the literal
    centroids (r15, guide §2.4), so callers that need (e, norm2, cell)
    together (the IVF search lists, SemDeDup's within-cell join, the
    residual encode) pay no ``v.join(cells, "vec_id")`` shuffle."""
    va, cent_rows = _kmeans_state(embeddings, n_seeds, n_iters, dim, train_fraction)
    cents = embeddings.sparkSession.createDataFrame(
        cent_rows, schema="cell bigint, ce array<double>, cn double"
    )
    return va, cents


def _kmeans_state(
    embeddings: DataFrame,
    n_seeds: int = N_IVF_SEEDS,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMB_DIM,
    train_fraction: float = TRAIN_FRACTION,
) -> tuple[DataFrame, list]:
    """(va, cent_rows): the Lloyd trainer returning the centroid ROWS
    (cell, ce, cn), so in-row consumers take them as literals.

    The seed vectors and the training sample are selected in Spark in
    one scan, and every Lloyd round runs in numpy inside one
    ``mapInArrow`` task (:func:`_lloyd_train_arrow`, cosine argmax):
    ONE Spark job, described ``kmeans:train``, in place of a grouped
    means job and a driver collect per round. Only the FINAL assignment
    scans the full corpus, as an in-row projection over the literal
    centroids."""
    v = _vectors(embeddings)
    rows = v.select(
        "vec_id", F.lit(0).alias("s"), F.col("e").alias("x"),
        F.col("norm2").alias("xn"),
    )
    cent_rows = [
        Row(cell=r["code"], ce=r["ce"], cn=r["cn"])
        for r in _lloyd_train(
            rows, n_seeds, n_iters, train_fraction, "cosine", "kmeans:train"
        )
    ]
    return _with_cells_lit(_spread(v), cent_rows), cent_rows


def ivf_topk_kmeans(
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    n_seeds: int = N_IVF_SEEDS,
    n_iters: int = KMEANS_ITERS,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search over the k-means quantizer (q_id, neighbor_id, cell,
    cosine, rank): rank the Lloyd centroids per query, probe the top
    ``nprobe`` cells, exact top-k within the probed lists. Identical
    search mechanics to :func:`ivf_topk`; only the quantizer (and hence
    cell quality/balance) differs."""
    if nprobe < 1 or nprobe > n_seeds:
        raise ValueError("nprobe must be in 1..n_seeds")
    # r15 (guide §2.4): the quantizer returns vectors WITH their cell —
    # a projection — so the probed-list side needs no vec_id re-join;
    # probe ranking is the in-row sorted-slice over literal centroids
    # instead of a broadcast cross + row_number window. Search results
    # are bit-identical (same dots, same tie order).
    va, cent_rows = _kmeans_state(embeddings, n_seeds, n_iters)
    vc = va.select("vec_id", "e", "norm2", "cell")
    q = _probe_cells_lit(
        va.filter(query_pred).select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("qe"),
            F.col("norm2").alias("qn"),
        ),
        cent_rows,
        nprobe,
    ).select("q_id", "qe", "qn", "cell")
    scored = (
        F.broadcast(q)
        .join(vc, "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            "cell",
            (
                F.expr(dot_fold("qe", "e")) / (F.sqrt("qn") * F.sqrt("norm2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", F.col("vec_id").alias("neighbor_id"), "cell", "cosine", "rank"
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    n_seeds: int = N_IVF_SEEDS,
    nprobe: int = 1,
) -> DataFrame:
    """IVF search: top-k cosine within the query's ``nprobe`` nearest
    cells (q_id, neighbor_id, cell, cosine, rank).

    At scale the cell is the physical partition key of the index table:
    a query reads ``nprobe`` cells' lists (nprobe/n_seeds of the corpus
    on average), never the full corpus. ``nprobe`` is the standard
    recall/cost knob; ``nprobe=1`` degenerates to the query's own cell.
    Each corpus vector is assigned to exactly one cell and the probed
    cells are distinct, so candidates are already unique — the rank
    window is unchanged.
    """
    if nprobe < 1 or nprobe > n_seeds:
        raise ValueError("nprobe must be in 1..n_seeds")
    v = _vectors(embeddings)
    cells = ivf_cells(embeddings, n_seeds)
    vc = v.join(cells, "vec_id").select("vec_id", "e", "norm2", "cell")
    if nprobe == 1:
        q = vc.filter(query_pred).select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("qe"),
            F.col("norm2").alias("qn"),
            F.col("cell"),
        )
    else:
        # rank every seed per query by cosine (same exact arithmetic as
        # the cell assignment) and probe the top-nprobe cells
        seeds = v.filter(F.col("vec_id") < n_seeds).select(
            F.col("vec_id").alias("cell"),
            F.col("e").alias("se"),
            F.col("norm2").alias("sn"),
        )
        qs = (
            v.filter(query_pred)
            .select(
                F.col("vec_id").alias("q_id"),
                F.col("e").alias("qe"),
                F.col("norm2").alias("qn"),
            )
            .crossJoin(F.broadcast(seeds))
            .select(
                "q_id",
                "qe",
                "qn",
                "cell",
                (
                    F.expr(dot_fold("qe", "se")) / (F.sqrt("qn") * F.sqrt("sn"))
                ).alias("cos_to_seed"),
            )
        )
        wq = Window.partitionBy("q_id").orderBy(
            F.col("cos_to_seed").desc(), F.col("cell")
        )
        q = (
            qs.withColumn("__rn", F.row_number().over(wq))
            .filter(F.col("__rn") <= nprobe)
            .select("q_id", "qe", "qn", "cell")
        )
    scored = (
        F.broadcast(q)
        .join(vc, "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            "cell",
            (
                F.expr(dot_fold("qe", "e")) / (F.sqrt("qn") * F.sqrt("norm2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cell", "cosine", "rank")
    )


# --- product quantization (PQ / ADC search) ------------------------------

# Hyperparameters picked by a measured recall sweep on the synthetic
# embeddings (iid noise — the worst case for any quantizer): finer
# subspaces dominate everything else. (M, K, iters) → recall@3 vs exact
# cosine at sf0.01: (8,16,1)=0.40, (16,32,2)=0.53, (32,16,1)=0.67,
# (32,32,1)=0.67-0.73. 32 subspaces of 2 dims, 32 codes: 8× compression.
PQ_M = 32                      # subspaces
PQ_SUBDIM = EMB_DIM // PQ_M    # dims per subspace
PQ_K = 32                      # codes per sub-codebook
PQ_ITERS = 1                   # Lloyd refinement rounds per sub-quantizer
ADC_SCALE = "1000000000.0"     # fixed-point scale for the ADC score sum


def _subvectors(v: DataFrame) -> DataFrame:
    """(vec_id, s, x, xn): each vector split into PQ_M contiguous
    subvectors with exact squared subnorms. The posexplode is a narrow
    transformation (no shuffle) — N·M rows exist only inside the stage
    that consumes them."""
    slices = F.array(
        *[
            F.slice(F.col("e"), s * PQ_SUBDIM + 1, PQ_SUBDIM)
            for s in range(PQ_M)
        ]
    )
    return (
        v.select("vec_id", F.posexplode(slices).alias("s", "x"))
        .withColumn("xn", F.expr(dot_fold("x", "x")))
    )


# In-row nearest-sub-codeword: d² = ‖x‖² − 2·x·c + ‖c‖² from the exact
# fixed-point dots, argmin via array_max over struct(neg_d2, neg_code)
# — max of -d², then max of -code, so ties go to the lowest code.
def _code_argmin_sql(x: str, xn: str, cb_slot: str) -> str:
    dot = dot_fold(x, "k.ce")
    return (
        f"-array_max(transform({cb_slot}, "
        f"k -> struct(-(({xn} - (2.0 * {dot})) + k.cn) AS neg_d2, "
        "-k.code AS neg_code))).neg_code"
    )


def _cb_attach(df: DataFrame, cb_rows) -> DataFrame:
    """``df`` + the trained codebook as a ``__cb`` column
    (array-by-subspace of (code, ce, cn) structs) via a ONE-ROW
    broadcast cross — the repo's adjudicated bounded-scalar pattern.

    Why not a literal: an M·K nested literal is a ~15k-node expression
    tree; parsing + analyzing it cost seconds of DRIVER time per query
    construction (guide §7.3 — measured on the first spelling of this
    refactor). A one-row LocalTableScan broadcast carries the same
    values with a constant-size plan."""
    spark = df.sparkSession
    by_s: dict[int, list] = {}
    for r in cb_rows:
        by_s.setdefault(int(r["s"]), []).append(r)
    data = [
        [
            (int(r["code"]), [float(x) for x in r["ce"]], float(r["cn"]))
            for r in sorted(by_s[s], key=lambda r: int(r["code"]))
        ]
        for s in range(PQ_M)
    ]
    cb_df = spark.createDataFrame(
        [(data,)],
        "__cb array<array<struct<code:bigint,ce:array<double>,cn:double>>>",
    )
    return df.crossJoin(F.broadcast(cb_df))


def _codes_arr_sql(e: str = "e") -> str:
    """SQL (over ``__cb``): ALL ``PQ_M`` sub-codes of vector column
    ``e`` as one in-row array — the full PQ encode as a projection,
    replacing the posexplode→join→argmin-exchange pipeline. ‖x‖² is
    hoisted per subspace (computed once, not once per codeword) with
    the same ``dot_fold`` the exploded frame precomputed, so d² values
    are bit-identical."""
    slice_x = f"slice({e}, sidx * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"
    xn = dot_fold("sv0.x", "sv0.x")
    argmin = _code_argmin_sql(
        "sv.x", "sv.xn", "element_at(__cb, sv.s + 1)"
    )
    return (
        f"transform(transform(transform(sequence(0, {PQ_M - 1}), "
        f"sidx -> struct(sidx AS s, {slice_x} AS x)), "
        f"sv0 -> struct(sv0.s AS s, sv0.x AS x, {xn} AS xn)), "
        f"sv -> {argmin})"
    )


def _lut_arr_sql(e: str = "e") -> str:
    """SQL (over ``__cb``): the per-query ADC lookup table as an
    in-row array indexed by ``s`` of ``map<code, q·c_code>`` — exact
    ``dot_fold`` dots of the query('s residual) subvectors against the
    literal codebook, built in one projection on the (tiny) query side
    instead of a posexplode + broadcast-join LUT frame."""
    slice_x = f"slice({e}, sidx * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"
    dot = dot_fold("sv.x", "k.ce")
    return (
        f"transform(transform(sequence(0, {PQ_M - 1}), "
        f"sidx -> struct(sidx AS s, {slice_x} AS x)), "
        "sv -> map_from_entries(transform(element_at(__cb, sv.s + 1), "
        f"k -> struct(k.code, {dot}))))"
    )


# The ADC score: Σ_s floor(LUT[s][code_s]·1e9 + 0.5) as exact BIGINT
# adds (associative — any order gives the sum the grouped F.sum
# produced), finished with the same single double division.
_ADC_SUM_SQL = (
    f"CAST(aggregate(sequence(0, {PQ_M - 1}), CAST(0 AS BIGINT), "
    "(acc2, sidx) -> acc2 + CAST(floor("
    f"element_at(element_at(__luts, sidx + 1), element_at(codes, sidx + 1))"
    f" * {ADC_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {ADC_SCALE}"
)


def _pq_train_rows(
    sv: DataFrame,
    n_codes: int,
    n_iters: int,
    train_fraction: float = TRAIN_FRACTION,
) -> list:
    """Train the PQ sub-codebooks (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011) over any prepared
    subvector frame (vec_id, s, x, xn) — the raw subvectors of
    :func:`pq_topk` or the RESIDUAL subvectors of :func:`ivfpq_topk`.

    Init = the subvectors of the first ``n_codes`` vectors by vec_id
    (deterministic, mirroring :func:`kmeans_vectors` seeding), refined
    by ``n_iters`` Lloyd rounds for ALL subspaces at once, on the
    deterministic training sample (:func:`_train_pred`): each
    subvector goes to its nearest codeword by the exact fixed-point
    squared distance (ties → lowest code), and each (s, code) becomes
    the mean of its members' exact fixed-point sums. Codewords that
    lose all members drop out deterministically in both engines. Every
    round runs in numpy inside one ``mapInArrow`` task
    (:func:`_lloyd_train_arrow`, vectorized over subspaces): ONE Spark
    job, described ``pq:train``. Only code ASSIGNMENT (done by callers,
    in-row over the literal codebook) sees the full corpus. Returns the
    codebook ROWS (s, code, ce, cn); the arithmetic is the SQL
    spelling's, so codebooks are bit-identical to the oracle's."""
    return _lloyd_train(
        sv.select("vec_id", "s", "x", "xn"),
        n_codes, n_iters, train_fraction, "l2", "pq:train",
    )


def pq_topk(
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    n_codes: int = PQ_K,
    n_iters: int = PQ_ITERS,
) -> DataFrame:
    """PQ/ADC approximate top-k by inner product: (q_id, neighbor_id,
    approx_dot, rank).

    The compressed index is the code table (vec_id, s, code) — M small
    ints per vector instead of EMB_DIM floats (here M=32 codes over 64
    floats, K=32 codewords per sub-codebook: 32 bytes vs 256, 8×
    compression at byte codes; ADVICE r04). Search is asymmetric distance
    computation: each query builds an M·K lookup table of exact
    subspace dots against the codebook (bounded — broadcast), the
    corpus code rows join it map-side, and the per-(q, vec) score is a
    fixed-point SUM over the M looked-up entries — partial aggregation
    makes the only exchange carry ≤ N·|Q| pre-aggregated rows. No
    full-width vector is touched at search time; at 100 TB the scan
    reads the code table (M bytes/vector), not the embeddings.

    Ranking is by the ADC approximation of the raw inner product
    (standard PQ practice; a production pipeline re-ranks the short
    list with exact dots — composable here as cosine_topk over the
    candidate ids).
    """
    # r15 (guide §2.4/§8): encode, LUT and the ADC sum all run IN-ROW
    # over the literal codebook — the corpus side is ONE projection
    # (vec_id, codes[M]) with no posexplode and no (s, code) join, the
    # query side is |Q| rows carrying their M lookup maps, attached by
    # a broadcast cross (|Q| bounded by query_pred — the repo's
    # adjudicated one-row-broadcast-cross pattern), and the per-pair
    # score is the same exact Σ floor(val·1e9 + 0.5) BIGINT fold the
    # grouped sum produced. The N·M·K scored intermediate and its
    # partial-agg exchange are gone; the only exchanges left are the
    # rank window and the caller's output sort. Bit-identical results.
    v = _vectors(embeddings)
    cb_rows = _pq_train_rows(_subvectors(v), n_codes, n_iters)
    vcodes = (
        _cb_attach(_spread(v), cb_rows)
        .withColumn("codes", F.expr(_codes_arr_sql("e")))
        .select("vec_id", "codes")
    )
    qlut = (
        _cb_attach(v.filter(query_pred), cb_rows)
        .select(
            F.col("vec_id").alias("q_id"),
            F.expr(_lut_arr_sql("e")).alias("__luts"),
        )
    )
    scored = (
        vcodes.join(F.broadcast(qlut), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id", F.expr(_ADC_SUM_SQL).alias("approx_dot")
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("approx_dot").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "approx_dot", "rank")
    )


# --- IVF-PQ: coarse cells + PQ-coded residuals (the FAISS IVFPQ layout) --


def _ivf_residuals(v: DataFrame, cent_rows) -> DataFrame:
    """(vec_id, cell, e): each vector's nearest cell and its RESIDUAL
    ``e − centroid``, one in-row projection over the literal centroids
    (the winning centroid rides in :func:`_with_cells_lit`'s struct, so
    no join back to the centroid table)."""
    return _with_cells_lit(v, cent_rows, keep_centroid=True).select(
        "vec_id", "cell", F.expr("zip_with(e, __ce, (a, b) -> a - b)").alias("e")
    )


def _train_residual_codebooks(
    embeddings: DataFrame, cent_rows, n_codes: int, n_iters: int
) -> list:
    """The IVF-PQ residual codebook rows: :func:`_pq_train_rows` over the
    residual subvectors. Its input is the unspread scan, so training
    stays one Spark job (a spread would add a shuffle stage)."""
    res = _ivf_residuals(_vectors(embeddings), cent_rows)
    return _pq_train_rows(
        _subvectors(res.select("vec_id", "e")), n_codes, n_iters
    )


def _ivfpq_code_rows(res: DataFrame, cb_rows) -> DataFrame:
    """The stored IVF-PQ code grain (vec_id, s, code, cell) of a
    residual frame (:func:`_ivf_residuals`): all ``PQ_M`` sub-codes
    encoded in-row over the codebook rows, then exploded — the one
    encode behind both :func:`build_ivfpq_index` and
    :func:`add_to_ivfpq_index`."""
    return _cb_attach(res, cb_rows).select(
        "vec_id",
        F.posexplode(F.expr(_codes_arr_sql("e"))).alias("s", "code"),
        "cell",
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    n_seeds: int = N_IVF_SEEDS,
    kmeans_iters: int = KMEANS_ITERS,
    n_codes: int = PQ_K,
    pq_iters: int = PQ_ITERS,
    nprobe: int = 2,
    cache_registry: list | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k by inner product: the canonical
    100 TB vector index (Jégou et al. 2011; the FAISS ``IVFPQ``
    layout). The coarse Lloyd quantizer partitions the corpus into
    cells; each vector stores only its cell id + M sub-codes of its
    RESIDUAL (x − centroid); search probes the ``nprobe`` nearest
    cells and scores candidates as q·x ≈ q·c + Σₛ LUT[s, code_s],
    where the lookup table holds exact dots of the query's per-cell
    residual against the residual codebook.

    Decomposition is exact: q·x = q·c + q·r with r = x − c, and the
    only approximation is r → its codeword — the standard IVFPQ error
    model. Every arithmetic step (centroid means, residual subtract,
    dots, the ADC sum) is the engine-exact fixed-point machinery the
    component operators already gate, so the full index hash-matches
    the DuckDB oracle.

    Scale: the stored index is cell id + M codes per vector (here
    8 + 32 bytes vs 256 B of floats); search touches only the probed
    cells' code rows, the LUT is Q·nprobe·M·K rows (bounded —
    broadcast), and the score aggregation partial-aggregates to
    ≤ |probed candidates| rows before its exchange.

    Both quantizers train in one Arrow task each (``kmeans:train`` and
    ``pq:train``, one Spark job apiece); nothing is persisted, so
    ``cache_registry`` (ADVICE r05) is accepted and left untouched.
    """
    if nprobe < 1 or nprobe > n_seeds:
        raise ValueError("nprobe must be in 1..n_seeds")
    # r15 (guide §2.4/§8): the whole index side — coarse assignment,
    # residual, PQ encode — is ONE in-row projection over the literal
    # centroid/codebook rows (driver-side state the trainers return):
    # the r14 spelling's persisted cells frame, its two vec_id
    # re-joins, the posexplode'd residual frame, the probe window, and
    # the (cell, s, code) LUT join + grouped ADC exchange are all gone —
    # the only exchanges left are the rank window and the caller's
    # output sort. Training reads the
    # deterministic sample inside one Arrow task per quantizer; every
    # arithmetic step is unchanged, so the index and search results are
    # bit-identical (oracle-verified). ``cache_registry`` is kept for
    # API compatibility — nothing outlives the call.
    del cache_registry
    va, cent_rows = _kmeans_state(embeddings, n_seeds, kmeans_iters)
    cb_rows = _train_residual_codebooks(embeddings, cent_rows, n_codes, pq_iters)
    res = _ivf_residuals(_spread(_vectors(embeddings)), cent_rows)
    codes = (
        _cb_attach(res, cb_rows)
        .withColumn("codes", F.expr(_codes_arr_sql("e")))
        .select("vec_id", "cell", "codes")
    )

    # probe ranking: nprobe nearest centroids per query by cosine —
    # in-row sorted slice over the literal centroids (same order as
    # the window spelling); the probed centroid rides along, so the
    # q·c term, the query residual and its LUT maps are one projection
    q = va.filter(query_pred).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    qlut = (
        _probe_cells_lit(q, cent_rows, nprobe)
        .select(
            "q_id",
            "cell",
            F.expr(dot_fold("qe", "ce")).alias("qdotc"),
            F.expr("zip_with(qe, ce, (a, b) -> a - b)").alias("e"),
        )
        .transform(lambda d: _cb_attach(d, cb_rows))
        .select(
            "q_id", "cell", "qdotc", F.expr(_lut_arr_sql("e")).alias("__luts")
        )
    )

    scored = (
        codes.join(F.broadcast(qlut), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "cell",
            (F.col("qdotc") + F.expr(_ADC_SUM_SQL)).alias("approx_ip"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("approx_ip").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            "approx_ip",
            "rank",
        )
    )


def build_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_seeds: int = N_IVF_SEEDS,
    kmeans_iters: int = KMEANS_ITERS,
    n_codes: int = PQ_K,
    pq_iters: int = PQ_ITERS,
) -> None:
    """Materialize the IVF-PQ index: train once, search many — the
    production shape (ivfpq_topk rebuilds per call, which is the right
    thing for an oracle-gated query but not for a serving path).

    Layout under ``path``:
      centroids/   (cell, ce, cn)            — K rows
      codebooks/   (s, code, ce, cn)         — M·K rows
      codes/       cell=<c>/ (vec_id, s, code) — PARTITIONED BY cell,
                   so a search's probed cells prune to their own leaf
                   dirs at planning time: at 100 TB an nprobe=2 search
                   reads 2/K of the code table and nothing else.

    Doubles round-trip parquet bit-exactly, so a search over the stored
    index returns byte-identical results to the in-line operator
    (asserted in tests).
    """
    spark = embeddings.sparkSession
    # r15: same in-row build as ivfpq_topk (guide §2.4) — assignment,
    # residual and encode are one projection; the stored layout and
    # every stored value are byte-identical to the r14 build (doubles
    # round-trip parquet bit-exactly; asserted in tests). Each quantizer
    # trains in one Arrow task over the sample (one Spark job apiece).
    _, cent_rows = _kmeans_state(embeddings, n_seeds, kmeans_iters)
    cb_rows = _train_residual_codebooks(embeddings, cent_rows, n_codes, pq_iters)
    res = _ivf_residuals(_spread(_vectors(embeddings)), cent_rows)
    cents = spark.createDataFrame(
        cent_rows, schema="cell bigint, ce array<double>, cn double"
    )
    cb = spark.createDataFrame(
        cb_rows, schema="s int, code bigint, ce array<double>, cn double"
    )
    codes = _ivfpq_code_rows(res, cb_rows)
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    cb.write.mode("overwrite").parquet(f"{path}/codebooks")
    codes.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/codes"
    )


def search_ivfpq_index(
    spark: SparkSession,
    path: str,
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """ADC probe search over a stored IVF-PQ index (build_ivfpq_index).

    The centroid and codebook tables are bounded → broadcast; the code
    table is read WITH the probed-cell predicate, which Spark turns
    into partition pruning on the ``cell=`` leaf dirs — the scan
    touches nprobe/K of the index. Arithmetic is identical to
    ivfpq_topk, so results match the in-line operator exactly.
    """
    # r15 (guide §2.4): centroids and codebooks are bounded index
    # METADATA (K and M·K rows) — collect them once and run probe
    # ranking, the q·c term, the query residual and its LUT maps as
    # one in-row projection over the literals, exactly like the
    # in-line ivfpq_topk: the probe window, the centroid re-join and
    # the posexplode'd LUT frame disappear from the search plan. The
    # code-table scan and its (cell, s, code) scoring join are
    # unchanged (the stored grain IS (vec_id, s, code)).
    cent_rows = read_parquet(spark, f"{path}/centroids").collect()
    cb_rows = read_parquet(spark, f"{path}/codebooks").collect()
    codes = read_parquet(spark, f"{path}/codes")

    v = _vectors(embeddings)
    q = v.filter(query_pred).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    qp = _probe_cells_lit(q, cent_rows, nprobe)
    qr = qp.select(
        "q_id",
        "cell",
        F.expr(dot_fold("qe", "ce")).alias("qdotc"),
        F.expr("zip_with(qe, ce, (a, b) -> a - b)").alias("e"),
    )
    slices = F.array(
        *[
            F.slice(F.col("e"), s * PQ_SUBDIM + 1, PQ_SUBDIM)
            for s in range(PQ_M)
        ]
    )
    qsv = qr.select(
        "q_id", "cell", "qdotc", F.posexplode(slices).alias("s", "qx")
    )
    cb = spark.createDataFrame(
        cb_rows, schema="s int, code bigint, ce array<double>, cn double"
    )
    lut = qsv.join(F.broadcast(cb), "s").select(
        "q_id", "cell", "qdotc", "s", "code",
        F.expr(dot_fold("qx", "ce")).alias("val"),
    )
    # probed-cell predicate reaches the partitioned scan (pruned leaves)
    probed = [r.cell for r in qp.select("cell").distinct().collect()]
    scored = (
        codes.filter(F.col("cell").isin(probed))
        .join(F.broadcast(lut), ["cell", "s", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id", "cell")
        .agg(
            F.max("qdotc").alias("__qdotc"),
            (
                F.sum(
                    F.floor(F.col("val") * F.lit(float(ADC_SCALE)) + 0.5)
                ).cast("double")
                / F.lit(float(ADC_SCALE))
            ).alias("__adc"),
        )
        .select(
            "q_id",
            "vec_id",
            "cell",
            (F.col("__qdotc") + F.col("__adc")).alias("approx_ip"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("approx_ip").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            "approx_ip",
            "rank",
        )
    )


def add_to_ivfpq_index(
    spark: SparkSession, path: str, new_embeddings: DataFrame
) -> None:
    """Incremental index maintenance: encode NEW vectors against the
    STORED quantizers (centroids + sub-codebooks are read back, never
    retrained — the standard IVFPQ add path: retraining is a scheduled
    rebuild, adds are cheap) and append their code rows to the
    partitioned code table. Append is per-cell leaf-dir parquet append —
    bounded by the new batch, never touching existing files.

    The stored centroids and codebooks are bounded index metadata (K and
    M·K rows), collected once; the encode is the one
    :func:`build_ivfpq_index` runs, so a vector added here stores the
    same (vec_id, s, code, cell) rows a build over it would.
    """
    cent_rows = read_parquet(spark, f"{path}/centroids").collect()
    cb_rows = read_parquet(spark, f"{path}/codebooks").collect()
    res = _ivf_residuals(_vectors(new_embeddings), cent_rows)
    codes = _ivfpq_code_rows(res, cb_rows)
    codes.write.mode("append").partitionBy("cell").parquet(f"{path}/codes")


KNN_K = 5  # neighbors per vector in the k-NN graph


def knn_join(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int = KNN_K,
    dim: int = EMB_DIM,
) -> DataFrame:
    """k-NN GRAPH: the top-k most-cosine-similar same-LSH-bucket
    neighbors for EVERY vector — the all-vectors generalization of
    ``ann_lsh_topk``, and the primitive under SemDeDup-style dedup,
    near-dup clustering, and graph-based retrieval indexes.

    The scale shape differs from the few-queries ANN path on purpose:
    there the query set broadcasts; here every vector is a query, so
    the candidate stage is a bucket-keyed SELF-join (each vector lives
    in exactly one hyperplane-sign bucket → no candidate dedup), the
    same shape as ``embedding_near_dups``. Cost tracks Σ|bucket|², i.e.
    ~2^-P of all-pairs, with the bucket as the shuffle key; the per-q
    top-k window then keys on q_id. All candidates of a given q share
    q's bucket, so no row crosses buckets between the two stages.

    Exactness: cosine uses the fixed-point ``dot_fold`` (engine-exact),
    ranking ties break on neighbor id — a total order, so the graph is
    deterministic and oracle-comparable. Vectors whose bucket has fewer
    than k others return fewer edges (no padding).
    """
    v = _vectors(embeddings)
    vb = (
        _with_buckets(v, dim=dim)
        .select("vec_id", "e", "norm2", "bucket")
        .repartition("bucket")
    )
    q = vb.select(
        F.col("bucket"),
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    scored = (
        q.join(vb, "bucket")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            (
                F.expr(dot_fold("qe", "e"))
                / (F.sqrt("qn") * F.sqrt("norm2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


# --- MMR-diversified rerank --------------------------------------------------

MMR_FANOUT = 20
MMR_K = 5
MMR_LAMBDA = 0.3   # low lambda => diversity term dominates; shared verbatim
                   # with the oracle ladder so the literal parses identically


def mmr_rerank(
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = MMR_K,
    fanout: int = MMR_FANOUT,
    lam: float = MMR_LAMBDA,
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance rerank over the ANN stack (Carbonell &
    Goldstein, SIGIR'98): per query, fetch ``fanout`` candidates by
    exact cosine (:func:`cosine_topk` — swap in any ANN candidate
    generator at scale), then greedily pick ``k`` of them maximizing
    ``lam*rel(q,d) - (1-lam)*max_{s in picked} sim(d,s)`` — relevance
    traded against redundancy with what's already picked.

    Exactness: every similarity is the scaled-integer ``dot_fold``
    (floor(x*y*1e12) summed as int — associative, engine-portable),
    and the greedy loop recomputes candidate-candidate sims in the UDF
    with the SAME fold (python floats are IEEE doubles; floor/mul/div
    ordering replicated term-for-term), so scores are bit-identical to
    the oracle's SQL ladder and tie-breaks (score DESC, vec_id ASC)
    decide identically.

    Scale: the greedy stage is grouped ``applyInPandas`` over
    (query, fanout-candidates) groups — O(k·fanout) work and
    O(fanout·dim) state per query, embarrassingly parallel across
    queries; the candidate stage is whatever ANN index serves top-N.
    The k x fanout pairwise-sim matrix never leaves the group.
    """
    import math

    import pandas as pd

    scale = float(DOT_SCALE)
    v = _vectors(embeddings)
    if candidate_ids is None:
        rel = cosine_topk(embeddings, query_pred=query_pred, k=fanout)
    else:
        # SERVING path: candidates came from an ANN index (ids only) —
        # rerank computes the TRUE cosine for just those pairs, which
        # then doubles as the MMR relevance. Same arithmetic as
        # cosine_topk, restricted to the candidate set.
        q = v.filter(query_pred).select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("qe"),
            F.col("norm2").alias("qn"),
        )
        rel = (
            candidate_ids.select("q_id", "neighbor_id")
            .join(
                v.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("e").alias("ne"),
                    F.col("norm2").alias("nn"),
                ),
                "neighbor_id",
            )
            .join(F.broadcast(q), "q_id")
            .select(
                "q_id",
                "neighbor_id",
                (
                    F.expr(dot_fold("qe", "ne"))
                    / (F.sqrt("qn") * F.sqrt("nn"))
                ).alias("cosine"),
            )
        )
    cands = rel.join(
        v.select(F.col("vec_id").alias("neighbor_id"), "e", "norm2"),
        "neighbor_id",
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        ids = pdf["neighbor_id"].tolist()
        rel = pdf["cosine"].tolist()
        es = [list(map(float, e)) for e in pdf["e"]]
        norms = [math.sqrt(float(n)) for n in pdf["norm2"]]

        def sim(i: int, j: int) -> float:
            acc = 0
            a, b = es[i], es[j]
            for x, y in zip(a, b):
                acc += math.floor((x * y) * scale)
            return (float(acc) / scale) / (norms[i] * norms[j])

        picked: list[int] = []
        out = []
        while len(picked) < min(k, len(ids)):
            best = None
            for i in range(len(ids)):
                if i in picked:
                    continue
                red = max((sim(i, j) for j in picked), default=0.0)
                score = lam * rel[i] - (1 - lam) * red
                key = (score, -ids[i])
                if best is None or key > best[0]:
                    best = (key, i, score)
            _, i, score = best
            picked.append(i)
            out.append(
                (
                    int(pdf["q_id"].iloc[0]),
                    len(picked),
                    ids[i],
                    rel[i],
                    score,
                )
            )
        return pd.DataFrame(
            out, columns=["q_id", "pick", "neighbor_id", "relevance", "mmr"]
        )

    return cands.groupBy("q_id").applyInPandas(
        _greedy,
        schema="q_id bigint, pick bigint, neighbor_id bigint, "
        "relevance double, mmr double",
    )
