"""Text-analysis operators for LLM-data pipelines (extension pack §7.5).

All operators are pure DataFrame transforms built from JVM-side
higher-order array functions — no Python UDFs in the hot path, so they
whole-stage-codegen and scale linearly with document count. Hashing uses
md5 (available and bit-identical in Spark, DuckDB, and most engines) so
every operator has an exact cross-engine oracle.

Shared tunables live here and are imported by the oracle SQL generator —
one source of truth for both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Stopword list for quality scoring (tokens from the synthetic vocab; on
# real corpora swap in a language-appropriate list).
STOPWORDS = ("the", "a", "data", "value", "row")

# Marker tokens per language for the n-gram/stopword-voting language ID.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "los", "las", "y"),
    "fr": ("le", "les", "une", "et"),
}


def _sql_list(words: tuple[str, ...]) -> str:
    return "array(" + ", ".join(f"'{w}'" for w in words) + ")"


def token_count(text: str = "text") -> Column:
    """Whitespace token count (the BPE-ish splitter is ``tokenize_bpe``)."""
    return F.expr(f"size(split({text}, ' '))").cast("bigint")


def stopword_count(text: str = "text") -> Column:
    words = _sql_list(STOPWORDS)
    return F.expr(
        f"size(filter(split({text}, ' '), t -> array_contains({words}, t)))"
    ).cast("bigint")


def marker_count(lang: str, text: str = "text") -> Column:
    words = _sql_list(LANG_MARKERS[lang])
    return F.expr(
        f"size(filter(split({text}, ' '), t -> array_contains({words}, t)))"
    ).cast("bigint")


def text_stats(df: DataFrame, text: str = "text") -> DataFrame:
    """Length/token/stopword statistics per document.

    ``avg_token_len`` is derived arithmetically from char and token counts
    (single-space-separated corpus) — no second array pass.
    """
    return df.withColumns(
        {
            "n_chars_calc": F.length(text).cast("bigint"),
            "n_tokens": token_count(text),
            "n_stopwords": stopword_count(text),
            "n_nonalpha": F.length(
                F.regexp_replace(F.col(text), "[a-z ]", "")
            ).cast("bigint"),
        }
    )


def fingerprint(text: str = "text") -> Column:
    """Document fingerprint: md5 over the lower-cased text. Content-hash
    dedup key; cheap, exact, portable."""
    return F.md5(F.lower(F.col(text)))


def chunk_tokens(
    df: DataFrame,
    text: str = "text",
    chunk_size: int = 20,
    overlap: int = 5,
) -> DataFrame:
    """Split each document into overlapping token-window chunks —
    context-window prep for LLM training (a 100k-token doc becomes
    ~100k/stride rows of ``chunk_size`` tokens each).

    Shape matters for scale: tokenize ONCE per document in a projection
    *below* the Generate, posexplode the arithmetic start sequence, then
    slice the carried token array per output row. Generate is a
    CollapseProject barrier, so ``split()`` is never inlined into the
    per-chunk expressions (the O(n²/stride) trap). All JVM-side; the
    per-doc fan-out happens after the scan, so no single task ever holds
    more than one document's tokens plus its chunk rows.

    Output: one row per (doc, chunk) with ``chunk_idx`` (0-based),
    ``chunk_text``, and ``n_chunk_tokens`` (= chunk_size except the tail).
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    other = [c for c in df.columns if c != text]
    toks = df.select(*other, F.split(F.col(text), " ").alias("_toks"))
    exploded = toks.select(
        *other,
        "_toks",
        F.posexplode(
            F.expr(f"sequence(0, greatest(size(_toks) - 1, 0), {stride})")
        ).alias("chunk_idx", "_start"),
    )
    return exploded.select(
        *other,
        F.col("chunk_idx").cast("bigint"),
        F.expr(f"array_join(slice(_toks, _start + 1, {chunk_size}), ' ')").alias(
            "chunk_text"
        ),
        F.expr(f"least(CAST({chunk_size} AS BIGINT), size(_toks) - _start)").alias(
            "n_chunk_tokens"
        ),
    )


def ngram_expr(k: int, text: str = "text") -> str:
    """Spark SQL expr: the list of word ``k``-grams of ``text`` (with
    repeats — callers wrap in array_distinct for a set).

    Built as k−1 nested zip_with over shifted slices (generalizing
    SHINGLES-style shingling in dedup.py): each ``slice(split(...))``
    operand is evaluated once per row, where an indexed
    ``transform(sequence, i -> arr[i])`` spelling would re-evaluate the
    tokenization per subscript (the O(tokens²) trap)."""
    n = f"size(split({text}, ' '))"

    def sl(i: int) -> str:
        return f"slice(split({text}, ' '), {i}, {n} - {k - 1})"

    expr = sl(1)
    for i in range(2, k + 1):
        expr = f"zip_with({expr}, {sl(i)}, (a, b) -> concat(a, ' ', b))"
    return expr


def repetition_ratio(k: int = 3, text: str = "text") -> Column:
    """Share of the document's ``k``-gram occurrences taken by its most
    frequent ``k``-gram — the classic boilerplate/repetition quality
    filter (a page of repeated nav text scores near 1, prose near 1/g).

    Pure in-row fold: sort the gram list, then one pass tracking the
    longest run of equal neighbors — the max run of a sorted list IS the
    max frequency. O(g log g) per document in its own length (the old
    distinct×filter spelling was O(g²): ~76 ms/doc even on short
    synthetic docs). The gram count is ``n_tokens − k + 1`` by
    construction, so the gram expression is evaluated exactly once per
    row. Documents with fewer than ``k`` tokens yield NULL (no grams)."""
    g = ngram_expr(k, text)
    n = f"size(split({text}, ' '))"
    fold = f"""
        CAST(aggregate(
               array_sort({g}),
               named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
               (s, x) -> named_struct(
                   'prev', x,
                   'run', IF(x <=> s.prev, s.run + 1L, 1L),
                   'best', greatest(s.best, IF(x <=> s.prev, s.run + 1L, 1L))),
               s -> s.best) AS DOUBLE)
        / CAST({n} - {k - 1} AS DOUBLE)
    """
    return F.when(
        F.expr(f"size(split({text}, ' '))") >= k, F.expr(fold)
    ).otherwise(F.lit(None).cast("double"))


def pack_sequences(
    df: DataFrame,
    budget: int,
    group: str = "source",
    order: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Concat-and-chop sequence packing — the layout step of an LLM
    training pipeline: documents are concatenated in a deterministic
    order within each ``group`` and chopped into fixed ``budget``-token
    training sequences. Emits one row per document with its pack
    assignment: ``pack_id`` (0-based within group), ``pack_offset``
    (token offset of the doc inside its pack), ``n_tokens``, and
    ``crosses_boundary`` (doc spans a sequence edge — the rows an
    attention-masking layer treats specially).

    One window (running token sum per group, ordered) — a single
    shuffle keyed on the group; no Python, no per-pack state. At 100 TB
    ``group`` is the physical partition (source/shard), so packs never
    span partitions and the window never sees more than one shard.
    """
    w = (
        Window.partitionBy(group)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = token_count(text)
    out = df.select(
        group,
        order,
        toks.alias("n_tokens"),
    ).withColumn("__cum", F.sum("n_tokens").over(w))
    return out.select(
        group,
        order,
        "n_tokens",
        F.expr(f"(__cum - n_tokens) div {budget}").alias("pack_id"),
        F.expr(f"(__cum - n_tokens) % {budget}").cast("bigint").alias(
            "pack_offset"
        ),
        F.expr(
            f"(__cum - n_tokens) div {budget} != (__cum - 1) div {budget}"
        ).alias("crosses_boundary"),
    )


# --- PII scrubbing -------------------------------------------------------

# (name, pattern, replacement). Patterns restrict themselves to the
# regex intersection of Java (Spark) and RE2 (DuckDB): no backrefs, no
# lookaround — \b, \d, classes, and bounded repetition mean the same
# thing in both engines. The four types are mutually non-overlapping by
# construction (phone is 3-3-4 digits, SSN 3-2-4; an IPv4 octet is at
# most 3 digits so a 4-digit run can never terminate one), so redaction
# order does not change the result.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def scrub_pii(df: DataFrame, text: str = "text") -> DataFrame:
    """Redact emails / SSNs / phone numbers / IPv4 addresses and count
    hits per type — the privacy pass every training-data pipeline runs
    before anything leaves the raw zone.

    Pure row-local ``regexp_count`` + chained ``regexp_replace``
    projections: whole-stage-codegen'd, zero shuffle, linear in corpus
    size. Counts are taken on the ORIGINAL text (a count of what was
    there), then the replace chain rewrites the column in place.
    """
    counts = {
        f"n_{name}": F.regexp_count(F.col(text), F.lit(pat)).cast("bigint")
        for name, pat, _ in PII_PATTERNS
    }
    redacted = F.col(text)
    for _, pat, repl in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, repl)
    return df.withColumns({**counts, text: redacted})


# --- quality classifier ---------------------------------------------------

# Linear keep/drop classifier over the text_stats features. The logit is
# squashed with the RATIONAL sigmoid x/(1+|x|) rather than the
# exponential one: +,*,/,abs are IEEE-exact and identical in any engine,
# while exp() may differ in the last ulp — poison for a value-hash gate.
# Weights are deterministic stand-ins for a trained model's (a real
# pipeline would load them from a table; the plan shape is identical).
#
# The logit itself is an exact-BIGINT rational over the common
# denominator 200·nt·nc — a CHAIN of double/decimal-literal ops is
# parsed with different promotion rules by Spark vs DuckDB and can
# differ by an ulp, which flips the keep decision for a document whose
# logit is exactly 0 (two such docs exist at sf0.1). With one final
# double division, z is correctly-rounded identically everywhere, and
# the keep cut (score ≥ ½ ⇔ z ≥ 0 ⇔ numerator ≥ 0) is decidable in
# exact integer arithmetic.
#   z = −1.5 + 2·min(nt/100, 1) − 3·ns/nt + min(avg_tok/8, 1) − 2·na/nc
CLASSIFIER_ZNUM_SQL = (
    "(4 * least(n_tokens, 100) * n_tokens * n_chars_calc"
    " - 300 * n_tokens * n_chars_calc"
    " - 600 * n_stopwords * n_chars_calc"
    " + 25 * least(n_chars_calc - n_tokens + 1, 8 * n_tokens)"
    " * n_chars_calc"
    " - 400 * n_nonalpha * n_tokens)"
)
CLASSIFIER_Z_SQL = (
    f"(CAST({CLASSIFIER_ZNUM_SQL} AS DOUBLE)"
    " / (200 * n_tokens * n_chars_calc))"
)
CLASSIFIER_SCORE_SQL = (
    f"0.5 * (1.0 + {CLASSIFIER_Z_SQL} / (1.0 + abs({CLASSIFIER_Z_SQL})))"
)
# keep ⇔ score ≥ 0.5 ⇔ z ≥ 0, decided exactly on the integer numerator
CLASSIFIER_KEEP_SQL = f"({CLASSIFIER_ZNUM_SQL} >= 0)"
