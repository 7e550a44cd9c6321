"""Round-3 LLM-pipeline pack: sequence packing laws, n-gram
decontamination on planted overlaps, repetition-ratio extremes, linear
interpolation on a hand-checkable series."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_end_to_end_airflow_bigquery_spark.operators.text import (
    pack_sequences,
    repetition_ratio,
)
from etl_end_to_end_airflow_bigquery_spark.operators.temporal import (
    resample_interpolate,
)


def _doc(n: int) -> str:
    return " ".join(f"w{i}" for i in range(n))


def test_pack_sequences_hand_case(spark):
    rows = [(i + 1, "s", _doc(n)) for i, n in enumerate([10, 60, 30, 64, 5])]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.doc_id: (r.pack_id, r.pack_offset, r.crosses_boundary)
        for r in pack_sequences(df, budget=64).collect()
    }
    # cumulative starts: 0, 10, 70, 100, 164
    assert got == {
        1: (0, 0, False),   # tokens 0..9
        2: (0, 10, True),   # 10..69 spans the 64 edge
        3: (1, 6, False),   # 70..99
        4: (1, 36, True),   # 100..163 spans the 128 edge
        5: (2, 36, False),  # 164..168
    }


def test_pack_sequences_groups_are_independent(spark):
    rows = [(1, "a", _doc(60)), (2, "a", _doc(60)), (3, "b", _doc(60))]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r.source, r.doc_id): (r.pack_id, r.pack_offset)
        for r in pack_sequences(df, budget=64).collect()
    }
    assert got[("b", 3)] == (0, 0)  # new shard restarts the packing
    assert got[("a", 2)] == (0, 60)


def test_repetition_ratio_extremes(spark):
    df = spark.createDataFrame(
        [
            (1, "x x x x"),          # 2 identical trigrams -> 1.0
            (2, "a b a b a b a b"),  # 6 grams, max freq 3 -> 0.5
            (3, "a b"),              # < 3 tokens -> NULL
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.r
        for r in df.select("doc_id", repetition_ratio(3).alias("r")).collect()
    }
    assert got[1] == 1.0
    assert got[2] == 0.5
    assert got[3] is None


def test_decontaminate_planted_overlap(spark):
    """A corpus doc embedding a benchmark 5-gram verbatim is flagged;
    a disjoint-vocabulary doc is not."""
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        decontaminate_ngrams,
    )
    import tempfile, os

    bench_text = "alpha beta gamma delta epsilon zeta"
    leaky = "intro words then alpha beta gamma delta epsilon closing"
    clean = "one two three four five six seven"
    docs = spark.createDataFrame(
        [
            (0, bench_text, "en", "src0", len(bench_text)),  # doc_id%20==0 → eval set
            (1, leaky, "en", "src1", len(leaky)),
            (2, clean, "en", "src2", len(clean)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tempfile.mkdtemp()
    docs.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {r.doc_id: r.n_shared for r in decontaminate_ngrams(spark, d).collect()}
    # exactly one eval 5-gram ("alpha beta gamma delta epsilon") appears
    # verbatim in doc 1; doc 2 shares nothing and has no row
    assert out == {1: 1}


def test_interpolate_linear_hand_case(spark):
    df = spark.createDataFrame(
        [("k", "2026-01-01", 1.0), ("k", "2026-01-04", 4.0)],
        "k string, d string, v double",
    ).select("k", F.col("d").cast("date").alias("d"), "v")
    got = {
        str(r.d): (r.v, r.is_interpolated)
        for r in resample_interpolate(df, "k", "d", "v").collect()
    }
    assert got["2026-01-01"] == (1.0, False)
    assert got["2026-01-02"] == (2.0, True)
    assert got["2026-01-03"] == (3.0, True)
    assert got["2026-01-04"] == (4.0, False)


def test_interpolate_subday_step(spark):
    # neighbors land on the SAME calendar day — a day-granular datediff
    # weight would divide by zero here; the epoch-µs weight is exact
    df = spark.createDataFrame(
        [("k", "2026-01-01 00:00:00", 10.0), ("k", "2026-01-01 18:00:00", 22.0)],
        "k string, t string, v double",
    ).select("k", F.col("t").cast("timestamp_ntz").alias("t"), "v")
    got = {
        str(r.t): (r.v, r.is_interpolated)
        for r in resample_interpolate(df, "k", "t", "v", step="6 hours").collect()
    }
    assert got["2026-01-01 00:00:00"] == (10.0, False)
    assert got["2026-01-01 06:00:00"] == (14.0, True)
    assert got["2026-01-01 12:00:00"] == (18.0, True)
    assert got["2026-01-01 18:00:00"] == (22.0, False)


# --- round-4 pack: PII scrub / classifier / BM25 / duplicate spans ------


def test_scrub_pii_redacts_and_counts(spark):
    from etl_end_to_end_airflow_bigquery_spark.operators.text import scrub_pii

    rows = [
        (1, "mail me at alice.smith+x@sub.example.org today"),
        (2, "ssn 123-45-6789 tel 555-867-5309 host 192.168.0.1"),
        (3, "no pii here at all"),
        (4, "two mails a@b.co c@d.io and ip 10.0.0.255"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert (got[1].n_email, got[1].text) == (
        1,
        "mail me at [EMAIL] today",
    )
    assert (got[2].n_ssn, got[2].n_phone, got[2].n_ipv4) == (1, 1, 1)
    assert got[2].text == "ssn [SSN] tel [PHONE] host [IP]"
    assert (got[3].n_email, got[3].text) == (0, "no pii here at all")
    assert (got[4].n_email, got[4].n_ipv4) == (2, 1)
    assert got[4].text == "two mails [EMAIL] [EMAIL] and ip [IP]"


def test_scrub_pii_types_disjoint(spark):
    """An SSN is never double-redacted as a phone number and a phone
    never as an IPv4 — the non-overlap claim in PII_PATTERNS."""
    from etl_end_to_end_airflow_bigquery_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "123-45-6789 123-456-7890 1.2.3.4")], "doc_id long, text string"
    )
    (r,) = scrub_pii(df).collect()
    assert r.text == "[SSN] [PHONE] [IP]"
    assert (r.n_ssn, r.n_phone, r.n_ipv4) == (1, 1, 1)


def test_quality_classifier_orders_obvious_cases(spark):
    """Long informative prose must outscore stopword soup."""
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        quality_classifier_docs,
    )
    import tempfile, os

    rows = [
        (0, " ".join(f"word{i} interesting" for i in range(60)), "en", "s", 0),
        (1, " ".join(["the a the a"] * 20), "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r.doc_id: r for r in quality_classifier_docs(spark, d).collect()}
    assert got[0].quality_prob > got[1].quality_prob
    assert got[0].keep and not got[1].keep


def test_bm25_ranks_term_dense_docs_first(spark):
    import tempfile, os
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        bm25_retrieval,
    )

    rows = [
        (0, "spark window merge spark window merge", "en", "s", 0),
        (1, "spark filler filler filler filler filler filler filler", "en", "s", 0),
        (2, "nothing relevant here", "en", "s", 0),
        (3, "window merge", "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = bm25_retrieval(spark, d).collect()
    assert [r.doc_id for r in out][0] == 0  # all three terms, dense
    assert 2 not in {r.doc_id for r in out}  # no query term, no row
    assert [r.rank for r in out] == list(range(1, len(out) + 1))


def test_duplicate_spans_flags_planted_boilerplate(spark):
    import tempfile, os
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        duplicate_spans_docs,
    )

    boiler = "subscribe to our newsletter now"
    rows = [
        (0, f"unique alpha beta gamma {boiler}", "en", "s", 0),
        (1, f"different delta epsilon zeta {boiler}", "en", "s", 0),
        (2, "totally fresh content with no overlap anywhere", "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r.doc_id: r for r in duplicate_spans_docs(spark, d).collect()}
    # the planted 5-word boilerplate yields 3 shared word-3-grams
    assert got[0].n_shared_spans == 3
    assert got[1].n_shared_spans == 3
    assert got[2].n_shared_spans == 0
    assert 0 < got[0].shared_frac < 1


def test_mix_sources_hits_token_budget(spark):
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        mix_sources_tokens,
    )

    rows = mix_sources_tokens(spark, "/root/testdata/sf0.01").collect()
    assert rows
    total = sum(r.n_tokens for r in rows)
    target = total / len(rows)
    for r in rows:
        assert 0.0 < r.keep_prob <= 1.0
        assert r.n_kept <= r.n_docs
        assert r.kept_tokens <= r.n_tokens
        if r.keep_prob == 1.0:  # under-budget source: keep everything
            assert (r.n_kept, r.kept_tokens) == (r.n_docs, r.n_tokens)
        else:  # sampled source: realized tokens near the uniform target
            # (25 docs/source at sf0.01 → real sampling noise; a tiny
            # source can even keep everything at keep_prob 0.97)
            assert abs(r.kept_tokens - target) / target < 0.75


def test_semantic_dedup_pairs_well_formed(spark):
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        EMB_SIM_THRESHOLD,
        semantic_dedup_kmeans,
    )

    rows = semantic_dedup_kmeans(spark, "/root/testdata/sf0.01").collect()
    assert rows  # threshold is calibrated to produce real survivors
    seen = set()
    for r in rows:
        assert r.vec_a < r.vec_b
        assert r.cosine >= round(EMB_SIM_THRESHOLD, 6)
        assert (r.vec_a, r.vec_b) not in seen
        seen.add((r.vec_a, r.vec_b))


def test_bigram_lm_held_out_scores_worse(spark):
    """Held-out docs contain unseen bigrams → backoff fires → their
    mean log-prob distribution must sit below the training docs'."""
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        bigram_logprob_docs,
    )

    rows = bigram_logprob_docs(spark, "/root/testdata/sf0.01").collect()
    train = [r.mean_logprob for r in rows if not r.held_out]
    held = [r.mean_logprob for r in rows if r.held_out]
    assert train and held
    assert sum(train) / len(train) > sum(held) / len(held)


def test_phrase_search_matches_string_scan(spark):
    """The positional-index path must agree with a direct token scan."""
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        PHRASE,
        phrase_search_docs,
    )
    from etl_end_to_end_airflow_bigquery_spark.io import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    got = {r.doc_id: r.n_occurrences
           for r in phrase_search_docs(spark, sf).collect()}
    docs = load_table(spark, sf, "documents")
    direct = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id",
            F.expr(
                "size(filter(sequence(0, size(split(text,' ')) - 2),"
                f" i -> split(text,' ')[i] = '{PHRASE[0]}'"
                f" AND split(text,' ')[i+1] = '{PHRASE[1]}'))"
            ).alias("n"),
        ).collect()
        if r.n > 0
    }
    assert got == direct


def test_hybrid_rrf_fuses_both_legs(spark):
    """A doc ranked by both legs must outscore a doc ranked by only one
    at equal single-leg rank, and every output row carries at least one
    real leg rank."""
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        hybrid_rrf_retrieval,
    )

    rows = hybrid_rrf_retrieval(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 10
    assert [r.rank for r in rows] == list(range(1, 11))
    assert all(r.r_sparse > 0 or r.r_dense > 0 for r in rows)
    both = [r for r in rows if r.r_sparse > 0 and r.r_dense > 0]
    single = [r for r in rows if (r.r_sparse > 0) != (r.r_dense > 0)]
    if both and single:
        assert max(r.rrf_score for r in both) > min(
            r.rrf_score for r in single
        )


def test_bpe_apply_merge_greedy_left_to_right(spark):
    """The fold must implement greedy non-overlapping left-to-right
    application: [a,a,a] with merge (a,a) -> [aa,a] (not [a,aa]), and
    consecutive disjoint occurrences all merge."""
    from pyspark.sql import functions as F

    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        _bpe_apply_merge,
    )

    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "b", "a", "b", "c"],), (["x"],), ([],)],
        "t array<string>",
    )
    got = [
        r.m
        for r in df.select(
            _bpe_apply_merge(F.col("t"), "a", "a").alias("m")
        ).collect()
    ]
    assert got[0] == ["aa", "a"]
    assert got[1] == ["a", "b", "a", "b", "c"]  # pair absent: unchanged
    got2 = [
        r.m
        for r in df.select(
            _bpe_apply_merge(F.col("t"), "a", "b").alias("m")
        ).collect()
    ]
    assert got2[1] == ["ab", "ab", "c"]
    assert got2[2] == ["x"] and got2[3] == []


def test_bpe_train_survives_doc_collapse_to_one_token(spark):
    """ADVICE r8: a repetitive doc can shrink to 1 token after a merge
    round; the next round's pair expansion sequence(0, size(t)-2) then
    descends to [0,-1] and throws under ANSI. The trainer must
    re-filter size>=2 after every applied merge."""
    import tempfile, os

    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        bpe_train_merges,
    )

    rows = [
        # collapses: a a -> aa (1 token) in round 1
        (0, "a a", "en", "s", 0),
        (1, "a a", "en", "s", 0),
        (2, "a a", "en", "s", 0),
        # enough distinct pairs to feed 5 merge rounds afterwards
        (3, "b c d e f g b c d e f g", "en", "s", 0),
        (4, "b c d e f g h i j k l m", "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = bpe_train_merges(spark, d).collect()
    assert [r.merge_round for r in out] == [1, 2, 3, 4, 5]
    assert (out[0].a, out[0].b, out[0].n_pairs) == ("a", "a", 3)


def test_substring_dedup_passes_empty_docs_through(spark):
    """ADVICE r8: an empty/whitespace-only doc has size(t)=0; the old
    sequence(1, size(t)) position builder descended to [1,0] and threw
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT. Empty docs must pass through
    with n_tokens=0 and clean_text='' exactly like the oracle."""
    import tempfile, os

    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        substring_dedup_spans,
    )

    long_doc = " ".join(f"w{i}" for i in range(60))
    rows = [
        (0, "", "en", "s", 0),
        (1, "   ", "en", "s", 0),
        (2, long_doc, "en", "s", 0),
        (3, long_doc + " tail", "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r.doc_id: r for r in substring_dedup_spans(spark, d).collect()}
    assert got[0].n_tokens == 0 and got[0].clean_text == ""
    assert got[1].n_tokens == 0 and got[1].clean_text == ""
    assert got[2].n_removed == 0  # canonical first occurrence kept
    assert got[3].n_removed > 0   # duplicated 60-token span removed


def test_substring_dedup_canonical_first_beyond_1m_tokens(spark):
    """VERDICT r08 item 5: the old doc_id*1e6+i bigint occurrence key
    mis-ranked canonical-first for spans past position 1M — a span at
    (doc 0, i=1_000_051) packed to a LARGER key than (doc 1, i=1), so
    doc 1 wrongly became the canonical keeper. The struct min keeps
    lexicographic (doc_id, i) order at any doc length."""
    import tempfile, os

    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        substring_dedup_spans,
    )

    span = " ".join(f"dup{i}" for i in range(50))
    big = " ".join(f"u{i}" for i in range(1_000_050)) + " " + span
    small = span + " " + " ".join(f"v{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, big, "en", "s", 0), (1, small, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r.doc_id: r for r in substring_dedup_spans(spark, d).collect()
        }
    assert got[0].n_removed == 0   # doc 0 holds the canonical occurrence
    assert got[1].n_removed == 50  # doc 1's copy of the span is removed


def test_substring_dedup_huge_doc_ids_no_overflow(spark):
    """doc_id ~1e13 overflowed the old bigint packing under ANSI; the
    struct key must handle any doc_id."""
    import tempfile, os

    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        substring_dedup_spans,
    )

    span = " ".join(f"dup{i}" for i in range(50))
    df = spark.createDataFrame(
        [
            (10_000_000_000_000, span + " x", "en", "s", 0),
            (10_000_000_000_001, "y " + span, "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r.doc_id: r for r in substring_dedup_spans(spark, d).collect()
        }
    assert got[10_000_000_000_000].n_removed == 0
    assert got[10_000_000_000_001].n_removed == 50


def test_bpe_dense_fold_equals_python_merge(spark):
    """The in-row reference fold _bpe_apply_merge must be extensionally
    equal to the Python kernel _bpe_py_merge on adversarial and
    randomized inputs — overlapping runs, back-to-back matches, edges."""
    import random

    from pyspark.sql import functions as F

    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        _bpe_apply_merge,
        _bpe_py_merge,
    )

    rng = random.Random(709)
    cases = [
        [], ["a"], ["b"], ["a", "b"], ["b", "a"],
        ["a", "a", "a"], ["a", "a", "a", "a"],
        ["a", "b", "a", "b"], ["a", "b", "b", "a", "b"],
        ["x", "a", "b", "a", "b", "y", "a", "b"],
    ] + [
        [rng.choice("aabx") for _ in range(rng.randrange(0, 25))]
        for _ in range(40)
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t array<string>")
    for a, b in [("a", "b"), ("a", "a"), ("b", "x")]:
        rows = df.select(
            _bpe_apply_merge(F.col("t"), a, b).alias("dense"),
        ).collect()
        for c, r in zip(cases, rows):
            py = _bpe_py_merge(c, a, b)
            assert r.dense == py, (a, b, c, r.dense, py)


def test_bpe_py_merge_equals_in_row_folds(spark):
    """The r15 vectorized kernels (_bpe_merge_list_column over a whole
    Arrow list column, and its sequential reference _bpe_py_merge) must
    be extensionally equal to the in-row reference fold on adversarial
    + randomized inputs — the production trainer/encoder now runs the
    Arrow kernel, so this pin is what ties it back to the JVM-side
    reference. The Arrow column carries all
    cases in ONE batch, so cross-document boundary masking (including
    empty lists between documents) is exercised too."""
    import random

    import pyarrow as pa
    from pyspark.sql import functions as F

    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        _bpe_apply_merge,
        _bpe_merge_list_column,
        _bpe_py_merge,
    )

    rng = random.Random(1541)
    cases = [
        [], ["a"], ["b"], ["a", "b"], ["b", "a"],
        ["a", "a", "a"], ["a", "a", "a", "a"],
        # boundary adversaries: a doc ending in 'a' followed by one
        # starting with 'b' (and an empty doc between) must not match
        ["x", "a"], [], ["b", "x"],
        ["a", "b", "a", "b"], ["a", "b", "b", "a", "b"],
        ["x", "a", "b", "a", "b", "y", "a", "b"],
    ] + [
        [rng.choice("aabx") for _ in range(rng.randrange(0, 25))]
        for _ in range(40)
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t array<string>")
    for a, b in [("a", "b"), ("a", "a"), ("b", "x")]:
        rows = df.select(
            _bpe_apply_merge(F.col("t"), a, b).alias("dense"),
        ).collect()
        arrow = _bpe_merge_list_column(
            pa.array(cases, type=pa.list_(pa.string())), a, b
        ).to_pylist()
        for c, r, ar in zip(cases, rows, arrow):
            py = _bpe_py_merge(c, a, b)
            assert py == r.dense == ar, (a, b, c, py, r.dense, ar)


def test_bpe_encoder_matches_python_reference(spark):
    """End-to-end trainer+encoder vs an independent pure-Python greedy
    BPE: train K merges by (count DESC, a, b) argmax over size>=2 docs,
    apply greedily left-to-right non-overlapping, encode ALL docs."""
    import os
    import tempfile
    from collections import Counter

    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        bpe_encode_corpus,
    )

    corpus = [
        "the cat sat on the mat",
        "the cat ran to the cat tree",
        "a dog sat on a log",
        "the the the the cat cat",
        "solo",
        "",
    ]

    def py_merge(seq, a, b):
        out, i = [], 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        return out

    docs = {i: [t for t in s.split(" ") if t] for i, s in enumerate(corpus)}
    train = {i: list(t) for i, t in docs.items() if len(t) >= 2}
    merges = []
    for _ in range(5):
        counts = Counter()
        for t in train.values():
            for x, y in zip(t, t[1:]):
                counts[(x, y)] += 1
        (a, b), _n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b))
        train = {
            i: m
            for i, t in train.items()
            if len(m := py_merge(t, a, b)) >= 2
        }
    expect = {}
    for i, t in docs.items():
        e = list(t)
        for a, b in merges:
            e = py_merge(e, a, b)
        expect[i] = (len(t), len(e), " ".join(e))

    df = spark.createDataFrame(
        [(i, s, "en", "s", 0) for i, s in enumerate(corpus)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r.doc_id: (r.n_raw, r.n_enc, r.enc_text)
            for r in bpe_encode_corpus(spark, d).collect()
        }
    assert got == expect


def test_bpe_train_breaks_cleanly_on_pair_exhaustion(spark):
    """ADVICE r9: if EVERY doc collapses below 2 tokens before round k,
    the argmax collect comes back empty; the trainer must emit the
    rounds learned so far (the oracle's empty m{r} CTE contributes no
    row) instead of raising IndexError."""
    import tempfile, os

    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        bpe_train_merges,
    )

    rows = [
        # every doc is "a a": round 1 merges (a,a), every doc collapses
        # to the single token "aa", and rounds 2..5 have nothing to score
        (i, "a a", "en", "s", 0) for i in range(4)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = bpe_train_merges(spark, d).collect()
    assert [(r.merge_round, r.a, r.b, r.n_pairs) for r in out] == [
        (1, "a", "a", 4)
    ]
