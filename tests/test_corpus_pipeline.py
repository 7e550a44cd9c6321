"""The curated corpus: the v3 cuts compose the individually gated
signals, on the real testdata."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.01"


def test_curated_corpus_v3_cuts_compose(spark):
    """Every v3 survivor individually passes each gated signal: the
    capstone is the conjunction of its parts, not a reimplementation."""
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        CORPUS_V3_MAX_SHARED,
        CORPUS_V3_MIN_LOGPROB,
        curated_corpus_v3,
        duplicate_spans_docs,
        quality_classifier_docs,
        unigram_logprob_docs,
    )

    survivors = {r.doc_id: r for r in curated_corpus_v3(spark, SF_DIR).collect()}
    assert survivors  # cuts are live but not total

    keeps = {r.doc_id for r in quality_classifier_docs(spark, SF_DIR).collect() if r.keep}
    lm = {r.doc_id: r.mean_logprob for r in unigram_logprob_docs(spark, SF_DIR).collect()}
    # v3's span ceiling is computed at V3_SPAN_K (5-grams — 3-gram
    # sharing saturates as the corpus grows, emptying any ceiling), so
    # it is intentionally NOT the 3-gram duplicate_spans_docs value;
    # the diagnostic still gates the 3-gram signal on its own.
    spans3 = {r.doc_id for r in duplicate_spans_docs(spark, SF_DIR).collect()}

    for d, row in survivors.items():
        assert d in keeps
        # rounded views of the same underlying scores agree
        assert lm[d] == row.mean_logprob
        assert row.mean_logprob >= round(CORPUS_V3_MIN_LOGPROB, 6) - 1e-6
        assert row.shared_frac <= CORPUS_V3_MAX_SHARED + 1e-6
