"""End-to-end: crawl output feeds the text-statistics and cleaning
operators unchanged.

The crawl engine's interleaved span table (plans/frontier.py, the
input_hint shape) is reconstructed into the canonical ``documents``
schema and pushed through the REAL ``textstats`` and ``decontam``
operators exactly as a user would point them at crawl output — no
test-only shims, the same (spark, sf_dir) entrypoints the driver
grades.
"""

from __future__ import annotations

import pytest

from indigent_defense_stats_spark.operators import decontam, textstats
from indigent_defense_stats_spark.operators.crawl_queries import _engine
from indigent_defense_stats_spark.operators.interleaved import spans_to_documents


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    """Crawl the synthetic portal world, then lay the crawled docs out
    as a ``documents.parquet`` corpus via the span->documents bridge
    (``interleaved.spans_to_documents``)."""
    out = spans_to_documents(_engine(spark).documents())
    d = tmp_path_factory.mktemp("crawl-corpus")
    out.write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_crawled_corpus_is_nonempty_and_textful(spark, corpus_dir):
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").collect()
    assert len(docs) > 0
    assert all(r["n_chars"] > 0 and r["text"] for r in docs)


def test_token_stats_over_crawled_corpus(spark, corpus_dir):
    n_docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").count()
    out = textstats.token_stats(spark, corpus_dir).collect()
    assert len(out) == n_docs
    assert all(r["n_tokens"] >= 1 for r in out)


def test_gopher_filters_over_crawled_corpus(spark, corpus_dir):
    """Every crawled doc gets a verdict; the flags compose into keep
    exactly (keep == AND of the three rules)."""
    out = textstats.gopher_quality_filters(spark, corpus_dir).collect()
    assert out
    for r in out:
        assert r["keep"] == (
            r["pass_word_count"] and r["pass_mean_word_len"] and r["pass_stopwords"]
        )


def test_clean_corpus_over_crawled_corpus(spark, corpus_dir):
    """The composed pretraining filter runs on crawl output: result is
    a subset of the corpus, keeps at most one doc per distinct text,
    and is deterministic across invocations."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    kept = decontam.clean_corpus(spark, corpus_dir)
    ids = {r["doc_id"] for r in kept.collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert ids <= all_ids
    # exact-dedup keeper: no two kept docs share a text
    kept_texts = (
        docs.join(kept.select("doc_id"), "doc_id").select("text").collect()
    )
    texts = [r["text"] for r in kept_texts]
    assert len(texts) == len(set(texts))
    again = {r["doc_id"] for r in decontam.clean_corpus(spark, corpus_dir).collect()}
    assert again == ids
