"""Batch query API: top_k_many == per-query top_k (docIDs and float32
scores), including MatchAll/MatchNo/unknown-term members of the batch."""

from __future__ import annotations

import pytest

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index import IndexBuilder
from lucene_solr_spark.search import Searcher, parse_query
from tests.conftest import SF_DIR

QUERIES = ["merge", "spark merge fast", "spark AND table",
           '"key agg"', "(spark OR merge) AND fast", "spark NOT dup",
           "zzzqqq", "the and of",
           "batch part line column order small sort"]


@pytest.fixture(scope="module")
def searcher(spark):
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))
    idx = IndexBuilder(ENGLISH_ANALYZER, grid=128,
                       with_positions=True).build(spark, docs).cache()
    return Searcher(spark, idx)


def test_batch_equals_individual(searcher):
    qs = [parse_query(s, ENGLISH_ANALYZER) for s in QUERIES]
    batch = searcher.top_k_many(qs, k=10, mode="f32", prune=True)
    assert len(batch) == len(qs)
    for s, q, got in zip(QUERIES, qs, batch):
        want = searcher.top_k(q, k=10, mode="f32", prune=True)
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), s
        assert got["score"].tolist() == want["score"].tolist(), s


def test_batch_f64_mode(searcher):
    qs = [parse_query(s, ENGLISH_ANALYZER) for s in QUERIES[:4]]
    batch = searcher.top_k_many(qs, k=5, mode="f64")
    for s, q, got in zip(QUERIES, qs, batch):
        want = searcher.top_k(q, k=5, mode="f64")
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), s


# one head term ("merge") in OR, AND, phrase, NOT and nested shapes: the
# batch kernel decodes it once per bucket and shares it across all of them
SHARED_HEAD = ["merge spark", "merge spark table", "merge AND spark",
               "merge AND table AND join", '"merge spark"', '"fast merge"',
               "merge", "merge NOT dup", "(merge OR fast) AND table"]


@pytest.fixture(scope="module")
def shared_head_reference(searcher):
    qs = [parse_query(s, ENGLISH_ANALYZER) for s in SHARED_HEAD]
    return qs, [searcher.top_k(q, k=10, mode="f32", prune=False) for q in qs]


@pytest.mark.parametrize("prune", [True, False])
@pytest.mark.parametrize("rows_per_batch", [1, 10000])
def test_batch_shared_head_term(searcher, shared_head_reference, prune,
                                rows_per_batch):
    """top_k_many == per-query top_k == exhaustive reference, whatever
    the pruning and the Arrow batch size (1 row per batch carries every
    bucket's tail across batches)."""
    qs, ref = shared_head_reference
    conf = searcher.spark.conf
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = conf.get(key)
    conf.set(key, str(rows_per_batch))
    try:
        batch = searcher.top_k_many(qs, k=10, mode="f32", prune=prune)
        single = [searcher.top_k(q, k=10, mode="f32", prune=prune)
                  for q in qs]
    finally:
        conf.set(key, old)
    assert sum(len(r) for r in ref) > 0
    for s, got, one, want in zip(SHARED_HEAD, batch, single, ref):
        for res in (got, one):
            assert res["doc_id"].tolist() == want["doc_id"].tolist(), s
            assert res["score"].tolist() == want["score"].tolist(), s
            assert res["score"].dtype == want["score"].dtype, s
