"""End-to-end Spark build + exhaustive BM25 query vs the numpy oracle.

The conformance bar is the reference's RankExact: identical docids AND
identical f32 score bit patterns under the pinned total order, for every
frozen query (FIXTURES.md §3; reference ``quill_language_contract.json``
oracle block)."""

import numpy as np
import pytest

from frankensearch_spark.corpus import FROZEN_QUERIES, corpus_docs
from frankensearch_spark.operators.astexec import (
    search_ast_bits,
    search_ast_collect,
)
from frankensearch_spark.operators.build import build_index
from frankensearch_spark.operators.wand import serving_from_built
from frankensearch_spark.oracle import OracleIndex
from frankensearch_spark.query_ast import ENGINE_SCHEMA, parse_lenient
from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df

N_DOCS = 300


@pytest.fixture(scope="module")
def built(spark):
    corpus = synthetic_corpus_df(spark, N_DOCS, partitions=4)
    return serving_from_built(
        build_index(corpus, CORPUS_KEY, docid_mode="global")
    )


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex(corpus_docs(N_DOCS))


def _ast_bits(oracle, text, k):
    ast = parse_lenient(text, ENGINE_SCHEMA).query
    return [
        (d, int(np.float32(s).view(np.uint32)))
        for d, s in oracle.search_ast(ast, k)
    ]


def test_docids_match_oracle_numbering(built, oracle):
    got = {
        int(r["docid"]): int(r["doclen"]) for r in built.docmeta.collect()
    }
    assert len(got) == oracle.doc_count
    expected = dict(zip(oracle.docids.tolist(), oracle.doclen.tolist()))
    assert got == expected


def test_global_stats_match(built, oracle):
    n, tot = built.stats()
    assert n == oracle.doc_count
    assert tot == oracle.total_tokens


def test_termstats_match(built, oracle):
    rows = built.termstats.collect()
    got = {r["term"]: int(r["df"]) for r in rows}
    expected = {t: len(p[0]) for t, p in oracle.postings.items()}
    assert got == expected


@pytest.mark.parametrize("qid", sorted(FROZEN_QUERIES))
def test_frozen_queries_rank_and_bits_exact(built, oracle, qid):
    text = FROZEN_QUERIES[qid]
    if any(op in text for op in (" AND ", " OR ", " NOT ", "+", "-", '"')):
        pytest.skip("boolean/phrase grammar covered separately")
    for k in (10, 100):
        assert search_ast_bits(built, text, k=k) == _ast_bits(
            oracle, text, k
        ), (qid, k)


def test_boolean_semantics_match(built, oracle):
    """Must, MustNot and an absent Should term, each written as query
    text: the bits equal both the oracle's parsed-tree scorer and its
    flat must/must_not surface."""
    cases = [
        ("+term00001 +term00002", [], {"must": ["term00001", "term00002"]}),
        ("term00001 -term00002", ["term00001"], {"must_not": ["term00002"]}),
        ("term00001 zzznope", ["term00001", "zzznope"], {}),
    ]
    for text, should, kw in cases:
        got = search_ast_bits(built, text, k=20)
        assert got, text
        assert got == _ast_bits(oracle, text, 20), text
        assert got == oracle.search_bits(should, k=20, **kw), text
    # a Must term absent from the index matches nothing
    assert search_ast_bits(built, "+term00001 +zzznope", k=20) == []


def test_pagination_matches(built, oracle):
    got = search_ast_collect(built, "term00000", k=10, offset=10)
    exp = oracle.search("term00000", k=10, offset=10)
    assert [(d, np.float32(s).view(np.uint32)) for d, s in got] == [
        (d, np.float32(s).view(np.uint32)) for d, s in exp
    ]


def test_content_witness_sha256(built, spark):
    """Per-row invariant (BASELINE.json input_hint): sha256(content) in the
    IDMAP table equals sha256 computed from the source table."""
    corpus = synthetic_corpus_df(spark, N_DOCS)
    from pyspark.sql import functions as F

    src = corpus.select(
        "repo", "path", "commit", F.sha2("content", 256).alias("expected")
    )
    joined = built.docmeta.join(src, ["repo", "path", "commit"])
    bad = joined.filter(F.col("content_sha256") != F.col("expected")).count()
    assert bad == 0
    assert joined.count() == N_DOCS


def test_warm_serving_parity(built, oracle):
    """Preloaded (term -> df) dictionary (long-lived serving) changes
    ZERO bits: warm results == cold results == oracle."""
    texts = ("fn import", "fn import term00000")
    cold = [search_ast_bits(built, t, k=10) for t in texts]
    n = built.preload_termstats()
    assert n == built.termstats.count()
    warm = [search_ast_bits(built, t, k=10) for t in texts]
    assert warm == cold == [oracle.search_bits(t, k=10) for t in texts]
    # absent terms stay absent through the cache
    assert search_ast_bits(built, "zzznothere", k=5) == []
    built._term_df_cache = None  # restore cold mode for other tests


def test_partition_count_invariance(spark, oracle):
    """Q1-OB3 analogue: identical results regardless of parallelism."""
    for parts in (1, 7):
        corpus = synthetic_corpus_df(spark, N_DOCS, partitions=parts)
        idx = serving_from_built(build_index(
            corpus, CORPUS_KEY, cache=False, docid_mode="global"
        ))
        got = search_ast_bits(idx, "fn import term00000", k=10)
        exp = oracle.search_bits("fn import term00000", k=10)
        assert got == exp, parts
