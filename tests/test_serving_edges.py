"""Serving-path edge probes: k=0, offset past end, empty/garbage input —
all three executors must agree (and never error)."""

import pytest

from frankensearch_spark.corpus import corpus_docs
from frankensearch_spark.operators.astexec import search_ast_bits
from frankensearch_spark.operators.build import build_index
from frankensearch_spark.operators.wand import QuerySpec
from frankensearch_spark.operators.serving_exec import serving_search_bits
from frankensearch_spark.operators.wand import serving_from_built, wand_topk
from frankensearch_spark.oracle import OracleIndex
from frankensearch_spark.query_ast import parse_lenient
from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df

N = 80


@pytest.fixture(scope="module")
def raw(spark):
    return build_index(
        synthetic_corpus_df(spark, N, partitions=2), CORPUS_KEY,
        docid_mode="global",
    )


@pytest.fixture(scope="module")
def built(raw):
    return serving_from_built(raw)


@pytest.fixture(scope="module")
def srv(raw):
    return serving_from_built(raw, bucket_shift=6, n_term_partitions=8)


def test_k_zero_and_offset_past_end(built, srv):
    assert wand_topk(srv, QuerySpec.from_text("fn"), k=0) == []
    assert wand_topk(srv, QuerySpec.from_text("fn"), k=5, offset=10_000) == []
    assert serving_search_bits(srv, "fn", k=0) == []
    assert search_ast_bits(built, "fn", k=5, offset=10_000) == []


def test_empty_and_whitespace_queries(built, srv):
    for q in ("", "   ", "\t\n"):
        assert serving_search_bits(srv, q, k=5) == []
        assert search_ast_bits(built, q, k=5) == []


def test_garbage_queries_consistent_across_paths(built, srv):
    """Lenient-parse semantics: '!!!' drops, '???' is a 3-char glob —
    whatever the parse, every path must emit the same bits."""
    oracle = OracleIndex(corpus_docs(N))
    for q in ("!!! ???", "&&&", "(((", "* OR *", "-", '"'):
        ast = parse_lenient(q).query
        exp = oracle.search_ast_bits(ast, k=5)
        assert search_ast_bits(built, q, k=5) == exp, q
        assert serving_search_bits(srv, q, k=5) == exp, q


def test_bounded_termstats_preload_warm_equals_cold(built, srv):
    """A 100-TB vocabulary cannot be fully collected to the driver: the
    preload caps at top-df max_terms and marks the cache PARTIAL; tail
    terms route through ONE filtered collect (then negative/positive
    cached).  Warm (capped preload) must emit bit-identical results to
    cold (no preload) — including queries whose terms live entirely in
    the un-preloaded tail."""
    import copy

    cold = serving_search_bits(srv, "term00001 fn term00042", k=10)
    cold_tail = serving_search_bits(srv, "term00042 term00077", k=10)

    warm = copy.copy(srv)
    warm._term_df_cache = None
    n = warm.preload_termstats(max_terms=3)  # far below the vocabulary
    assert n == 3
    assert getattr(warm, "_term_df_complete") is False
    assert serving_search_bits(warm, "term00001 fn term00042", k=10) == cold
    assert serving_search_bits(warm, "term00042 term00077", k=10) == cold_tail
    # tail terms were folded into the cache (positive), misses negative
    assert warm._term_df_cache.get("term00042", 0) > 0
    assert warm.df_of_terms(["zzzmissing"]) == {}
    assert warm._term_df_cache.get("zzzmissing") == 0  # negative-cached
    # an uncapped preload on this small vocab still reports complete
    full = copy.copy(srv)
    full._term_df_cache = None
    full.preload_termstats()
    assert getattr(full, "_term_df_complete") is True


def test_partial_preload_survives_lifecycle_replace(srv):
    """Lifecycle ops clone the index via dataclasses.replace(), which
    keeps only DECLARED fields.  _term_df_complete must be a field: when
    it was a plain attribute, a delete after a PARTIAL preload produced
    an index whose partial cache read as complete — tail terms resolved
    to df={} (treated as absent from the corpus) and their hits silently
    vanished from top-k."""
    import copy

    from frankensearch_spark.operators.lifecycle import delete_documents

    cold_tail = serving_search_bits(srv, "term00042 term00077", k=10)
    warm = copy.copy(srv)
    warm._term_df_cache = None
    warm.preload_termstats(max_terms=3)
    assert warm._term_df_complete is False
    deleted = delete_documents(warm, [10**9])  # no-op tombstone
    assert deleted._term_df_complete is False  # field survived replace()
    assert deleted._term_df_cache is not None  # cache kept (documented)
    assert serving_search_bits(deleted, "term00042 term00077", k=10) == (
        cold_tail
    )
