"""Oracle engine tests: hand-computed BM25 + pinned total order + laws."""

import numpy as np

from frankensearch_spark import contract as C
from frankensearch_spark.corpus import corpus_docs
from frankensearch_spark.oracle import OracleIndex


def make_tiny():
    return OracleIndex(
        [
            (0, "rust search engine"),
            (1, "rust rust fast"),
            (2, "python search"),
            (3, "distributed search engine in rust"),
        ]
    )


def test_stats():
    idx = make_tiny()
    assert idx.doc_count == 4
    assert idx.total_tokens == 3 + 3 + 2 + 5
    assert idx.avgdl == np.float32(np.float32(13) / np.float32(4))
    assert idx.term_doc_freq("rust") == 3
    assert idx.term_doc_freq("search") == 3
    assert idx.term_doc_freq("nope") == 0


def test_single_term_scores_hand_checked():
    idx = make_tiny()
    hits = idx.search("rust", k=10)
    assert [d for d, _ in hits][0] == 1  # tf=2, len 3 wins
    # manual strict-f32 computation for doc 1
    w = C.term_weight(3, 4)
    cache = C.compute_tf_cache(idx.avgdl)
    expected = C.term_score(w, 2, C.fieldnorm_to_id(3), cache)
    got = dict((d, s) for d, s in hits)[1]
    assert np.float32(got).view(np.uint32) == np.float32(expected).view(np.uint32)
    assert {d for d, _ in hits} == {0, 1, 3}


def test_tie_break_by_docid():
    idx = OracleIndex([(5, "a b"), (2, "a b"), (9, "a b")])
    hits = idx.search("a", k=3)
    scores = {s for _, s in hits}
    assert len(scores) == 1  # identical docs => identical scores
    assert [d for d, _ in hits] == [2, 5, 9]


def test_boolean_semantics():
    idx = make_tiny()
    # must: intersection
    hits = idx.search([], must=["rust", "search"], k=10)
    assert {d for d, _ in hits} == {0, 3}
    # must_not excludes
    hits = idx.search("search", must_not=["python"], k=10)
    assert {d for d, _ in hits} == {0, 3}
    # OR accumulates f32 scores in clause order
    hits = idx.search(["rust", "search"], k=10)
    assert {d for d, _ in hits} == {0, 1, 2, 3}
    by_doc = dict(hits)
    r = dict(idx.search("rust", k=10))
    s = dict(idx.search("search", k=10))
    for d in (0, 3):
        expected = np.float32(np.float32(r[d]) + np.float32(s[d]))
        assert np.float32(by_doc[d]).view(np.uint32) == expected.view(np.uint32)


def test_miss_queries_empty():
    idx = make_tiny()
    assert idx.search("missingkeywordalpha", k=10) == []
    assert idx.search("", k=10) == []


def test_offset_pagination():
    idx = OracleIndex(corpus_docs(200))
    full = idx.search("term00000", k=20)
    page2 = idx.search("term00000", k=10, offset=10)
    assert full[10:20] == page2


def test_corpus_determinism():
    a = corpus_docs(100)
    b = corpus_docs(100)
    assert a == b
    idx = OracleIndex(a)
    h1 = idx.search_bits("fn import term00000", k=10)
    h2 = OracleIndex(b).search_bits("fn import term00000", k=10)
    assert h1 == h2


def test_expand_glob_default_cap_and_unlimited_none(monkeypatch):
    """expand_glob caps at the pinned GLOB_EXPANSION_LIMIT by default;
    limit=None returns every match; an int caps at that many."""
    import frankensearch_spark.query_ast as Q

    monkeypatch.setattr(Q, "GLOB_EXPANSION_LIMIT", 3)
    idx = OracleIndex([(0, "gx01 gx02 gx03 gx04 gx05 other")])
    assert idx.expand_glob("gx*") == ["gx01", "gx02", "gx03"]
    assert idx.expand_glob("gx*", limit=None) == [
        "gx01", "gx02", "gx03", "gx04", "gx05",
    ]
    assert idx.expand_glob("gx*", limit=2) == ["gx01", "gx02"]
