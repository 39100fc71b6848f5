"""CASS query EXECUTION over a CASS-schema corpus: the parsed trees
(title/content multi-field + keyword/numeric metadata filters) run end-
to-end through the multi-field executor."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from frankensearch_spark.cass import CASS_SCHEMA, CassQueryFilters, parse_cass
from frankensearch_spark.operators.astexec import search_ast_collect
from frankensearch_spark.operators.build import build_multifield_index
from frankensearch_spark.operators.wand import serving_from_built

DOCS = [
    # (docid, title, content, agent, workspace, origin_kind, created_at)
    (0, "auth token rotation", "cache invalidation for auth tokens",
     "claude", "/alpha", "local", 1_700_000_000_100),
    (1, "token cache", "auth middleware with token cache layers",
     "codex", "/alpha", "ssh", 1_700_000_000_200),
    (2, "deprecated auth flows", "legacy deprecated token handling",
     "claude", "/beta", "local", 1_700_000_000_900),
    (3, "search engine internals", "posting lists and block max pruning",
     "codex", "/beta", "ssh", 1_700_000_001_500),
    (4, "cache eviction", "lru cache eviction under pressure",
     "claude", "/alpha", "local", 1_700_000_002_000),
]


@pytest.fixture(scope="module")
def built(spark):
    corpus = spark.createDataFrame(
        DOCS,
        "docid long, title string, content string, agent string, "
        "workspace string, origin_kind string, created_at long",
    )
    return serving_from_built(build_multifield_index(
        corpus, ["docid"], {"title": "title", "content": "content"},
        primary="title",
    ))


def _ids(built, text, filters=None):
    ast = parse_cass(text, filters).query
    return {
        d for d, _s in search_ast_collect(built, ast, k=20, schema=CASS_SCHEMA)
    }


def test_implicit_and(built):
    # doc 2 matches too: 'auth' in its title, 'token' in its content —
    # each Must leaf unions over both fields
    assert _ids(built, "auth token") == {0, 1, 2}
    assert _ids(built, "auth && cache") == {0, 1}


def test_or_tighter_than_and(built):
    # (auth OR search) AND cache
    assert _ids(built, "auth OR search AND cache") == {0, 1}


def test_negative_standalone_complement(built):
    assert _ids(built, "-deprecated") == {0, 1, 3, 4}


def test_not_with_positive(built):
    assert _ids(built, "auth -deprecated") == {0, 1}


def test_empty_query_matches_all(built):
    assert _ids(built, "") == {0, 1, 2, 3, 4}


def test_agent_workspace_filters(built):
    f = CassQueryFilters(agents=["claude"])
    assert _ids(built, "cache", f) == {0, 4}
    f = CassQueryFilters(agents=["claude", "codex"], workspaces=["/alpha"])
    assert _ids(built, "cache", f) == {0, 1, 4}


def test_created_range_filter(built):
    f = CassQueryFilters(created_from=1_700_000_000_150,
                         created_to=1_700_000_001_000)
    assert _ids(built, "", f) == {1, 2}


def test_source_filters(built):
    assert _ids(built, "", CassQueryFilters(source_filter="local")) == {0, 2, 4}
    assert _ids(built, "", CassQueryFilters(source_filter="remote")) == {1, 3}


def test_filter_conjunction_with_query(built):
    f = CassQueryFilters(workspaces=["/beta"],
                         source_filter="remote")
    assert _ids(built, "search", f) == {3}


@pytest.fixture(scope="module")
def built_prefix(spark):
    """Full CASS_SEMANTIC_SCHEMA shape: title/content + the pre-expanded
    edge-ngram prefix fields (schema.rs:442-458), built end-to-end."""
    from frankensearch_spark.cass import with_cass_prefix_columns

    corpus = with_cass_prefix_columns(
        spark.createDataFrame(
            DOCS,
            "docid long, title string, content string, agent string, "
            "workspace string, origin_kind string, created_at long",
        )
    )
    return serving_from_built(
        build_multifield_index(
            corpus,
            ["docid"],
            {
                "title": "title",
                "content": "content",
                "title_prefix": "title_prefix_text",
                "content_prefix": "content_prefix_text",
            },
            primary="title",
        ),
        bucket_shift=6, n_term_partitions=8,
    )


def _prefix_ids(built_prefix, text, filters=None):
    ast = parse_cass(text, filters).query
    return {
        d
        for d, _s in search_ast_collect(
            built_prefix, ast, k=20, schema=CASS_SCHEMA
        )
    }


def test_prefix_field_serves_partial_words(built_prefix):
    """Typing a partial word matches via the edge-ngram prefix fields
    (cass_term_query_fields unions all four searchable fields)."""
    # 'aut' is an edge ngram of 'auth' — title/content words
    assert _prefix_ids(built_prefix, "aut") == {0, 1, 2}
    # 'cach' prefix of 'cache'
    assert _prefix_ids(built_prefix, "cach") == {0, 1, 4}
    # 'evic' prefix of 'eviction' (content of 4, title of 4)
    assert _prefix_ids(built_prefix, "evic") == {4}
    # full words still match (exact terms exist in title/content AND as
    # the ngram of their own length)
    assert _prefix_ids(built_prefix, "auth && cache") == {0, 1}
    # prefix + filters compose
    f = CassQueryFilters(agents=["claude"])
    assert _prefix_ids(built_prefix, "cach", f) == {0, 4}


def test_prefix_field_basic_scoring_matches_oracle(built_prefix):
    """Prefix fields score with the Basic record option (tf forced to 1)
    — Spark bits == multi-field oracle bits with basic_fields set."""
    import numpy as np

    from frankensearch_spark.oracle import OracleMultiIndex
    from frankensearch_spark.cass import with_cass_prefix_columns  # noqa: F401
    from frankensearch_spark.analyze import cass_generate_edge_ngrams

    def prefix_text(s, cap=None):
        if cap is not None:
            b = s.encode("utf-8")
            if len(b) > cap:
                s = b[:cap].decode("utf-8", errors="ignore")
        return " ".join(cass_generate_edge_ngrams(s))

    docs = [
        (
            d[0],
            {
                "title": d[1],
                "content": d[2],
                "title_prefix": prefix_text(d[1]),
                "content_prefix": prefix_text(d[2], 4096),
            },
        )
        for d in DOCS
    ]
    oracle = OracleMultiIndex(
        docs,
        ["title", "content", "title_prefix", "content_prefix"],
        basic_fields=("title_prefix", "content_prefix"),
    )
    for text in ("aut", "cach", "auth token", "toke -deprecated"):
        ast = parse_cass(text).query
        got = [
            (d, int(np.float32(s).view(np.uint32)))
            for d, s in search_ast_collect(
                built_prefix, ast, k=10, schema=CASS_SCHEMA
            )
        ]
        exp = oracle.search_ast_bits(ast, k=10)
        assert got == exp, text


def test_title_and_content_both_match(built):
    # 'cache' appears in titles and contents across docs; multi-field
    # union should find every doc containing it in either field
    assert _ids(built, "cache") == {0, 1, 4}
    scores = dict(
        search_ast_collect(built, parse_cass("cache").query, k=10,
                           schema=CASS_SCHEMA)
    )
    assert all(np.float32(s) > 0 for s in scores.values())


def test_cass_prefix_durable_serving(built_prefix, spark, tmp_path_factory):
    """The 4-field CASS index (incl. Basic prefix fields) persists to the
    block store and serves partial-word queries from disk with the same
    bits as the in-memory executor."""
    import numpy as np

    from frankensearch_spark.operators.serving_exec import serving_search_bits
    from frankensearch_spark.plans.manifest import read_index, write_index

    path = str(tmp_path_factory.mktemp("cass_idx"))
    write_index(built_prefix, path, n_groups=1)
    srv = read_index(spark, path)
    assert set(srv.fields) == {
        "title", "content", "title_prefix", "content_prefix"
    }
    for text in ("aut", "cach", "auth token", "toke -deprecated"):
        ast = parse_cass(text).query
        exp = [
            (d, int(np.float32(s).view(np.uint32)))
            for d, s in search_ast_collect(
                built_prefix, ast, k=10, schema=CASS_SCHEMA
            )
        ]
        got = serving_search_bits(srv, ast, k=10, schema=CASS_SCHEMA)
        assert got == exp, text
