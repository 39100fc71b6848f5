"""Multi-field (content^1 + title^2) execution — the reference's default
query surface (quill/index.rs:11168-11191 multi-field lowering;
score-multifield-title-boost scoring case): Spark bit-exact vs the
multi-field numpy oracle on the reference's 120-doc fixture corpus."""

import json

import numpy as np
import pytest

from frankensearch_spark.operators.astexec import search_ast_bits
from frankensearch_spark.operators.build import build_multifield_index
from frankensearch_spark.operators.wand import serving_from_built
from frankensearch_spark.oracle import OracleMultiIndex
from frankensearch_spark.query_ast import REFERENCE_SCHEMA, parse_lenient

FIX = "/root/reference/tests/fixtures"


def _docs():
    with open(f"{FIX}/corpus.json") as fh:
        docs = json.load(fh)["documents"]
    # docid = rank of doc_id (parallelism-invariant natural-key order)
    ordered = sorted(docs, key=lambda d: d["doc_id"])
    return [
        (i, {"content": d.get("content", ""), "title": d.get("title", "")})
        for i, d in enumerate(ordered)
    ]


@pytest.fixture(scope="module")
def raw(spark):
    rows = [
        (docid, t["title"], t["content"]) for docid, t in _docs()
    ]
    corpus = spark.createDataFrame(
        rows, "docid long, title string, content string"
    )
    return build_multifield_index(
        corpus, ["docid"], {"content": "content", "title": "title"}
    )


@pytest.fixture(scope="module")
def built(raw):
    return serving_from_built(raw)


@pytest.fixture(scope="module")
def oracle():
    return OracleMultiIndex(_docs(), ["content", "title"])


QUERIES = [
    "rust ownership borrowing",          # default expansion hits both fields
    "ownership",                         # title-boost decides ranking
    "search index",                      # common terms, different fields
    "rust AND ownership",                # boolean over multi-field leaves
    '"error handling"',                  # phrase scored per field
    "title:ownership",                   # explicit single-field scope
    "title:ownership^3 rust",            # field scope + boost + bare term
    "owner*",                            # glob expanded across both fields
    "-rust",                             # all-negative repair
    "transformer embeddings semantic",   # multi-term natural language
]


@pytest.mark.parametrize("text", QUERIES)
def test_multifield_rank_and_bits_exact(built, oracle, text):
    ast = parse_lenient(text, REFERENCE_SCHEMA).query
    exp = oracle.search_ast_bits(ast, k=10)
    got = search_ast_bits(built, ast, k=10, schema=REFERENCE_SCHEMA)
    assert got == exp, text


def test_title_boost_outranks_content_match(built, oracle):
    """A title match must outscore an equivalent content match (TITLE_BOOST
    2.0 folds into the leaf weight)."""
    ast = parse_lenient("ownership", REFERENCE_SCHEMA).query
    hits = oracle.search_ast(ast, k=120)
    assert hits
    docs = dict(_docs())
    top = docs[hits[0][0]]
    assert "ownership" in top["title"].lower()


def test_doc_matching_both_fields_sums_scores(oracle):
    """Default Term = Should union of per-field scorers: a doc matching in
    both fields scores the SUM of both BM25 components
    (score-multifield-title-boost)."""
    from frankensearch_spark.query_ast import QueryField, Term

    ast_both = parse_lenient("ownership", REFERENCE_SCHEMA).query
    content_only = Term((QueryField("content", 1.0),), "ownership")
    title_only = Term((QueryField("title", 2.0),), "ownership")
    both = dict(oracle.search_ast(ast_both, k=120))
    c = dict(oracle.search_ast(content_only, k=120))
    t = dict(oracle.search_ast(title_only, k=120))
    for d, s in both.items():
        expect = np.float32(
            np.float32(c.get(d, np.float32(0.0))) + np.float32(t.get(d, np.float32(0.0)))
        )
        assert np.float32(s).view(np.uint32) == expect.view(np.uint32), d


def test_multifield_durable_serving_matches_oracle(raw, oracle, spark, tmp_path_factory):
    """Round-2: multi-field indexes persist to the compressed block store
    (fields/<name>/ per-field serving indexes + root manifest) and serve
    the FULL grammar from disk — bit-identical to the oracle."""
    from frankensearch_spark.operators.serving_exec import serving_search_bits
    from frankensearch_spark.plans.manifest import read_index, write_index

    path = str(tmp_path_factory.mktemp("mf_idx"))
    write_index(
        serving_from_built(raw, bucket_shift=6, n_term_partitions=8),
        path, n_groups=1,
    )
    srv = read_index(spark, path)
    assert set(srv.fields) == {"content", "title"}
    assert srv.primary_name == "content"
    for text in QUERIES:
        ast = parse_lenient(text, REFERENCE_SCHEMA).query
        exp = oracle.search_ast_bits(ast, k=10)
        got = serving_search_bits(srv, text, k=10, schema=REFERENCE_SCHEMA)
        assert got == exp, text


def test_multifield_lifecycle(built, oracle, spark):
    """Round-2: delete / compact / upsert on multi-field indexes —
    same reference laws as single-field (scores stable under delete,
    survivors re-scored after compaction, upsert replaces by key)."""
    import copy

    from frankensearch_spark.operators.lifecycle import (
        compact,
        delete_documents,
        upsert_documents,
    )
    text = "rust ownership borrowing"
    ast = parse_lenient(text, REFERENCE_SCHEMA).query
    baseline = search_ast_bits(built, ast, k=5, schema=REFERENCE_SCHEMA)
    victims = [d for d, _ in baseline[:2]]

    srv = built
    deleted = delete_documents(srv, victims)
    orc = copy.deepcopy(oracle)
    orc.delete(victims)
    got = search_ast_bits(deleted, ast, k=5, schema=REFERENCE_SCHEMA)
    assert got == orc.search_ast_bits(ast, k=5)
    # surviving docs keep their exact pre-delete bits (stats rule)
    base_bits = dict(baseline)
    for d, bits in got:
        if d in base_bits:
            assert bits == base_bits[d]

    # compaction folds tombstones into EVERY field; oracle rebuilt
    compacted = compact(deleted, force=True)
    assert compacted.tombstones is None
    survivors = [
        (d, t) for d, t in _docs() if d not in set(victims)
    ]
    orc2 = OracleMultiIndex(survivors, ["content", "title"])
    got2 = search_ast_bits(compacted, ast, k=5, schema=REFERENCE_SCHEMA)
    assert got2 == orc2.search_ast_bits(ast, k=5)

    # upsert: replace one doc's content+title by key, add one new doc
    row = built.docmeta.limit(1).collect()[0]
    new_rows = [
        (int(row["docid"]), "zzfresh title ownership", "zzfresh rust body"),
        (10_000, "zzfresh another", "zzfresh content"),
    ]
    nc = spark.createDataFrame(
        new_rows, "docid long, title string, content string"
    )
    up = upsert_documents(srv, nc, ["docid"])
    hits = search_ast_bits(up, parse_lenient("zzfresh", REFERENCE_SCHEMA).query,
                           k=5, schema=REFERENCE_SCHEMA)
    assert len(hits) == 2
    old_id = int(row["docid"])
    all_hits = search_ast_bits(up, ast, k=200, schema=REFERENCE_SCHEMA)
    assert old_id not in {d for d, _ in all_hits}

    # a SECOND upsert on the returned index must work: upsert ends in
    # delete_documents, whose multi-field reconstruction must keep the
    # field_cols mapping (regression: it was dropped, so the next
    # upsert raised ValueError)
    assert up.field_cols == built.field_cols
    nc2 = spark.createDataFrame(
        [(10_001, "yyfresh title", "yyfresh body")],
        "docid long, title string, content string",
    )
    up2 = upsert_documents(up, nc2, ["docid"])
    hits2 = search_ast_bits(
        up2, parse_lenient("yyfresh", REFERENCE_SCHEMA).query,
        k=5, schema=REFERENCE_SCHEMA,
    )
    assert len(hits2) == 1


def test_multifield_wand_pruned_equals_oracle(raw, oracle, spark, tmp_path_factory):
    """Round-2 closure of the "multi-field ASTs decode-and-score" gap:
    prunable multi-field shapes (bare terms expanding to content +
    title^2, explicit title: scopes, booleans, boosts) route through
    block-max WAND with per-(field, term) bounds — pruned ≡ exhaustive
    ≡ oracle, bit-exact, served from the durable block store."""
    from frankensearch_spark.operators.serving_exec import (
        ast_to_queryspec_fields,
        serving_search_bits,
    )
    from frankensearch_spark.operators.wand import wand_topk
    from frankensearch_spark.plans.manifest import read_index, write_index

    path = str(tmp_path_factory.mktemp("mf_wand_idx"))
    write_index(
        serving_from_built(raw, bucket_shift=4, n_term_partitions=8),
        path, n_groups=1,
    )
    srv = read_index(spark, path)

    prunable = [
        "rust ownership borrowing",
        "ownership",
        "search index",
        "rust AND ownership",
        "title:ownership",
        "title:ownership^3 rust",
        "owner*",
        "rust -ownership transformer",
        "transformer embeddings semantic",
        # fuzz-seed-7 regressions: these corpus/query shapes exposed a
        # 1-ULP f32 association divergence when the WAND scorer folded
        # each field straight into the accumulator instead of building
        # the kernel's per-clause multi-field subtotal first
        "search ownership",
        "search +ownership",
        "ownership search rust +ownership",
        "AND ownership rust^0.5 index",
    ]
    for text in prunable:
        from frankensearch_spark.operators.astexec import expand_globs

        ast = parse_lenient(text, REFERENCE_SCHEMA).query
        out = ast_to_queryspec_fields(expand_globs(srv, ast))
        assert out is not None, text
        spec, term_fields = out
        exp = oracle.search_ast_bits(ast, k=10)
        # forced pruning (conformance mode) and exhaustive-over-blocks
        # must both equal the oracle bit-for-bit
        for prune in (True, False):
            got = [
                (d, int(np.float32(s).view(np.uint32)))
                for d, s in wand_topk(
                    srv, spec, k=10, prune=prune, min_cost=0,
                    term_fields=term_fields,
                )
            ]
            assert got == exp, (text, prune)
        # and the public serving surface routes there
        assert serving_search_bits(srv, text, k=10,
                                   schema=REFERENCE_SCHEMA) == exp, text

    # unprunable multi-field shapes still lower to None
    for text in ('"error handling"', "-rust"):
        ast = parse_lenient(text, REFERENCE_SCHEMA).query
        assert ast_to_queryspec_fields(ast) is None, text


def test_mustnot_field_scope_conflict_stays_unprunable(built, oracle):
    """Clause-order regression: a MustNot with a narrower field scope
    than a later positive clause of the SAME term must NOT lower to a
    QuerySpec (the spec has one scope per term) — both clause orders
    fall back to decode-and-score and match the oracle."""
    from frankensearch_spark.operators.serving_exec import (
        ast_to_queryspec_fields,
    )

    for text in ("-title:rust rust", "rust -title:rust"):
        ast = parse_lenient(text, REFERENCE_SCHEMA).query
        assert ast_to_queryspec_fields(ast) is None, text
        exp = oracle.search_ast_bits(ast, k=10)
        got = search_ast_bits(built, ast, k=10, schema=REFERENCE_SCHEMA)
        assert got == exp, text
