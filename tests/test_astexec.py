"""Parsed-query execution parity: Spark AST path ≡ numpy oracle, bit-exact.

Covers the full frozen query set (including the boolean/phrase classes),
plus globs, boosts, all-negative repair, and keyword-field constant-score
filters (E8)."""

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
def raw(spark):
    corpus = synthetic_corpus_df(spark, N_DOCS, partitions=4)
    # docmeta keyword columns feed metadata leaves (lang via corpus join)
    return build_index(corpus, CORPUS_KEY, docid_mode="global")


@pytest.fixture(scope="module")
def built(raw):
    return serving_from_built(raw)


@pytest.fixture(scope="module")
def oracle():
    # same keyword metadata columns the Spark docmeta carries, keyed by
    # the parallelism-invariant docid (rank over the natural key)
    from frankensearch_spark.corpus import make_corpus

    rows = make_corpus(N_DOCS)
    ordered = sorted(range(len(rows)), key=lambda i: rows[i][:3])
    meta = {
        name: {d: rows[i][j] for d, i in enumerate(ordered)}
        for j, name in ((0, "repo"), (1, "path"), (2, "commit"), (3, "lang"))
    }
    return OracleIndex(corpus_docs(N_DOCS), meta=meta)


def _oracle_bits(oracle, text, k=10):
    ast = parse_lenient(text, ENGINE_SCHEMA).query
    return [
        (d, int(np.float32(s).view(np.uint32)))
        for d, s in oracle.search_ast(ast, k)
    ]


@pytest.mark.parametrize("qid", sorted(FROZEN_QUERIES))
def test_frozen_queries_ast_rank_and_bits_exact(built, oracle, qid):
    text = FROZEN_QUERIES[qid]
    expected = _oracle_bits(oracle, text)
    got = search_ast_bits(built, text, k=10)
    assert got == expected, f"{qid}: {text!r}"


EXTRA_QUERIES = [
    "term000*",                       # glob expansion
    "term0004?",                      # single-char glob
    "term00001^2 term00002",          # leaf boost folds into weight
    "(term00001 OR term00002)^2",     # group boost
    "-fn",                            # all-negative repair with All
    "fn AND NOT import",              # AND + NOT
    '"term00001 term00002" OR term00003',  # phrase in a boolean
    "+fn +import term00001",          # multiple musts plus should
    "src/main.rs",                    # path-shaped phrase
]


@pytest.mark.parametrize("text", EXTRA_QUERIES)
def test_extended_queries_ast_parity(built, oracle, text):
    expected = _oracle_bits(oracle, text)
    got = search_ast_bits(built, text, k=10)
    assert got == expected, text


def test_ast_pagination_matches(built, oracle):
    text = "term00001 term00002 term00003"
    ast = parse_lenient(text, ENGINE_SCHEMA).query
    exp = oracle.search_ast(ast, k=5, offset=5)
    got = search_ast_collect(built, text, k=5, offset=5)
    assert [(d, np.float32(s).view(np.uint32)) for d, s in got] == [
        (d, np.float32(s).view(np.uint32)) for d, s in exp
    ]


def test_keyword_field_filter(built):
    """lang:rust — constant-score metadata leaf over docmeta (E8)."""
    rows = search_ast_collect(built, "lang:rust", k=N_DOCS)
    # every corpus row with lang=rust and score == 1.0 (constant boost)
    import pyspark.sql.functions as F

    docmeta = built.docmeta
    if "lang" not in docmeta.columns:
        pytest.skip("docmeta built without lang column")
    n_rust = docmeta.filter(F.col("lang") == "rust").count()
    assert len(rows) == n_rust
    assert all(np.float32(s) == np.float32(1.0) for _d, s in rows)


def test_keyword_and_text_conjunction(built, raw):
    """lang:rust AND fn — metadata filter intersected with a scored term."""
    import pyspark.sql.functions as F

    if "lang" not in built.docmeta.columns:
        pytest.skip("docmeta built without lang column")
    rows = search_ast_collect(built, "lang:rust AND fn", k=N_DOCS)
    got_docids = {d for d, _ in rows}
    rust_docs = {
        int(r["docid"])
        for r in built.docmeta.filter(F.col("lang") == "rust").collect()
    }
    fn_docs = {
        int(r["docid"])
        for r in raw.postings.filter(F.col("term") == "fn")
        .select("docid")
        .collect()
    }
    assert got_docids == rust_docs & fn_docs


def test_numeric_range_on_doclen(built, raw):
    """doclen:[50 TO 200] — numeric fast-column range (E8/RangeI64)."""
    import pyspark.sql.functions as F

    rows = search_ast_collect(built, "doclen:[50 TO 200]", k=N_DOCS)
    got = {d for d, _ in rows}
    exp = {
        int(r["docid"])
        for r in built.docmeta.filter(
            (F.col("doclen") >= 50) & (F.col("doclen") <= 200)
        ).collect()
    }
    assert got == exp
    assert all(np.float32(s) == np.float32(1.0) for _d, s in rows)

    # exclusive upper bound + unbounded lower
    rows2 = search_ast_collect(built, "doclen:{* TO 50}", k=N_DOCS)
    exp2 = {
        int(r["docid"])
        for r in built.docmeta.filter(F.col("doclen") < 50).collect()
    }
    assert {d for d, _ in rows2} == exp2

    # conjunction with a scored term keeps term scoring
    conj = search_ast_collect(built, "fn AND doclen:[50 TO 200]", k=N_DOCS)
    fn_docs = {
        int(r["docid"])
        for r in raw.postings.filter(F.col("term") == "fn")
        .select("docid").collect()
    }
    assert {d for d, _ in conj} == exp & fn_docs


def test_numeric_term_equality(built):
    """doclen:42 — bare terms on NUMERIC fields parse numerically
    (query.rs:2759-2760 raw.parse().ok()), so term equality == the
    degenerate range [42 TO 42]; unparseable text is a dropped leaf."""
    import pyspark.sql.functions as F

    some = built.docmeta.select("doclen").limit(1).collect()[0][0]
    rows = search_ast_collect(built, f"doclen:{some}", k=N_DOCS)
    ranged = search_ast_collect(built, f"doclen:[{some} TO {some}]", k=N_DOCS)
    assert rows == ranged
    assert len(rows) >= 1
    exp = {
        int(r["docid"])
        for r in built.docmeta.filter(F.col("doclen") == some).collect()
    }
    assert {d for d, _ in rows} == exp
    # non-numeric text on a numeric field: dropped leaf, matches nothing
    assert search_ast_collect(built, "doclen:notanumber", k=N_DOCS) == []


def test_metadata_pushdown_in_plan(built):
    """Top-level Must/MustNot keyword+numeric predicates appear as Spark
    Filter nodes (Catalyst-side, pre-kernel) and stay score-neutral."""
    import contextlib
    import io

    from frankensearch_spark.operators.astexec import (
        metadata_pushdown,
        topk_ast,
    )
    from frankensearch_spark.query_ast import parse_lenient

    text = "fn AND lang:rust AND doclen:[50 TO 200] AND NOT lang:go"
    ast = parse_lenient(text).query
    must_conds, not_conds = metadata_pushdown(ast)
    assert len(must_conds) == 2 and len(not_conds) == 1

    df = topk_ast(built, text, k=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the pushed predicates surface as catalyst filters on the meta columns
    assert "lang" in plan and "doclen" in plan
    assert "Filter" in plan

    # parity: pushdown is a pure candidate reduction — same results as the
    # kernel-only evaluation (oracle twin runs the same kernel)
    rows = search_ast_collect(built, text, k=N_DOCS)
    lang = {
        int(r["docid"]): (r["lang"], r["doclen"])
        for r in built.docmeta.collect()
    }
    for d, _s in rows:
        lg, dl = lang[d]
        assert lg == "rust" and 50 <= dl <= 200


def test_phrase_without_positions_rejected(spark):
    corpus = synthetic_corpus_df(spark, 50, partitions=2)
    idx = serving_from_built(build_index(
        corpus, CORPUS_KEY, with_positions=False, docid_mode="global"
    ))
    with pytest.raises(ValueError):
        search_ast_collect(idx, '"term00001 term00002"', k=5)


def test_random_query_fuzz_parity(built, oracle):
    """Grammar fuzz: random compositions of terms, fields, ranges,
    phrases, globs, boosts, boolean operators and junk — the lenient
    parser never errors, and the Spark AST executor must stay bit-exact
    with the numpy oracle on every shape (deterministic seed; 40
    compositions)."""
    import random

    rng = random.Random(0xF5A)
    FRAGMENTS = [
        "fn", "import", "term00001", "term00002", "term00042",
        "missingkeywordzz", "lang:rust", "lang:go", "doclen:[40 TO 90]",
        "doclen:[* TO 60]", '"term00001 term00002"', '"fn import"',
        "term000*", "term0004?", "-fn", "+import", "-term00042",
        "(fn OR import)", "(term00001 AND term00002)", "fn^2",
        "term00001^0.5", "NOT import", "title:fn", "repo:org1",
        '"unclosed phrase', "AND", "OR", "((", "))", "^", "a:b:c",
        "doclen:42", "*", "?",
    ]
    for _ in range(40):
        n = rng.randint(1, 4)
        text = " ".join(rng.choice(FRAGMENTS) for _ in range(n))
        expected = _oracle_bits(oracle, text)
        got = search_ast_bits(built, text, k=10)
        assert got == expected, repr(text)


def test_keyword_glob_matches_metadata(built, oracle):
    """Keyword-field globs match RAW metadata values with */? wildcards
    (grimoire.rs:1447 expands field-scoped globs; keyword fields live
    in docmeta here, so the field's 'dictionary' is the column).
    Previously the keyword side of a glob silently expanded to NOTHING
    on every execution path.  Pure keyword globs pass the metadata
    empty-gate (contains_all_node), mixed shapes restrict text hits,
    and all paths stay bit-equal."""
    import numpy as np

    from frankensearch_spark.operators.batchexec import search_batch_collect

    repos = {
        int(r["docid"]): r["repo"]
        for r in built.docmeta.select("docid", "repo").collect()
    }
    exp = sorted(d for d, r in repos.items() if r.startswith("org0/"))
    got = sorted(
        d for d, _ in search_ast_collect(built, "repo:org0/*", k=10_000)
    )
    assert got == exp and exp, (len(got), len(exp))

    for q in ["repo:org0/*", "fn AND repo:org0/*", "fn repo:org0/*"]:
        a = search_ast_bits(built, q, k=25)
        bt = [
            (d, int(np.float32(s).view(np.uint32)))
            for d, s in search_batch_collect(built, [q], k=25)[0]
        ]
        assert bt == a, q
        o = _oracle_bits(oracle, q, k=25)
        assert o == a, q

    assert search_ast_collect(built, "repo:zzz*", k=5) == []
