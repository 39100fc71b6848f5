"""Differential check: fused zero-shuffle postings == groupBy reference path."""

from frankensearch_spark.operators.build import (
    assign_docids,
    build_postings,
    build_postings_fused,
    build_postings_grouped,
    build_token_rows,
    explode_grouped_postings,
)
from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df


def canon(df):
    """Normalize postings to comparable tuples — positions may be an
    array<int> (the reference path) or a pre-encoded vbyte binary (the
    fused path's default pos_format)."""
    from frankensearch_spark.functions.vbyte import vbyte_decode

    def pos(p):
        if isinstance(p, (bytes, bytearray)):
            return tuple(int(x) for x in vbyte_decode(bytes(p)))
        return tuple(p)

    rows = df.collect()
    return sorted(
        (
            r["docid"],
            r["term"],
            r["tf"],
            pos(r["positions"]),
            r["doclen"],
        )
        for r in rows
    )


def auto_postings(corpus):
    """The default analyzer's postings (the ASCII router inside the
    build's grouped kernel), exploded to one row per posting."""
    return explode_grouped_postings(build_postings_grouped(corpus))


def test_fused_equals_reference_postings(spark):
    corpus = assign_docids(
        synthetic_corpus_df(spark, 120, partitions=3), CORPUS_KEY
    )
    ref = build_postings(build_token_rows(corpus))
    fused = build_postings_fused(corpus)
    assert canon(fused) == canon(ref)


def test_assign_docids_null_keys_survive(spark):
    """Rows with NULL key columns must still index (null-safe map join);
    duplicate external keys are rejected up front (external-id contract)."""
    import pytest

    corpus = spark.createDataFrame(
        [("r1", "a.rs", "x"), ("r1", None, "y"), (None, None, "z")],
        "repo string, path string, content string",
    )
    out = assign_docids(corpus, ["repo", "path"], mode="global")
    rows = out.collect()
    assert len(rows) == 3
    assert len({r["docid"] for r in rows}) == 3
    assert set(out.columns) == {"repo", "path", "content", "docid"}

    dup = spark.createDataFrame(
        [("r1", "a.rs", "x"), ("r1", "a.rs", "y")],
        "repo string, path string, content string",
    )
    with pytest.raises(ValueError, match="duplicate external key"):
        assign_docids(dup, ["repo", "path"])
    # null-key duplicates are duplicates too
    dup_null = spark.createDataFrame(
        [("r1", None, "x"), ("r1", None, "y")],
        "repo string, path string, content string",
    )
    with pytest.raises(ValueError, match="duplicate external key"):
        assign_docids(dup_null, ["repo", "path"])


def test_lease_docid_plan_has_single_partition_id_eval(spark):
    """Regression for the lease-collision bug: spark_partition_id() must
    be evaluated exactly ONCE (materialized pre-window-exchange) — a
    second evaluation in the docid projection runs after the window's
    hash exchange, where AQE group-merging makes docids collide at scale
    (only surfaces past AQE's coalesce threshold, so the plan IS the
    test)."""
    import contextlib
    import io

    import pyspark.sql.functions as F

    df = spark.range(1000).select(
        F.format_string("k%06d", F.col("id")).alias("key")
    )
    out = assign_docids(df, ["key"], mode="lease", assert_unique=False)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("SPARK_PARTITION_ID") == 1, plan
    n = out.count()
    assert out.select("docid").distinct().count() == n


def test_lease_mode_rank_invariance(spark):
    """Default lease docids: disjoint, parallelism-invariant ranking.

    Builds at two parallelism levels; results must agree with each other
    and with the oracle as (external key -> score bits) under identical
    rank order (docid VALUES differ from the oracle's dense numbering —
    the Q1 lease discipline only promises disjointness + key order)."""
    import numpy as np

    from frankensearch_spark.corpus import corpus_docs, make_corpus
    from frankensearch_spark.operators.astexec import search_ast_bits
    from frankensearch_spark.operators.build import build_index
    from frankensearch_spark.operators.wand import serving_from_built
    from frankensearch_spark.oracle import OracleIndex

    n = 150
    oracle = OracleIndex(corpus_docs(n))
    rows = make_corpus(n)
    ordered = sorted(range(len(rows)), key=lambda i: rows[i][:3])
    key_of_dense = {d: rows[i][:3] for d, i in enumerate(ordered)}

    results = []
    for parts in (1, 5):
        corpus = synthetic_corpus_df(spark, n, partitions=parts)
        idx = serving_from_built(
            build_index(corpus, CORPUS_KEY, cache=False),  # lease default
            cache=False,
        )
        got = search_ast_bits(idx, "fn import term00000", k=10)
        ext = {
            int(r["docid"]): (r["repo"], r["path"], r["commit"])
            for r in idx.docmeta.collect()
        }
        results.append([(ext[d], bits) for d, bits in got])
    assert results[0] == results[1]
    exp = [
        (key_of_dense[d], bits)
        for d, bits in oracle.search_bits("fn import term00000", k=10)
    ]
    assert results[0] == exp


def test_fused_lease_docids_survive_a_recompute_under_union(spark):
    """Lease docids are a property of the range exchange, not of the
    task that reads it: once a build's persisted frames are dropped, a
    docmeta recomputed inside a union (its partitions numbered after the
    other side's) carries the same docids and doclens."""
    import pyspark.sql.functions as F

    from frankensearch_spark.operators.build import build_index

    a = build_index(synthetic_corpus_df(spark, 40, seed=3), CORPUS_KEY)
    b = build_index(synthetic_corpus_df(spark, 90, partitions=4), CORPUS_KEY)
    cols = ["docid", *CORPUS_KEY, "doclen"]
    want = sorted(tuple(r) for r in b.docmeta.select(*cols).collect())
    assert want[0][0] == 0
    for df in b.persisted:
        df.unpersist()
    union = a.docmeta.select(*cols, F.lit("a").alias("side")).repartition(
        8
    ).unionByName(b.docmeta.select(*cols, F.lit("b").alias("side")))
    got = sorted(
        tuple(r)[:-1] for r in union.collect() if r["side"] == "b"
    )
    assert got == want


def test_fused_handles_empty_and_null_content(spark):
    corpus = spark.createDataFrame(
        [(0, "a b a"), (1, ""), (2, None), (3, "b")],
        "docid long, content string",
    )
    rows = canon(build_postings_fused(corpus))
    assert rows == [
        (0, "a", 2, (0, 2), 3),
        (0, "b", 1, (1,), 3),
        (3, "b", 1, (0,), 1),
    ]


def _assert_all_ascii(corpus):
    """Every content value is ASCII (or null), so the auto router sends
    every document through its RE2 kernel leg."""
    texts = [r["content"] for r in corpus.select("content").collect()]
    assert all(t is None or t.isascii() for t in texts)


def test_vector_path_equals_arrow_postings(spark):
    """The Arrow-C++ vectorized kernel (utf8_lower + RE2 split +
    dictionary_encode, zero per-token Python) emits the exact posting
    table of the contract analyzer on the (ASCII) synthetic corpus —
    incl. positions, admission, and per-doc doclen.  The kernel runs
    through the auto router, which on all-ASCII input takes only the
    RE2 leg."""
    corpus = assign_docids(
        synthetic_corpus_df(spark, 120, partitions=3), CORPUS_KEY
    )
    _assert_all_ascii(corpus)
    arrow = canon(build_postings_fused(corpus))
    vec = canon(auto_postings(corpus))
    assert vec == arrow


def test_vector_path_edge_contents(spark):
    """Vectorized kernel edge semantics (all-ASCII input, so the auto
    router runs only its RE2 leg): empty/null docs, leading and trailing
    separators, oversized-token admission with position gaps."""
    from frankensearch_spark.contract import MAX_TERM_BYTES

    big = "x" * (MAX_TERM_BYTES + 1)
    corpus = spark.createDataFrame(
        [
            (0, "a b a"),
            (1, ""),
            (2, None),
            (3, "!lead trail! "),
            (4, f"pre {big} post"),  # gap: post sits at position 2
        ],
        "docid long, content string",
    )
    _assert_all_ascii(corpus)
    rows = canon(auto_postings(corpus))
    exp = canon(build_postings_fused(corpus))
    assert rows == exp
    by_doc = {(d, t): p for d, t, _tf, p, _dl in rows}
    assert by_doc[(4, "post")] == (2,)  # admission gap preserved


def test_auto_equals_contract_on_mixed_corpus(spark):
    """The hybrid auto analyzer (ASCII docs -> RE2 kernel, the rest ->
    contract analyzer) must equal the contract path BIT-FOR-BIT on a
    corpus that mixes ASCII docs with Unicode shapes where RE2's
    \\pL\\pN classes could diverge from Rust char::is_alphanumeric."""
    base = synthetic_corpus_df(spark, 60, partitions=2)
    extra = base.sparkSession.createDataFrame(
        [
            ("u", "h.txt", "c0", "txt", "héllo wörld héllo"),
            ("u", "j.txt", "c0", "txt", "日本語 テスト 2024"),
            ("u", "e.txt", "c0", "txt", "emoji 🚀 mix ascii"),
            ("u", "t.txt", "c0", "txt", "İstanbul straße ŉouns"),
            ("u", "m.txt", "c0", "txt", "áccent combining"),
            ("u", "n.txt", "c0", "txt", None),
            ("u", "x.txt", "c0", "txt", "①②③ enclosed ¼ vulgar"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    corpus = assign_docids(base.unionByName(extra), CORPUS_KEY)
    auto = canon(auto_postings(corpus))
    contract = canon(build_postings_fused(corpus))
    assert auto == contract


def test_build_index_default_tokenizer_is_auto(spark):
    """A default build_index() routes through the hybrid auto analyzer
    and matches the contract analyzer over the same docids."""
    from frankensearch_spark.operators.build import build_index

    corpus = synthetic_corpus_df(spark, 80, partitions=2)
    dflt = build_index(corpus, CORPUS_KEY, cache=False)
    with_docid = dflt.docmeta.select("docid", *CORPUS_KEY).join(
        corpus, CORPUS_KEY
    )
    assert with_docid.count() == 80
    contract = build_postings_fused(with_docid)
    assert canon(explode_grouped_postings(dflt.postings_grouped)) == canon(contract)


def test_code_aware_index_end_to_end(spark):
    """North-star code-aware analysis, end to end: build with
    code_aware=True and retrieve a camelCase document BY ITS PART.
    Parts are emitted at the whole token's position (the CASS
    compound-plus-parts pattern), so phrase adjacency over originals is
    preserved while sub-token search works."""
    from frankensearch_spark.engine import FrankensearchSpark

    base = synthetic_corpus_df(spark, 40, partitions=2)
    extra = spark.createDataFrame(
        [
            ("u", "a.rs", "c0", "rust",
             "fn parseHttpRequest handles the camelCase HTTPServer2 path"),
            ("u", "b.rs", "c0", "rust",
             "fn plain_snake_case_handler no camel here"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    corpus = base.unionByName(extra)
    eng = FrankensearchSpark.build(corpus, CORPUS_KEY, code_aware=True)
    plain = FrankensearchSpark.build(corpus, CORPUS_KEY)

    def docids(e, q):
        return [d for d, _ in e.search_docids(q, limit=5)]

    # the part 'parse' only exists as a camelCase fragment
    hits = docids(eng, "parse")
    assert len(hits) == 1
    assert docids(plain, "parse") == []           # default analyzer: no split
    # whole original token still searchable in both
    assert docids(eng, "parsehttprequest") == hits
    assert docids(plain, "parsehttprequest") == hits
    # digit-boundary part of HTTPServer2 (other corpus docs may carry a
    # literal 'server' token — membership, not exact hit-list equality)
    assert hits[0] in docids(eng, "server")
    # snake_case splits in BOTH (underscore is a separator already)
    assert docids(eng, "handler") == docids(plain, "handler") != []
