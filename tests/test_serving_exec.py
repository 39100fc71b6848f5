"""Full-grammar queries over the durable compressed index: decode-and-
score path ≡ in-memory index ≡ oracle, straight from disk — including
phrase queries via the POSITIONS sidecar (pos_bytes)."""

import shutil
import tempfile

import pytest

from frankensearch_spark.corpus import corpus_docs
from frankensearch_spark.operators.build import build_index
from frankensearch_spark.operators.serving_exec import serving_search_bits
from frankensearch_spark.operators.wand import serving_from_built
from frankensearch_spark.oracle import OracleIndex
from frankensearch_spark.plans.manifest import read_index, write_index
from frankensearch_spark.query_ast import ENGINE_SCHEMA, parse_lenient
from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df

N_DOCS = 250


@pytest.fixture(scope="module")
def serving(spark):
    corpus = synthetic_corpus_df(spark, N_DOCS, partitions=4)
    built = build_index(corpus, CORPUS_KEY, docid_mode="global")
    path = tempfile.mkdtemp(prefix="fsx_serving_")
    write_index(
        serving_from_built(built, cache=False), path, n_groups=2,
        source="test",
    )
    yield read_index(spark, path)
    shutil.rmtree(path, ignore_errors=True)


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


QUERIES = [
    "term00001 term00002 term00003",
    "fn AND NOT import",
    "+term00001 -term00002 term00003",
    "term000*",
    "-fn",
    "term00042^2 term00100",
    "missingkeywordzzz",
]

PHRASE_QUERIES = [
    '"term00001 term00002"',
    '"generated record"',
    '"fn generated" OR term00003',
    '"record term00001" AND fn',
    '"qg6 missing phrase alpha"',
]


@pytest.mark.parametrize("text", QUERIES)
def test_serving_matches_oracle_bits(serving, oracle, text):
    ast = parse_lenient(text, ENGINE_SCHEMA).query
    import numpy as np

    exp = [
        (d, int(np.float32(s).view(np.uint32)))
        for d, s in oracle.search_ast(ast, 10)
    ]
    got = serving_search_bits(serving, text, k=10)
    assert got == exp, text


@pytest.mark.parametrize("text", PHRASE_QUERIES)
def test_phrase_serves_from_durable_index(serving, oracle, text):
    """Phrases decode pos_bytes from disk — bit-identical to the oracle
    (closes the round-1 gap: serving_exec raised on any phrase)."""
    import numpy as np

    ast = parse_lenient(text, ENGINE_SCHEMA).query
    exp = [
        (d, int(np.float32(s).view(np.uint32)))
        for d, s in oracle.search_ast(ast, 10)
    ]
    got = serving_search_bits(serving, text, k=10)
    assert got == exp, text


ROUTED_SHAPES = [
    "term00001 term00002 term00003",
    "fn AND NOT import",
    "+term00001 -term00002 term00003",
    "term000*",  # glob expands to a flat Should union at the root
    "term00042^2 term00100",        # boosted terms fold into the spec
    "term00001^0.5 AND term00002",  # boosted Must
]


def test_prunable_shapes_route_through_wand(serving, oracle):
    """Flat/boolean content queries on the serving path now take the
    block-max WAND pruned route — results must be bit-identical to the
    decode-and-score route and the oracle (closes the round-1 gap:
    full-grammar serving always decoded every posting)."""
    from frankensearch_spark.operators.serving_exec import (
        ast_to_queryspec_fields,
    )
    from frankensearch_spark.query_ast import parse_lenient

    for text in ROUTED_SHAPES:
        ast = parse_lenient(text, ENGINE_SCHEMA).query
        import numpy as np

        exp = [
            (d, int(np.float32(s).view(np.uint32)))
            for d, s in oracle.search_ast(ast, 10)
        ]
        pruned = serving_search_bits(serving, text, k=10, prune=True)
        decoded = serving_search_bits(serving, text, k=10, prune=False)
        assert pruned == decoded == exp, text

    # unprunable shapes still lower to None (stay on decode-and-score)
    for text in ('"term00001 term00002"', "lang:rust fn",
                 "term00042^2 term00042"):  # conflicting per-term boosts
        ast = parse_lenient(text, ENGINE_SCHEMA).query
        assert ast_to_queryspec_fields(ast) is None, text


def test_queryspec_ast_round_trip_bit_equal(serving, oracle):
    """Lowering a routed shape to (QuerySpec, term_fields) and rebuilding
    the kernel's AST from it (QuerySpec.to_ast, the tree every WAND
    bucket scores) is bit-equal to the original AST in the oracle."""
    import numpy as np

    from frankensearch_spark.operators.astexec import expand_globs
    from frankensearch_spark.operators.serving_exec import (
        ast_to_queryspec_fields,
    )
    from frankensearch_spark.query_ast import parse_lenient

    def bits(ast):
        return [
            (d, int(np.float32(s).view(np.uint32)))
            for d, s in oracle.search_ast(ast, 20)
        ]

    for text in ROUTED_SHAPES:
        ast = expand_globs(serving, parse_lenient(text, ENGINE_SCHEMA).query)
        spec, term_fields = ast_to_queryspec_fields(ast)
        exp = bits(ast)
        assert exp, text
        assert bits(spec.to_ast(term_fields)) == exp, text


def test_blocks_scan_pushes_term_filters(serving):
    """Query-time term/tpart predicates reach the parquet scan
    (PushedFilters) — the TERMDICT block-first-key pruning analogue."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    cand = serving.blocks.filter(
        (F.col("tpart") == 3) & (F.col("term") == "fn")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cand.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("tpart" in ln and "term" in ln for ln in pushed), pushed


def test_phrase_rejected_without_positions(spark):
    """Indexes persisted with with_positions=False still validate
    capabilities (query.rs:699-752): phrases raise, they don't misscore."""
    corpus = synthetic_corpus_df(spark, 60, partitions=2)
    built = build_index(
        corpus, CORPUS_KEY, docid_mode="global", with_positions=False
    )
    path = tempfile.mkdtemp(prefix="fsx_nopos_")
    try:
        write_index(serving_from_built(built, cache=False), path, n_groups=1)
        idx = read_index(spark, path)
        assert not idx.has_positions
        with pytest.raises(ValueError, match="positions"):
            serving_search_bits(idx, '"term00001 term00002"', k=5)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_serving_random_query_fuzz_parity(serving, oracle):
    """Grammar fuzz THROUGH THE DURABLE SERVING PATH: the same fragment
    pool as the primary-executor fuzz, but every composition routes
    through serving_search_bits (WAND routing gate + compressed decode)
    and must stay bit-exact with the numpy oracle.  This pins the
    prune-vs-decode ROUTING decision itself across arbitrary shapes,
    not just the hand-picked query lists above."""
    import random

    import numpy as np

    rng = random.Random(0x5E41)
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
    for _ in range(30):
        n = rng.randint(1, 4)
        text = " ".join(rng.choice(FRAGMENTS) for _ in range(n))
        ast = parse_lenient(text, ENGINE_SCHEMA).query
        exp = [
            (d, int(np.float32(s).view(np.uint32)))
            for d, s in oracle.search_ast(ast, 10)
        ]
        got = serving_search_bits(serving, text, k=10)
        assert got == exp, repr(text)


def test_unknown_text_field_returns_empty_not_crash(serving):
    """A query whose every text leaf targets a field absent from the
    index must return empty (matching the pruned path's []), not die
    with AttributeError on a None candidate frame."""
    from frankensearch_spark.query_ast import (
        TEXT,
        ParserSchema,
        QueryField,
    )
    from frankensearch_spark.operators.astexec import score_ast

    schema = ParserSchema(
        fields=(
            QueryField("content", 1.0, TEXT),
            QueryField("title", 2.0, TEXT),
        ),
        default_names=("content",),
    )
    out = score_ast(serving, "title:foo", schema)
    assert out.count() == 0
    assert serving_search_bits(serving, "title:foo", k=5, schema=schema) == []


def test_phrase_capability_scoped_to_phrase_fields():
    """The positions capability check covers only fields of PHRASE
    leaves: a positions-less secondary field queried by a bare term
    must not block a phrase scoped to a positions-bearing field."""
    from frankensearch_spark.operators.astexec import _phrase_fields
    from frankensearch_spark.query_ast import (
        TEXT,
        ParserSchema,
        QueryField,
        parse_lenient,
    )

    schema = ParserSchema(
        fields=(
            QueryField("content", 1.0, TEXT),
            QueryField("prefixf", 1.0, TEXT),
        ),
        default_names=("content",),
    )
    ast = parse_lenient('prefixf:fo AND "foo bar"', schema).query
    assert _phrase_fields(ast) == ["content"]


@pytest.mark.parametrize("text", PHRASE_QUERIES)
def test_phrase_local_whitelist_beyond_cap(serving, oracle, text, monkeypatch):
    """Mega-term phrase path: when the rare slot's df exceeds
    PHRASE_WL_CAP, the candidate restriction switches from the driver
    collect+broadcast to the bucket-COGROUPED local whitelist (each
    bucket task decodes the rare slot's docids itself; buckets without
    the rare slot emit nothing).  Forcing the cap to 0 routes EVERY
    phrase through that path — bits must stay oracle-identical."""
    import numpy as np

    from frankensearch_spark.operators import serving_exec as se

    monkeypatch.setattr(se, "PHRASE_WL_CAP", 0)
    ast = parse_lenient(text, ENGINE_SCHEMA).query
    exp = [
        (d, int(np.float32(s).view(np.uint32)))
        for d, s in oracle.search_ast(ast, 10)
    ]
    got = serving_search_bits(serving, text, k=10)
    assert got == exp, text


def test_interval_mask_prunes_and_is_bit_transparent(serving, monkeypatch):
    """Round-4 block-interval pruning: blocks whose docid interval
    misses the rare-slot whitelist are dropped BEFORE decode.  Two
    pins: (1) the mask semantics — only blocks covering whitelisted
    docids survive, chunk-split groups only widen intervals; (2) the
    end-to-end phrase bits are identical with the mask disabled."""
    import numpy as np
    import pandas as pd

    from frankensearch_spark.operators import serving_exec as se

    # (1) semantics on a hand-built block frame: bucket 0 (shift 4 ->
    # docids 0..15), term 'x' blocks at first_doc 0, 6, 12
    pdf = pd.DataFrame(
        {
            "term": ["x", "x", "x"],
            "bucket": [0, 0, 0],
            "first_doc": [0, 6, 12],
        }
    )
    # wl hits only the middle block's interval [6, 11]
    keep = se._interval_keep_mask(pdf, np.array([7], dtype=np.int64), 4)
    assert keep.tolist() == [False, True, False]
    # boundary doc: 12 belongs to the LAST block [12, 15]
    keep = se._interval_keep_mask(pdf, np.array([12], dtype=np.int64), 4)
    assert keep.tolist() == [False, False, True]
    # empty whitelist prunes everything
    keep = se._interval_keep_mask(pdf, np.array([], dtype=np.int64), 4)
    assert keep.tolist() == [False, False, False]
    # a second bucket's group is independent (bucket 1 -> [16, 31])
    pdf2 = pd.DataFrame(
        {
            "term": ["x", "x"],
            "bucket": [0, 1],
            "first_doc": [0, 16],
        }
    )
    keep = se._interval_keep_mask(pdf2, np.array([20], dtype=np.int64), 4)
    assert keep.tolist() == [False, True]

    # (2) end-to-end bit-transparency on the real phrase queries
    texts = [q for q in PHRASE_QUERIES]
    want = [serving_search_bits(serving, q, k=10) for q in texts]
    real_mask = se._interval_keep_mask
    monkeypatch.setattr(
        se,
        "_interval_keep_mask",
        lambda pdf, wl, shift: np.ones(len(pdf), dtype=bool),
    )
    got_unpruned = [serving_search_bits(serving, q, k=10) for q in texts]
    monkeypatch.setattr(se, "_interval_keep_mask", real_mask)
    assert want == got_unpruned
