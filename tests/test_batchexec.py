"""Batched execution ≡ single-query execution, bit-exact.

One Spark job answers a whole batch of queries (operators/batchexec.py);
these tests pin that every query's batched top-k equals its single-query
top-k BIT FOR BIT — over an in-session serving index (vs search_ast_bits),
over a durable loaded engine (vs search_docids), across the full frozen
query set (boolean/phrase/glob/identifier/natural/miss shapes), with
mixed hit/miss/empty batch members and a non-default k.
"""

import numpy as np
import pytest

from frankensearch_spark.corpus import FROZEN_QUERIES
from frankensearch_spark.engine import FrankensearchSpark
from frankensearch_spark.operators.astexec import search_ast_bits
from frankensearch_spark.operators.batchexec import search_batch_collect
from frankensearch_spark.operators.build import build_index
from frankensearch_spark.operators.wand import serving_from_built
from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df

N_DOCS = 300


def _bits(hits):
    return [(d, int(np.float32(s).view(np.uint32))) for d, s in hits]


@pytest.fixture(scope="module")
def built(spark):
    corpus = synthetic_corpus_df(spark, N_DOCS, partitions=4)
    return serving_from_built(
        build_index(corpus, CORPUS_KEY, docid_mode="global")
    )


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    corpus = synthetic_corpus_df(spark, N_DOCS, partitions=4)
    eng = FrankensearchSpark.build(corpus, CORPUS_KEY)
    path = str(tmp_path_factory.mktemp("batch_idx") / "idx")
    eng.save(path)
    return FrankensearchSpark.load(spark, path)


def test_batch_equals_single_on_built_frozen_set(built):
    texts = [FROZEN_QUERIES[qid] for qid in sorted(FROZEN_QUERIES)]
    batched = search_batch_collect(built, texts, k=10)
    assert len(batched) == len(texts)
    for text, hits in zip(texts, batched):
        assert _bits(hits) == search_ast_bits(built, text, k=10), text


def test_batch_equals_single_on_loaded_serving_engine(loaded):
    texts = [
        "fn",
        "term00001 AND term00002",
        '"term00001 term00002"',
        "+term00001 -term00002 term00003",
        "term00042 term00100 term00500",
        "missingkeywordalpha",
    ]
    batched = loaded.search_batch(texts, limit=10)
    for text, hits in zip(texts, batched):
        single = loaded.search_docids(text, limit=10)
        assert _bits(hits) == _bits(single), text
    assert batched[texts.index("missingkeywordalpha")] == []


def test_batch_mixed_empty_and_k_cut(built):
    texts = ["fn", "", "zzznohit", "term00001 OR term00002"]
    batched = search_batch_collect(built, texts, k=3)
    assert batched[1] == [] and batched[2] == []
    for i in (0, 3):
        assert _bits(batched[i]) == search_ast_bits(built, texts[i], k=3)
        assert len(batched[i]) == 3


def test_batch_all_repair_metadata_and_ranges(built):
    """The risky batch paths: an all-negative query (All-node repair →
    full docmeta join), keyword-metadata leaves, a numeric doclen range,
    and a boost — mixed in ONE batch with plain term queries, each
    bit-equal to its single-query execution."""
    texts = [
        "-term00001",                      # all-negative → All repair
        "lang:py term00001",               # keyword metadata + term
        "doclen:[40 TO 120] term00002",    # numeric fast-column range
        "term00003^2 term00001",           # boost
        "fn",                              # plain control
    ]
    batched = search_batch_collect(built, texts, k=10)
    for text, hits in zip(texts, batched):
        assert _bits(hits) == search_ast_bits(built, text, k=10), text


def test_batch_multifield_reference_fixture(spark):
    """Batch ≡ single over a content^1 + title^2 multi-field index (the
    reference's default surface): per-field pivots, field-scoped leaves,
    globs, phrases and the all-negative repair all in one batch."""
    import json

    from frankensearch_spark.operators.build import build_multifield_index
    from frankensearch_spark.query_ast import REFERENCE_SCHEMA

    with open("/root/reference/tests/fixtures/corpus.json") as fh:
        docs = json.load(fh)["documents"]
    rows = [
        (i, d.get("title", ""), d.get("content", ""))
        for i, d in enumerate(sorted(docs, key=lambda d: d["doc_id"]))
    ]
    corpus = spark.createDataFrame(
        rows, "docid long, title string, content string"
    )
    idx = serving_from_built(build_multifield_index(
        corpus, ["docid"], {"content": "content", "title": "title"}
    ))
    texts = [
        "rust ownership borrowing",
        "title:ownership^3 rust",
        '"error handling"',
        "owner*",
        "-rust",
    ]
    batched = search_batch_collect(idx, texts, k=10, schema=REFERENCE_SCHEMA)
    for text, hits in zip(texts, batched):
        assert _bits(hits) == search_ast_bits(
            idx, text, k=10, schema=REFERENCE_SCHEMA
        ), text


def test_batch_respects_tombstones(loaded):
    """Batch over a deleted-docs engine: the shared base's tombstone
    anti-join must drop exactly the docs every single-query plan drops."""
    before = loaded.search_docids("fn", limit=3)
    assert before
    dead = [d for d, _ in before[:2]]
    eng = loaded.delete_documents(dead)
    texts = ["fn", "term00001 AND term00002", "-term00001"]
    batched = eng.search_batch(texts, limit=10)
    for text, hits in zip(texts, batched):
        assert _bits(hits) == _bits(eng.search_docids(text, limit=10)), text
    assert not any(d in dead for d, _ in batched[0])


def test_engine_batch_uses_and_fills_query_cache(loaded):
    loaded._query_cache.clear()
    texts = ["fn", "import"]
    first = loaded.search_batch(texts, limit=5)
    assert ("fn", 5, 0) in loaded._query_cache
    # second call must be answered purely from the cache (no job): poison
    # the index reference to prove nothing recomputes
    again = loaded.search_batch(texts, limit=5)
    assert [_bits(h) for h in again] == [_bits(h) for h in first]


def test_batch_chunked_pivot_parity(built):
    """pivot_cap guard (round 4): forcing tiny chunks (cap=4) must split
    the pivot lane into several independent plans and still equal both
    the unchunked batch and single-query execution bit-for-bit."""
    from frankensearch_spark.operators.batchexec import (
        _chunk_by_union_terms,
        _prepare,
        topk_ast_batch,
    )
    from frankensearch_spark.query_ast import ENGINE_SCHEMA

    texts = [
        "term00001 AND term00002",
        "term00003 term00004 term00005",
        "term00006 OR term00007",
        "+term00008 -term00009 term00010",
        "term00011 term00012",
    ]
    _f, _p, specs = _prepare(built, texts, ENGINE_SCHEMA)
    chunks = _chunk_by_union_terms(specs, 4)
    assert len(chunks) >= 2  # the cap actually split this batch
    rows = topk_ast_batch(built, texts, k=10, pivot_cap=4).collect()
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["qid"], []).append(
            (int(r["docid"]), np.float32(r["score"]))
        )
    for qid, text in enumerate(texts):
        hits = sorted(
            got.get(qid, []), key=lambda h: (-float(h[1]), h[0])
        )
        assert _bits(hits) == search_ast_bits(built, text, k=10), text


def test_stream_lane_split_routing(loaded):
    """Round-4 lane split: single scored-clause queries over a
    tombstone-free serving index go to the stream lane (no pivot, no
    bucket exchange); every other shape stays in the pivot lane; a
    tombstoned index disables the stream lane entirely."""
    from frankensearch_spark.operators.wand import _wand_fields
    from frankensearch_spark.operators.batchexec import (
        _prepare,
        _stream_lane_split,
    )
    from frankensearch_spark.query_ast import ENGINE_SCHEMA

    texts = [
        "fn",                    # single term -> stream
        "term00001^2",           # boosted single term -> stream
        "+term00002",            # single Must term -> stream
        "fn import",             # two clauses -> pivot
        "-term00001 fn",         # MustNot -> pivot
        '"term00001 term00002"', # phrase -> pivot
        "lang:py fn",            # metadata -> pivot
        "missingkeywordalpha",   # absent term -> neither (empty result)
    ]
    idx = loaded.index
    fidx, primary = _wand_fields(idx)
    _f, _p, specs = _prepare(idx, texts, ENGINE_SCHEMA)
    doc_count, _tt = primary.stats()
    stream, rest = _stream_lane_split(idx, fidx, primary, specs, doc_count)
    assert sorted(q for q, *_ in stream) == [0, 1, 2]
    assert sorted(s.qid for s in rest) == [3, 4, 5, 6]

    dead = loaded.delete_documents([0])
    fidx2, primary2 = _wand_fields(dead.index)
    _f2, _p2, specs2 = _prepare(dead.index, texts, ENGINE_SCHEMA)
    stream2, rest2 = _stream_lane_split(
        dead.index, fidx2, primary2, specs2, doc_count
    )
    assert stream2 == [] and len(rest2) == len(specs2)


def test_batch_stream_lane_bit_parity_with_offset_fetch(loaded):
    """The stream lane's deeper-than-k fetch (engine.search_batch with
    offset) must slice exactly like search_docids' offset handling."""
    loaded._query_cache.clear()
    texts = ["fn", "term00042"]
    got = loaded.search_batch(texts, limit=5, offset=3)
    for text, hits in zip(texts, got):
        want = loaded.search_docids(text, limit=5, offset=3)
        assert _bits(hits) == _bits(want), text


def test_bucket_lane_split_routing(loaded):
    """Round-4 bucket lane: text-only multi-clause queries over a
    serving index leave the pivot lane for the bucket-kernel lane;
    All-repair and metadata shapes stay in the pivot lane."""
    from frankensearch_spark.operators.wand import _wand_fields
    from frankensearch_spark.operators.batchexec import (
        _bucket_lane_split,
        _prepare,
        _stream_lane_split,
    )
    from frankensearch_spark.query_ast import ENGINE_SCHEMA

    texts = [
        "fn import",              # two clauses -> bucket
        "-term00001 fn",          # MustNot -> bucket (kernel handles)
        '"term00001 term00002"',  # phrase -> bucket (pos sidecar decode)
        "lang:py fn",             # metadata -> pivot
        "-term00001",             # All repair -> pivot
    ]
    idx = loaded.index
    fidx, primary = _wand_fields(idx)
    _f, _p, specs = _prepare(idx, texts, ENGINE_SCHEMA)
    doc_count, _tt = primary.stats()
    _stream, rest = _stream_lane_split(idx, fidx, primary, specs, doc_count)
    bucket, pivot = _bucket_lane_split(fidx, rest)
    assert sorted(s.qid for s in bucket) == [0, 1, 2]
    assert sorted(s.qid for s in pivot) == [3, 4]


def test_bucket_lane_bit_parity_all_shapes(loaded):
    """Every bucket-lane shape in ONE batch — boolean, Must/MustNot,
    phrase, boost, deep-k — bit-equal to single-query serving, and a
    tombstoned engine (bucket lane cogroups tombstones) stays equal."""
    texts = [
        "term00001 term00002 term00003",
        "+term00001 -term00002 term00003",
        '"term00001 term00002"',
        "term00003^2 term00001",
        "fn import",
    ]
    batched = loaded.search_batch(texts, limit=25)
    for text, hits in zip(texts, batched):
        want = loaded.search_docids(text, limit=25)
        assert _bits(hits) == _bits(want), text

    dead_ids = [d for d, _ in loaded.search_docids("fn import", limit=4)]
    eng = loaded.delete_documents(dead_ids)
    batched2 = eng.search_batch(texts, limit=25)
    for text, hits in zip(texts, batched2):
        want = eng.search_docids(text, limit=25)
        assert _bits(hits) == _bits(want), text
        assert not any(d in dead_ids for d, _ in hits)


def test_phrase_check_scoped_to_phrase_fields(spark):
    """The positions capability check applies ONLY to fields that
    phrase leaves actually touch (query.rs:699-752 checks per-field
    capability): a positions-less field queried by plain terms must not
    reject a mixed query — and in a batch, one false rejection would
    abort the whole batch.  A phrase ON the positions-less field still
    raises, on both the single-query and batch paths."""
    from frankensearch_spark.operators.build import MultiFieldIndex
    from frankensearch_spark.query_ast import (
        REFERENCE_SCHEMA,
        parse_lenient,
    )

    rows = [
        (i, f"alpha beta doc{i:03d} gamma", "zeta common shared")
        for i in range(80)
    ]
    corpus = spark.createDataFrame(
        rows, "docid long, content string, title string"
    )
    content = build_index(
        corpus, ["docid"], content_col="content", cache=False
    )
    title = build_index(
        corpus, ["docid"], content_col="title",
        with_positions=False, cache=False,
    )
    mf = serving_from_built(MultiFieldIndex(
        {"content": content, "title": title},
        "content",
        field_cols={"content": "content", "title": "title"},
    ))

    mixed = parse_lenient(
        'content:"alpha beta" title:zeta', REFERENCE_SCHEMA
    ).query
    single = search_ast_bits(mf, mixed, k=10, schema=REFERENCE_SCHEMA)
    assert single, "mixed query must match (phrase field HAS positions)"
    batch = search_batch_collect(mf, [mixed], k=10, schema=REFERENCE_SCHEMA)
    # search_ast_bits already returns (docid, uint32 bits)
    assert _bits(batch[0]) == [(d, int(b)) for d, b in single]

    bad = parse_lenient('title:"zeta common"', REFERENCE_SCHEMA).query
    with pytest.raises(ValueError, match="positions"):
        search_ast_bits(mf, bad, k=10, schema=REFERENCE_SCHEMA)
    with pytest.raises(ValueError, match="positions"):
        search_batch_collect(mf, [bad], k=10, schema=REFERENCE_SCHEMA)


def test_batch_accepts_generator_queries(spark):
    """search_batch_collect must materialize a non-list iterable before
    the plan consumes it — a generator previously produced an empty
    result list and IndexError on the first collected row."""
    corpus = synthetic_corpus_df(spark, 120, partitions=2)
    built = serving_from_built(build_index(corpus, CORPUS_KEY, cache=False))
    texts = ["fn", "fn import"]
    got = search_batch_collect(built, (t for t in texts), k=5)
    assert len(got) == 2
    for t, hits in zip(texts, got):
        assert _bits(hits) == _bits(
            search_batch_collect(built, [t], k=5)[0]
        ), t


# point shapes served by the bucket lane's driver-local twin
BUCKET_POINT_SHAPES = [
    '"term00001 term00002"',         # root phrase
    '"generated record" fn',         # phrase mixed with a plain term
    "(fn OR import) AND term00003",  # nested boolean
    "snake_case_identifier",         # split identifier -> phrase
]


def _lane_parity(index, texts, monkeypatch, schema=None):
    """Each text through the local twin and through the forced-
    distributed route (cap -1): bit-equal, and the twin really ran."""
    import frankensearch_spark.operators.wand as W
    from frankensearch_spark.operators.batchexec import bucket_lane_local
    from frankensearch_spark.operators.serving_exec import (
        serving_search_bits,
    )
    from frankensearch_spark.query_ast import ENGINE_SCHEMA

    schema = schema or ENGINE_SCHEMA
    for text in texts:
        local = bucket_lane_local(index, text, 25, schema)
        assert local, text
        assert serving_search_bits(index, text, 25, schema) == _bits(local)
        monkeypatch.setattr(W, "LOCAL_LANE_MAX_POSTINGS", -1)
        assert bucket_lane_local(index, text, 25, schema) is None
        dist = serving_search_bits(index, text, 25, schema)
        monkeypatch.setattr(W, "LOCAL_LANE_MAX_POSTINGS", 1_000_000)
        assert _bits(local) == dist, text


def test_bucket_lane_local_twin_matches_distributed(loaded, monkeypatch):
    _lane_parity(loaded.index, BUCKET_POINT_SHAPES, monkeypatch)


def test_bucket_lane_local_twin_multifield_phrase(spark, tmp_path,
                                                  monkeypatch):
    """A phrase over a loaded ServingMultiIndex (content + title^2)
    takes the local twin and stays bit-equal to the distributed lane."""
    from pyspark.sql import functions as F

    from frankensearch_spark.operators.wand import ServingMultiIndex
    from frankensearch_spark.query_ast import REFERENCE_SCHEMA

    corpus = synthetic_corpus_df(spark, 80, partitions=2).withColumn(
        "title", F.substring_index("content", " ", 4)
    )
    eng = FrankensearchSpark.build_multifield(
        corpus, CORPUS_KEY, {"content": "content", "title": "title"},
    )
    p = str(tmp_path / "mf")
    eng.save(p)
    ld = FrankensearchSpark.load(spark, p)
    assert isinstance(ld.index, ServingMultiIndex)
    _lane_parity(
        ld.index,
        ['"term00000 term00001"', 'title:"term00000 term00002" fn'],
        monkeypatch,
        REFERENCE_SCHEMA,
    )


def test_bucket_lane_local_twin_spills_and_applies_tombstones(
        spark, loaded, monkeypatch):
    """With every lane slot held the twin declines and the query runs
    the distributed lane, bit-equal.  On a tombstoned engine and on a
    post-upsert engine the local lane applies the preloaded tombstone
    set in-process: both the bucket-lane twin and wand_topk's lane stay
    bit-equal to the distributed cogroup route."""
    import dataclasses

    import frankensearch_spark.operators.wand as W
    from frankensearch_spark.operators.batchexec import bucket_lane_local
    from frankensearch_spark.operators.serving_exec import (
        serving_search_bits,
    )

    text = BUCKET_POINT_SHAPES[0]
    base = serving_search_bits(loaded.index, text, 25)
    taken = 0
    try:
        while W._local_lane_slots.acquire(blocking=False):
            taken += 1
        assert taken == W.LOCAL_LANE_MAX_INFLIGHT
        assert bucket_lane_local(loaded.index, text, 25) is None
        spilled = serving_search_bits(loaded.index, text, 25)
    finally:
        for _ in range(taken):
            W._local_lane_slots.release()
    assert spilled == base

    dead = [d for d, _ in base[:2]]
    tomb = loaded.delete_documents(dead).index
    # tombstones leave df/N (and so every score) untouched
    want = [h for h in base if h[0] not in dead]
    assert serving_search_bits(tomb, text, 25)[: len(want)] == want

    keys = loaded.index.docmeta.select(*CORPUS_KEY).limit(4).collect()
    batch = spark.createDataFrame(
        [
            (r["repo"], r["path"], r["commit"], "rust",
             '"generated record" fn term00003 snake_case_identifier')
            for r in keys
        ],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    upserted = FrankensearchSpark(
        dataclasses.replace(loaded.index), loaded.key_cols,
        schema=loaded.schema,
    ).upsert(batch).index

    ran = []
    lane = W.local_lane_topk

    def spy(*a, **k):
        out = lane(*a, **k)
        ran.append(out is not None)
        return out

    monkeypatch.setattr(W, "local_lane_topk", spy)
    wand_shapes = ["fn", "fn import term00005",
                   "+term00001 -term00002 term00003"]
    for index in (tomb, upserted):
        assert len(W.lane_tombstones(index)) > 0
        _lane_parity(index, BUCKET_POINT_SHAPES, monkeypatch)
        for q in wand_shapes:
            ran.clear()
            local = serving_search_bits(index, q, 25)
            assert ran == [True], q
            monkeypatch.setattr(W, "LOCAL_LANE_MAX_POSTINGS", -1)
            dist = serving_search_bits(index, q, 25)
            monkeypatch.setattr(W, "LOCAL_LANE_MAX_POSTINGS", 1_000_000)
            assert local and local == dist, q
