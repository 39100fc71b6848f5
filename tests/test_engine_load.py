"""FrankensearchSpark.load: the full read surface over a reopened durable
index (traits.rs LexicalRead over a committed snapshot), plus tombstone
durability through delete -> save -> load (keeper.rs:929)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from frankensearch_spark.engine import FrankensearchSpark
from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df

N_DOCS = 120

QUERIES = [
    "fn import",
    "fn AND error",
    '"term00001 term00002"',
    "term0000*",
]


@pytest.fixture(scope="module")
def built(spark):
    corpus = synthetic_corpus_df(spark, N_DOCS, partitions=3)
    return FrankensearchSpark.build(corpus, CORPUS_KEY)


@pytest.fixture(scope="module")
def loaded(spark, built, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("engload") / "idx")
    built.save(path)
    return FrankensearchSpark.load(spark, path)


def _bits(hits):
    return [(int(d), int(np.float32(s).view(np.uint32))) for d, s in hits]


def test_key_cols_round_trip(loaded):
    assert loaded.key_cols == CORPUS_KEY


def test_loaded_search_docids_bit_equal(built, loaded):
    for q in QUERIES:
        assert _bits(loaded.search_docids(q, limit=10)) == _bits(
            built.search_docids(q, limit=10)
        ), q


def test_loaded_search_external_ids(built, loaded):
    got = loaded.search("fn import", limit=5)
    want = built.search("fn import", limit=5)
    assert [e for e, _ in got] == [e for e, _ in want]
    assert [int(np.float32(s).view(np.uint32)) for _, s in got] == [
        int(np.float32(s).view(np.uint32)) for _, s in want
    ]


def test_loaded_offset(built, loaded):
    full = loaded.search_docids("fn import", limit=6)
    tail = loaded.search_docids("fn import", limit=3, offset=3)
    assert _bits(tail) == _bits(full[3:6])


def test_loaded_count(built, loaded):
    assert loaded.count("fn") == built.count("fn")
    assert loaded.count("nosuchtermzzz") == 0


def test_loaded_warm_bits_stable(loaded):
    cold = _bits(loaded.search_docids("fn error import", limit=10))
    loaded._query_cache.clear()
    warm = _bits(loaded.warm().search_docids("fn error import", limit=10))
    assert warm == cold


def test_loaded_self_warms_on_first_search(spark, built, loaded,
                                           tmp_path_factory):
    """QG-9 cold-open analogue: a freshly loaded serving engine
    self-warms on its FIRST search (one bounded preload) instead of
    paying per-query planning collects forever — and the self-warmed
    bits equal an explicitly warm()'d engine's and the builder's."""
    path = str(tmp_path_factory.mktemp("engselfwarm") / "idx")
    built.save(path)
    fresh = FrankensearchSpark.load(spark, path)
    sub = fresh.index
    assert getattr(sub, "_term_df_cache", None) is None
    got = _bits(fresh.search_docids("fn error import", limit=10))
    # the first search populated the planning caches
    assert sub._term_df_cache is not None
    assert sub._bucket_cov is not None
    assert got == _bits(built.search_docids("fn error import", limit=10))
    # in-session build() engines self-warm the same way
    assert built.index._term_df_cache is not None
    assert built.index._idmap is not None


def test_delete_save_load_round_trip(spark, loaded, tmp_path_factory):
    """ADVICE: delete -> save -> load must NOT resurrect deleted docs."""
    base = loaded.search_docids("fn import", limit=3)
    victim = int(base[0][0])
    after = loaded.delete_documents([victim])
    assert victim not in {d for d, _ in after.search_docids("fn import", limit=3)}
    path2 = str(tmp_path_factory.mktemp("engload2") / "idx")
    after.save(path2)
    reopened = FrankensearchSpark.load(spark, path2)
    assert reopened.key_cols == CORPUS_KEY
    got = reopened.search_docids("fn import", limit=3)
    assert victim not in {d for d, _ in got}
    assert _bits(got) == _bits(after.search_docids("fn import", limit=3))


def test_loaded_snippets_with_corpus(spark, built, loaded):
    """A loaded engine regains snippets once the source corpus is
    re-attached (the index stores postings, not raw content)."""
    corpus = synthetic_corpus_df(spark, N_DOCS, partitions=3)
    got = loaded.with_corpus(corpus).search_with_snippets(
        "snake_case_identifier", limit=3
    )
    want = built.search_with_snippets("snake_case_identifier", limit=3)
    assert [(e, s) for e, _sc, s in got] == [(e, s) for e, _sc, s in want]
    assert all(s is not None and "<b>" in s for _e, _sc, s in got)


def test_multifield_snippets(spark):
    corpus = synthetic_corpus_df(spark, 50, partitions=2).withColumn(
        "title", F.col("path")
    )
    eng = FrankensearchSpark.build_multifield(
        corpus, CORPUS_KEY, {"content": "content", "title": "title"},
    )
    out = eng.search_with_snippets("snake_case_identifier", limit=3)
    assert out and all(s and "<b>" in s for _e, _sc, s in out)


def test_loaded_upsert_parity(spark, built, loaded):
    """upsert on a loaded engine is bit-identical to upsert on the
    original build() engine."""
    keys = built.index.docmeta.select(*CORPUS_KEY).limit(3).collect()
    batch = spark.createDataFrame(
        [
            (r["repo"], r["path"], r["commit"], "rust",
             "loadupsert_sentinel fn import")
            for r in keys
        ],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    a = built.upsert(batch)
    b = loaded.upsert(batch)
    for q in ("loadupsert_sentinel", "fn import", '"term00001 term00002"'):
        assert _bits(b.search_docids(q, limit=10)) == _bits(
            a.search_docids(q, limit=10)
        ), q
    assert len(b.search_docids("loadupsert_sentinel", limit=10)) == 3


def test_loaded_compact_parity(spark, built, loaded):
    victims = [int(d) for d, _ in built.search_docids("fn import", limit=2)]
    a = built.delete_documents(victims).compact()
    b = loaded.delete_documents(victims).compact()
    assert b.index.tombstones is None
    for q in QUERIES:
        assert _bits(b.search_docids(q, limit=10)) == _bits(
            a.search_docids(q, limit=10)
        ), q


def test_loaded_compact_noop_without_tombstones(loaded):
    assert loaded.compact() is loaded


def test_save_refuses_committed_target(spark, built, loaded, tmp_path):
    """Snapshots are immutable: re-saving onto a committed path raises
    instead of silently no-oping (built) or deleting the very files the
    loaded blocks DataFrame lazily reads (loaded)."""
    p = str(tmp_path / "immutable")
    built.save(p)
    with pytest.raises(FileExistsError):
        built.delete_documents([1]).save(p)
    with pytest.raises(FileExistsError):
        loaded.delete_documents([1]).save(p)
    # and the committed index is untouched
    assert FrankensearchSpark.load(spark, p).search_docids("fn", limit=3)


def test_delete_preserves_warm_state(loaded):
    warm = loaded.warm()
    after = warm.delete_documents([0])
    assert after.index._term_df_cache is not None
    assert after.index._bucket_cov is not None


def test_multifield_loaded_upsert(spark, tmp_path):
    """field_cols persists in the root manifest, so a LOADED multifield
    engine can upsert — parity with the builder-path upsert."""
    corpus = synthetic_corpus_df(spark, 40, partitions=2).withColumn(
        "title", F.col("path")
    )
    eng = FrankensearchSpark.build_multifield(
        corpus, CORPUS_KEY, {"content": "content", "title": "title"},
    )
    p = str(tmp_path / "mfup")
    eng.save(p)
    ld = FrankensearchSpark.load(spark, p)
    keys = eng.index.docmeta.select(*CORPUS_KEY).limit(2).collect()
    batch = spark.createDataFrame(
        [
            (r["repo"], r["path"], r["commit"], "rust",
             "mfup_sentinel fn import", "mfup_title")
            for r in keys
        ],
        "repo string, path string, commit string, lang string, "
        "content string, title string",
    )
    a = eng.upsert(batch)
    b = ld.upsert(batch)
    for q in ("mfup_sentinel", "fn import"):
        assert _bits(b.search_docids(q, limit=10)) == _bits(
            a.search_docids(q, limit=10)
        ), q


def test_multifield_load_round_trip(spark, tmp_path_factory):
    corpus = synthetic_corpus_df(spark, 60, partitions=2).withColumn(
        "title", F.col("path")
    )
    eng = FrankensearchSpark.build_multifield(
        corpus, CORPUS_KEY, {"content": "content", "title": "title"},
    )
    path = str(tmp_path_factory.mktemp("engloadmf") / "idx")
    eng.save(path)
    got = FrankensearchSpark.load(spark, path)
    assert got.key_cols == CORPUS_KEY
    for q in ("fn import", "fn AND error"):
        assert _bits(got.search_docids(q, limit=10)) == _bits(
            eng.search_docids(q, limit=10)
        ), q
    # delete -> save -> load on the multifield serving form
    base = got.search_docids("fn import", limit=3)
    victim = int(base[0][0])
    after = got.delete_documents([victim])
    path2 = str(tmp_path_factory.mktemp("engloadmf2") / "idx")
    after.save(path2)
    reopened = FrankensearchSpark.load(spark, path2)
    assert victim not in {
        d for d, _ in reopened.search_docids("fn import", limit=3)
    }


def test_schema_round_trips_through_save_load(spark, tmp_path):
    """A custom parser schema (extra field boost) must survive
    save/load — otherwise the reopened engine silently re-ranks."""
    from frankensearch_spark.engine import FrankensearchSpark
    from frankensearch_spark.query_ast import (
        KEYWORD,
        TEXT,
        ParserSchema,
        QueryField,
    )

    schema = ParserSchema(
        fields=(
            QueryField("content", 1.5, TEXT),
            QueryField("lang", 1.0, KEYWORD),
        ),
        default_names=("content",),
    )
    eng = FrankensearchSpark.build(
        synthetic_corpus_df(spark, 60, partitions=2), CORPUS_KEY
    )
    eng.schema = schema
    p = str(tmp_path / "idx")
    eng.save(p)
    ld = FrankensearchSpark.load(spark, p)
    assert ld.schema == schema
    assert ld.search_docids("fn import", limit=5) == eng.search_docids(
        "fn import", limit=5
    )


def test_resume_refuses_mismatched_docid_assignment(spark, tmp_path):
    """A crash-resume whose recomputed corpus yields a DIFFERENT docid
    assignment must refuse to continue (mixing two assignments in one
    index is silent corruption)."""
    import pytest

    from frankensearch_spark.operators.build import build_index
    from frankensearch_spark.operators.wand import serving_from_built
    from frankensearch_spark.plans.manifest import load_manifest, write_index

    corpus = synthetic_corpus_df(spark, 80, partitions=2)
    built = serving_from_built(
        build_index(corpus, CORPUS_KEY, docid_mode="global")
    )
    p = str(tmp_path / "idx")
    write_index(built, p, n_groups=2)
    # simulate the crash: committed groups present, completion cleared
    m = load_manifest(p)
    m.completed = False
    m.tables = {}
    from frankensearch_spark.plans.manifest import _publish

    _publish(p, m)
    os.remove(os.path.join(p, "_COMMITTED"))
    # resume with the SAME assignment works (idempotent skip)
    write_index(built, p, n_groups=2)
    # different assignment (one doc dropped) must refuse
    m = load_manifest(p)
    m.completed = False
    m.tables = {}
    _publish(p, m)
    os.remove(os.path.join(p, "_COMMITTED"))
    other = serving_from_built(
        build_index(corpus.limit(70), CORPUS_KEY, docid_mode="global")
    )
    with pytest.raises(ValueError, match="fingerprint mismatch"):
        write_index(other, p, n_groups=2)


def test_loaded_hybrid_one_job_parity(spark, built, loaded):
    """search_hybrid on a LOADED engine collects the lexical tier
    through search_docids (the serving router) — its fused output must
    equal the built engine's (whose lexical tier collects through
    astexec), for
    both fusion strategies and for the single-clause fast-path shape
    ('fn') AND a multi-term shape ('fn import')."""
    sem = spark.range(0, 40).select(
        F.col("id").cast("long").alias("docid"),
        (F.lit(1.0) / (F.col("id") + F.lit(1.0))).alias("sem_score"),
    )
    for q in ("fn", "fn import"):
        for strat in ("rrf", "minmax"):
            built._query_cache.clear()
            loaded._query_cache.clear()
            got = loaded.search_hybrid(q, sem, limit=10, depth=15,
                                       strategy=strat)
            want = built.search_hybrid(q, sem, limit=10, depth=15,
                                       strategy=strat)
            assert got == want, (q, strat)


def test_loaded_hybrid_uses_snapshot_cache(spark, loaded):
    """A cached (query, depth) lexical result short-circuits the plan
    path; fused output must be identical either way."""
    sem = spark.range(0, 40).select(
        F.col("id").cast("long").alias("docid"),
        (F.lit(1.0) / (F.col("id") + F.lit(1.0))).alias("sem_score"),
    )
    loaded._query_cache.clear()
    cold = loaded.search_hybrid("fn import", sem, limit=10, depth=15)
    loaded.search_docids("fn import", 15)  # populate the snapshot cache
    warm = loaded.search_hybrid("fn import", sem, limit=10, depth=15)
    assert cold == warm


def _docmeta_ids(eng, hits):
    """External ids of ``hits`` by the docmeta filter (the lookup a
    search without a preloaded id map runs)."""
    ids = [int(d) for d, _ in hits]
    rows = (
        eng.index.docmeta.filter(F.col("docid").isin(ids))
        .select("docid", *eng.key_cols)
        .collect()
    )
    ext = {
        int(r["docid"]): "/".join(str(r[c]) for c in eng.key_cols)
        for r in rows
    }
    return [ext[d] for d in ids]


def test_preloaded_idmap_matches_docmeta(spark, loaded):
    """warm() preloads docid -> external id; search() answers from it
    with the docmeta filter's exact ids — after a tombstone delete (the
    map is a declared field, so dataclasses.replace carries it) and
    after with_corpus (same snapshot, same map)."""
    eng = loaded.warm()
    idm = eng.index._idmap
    assert idm is not None and idm.complete
    assert idm.key_cols == tuple(CORPUS_KEY)
    q = "fn import"
    hits = eng.search_docids(q, limit=10)
    assert [e for e, _ in eng.search(q, limit=10)] == _docmeta_ids(eng, hits)

    after = eng.delete_documents([hits[0][0]])
    assert after.index._idmap is idm
    got = after.search(q, limit=10)
    assert [e for e, _ in got] == _docmeta_ids(
        after, after.search_docids(q, limit=10)
    )
    assert _docmeta_ids(eng, hits[:1])[0] not in {e for e, _ in got}

    attached = eng.with_corpus(synthetic_corpus_df(spark, N_DOCS, 3))
    assert attached.index._idmap is idm
    assert attached.search(q, limit=10) == eng.search(q, limit=10)


def test_idmap_without_key_cols_uses_docids(loaded):
    """key_cols == []: the docid is the external id, as before the id
    map existed; a map preloaded for other key columns is not used."""
    bare = FrankensearchSpark(loaded.index, [], schema=loaded.schema)
    bare.warm()
    hits = bare.search_docids("fn import", limit=5)
    assert [e for e, _ in bare.search("fn import", limit=5)] == [
        str(int(d)) for d, _ in hits
    ]


def test_bounded_idmap_falls_back_for_misses(spark, loaded):
    """Past the row bound the map holds only the lowest docids: hits it
    lacks resolve through ONE filtered docmeta collect, and every id
    still equals the docmeta filter's."""
    import dataclasses

    eng = FrankensearchSpark(
        dataclasses.replace(loaded.index, _idmap=None),
        loaded.key_cols, schema=loaded.schema,
    )
    bound = N_DOCS // 4
    assert eng.index.preload_idmap(eng.key_cols, max_rows=bound) == bound
    eng.warm()  # keeps the bounded map: it is already built for key_cols
    idm = eng.index._idmap
    assert not idm.complete and len(idm.ext) == bound
    q = "fn import"
    hits = eng.search_docids(q, limit=20)
    ids = [int(d) for d, _ in hits]
    assert any(d in idm.ext for d in ids)
    assert any(d not in idm.ext for d in ids)
    sc = spark.sparkContext
    sc.setJobGroup("idmap-miss", "idmap-miss")
    try:
        got = eng.search(q, limit=20)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("idmap-miss")) == 1
    assert [e for e, _ in got] == _docmeta_ids(eng, hits)


def _fresh(loaded):
    """An engine over a copy of the loaded index: warming it leaves the
    module fixture's caches alone."""
    import dataclasses

    return FrankensearchSpark(
        dataclasses.replace(loaded.index), loaded.key_cols,
        schema=loaded.schema,
    )


def _replace_batch(spark, built, sentinel, n=3):
    """New revisions of ``n`` existing documents carrying ``sentinel``."""
    keys = built.index.docmeta.select(*CORPUS_KEY).limit(n).collect()
    return spark.createDataFrame(
        [
            (r["repo"], r["path"], r["commit"], "rust",
             f"{sentinel} fn import")
            for r in keys
        ],
        "repo string, path string, commit string, lang string, "
        "content string",
    )


def _jobs(spark, group, call):
    """(call(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_one_job_per_point_search(spark, eng, shapes, tag):
    for name, q in shapes.items():
        hits, n_ids = _jobs(
            spark, f"{tag}:docids:{name}", lambda: eng.search_docids(q)
        )
        assert hits, name
        assert n_ids == 1, (name, n_ids)
        ext, n_ext = _jobs(
            spark, f"{tag}:search:{name}", lambda: eng.search(q)
        )
        assert len(ext) == len(hits)
        assert n_ext == 0, (name, n_ext)


def test_loaded_upsert_never_decodes_the_store(spark, built, loaded,
                                               monkeypatch):
    """An upsert on a warmed loaded engine blockifies only the new rows:
    the block store is never decoded, and the engine it returns stays
    in serving form."""
    import frankensearch_spark.operators.serving_exec as SE
    from frankensearch_spark.operators.wand import ServingIndex

    eng = _fresh(loaded).warm()

    def no_decode(*_a, **_k):
        raise AssertionError("upsert decoded the block store")

    monkeypatch.setattr(SE, "blocks_to_postings", no_decode)
    up = eng.upsert(_replace_batch(spark, built, "nodecode_sentinel"))
    assert isinstance(up.index, ServingIndex)
    assert len(up.search_docids("nodecode_sentinel", limit=10)) == 3


def test_loaded_upsert_delta_fills_one_bucket(spark, loaded):
    """A 250-doc upsert on a loaded engine leases ONE docid bucket: the
    delta's docids, docmeta rows and block rows all sit in the bucket
    that starts at ``lease_offset`` above the high-watermark."""
    from frankensearch_spark.operators.lifecycle import lease_offset

    eng = _fresh(loaded)
    shift = eng.index.bucket_shift
    start = lease_offset(eng.index.high_watermark(), shift)
    batch = spark.createDataFrame(
        [
            ("delta", f"src/d{i:04d}.rs", "c1", "rust",
             f"onebucket_sentinel fn import term{i:05d}")
            for i in range(250)
        ],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    up = eng.upsert(batch)
    ids = sorted(
        r["docid"] for r in up.index.docmeta.filter(F.col("docid") >= start)
        .select("docid").collect()
    )
    assert ids == list(range(start, start + 250))
    new_buckets = (
        up.index.blocks.filter(F.col("bucket") >= start >> shift)
        .select("bucket").distinct().collect()
    )
    assert [r["bucket"] for r in new_buckets] == [start >> shift]
    assert sorted(
        d for d, _ in up.search_docids("onebucket_sentinel", limit=300)
    ) == ids


def test_upserted_loaded_engine_is_warm_and_one_job(spark, built, loaded):
    """The engine upsert() returns is warm at birth (warm() runs no job),
    and every bounded point shape, plus the sentinel-marker search, is
    ONE Spark job in search_docids() and none more in search()."""
    from tests.test_engine import POINT_SHAPES

    up = _fresh(loaded).warm().upsert(
        _replace_batch(spark, built, "warmbirth_sentinel")
    )
    _, n_warm = _jobs(spark, "upserted:warm", up.warm)
    assert n_warm == 0
    shapes = dict(POINT_SHAPES, marker="warmbirth_sentinel")
    _assert_one_job_per_point_search(spark, up, shapes, "upserted")
    assert len(up.search("warmbirth_sentinel", limit=10)) == 3


def test_deleted_loaded_engine_stays_one_job(spark, loaded):
    """Tombstones no longer push a loaded engine off the one-job lane:
    the deleted docids drop in-process from the preloaded set."""
    from tests.test_engine import POINT_SHAPES

    eng = _fresh(loaded).warm()
    victims = [int(d) for d, _ in eng.search_docids("fn import", limit=2)]
    gone = eng.delete_documents(victims)
    _assert_one_job_per_point_search(spark, gone, POINT_SHAPES, "deleted")
    for q in POINT_SHAPES.values():
        assert not set(victims) & {
            int(d) for d, _ in gone.search_docids(q, limit=50)
        }, q


def test_local_lane_shapes_score_through_the_kernel(built, loaded,
                                                    monkeypatch):
    """Every driver-local point shape of a warmed loaded engine — flat
    multi-term, ``+a -b``, single term and phrase — scores its buckets
    through ``kernel.eval_query`` (the one scorer, called on the driver)
    and returns the in-session engine's bits."""
    import frankensearch_spark.kernel as K

    shapes = {
        "flat": "fn import term00005",
        "must/must-not": "+fn -import",
        "single term": "term00001",
        "phrase": '"term00001 term00002"',
    }
    exp = {name: _bits(built.search_docids(q, limit=10))
           for name, q in shapes.items()}
    eng = _fresh(loaded).warm()
    calls = []
    real = K.eval_query

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(K, "eval_query", counting)
    for name, q in shapes.items():
        calls.clear()
        got = _bits(eng.search_docids(q, limit=10))
        assert exp[name], name
        assert calls, name
        assert got == exp[name], name


# --- the driver-local write lane against the Spark path -------------------

CORPUS_DDL = (
    "repo string, path string, commit string, lang string, content string"
)


def _upsert_both_paths(eng, batch, monkeypatch):
    """(lane engine, Spark-path engine): ``eng.upsert(batch)`` with the
    driver-local write lane on — asserted to have run — and forced off
    by patching its posting bound below zero."""
    import frankensearch_spark.operators.lifecycle as L

    ran = []
    real = L._local_deltas

    def spy(*a, **kw):
        ran.append(real(*a, **kw))
        return ran[-1]

    with monkeypatch.context() as m:
        m.setattr(L, "_local_deltas", spy)
        lane = eng.upsert(batch)
        assert ran and ran[-1] is not None, "the lane declined"
        m.setattr(L, "LOCAL_LANE_MAX_POSTINGS", -1)
        spark_path = eng.upsert(batch)
        assert ran[-1] is None, "the lane ran past its bound"
    return lane, spark_path


def _delta_tables(up, start: int):
    """The upsert delta's block and docmeta rows (docids from
    ``start``), the merged termstats and the tombstone set, as plain
    values in a fixed order."""
    ix = up.index
    return {
        "blocks": sorted(
            tuple(r) for r in ix.blocks.filter(
                F.col("bucket") >= start >> ix.bucket_shift
            ).collect()
        ),
        "docmeta": {
            r["docid"]: r.asDict()
            for r in ix.docmeta.filter(F.col("docid") >= start).collect()
        },
        "termstats": sorted(tuple(r) for r in ix.termstats.collect()),
        "tombstones": sorted(int(r[0]) for r in ix.tombstones.collect()),
        "tombset": ix._tombset.ids.tolist(),
    }


def _delta_rows(built, kind: str):
    """Three new revisions of existing keys plus 40 new documents, in
    the shape ``kind`` names."""
    from frankensearch_spark.corpus import make_corpus

    keys = built.index.docmeta.select(*CORPUS_KEY).limit(3).collect()
    gen = make_corpus(40, seed=11, clustered=kind == "clustered")
    rows = [
        (r["repo"], r["path"], r["commit"], "rust",
         f"lanesentinel fn import {gen[i][4]}")
        for i, r in enumerate(keys)
    ] + [(f"new/{r[0]}", *r[1:4], f"lanesentinel {r[4]}") for r in gen]
    if kind == "non_ascii":
        rows = [
            (*r[:4], f"{r[4]} café Größe 日本語 naïve-{i}")
            if i % 2 else r
            for i, r in enumerate(rows)
        ]
    elif kind == "null_content":
        rows = [(*r[:4], None) if i % 7 == 3 else r
                for i, r in enumerate(rows)]
    elif kind == "null_key":
        rows[4] = (rows[4][0], rows[4][1], None, *rows[4][3:])
        rows[5] = (None, rows[5][1], rows[5][2], *rows[5][3:])
    return rows


@pytest.mark.parametrize(
    "kind",
    ["iid", "clustered", "non_ascii", "null_content", "null_key",
     "no_positions"],
)
def test_write_lane_equals_spark_path(spark, built, loaded, monkeypatch,
                                      tmp_path, kind):
    """The driver-local delta — blocks, docmeta, merged termstats — and
    the tombstone set are byte-equal to the Spark path's, and the two
    engines answer alike.  ``null_key`` upserts its batch twice, so the
    second round's superseded-docid lookup meets keys with a null
    column (which supersede nothing, as in the docmeta semi-join);
    ``no_positions`` runs on an index saved without positions."""
    from frankensearch_spark.operators.lifecycle import lease_offset

    src, eng = built, _fresh(loaded).warm()
    queries = ["lanesentinel", "fn import", "café OR 日本語"]
    if kind == "no_positions":
        src = FrankensearchSpark.build(
            synthetic_corpus_df(spark, 60, partitions=2), CORPUS_KEY,
            with_positions=False,
        )
        src.save(str(tmp_path / "nopos"))
        eng = FrankensearchSpark.load(spark, str(tmp_path / "nopos")).warm()
        assert not eng.index.has_positions
    else:
        queries.append('"term00001 term00002"')
    batch = spark.createDataFrame(_delta_rows(src, kind), CORPUS_DDL)
    if kind == "null_key":
        eng = eng.upsert(batch)
    start = lease_offset(eng.index.high_watermark(), eng.index.bucket_shift)
    lane, spark_path = _upsert_both_paths(eng, batch, monkeypatch)
    got, want = _delta_tables(lane, start), _delta_tables(spark_path, start)
    assert got.keys() == want.keys()
    for part in want:
        assert got[part] == want[part], part
    assert len(got["docmeta"]) == 43
    # the second null_key round supersedes the 41 keys without a null
    assert len(got["tombset"]) == (3 + 41 if kind == "null_key" else 3)
    if kind == "no_positions":
        assert all(r[10] is None for r in got["blocks"])
    for q in queries:
        assert lane.search(q, limit=50) == spark_path.search(q, limit=50), q


def test_write_lane_duplicate_key_raises(spark, built, loaded, monkeypatch):
    """A batch that repeats a key fails on both paths with the build's
    duplicate-key error."""
    import frankensearch_spark.operators.lifecycle as L

    eng = _fresh(loaded).warm()
    rows = _delta_rows(built, "iid")
    batch = spark.createDataFrame(rows + [rows[7]], CORPUS_DDL)
    with pytest.raises(ValueError, match="duplicate external key"):
        eng.upsert(batch)
    monkeypatch.setattr(L, "LOCAL_LANE_MAX_POSTINGS", -1)
    with pytest.raises(Exception, match="duplicate external key"):
        eng.upsert(batch)


def test_write_lane_multifield_equals_spark_path(spark, monkeypatch,
                                                 tmp_path):
    """A loaded multi-field engine: the lane and the Spark path give the
    same per-field delta rows once docids are mapped to external keys,
    and the same answers by external key.  (The Spark path leases its
    docids through assign_docids' range partitions, so the docid values
    themselves may differ.)"""
    corpus = synthetic_corpus_df(spark, 40, partitions=2).withColumn(
        "title", F.col("path")
    )
    eng = FrankensearchSpark.build_multifield(
        corpus, CORPUS_KEY, {"content": "content", "title": "title"},
    )
    eng.save(str(tmp_path / "mf"))
    ld = FrankensearchSpark.load(spark, str(tmp_path / "mf")).warm()
    rows = [(*r, f"{r[1]}/title") for r in _delta_rows(eng, "non_ascii")]
    batch = spark.createDataFrame(rows, CORPUS_DDL + ", title string")
    lane, spark_path = _upsert_both_paths(ld, batch, monkeypatch)

    def by_key(up):
        key_of = {
            int(r["docid"]): tuple(r[c] for c in CORPUS_KEY)
            for r in up.index.docmeta.collect()
        }
        out = {}
        for name, sub in up.index.fields.items():
            out[name, "docmeta"] = sorted(
                (key_of[r["docid"]], r["content_sha256"], r["doclen"],
                 r["fieldnorm_id"])
                for r in sub.docmeta.collect()
            )
            out[name, "termstats"] = sorted(
                tuple(r) for r in sub.termstats.collect()
            )
        out["tombstones"] = sorted(
            key_of[int(r[0])] for r in up.index.tombstones.collect()
        )
        return out

    assert by_key(lane) == by_key(spark_path)
    for q in ("lanesentinel", "fn import", "café", "file1"):
        assert sorted(lane.search(q, limit=100)) == sorted(
            spark_path.search(q, limit=100)
        ), q


def test_bounded_upsert_runs_at_most_two_jobs(spark, loaded):
    """A 250-doc upsert on a warmed loaded engine is the lane's one
    Arrow collect: the delta is built on the driver and its superseded
    docids come from the preloaded id map."""
    eng = _fresh(loaded).warm()
    keys = eng.index.docmeta.select(*CORPUS_KEY).limit(50).collect()
    rows = [
        (r["repo"], r["path"], r["commit"], "rust", f"twojob fn term{i:05d}")
        for i, r in enumerate(keys)
    ] + [
        ("delta", f"src/t{i:04d}.rs", "c2", "rust", f"twojob import {i}")
        for i in range(200)
    ]
    up, n_jobs = _jobs(
        spark, "lane:upsert",
        lambda: eng.upsert(spark.createDataFrame(rows, CORPUS_DDL)),
    )
    assert n_jobs <= 2, n_jobs
    assert len(up.search("twojob", limit=300)) == 250
    assert len(up.index._tombset.ids) == 50


def test_spark_path_upsert_releases_build_caches(spark, built, loaded,
                                                 monkeypatch):
    """Past the lane's bound, the delta build persists its frames only
    until the delta's local checkpoints materialize: three chained
    upserts leave no more persisted RDDs than before, local checkpoints
    (the deltas the engines serve) aside."""
    import frankensearch_spark.operators.lifecycle as L

    sc = spark.sparkContext

    def cached():
        return sum(
            1 for rdd in sc._jsc.getPersistentRDDs().values()
            if not rdd.rdd().isLocallyCheckpointed()
        )

    monkeypatch.setattr(L, "LOCAL_LANE_MAX_POSTINGS", -1)
    eng = _fresh(loaded).warm()
    before = cached()
    for i in range(3):
        eng = eng.upsert(_replace_batch(spark, built, f"release{i}"))
        assert len(eng.search_docids(f"release{i}", limit=10)) == 3
    assert cached() <= before


def test_idmap_keeps_key_tuples(spark, tmp_path):
    """Keys that collide once joined by '/' — ("a/b", "c") and
    ("a", "b/c") — stay apart in the id map: upserting one tombstones
    only its own docid, while search() still returns '/'-joined ids."""
    corpus = spark.createDataFrame(
        [("a/b", "c", "tuplekey first"), ("a", "b/c", "tuplekey second"),
         ("x", "y", "filler doc")],
        "k1 string, k2 string, content string",
    )
    FrankensearchSpark.build(corpus, ["k1", "k2"]).save(str(tmp_path / "t"))
    ld = FrankensearchSpark.load(spark, str(tmp_path / "t")).warm()
    idm = ld.index._idmap
    assert sorted(idm.ext.values()) == [("a", "b/c"), ("a/b", "c"),
                                        ("x", "y")]
    assert sorted(e for e, _ in ld.search("tuplekey", limit=5)) == [
        "a/b/c", "a/b/c"
    ]
    old = {k: d for d, k in idm.ext.items()}
    up = ld.upsert(spark.createDataFrame(
        [("a/b", "c", "tuplekey third")],
        "k1 string, k2 string, content string",
    ))
    assert up.index._tombset.ids.tolist() == [old["a/b", "c"]]
    hits = up.search_docids("tuplekey", limit=5)
    assert old["a", "b/c"] in {int(d) for d, _ in hits}
    assert old["a/b", "c"] not in {int(d) for d, _ in hits}
    assert [e for e, _ in up.search("tuplekey", limit=5)] == [
        "a/b/c", "a/b/c"
    ]
