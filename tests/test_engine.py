"""Facade surface: build/search/snippets/count/lifecycle round-trip."""

import numpy as np
import pytest

from frankensearch_spark.engine import FrankensearchSpark
from frankensearch_spark.oracle import OracleIndex
from frankensearch_spark.query_ast import ENGINE_SCHEMA, parse_lenient
from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df

N_DOCS = 150
CORPUS_DDL = (
    "repo string, path string, commit string, lang string, content string"
)


# every bounded point-query shape the driver-local lane serves
POINT_SHAPES = {
    "single term": "fn",
    "natural language": "fn import term00005",
    "flat boolean": "+term00001 -term00002 term00003",
    "root phrase": '"term00001 term00002"',
    "mixed phrase": '"generated record" fn',
    "nested boolean": "(fn OR import) AND term00003",
    "split identifier": "snake_case_identifier",
}


@pytest.fixture(scope="module")
def eng(spark):
    corpus = synthetic_corpus_df(spark, N_DOCS, partitions=3)
    return FrankensearchSpark.build(corpus, CORPUS_KEY)


@pytest.fixture(scope="module")
def loaded(spark, eng, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("engine_jobs") / "idx")
    eng.save(path)
    return FrankensearchSpark.load(spark, path)


def _jobs(spark, group, call):
    """(call(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _bits(hits):
    return [(int(d), int(np.float32(s).view(np.uint32))) for d, s in hits]


def oracle_of(eng, text_by_key: dict, texts: dict) -> OracleIndex:
    """The numpy oracle over ``eng``'s state: every docmeta row with its
    text (tombstoned docs still count in the stats until compaction),
    the tombstones deleted.  ``texts`` (docid -> text) takes the text of
    each docid it lacks from ``text_by_key`` (the newest revision of
    each key), so older revisions keep theirs; docids compacted away
    leave it."""
    live = {
        int(r["docid"]): texts.get(
            int(r["docid"]), text_by_key[tuple(r[c] for c in CORPUS_KEY)]
        )
        for r in eng.index.docmeta.select("docid", *CORPUS_KEY).collect()
    }
    texts.clear()
    texts.update(live)
    oracle = OracleIndex(sorted(live.items()))
    if eng.index.tombstones is not None:
        oracle.delete(int(r[0]) for r in eng.index.tombstones.collect())
    return oracle


def oracle_bits(oracle: OracleIndex, q: str, k: int):
    return oracle.search_ast_bits(parse_lenient(q, ENGINE_SCHEMA).query, k=k)


@pytest.mark.parametrize(
    "form", [pytest.param("eng", id="built"), pytest.param("loaded", id="loaded")]
)
def test_warm_point_search_is_one_spark_job(spark, request, form):
    """On a warmed engine — in-session build() or loaded — every bounded
    point-query shape runs ONE Spark job in search_docids() (the
    driver-local lane's candidate collect), and search() adds none:
    external ids come from the id map warm() preloaded."""
    eng = request.getfixturevalue(form).warm()
    for name, q in POINT_SHAPES.items():
        hits, n_ids = _jobs(
            spark, f"docids:{form}:{name}", lambda: eng.search_docids(q)
        )
        assert hits, name
        assert n_ids == 1, (name, n_ids)
        ext, n_ext = _jobs(spark, f"search:{form}:{name}", lambda: eng.search(q))
        assert len(ext) == len(hits)
        assert n_ext == 0, (name, n_ext)


def test_built_upsert_search_matches_oracle_in_one_job(spark):
    """build() -> upsert() -> search() in one session: the upserted
    engine answers like the numpy oracle over its documents (replaced
    revisions tombstoned), one Spark job per point search and none for
    the ids."""
    from frankensearch_spark.corpus import make_corpus

    rows = make_corpus(80)
    eng = FrankensearchSpark.build(
        spark.createDataFrame(rows, CORPUS_DDL), CORPUS_KEY
    )
    text_by_key = {tuple(r[:3]): r[4] for r in rows}
    texts: dict = {}
    oracle_of(eng, text_by_key, texts)  # pins the replaced revisions' text
    batch = [
        (*rows[i][:4], f"zzupserted fn import term0000{i % 3}")
        for i in (3, 17, 41)
    ] + [("neworg/new", f"src/n{i}.rs", "c1", "rust",
          f"zzupserted term00002 term00001 fn {i}") for i in range(5)]
    up = eng.upsert(spark.createDataFrame(batch, CORPUS_DDL))
    text_by_key.update((tuple(r[:3]), r[4]) for r in batch)
    oracle = oracle_of(up, text_by_key, texts)
    for q in [*POINT_SHAPES.values(), "zzupserted", "term0000*"]:
        hits, n = _jobs(spark, f"upserted:{q}", lambda: up.search_docids(q))
        assert _bits(hits) == oracle_bits(oracle, q, 10), q
        if q != "term0000*":  # a glob expands through a termstats scan
            assert n == 1, (q, n)
        _, n_ext = _jobs(spark, f"upserted-ids:{q}", lambda: up.search(q))
        assert n_ext == 0, (q, n_ext)


def test_search_returns_external_ids(eng):
    hits = eng.search("fn import", limit=5)
    assert hits
    for ext, score in hits:
        repo, rest = ext.split("/", 1)
        assert repo.startswith("org")
        assert float(score) > 0


def test_boolean_and_phrase_queries(eng):
    assert eng.search("fn AND import", limit=5) == []  # disjoint by corpus
    ph = eng.search('"term00001 term00002"', limit=5)
    loose = eng.search("term00001 term00002", limit=5)
    assert len(loose) >= len(ph)


def test_count(eng):
    n = eng.count("fn")
    assert 0 < n < N_DOCS
    assert eng.count("nosuchtermzzz") == 0


def test_snippets(eng):
    out = eng.search_with_snippets("snake_case_identifier", limit=3)
    assert out
    for _ext, _score, snip in out:
        assert snip is not None and "<b>" in snip


def test_lifecycle_roundtrip(eng):
    baseline = eng.search_docids("fn import", limit=3)
    victim = int(baseline[0][0])
    after = eng.delete_documents([victim])
    got = after.search_docids("fn import", limit=3)
    assert victim not in {d for d, _ in got}
    compacted = after.compact()
    assert compacted.index.tombstones is None
    still = compacted.search_docids("fn import", limit=3)
    assert victim not in {d for d, _ in still}


def test_ranked_query_cache(eng):
    """E14: per-snapshot result cache — second call hits the cache (no
    recompute), mutations get a fresh engine and a fresh cache."""
    import time

    q = "term00001 term00002"
    first = eng.search_docids(q, limit=5)
    t0 = time.perf_counter()
    second = eng.search_docids(q, limit=5)
    cached_secs = time.perf_counter() - t0
    assert second == first
    assert cached_secs < 0.05  # dict hit, no Spark job
    assert (q, 5, 0) in eng._query_cache
    # a mutation produces a NEW engine whose cache starts empty and
    # whose results reflect the mutation
    victim = int(first[0][0])
    after = eng.delete_documents([victim])
    assert after._query_cache == {}
    got = after.search_docids(q, limit=5)
    assert victim not in {d for d, _ in got}


def test_search_hybrid_two_tier(eng, spark):
    """Hybrid facade == manual composition: lexical top-depth fused with
    a caller-provided semantic tier under both strategies."""
    lex_hits = eng.search_docids("fn import", limit=5)
    assert len(lex_hits) == 5
    lex_ids = [int(d) for d, _ in lex_hits]
    # semantic tier: top lexical doc is absent; one foreign doc present
    foreign = max(lex_ids) + 1
    sem_rows = [(lex_ids[1], 0.9), (foreign, 0.8), (lex_ids[2], 0.1)]
    sem = spark.createDataFrame(sem_rows, "docid long, sem_score double")

    out = eng.search_hybrid("fn import", sem, limit=10, depth=5)
    assert [d for d, *_ in out][0] == lex_ids[1]  # in-both, best sem
    by_id = {d: (s, lr, sr) for d, s, lr, sr in out}
    # RRF law: lex rank 2 + sem rank 1 for the winner (1-based ranks)
    assert by_id[lex_ids[1]][0] == pytest.approx(1 / 62 + 1 / 61, rel=1e-12)
    assert by_id[lex_ids[1]][1:] == (2, 1)
    # semantic-only doc carries no lexical rank
    assert by_id[foreign][1] is None and by_id[foreign][2] == 2
    # lexical-only top doc keeps rank 1, contribution 1/61
    assert by_id[lex_ids[0]][0] == pytest.approx(1 / 61, rel=1e-12)

    mm = eng.search_hybrid("fn import", sem, limit=10, depth=5,
                           strategy="minmax")
    mm_by_id = {d: s for d, s, *_ in mm}
    # pool min-max: best-in-both doc normalizes to sem 1.0; the lexical
    # pool max (rank-1 doc) normalizes to lex 1.0
    assert mm_by_id[lex_ids[0]] == pytest.approx(1.0, rel=1e-12)
    with pytest.raises(ValueError):
        eng.search_hybrid("fn import", sem, strategy="bogus")


def test_upsert_refreshes_snippet_corpus(spark):
    """Snippets after an upsert must render from the NEW content —
    the engine's snippet corpus replaces rows by key and admits
    inserted docs."""
    eng = FrankensearchSpark.build(
        synthetic_corpus_df(spark, 50, partitions=2), CORPUS_KEY
    )
    row = eng.index.docmeta.limit(1).collect()[0]
    new_rows = [
        (row["repo"], row["path"], row["commit"], row["lang"],
         "zzreplaced wholly new body about qqmarker"),
        ("newrepo", "new.rs", "c9", "rust",
         "zzinserted fresh doc also qqmarker text"),
    ]
    nc = spark.createDataFrame(
        new_rows,
        "repo string, path string, commit string, lang string, content string",
    )
    up = eng.upsert(nc)
    hits = up.search_with_snippets("qqmarker", limit=5)
    assert len(hits) == 2
    for _ext, _score, snip in hits:
        assert snip is not None and "qqmarker" in snip.replace("<b>", "").replace("</b>", "")


def test_result_cache_eviction_is_thread_safe(monkeypatch):
    """Concurrent search()/search_batch() callers evicting from a full
    FIFO result cache at once can pick the same oldest key; the second
    eviction must not raise KeyError out of the search call."""
    import sys
    import threading

    import frankensearch_spark.engine as engine_mod
    from frankensearch_spark.operators import batchexec, serving_exec

    monkeypatch.setattr(engine_mod, "QUERY_CACHE_MAX", 2)
    monkeypatch.setattr(
        serving_exec, "serving_search_collect", lambda idx, q, *a: [(1, 1.0)]
    )
    monkeypatch.setattr(FrankensearchSpark, "_ensure_warm", lambda self: None)
    monkeypatch.setattr(
        batchexec, "search_batch_collect",
        lambda idx, qs, *a: [[(1, 1.0)] for _ in qs],
    )
    eng = FrankensearchSpark(object(), [])
    errors: list = []

    def worker(t):
        try:
            for i in range(3000):
                if i % 2:
                    eng.search_docids(f"q{t}-{i}")
                else:
                    eng.search_batch([f"b{t}-{i}", f"c{t}-{i}"])
        except Exception as e:  # noqa: BLE001 — collected for the assert
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    assert len(eng._query_cache) <= 2


def test_warm_lock_is_per_index():
    """A slow warm of index A must not hold up warming an unrelated
    index B (the preload jobs of a cold open take seconds)."""
    import threading

    release = threading.Event()
    started = threading.Event()

    class FakeIndex:
        tombstones = None
        _bucket_cov = {}

        def __init__(self, block):
            self.block = block
            self._term_df_cache = None

        def stats(self):
            return (0, 0)

        def preload_termstats(self):
            if self.block:
                started.set()
                release.wait(30)
            self._term_df_cache = {}
            return 0

    eng_a = FrankensearchSpark(FakeIndex(True), [])
    eng_b = FrankensearchSpark(FakeIndex(False), [])
    ta = threading.Thread(target=eng_a.warm)
    ta.start()
    try:
        assert started.wait(10)
        tb = threading.Thread(target=eng_b.warm)
        tb.start()
        tb.join(5)
        assert not tb.is_alive(), "warming B waited behind A's warm"
        assert eng_b.index._term_df_cache == {}
    finally:
        release.set()
        ta.join()
    assert eng_a.index._term_df_cache == {}
