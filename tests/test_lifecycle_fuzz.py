"""Randomized lifecycle-sequence fuzz: seeded random interleavings of
delete / upsert / compact / save+load, each step checked against the
reference's exact metamorphic rules (index.rs:9104-9270 lifecycle,
grimoire.rs:68-71 delete-score stability, keeper.rs:929 tombstone
durability):

* delete(D): surviving docs keep BIT-IDENTICAL scores (df/N still count
  tombstones); deleted docids vanish from every result list.
* upsert(batch): every old revision's docid is gone; every new revision
  is findable by its sentinel term.
* compact(): match SET per query unchanged (scores may move — df/N fold).
* save+load: loaded engine's top-k is bit-identical to the live one.
* upsert: the driver-local write lane and the Spark path give
  bit-identical answers.
* after every step, every engine — in-session build() and loaded twin
  alike, both serving engines — answers bit-equal to the numpy oracle
  over its documents.

Deterministic: one seed drives the whole op sequence."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from frankensearch_spark.corpus import make_corpus
from frankensearch_spark.engine import FrankensearchSpark
from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df
from tests.test_engine import oracle_bits, oracle_of

N_DOCS = 90
K = 12
QUERIES = ["fn import", "fn AND error", '"term00001 term00002"', "term0000*"]


def _bits(hits):
    return [(int(d), int(np.float32(s).view(np.uint32))) for d, s in hits]


def _results(eng, k=K):
    return {q: eng.search_docids(q, limit=k) for q in QUERIES}


def _check_oracle(eng, text_by_key, texts, tag):
    oracle = oracle_of(eng, text_by_key, texts)
    for q in QUERIES:
        assert _bits(eng.search_docids(q, limit=K)) == oracle_bits(
            oracle, q, K
        ), ("oracle", tag, q)


def _upsert(eng, batch, sentinel, monkeypatch):
    """``eng.upsert(batch)``, run twice — the driver-local write lane
    forced on and forced off — and both engines must answer every query
    bit-equal; the lane's engine is returned."""
    from tests.test_engine_load import _upsert_both_paths

    on, off = _upsert_both_paths(eng, batch, monkeypatch)
    for q in QUERIES + [sentinel]:
        assert _bits(on.search_docids(q, limit=K)) == _bits(
            off.search_docids(q, limit=K)
        ), ("lane on/off", q)
    return on


@pytest.mark.parametrize("seed", [7, 1301])
def test_lifecycle_sequence_fuzz(spark, tmp_path, seed, monkeypatch):
    rng = random.Random(seed)
    corpus = synthetic_corpus_df(spark, N_DOCS, partitions=3)
    eng = FrankensearchSpark.build(corpus, CORPUS_KEY)
    text_by_key = {tuple(r[:3]): r[4] for r in make_corpus(N_DOCS)}
    texts: dict = {}
    _check_oracle(eng, text_by_key, texts, "build")
    upsert_gen = 0

    for step in range(6):
        op = rng.choice(["delete", "upsert", "compact", "saveload"])

        if op == "delete":
            # deep top-k BEFORE, so the after-delete list is predictable
            before = {
                q: eng.search_docids(q, limit=K + 4) for q in QUERIES
            }
            pool = [int(d) for d, _ in before["fn import"]]
            if not pool:
                continue
            victims = set(rng.sample(pool, min(3, len(pool))))
            eng = eng.delete_documents(sorted(victims))
            for q in QUERIES:
                want = [
                    (d, s) for d, s in before[q] if int(d) not in victims
                ][:K]
                got = eng.search_docids(q, limit=K)
                assert _bits(got) == _bits(want), (op, q, step)

        elif op == "upsert":
            upsert_gen += 1
            sentinel = f"fuzzsentinel{seed}g{upsert_gen}"
            # new revisions of 4 random existing docs: same external key,
            # content replaced by a unique sentinel term + common term
            keys = eng.index.docmeta.select("docid", *CORPUS_KEY).limit(
                40
            ).collect()
            picked = rng.sample(keys, min(4, len(keys)))
            old_ids = {int(r["docid"]) for r in picked}
            batch = spark.createDataFrame(
                [
                    (r["repo"], r["path"], r["commit"], "rust",
                     f"{sentinel} fn common_fuzz_term")
                    for r in picked
                ],
                "repo string, path string, commit string, lang string, "
                "content string",
            )
            eng = _upsert(eng, batch, sentinel, monkeypatch)
            text_by_key.update(
                (tuple(r[c] for c in CORPUS_KEY),
                 f"{sentinel} fn common_fuzz_term")
                for r in picked
            )
            hits = eng.search_docids(sentinel, limit=10)
            assert len(hits) == len(picked), (op, step)
            assert not (old_ids & {int(d) for d, _ in hits})
            for q in QUERIES:  # no old revision leaks into any result
                got = {int(d) for d, _ in eng.search_docids(q, limit=K)}
                assert not (old_ids & got), (op, q, step)

        elif op == "compact":
            before = _results(eng)
            eng = eng.compact()
            assert eng.index.tombstones is None
            for q in QUERIES:
                got = eng.search_docids(q, limit=K)
                assert {int(d) for d, _ in got} == {
                    int(d) for d, _ in before[q]
                }, (op, q, step)

        else:  # saveload: durable round-trip is bit-exact at every point
            path = str(tmp_path / f"fuzz{seed}_{step}")
            eng.save(path)
            loaded = FrankensearchSpark.load(spark, path)
            assert loaded.key_cols == CORPUS_KEY
            for q in QUERIES:
                assert _bits(loaded.search_docids(q, limit=K)) == _bits(
                    eng.search_docids(q, limit=K)
                ), (op, q, step)
            # CONTINUE from the reopened engine: later delete/upsert/
            # compact steps then run on the loaded form
            eng = loaded
        _check_oracle(eng, text_by_key, texts, (op, step))


@pytest.mark.parametrize("seed", [7, 1301])
def test_lifecycle_fuzz_loaded_twin_lockstep(spark, tmp_path, seed,
                                            monkeypatch):
    """The seeded delete / upsert / compact / save+load sequence on a
    build() engine and on its saved-then-loaded twin — both serving
    engines — in lockstep: after every step both answer every query
    bit-equal to the numpy oracle (docids and f32 score bits), the twin
    through point search and search_batch alike.  Every upsert stays in
    serving form, and a post-upsert query forced through the θ path
    (min_cost=0) equals the exhaustive answer — the MaxScore bounds
    stay conservative after the upsert moved avgdl.  The sequence ends
    with one more upsert, so that check always runs."""
    from frankensearch_spark.operators.wand import QuerySpec
    from frankensearch_spark.operators.wand import ServingIndex, wand_bits

    rng = random.Random(seed)
    corpus = synthetic_corpus_df(spark, N_DOCS, partitions=3)
    path = str(tmp_path / f"twin{seed}")
    eng = FrankensearchSpark.build(corpus, CORPUS_KEY)
    eng.save(path)
    pair = {"eng": eng, "twin": FrankensearchSpark.load(spark, path)}
    text_by_key = {tuple(r[:3]): r[4] for r in make_corpus(N_DOCS)}
    texts: dict = {}

    def lockstep(tag):
        for side in pair:
            assert isinstance(pair[side].index, ServingIndex), (side, tag)
        _check_oracle(pair["eng"], text_by_key, texts, tag)
        twin = pair["twin"]
        # the batch runs first, on its own snapshot cache: each point
        # search below then really executes on a fresh engine object
        batched = twin.search_batch(QUERIES, limit=K)
        point = FrankensearchSpark(twin.index, twin.key_cols,
                                   schema=twin.schema)
        for q, hits in zip(QUERIES, batched):
            want = _bits(pair["eng"].search_docids(q, limit=K))
            assert _bits(point.search_docids(q, limit=K)) == want, (tag, q)
            assert _bits(hits) == want, ("batch", tag, q)

    def upsert(step):
        sentinel = f"twinsentinel{seed}s{step}"
        keys = pair["eng"].index.docmeta.select(*CORPUS_KEY).limit(
            40
        ).collect()
        picked = rng.sample(keys, min(4, len(keys)))
        batch = spark.createDataFrame(
            [
                (r["repo"], r["path"], r["commit"], "rust",
                 f"{sentinel} fn common_fuzz_term")
                for r in picked
            ],
            "repo string, path string, commit string, lang string, "
            "content string",
        )
        for side in pair:
            pair[side] = _upsert(pair[side], batch, sentinel, monkeypatch)
        text_by_key.update(
            (tuple(r[c] for c in CORPUS_KEY),
             f"{sentinel} fn common_fuzz_term")
            for r in picked
        )
        twin = pair["twin"]
        assert len(twin.search_docids(sentinel, limit=10)) == len(picked)
        spec = QuerySpec.from_text(f"{sentinel} fn import")
        assert wand_bits(twin.index, spec, K, min_cost=0) == (
            wand_bits(twin.index, spec, K, prune=False)
        ), step

    def saveload(step):
        for side in pair:
            p = str(tmp_path / f"twin{seed}_{step}_{side}")
            pair[side].save(p)
            pair[side] = FrankensearchSpark.load(spark, p)

    lockstep("load")
    for step in range(6):
        op = rng.choice(["delete", "upsert", "compact", "saveload"])
        if op == "delete":
            pool = [
                int(d)
                for d, _ in pair["eng"].search_docids("fn import", limit=K + 4)
            ]
            if not pool:
                continue
            victims = sorted(rng.sample(pool, min(3, len(pool))))
            for side in pair:
                pair[side] = pair[side].delete_documents(victims)
        elif op == "upsert":
            upsert(step)
        elif op == "compact":
            for side in pair:
                pair[side] = pair[side].compact()
        else:
            saveload(step)
        lockstep((op, step))
    upsert("end")
    lockstep(("upsert", "end"))
