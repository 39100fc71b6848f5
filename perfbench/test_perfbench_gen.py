"""The benchmark's generator: seeded, distinct and disjoint by construction.

    python -m pytest perfbench -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

N = 300


def _dump(obj) -> bytes:
    return json.dumps(obj).encode()


def _inputs(seed: int, clustered: bool = True) -> bytes:
    rows = gen.corpus(N, seed, clustered)
    qs = gen.QueryStream(rows, seed).take(40)
    batch = gen.upsert_batch(seed, 0, 1, [r[:3] for r in rows[:5]], 5, clustered)
    return _dump([rows, qs, batch])


def test_same_seed_gives_byte_identical_inputs():
    for clustered in (True, False):
        assert _inputs(7, clustered) == _inputs(7, clustered)


def test_different_seeds_differ():
    assert _inputs(7) != _inputs(8)
    assert gen.corpus(N, 7, True) != gen.corpus(N, 8, True)
    assert gen.corpus(N, 7, True) != gen.corpus(N, 7, False)


def test_timed_queries_distinct_and_disjoint_from_warmup():
    rows = gen.corpus(N, 3, True)
    stream = gen.QueryStream(rows, 3)
    warm = stream.warmup()
    assert [c for c, _ in warm] == list(gen.QUERY_CLASSES)
    warm = [q for _, q in warm]
    timed = [q for _, q in stream.take(100)]
    assert len(set(timed)) == len(timed)
    assert not set(warm) & set(timed)


def test_query_classes_follow_the_schedule():
    rows = gen.corpus(N, 4, False)
    got = [c for c, _ in gen.QueryStream(rows, 4).take(3 * len(gen.CLASS_SCHEDULE))]
    assert got == list(gen.CLASS_SCHEDULE) * 3
    assert set(gen.QUERY_CLASSES) == set(gen.CLASS_SCHEDULE)


def test_identifier_slots_alternate_split_and_single_token():
    rows = gen.corpus(N, 9, True)
    idents = [q for c, q in gen.QueryStream(rows, 9).take(4 * len(gen.CLASS_SCHEDULE))
              if c == "identifier"]
    assert [any(ch in q for ch in "_/.") for q in idents] == [True, False] * 4


def test_phrases_are_adjacent_corpus_terms_and_misses_never_occur():
    rows = gen.corpus(N, 5, True)
    text = "\n".join(r[4] for r in rows)
    for cls, q in gen.QueryStream(rows, 5).take(100):
        if cls == "phrase":
            assert q.strip('"') in text
        if cls in ("identifier", "short_keyword"):
            assert q in text
        if cls == "miss":
            assert q not in text


def test_upsert_batch_keys_and_marker():
    rows = gen.corpus(N, 6, True)
    replace = [r[:3] for r in rows[:10]]
    batch = gen.upsert_batch(6, 2, 1, replace, 15, True)
    keys = [b[:3] for b in batch]
    assert keys[:10] == replace
    assert len(set(keys)) == 25
    assert not set(keys[10:]) & {r[:3] for r in rows}
    mk = gen.marker(2, 1)
    assert all(b[4].split()[-1] == mk for b in batch)
    assert not any(mk in r[4] for r in rows)
    assert gen.marker(2, 1) != gen.marker(2, 0) != gen.marker(1, 1)
