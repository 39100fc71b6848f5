"""Correctness gate: every timed operation is judged, outside the timed window.

An operation fails when it raised, when its answer is malformed (too many
hits, scores out of the pinned order, unknown external ids, a superseded
docid), or, for the seeded sample, when it differs from the numpy oracle in
docid order, f32 score bits or external ids.
"""

from __future__ import annotations

import numpy as np


def f32_bits(score) -> int:
    return int(np.float32(score).view(np.uint32))


class Ledger:
    """Attempted operations and the first reason each one failed."""

    def __init__(self):
        self._ops: dict[str, str | None] = {}

    def attempt(self, op: str) -> None:
        self._ops[op] = None

    def fail(self, op: str, reason: str) -> None:
        if self._ops.get(op) is None:
            self._ops[op] = reason

    @property
    def attempted(self) -> int:
        return len(self._ops)

    @property
    def failed(self) -> int:
        return sum(1 for r in self._ops.values() if r is not None)

    def reasons(self, n: int = 5) -> list[str]:
        return [f"{op}: {r}" for op, r in self._ops.items() if r][:n]


def malformed(hits, limit: int, known_ids=None) -> str | None:
    """Why a ranked answer [(id, score)] is malformed, or None."""
    if len(hits) > limit:
        return f"{len(hits)} hits > limit {limit}"
    scores = [np.float32(s) for _, s in hits]
    if any(b > a for a, b in zip(scores, scores[1:])):
        return "scores not in descending order"
    if known_ids is not None:
        unknown = [h for h, _ in hits if h not in known_ids]
        if unknown:
            return f"unknown id {unknown[0]!r}"
    return None


def oracle_answer(oracle, query: str, limit: int):
    """The oracle's [(docid, f32 bits)] for one query string."""
    from frankensearch_spark.query_ast import ENGINE_SCHEMA, parse_lenient

    ast = parse_lenient(query, ENGINE_SCHEMA).query
    return [(int(d), f32_bits(s)) for d, s in oracle.search_ast(ast, limit)]


def mismatch(want, got_docids, got_ext=None, ext_of=None) -> str | None:
    """Why an engine answer differs from the oracle's ``want``, or None.

    ``got_docids``: [(docid, score)]; ``got_ext``: the same answer with
    external ids, checked against ``ext_of`` (docid -> external id)."""
    got = [(int(d), f32_bits(s)) for d, s in got_docids]
    if got != want:
        return f"oracle mismatch: want {want[:3]}... got {got[:3]}..."
    if got_ext is not None:
        exp = [(ext_of[d], b) for d, b in want]
        if [(e, f32_bits(s)) for e, s in got_ext] != exp:
            return "external ids differ from the oracle's docids"
    return None
