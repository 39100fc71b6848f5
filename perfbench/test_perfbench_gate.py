"""The correctness gate counts every wrong or failed answer.

    python -m pytest perfbench -q
"""

import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gate  # noqa: E402
import gen  # noqa: E402
from run import Run  # noqa: E402


def _oracle_and_answer():
    from frankensearch_spark.oracle import OracleIndex

    rows = gen.corpus(200, 11, True)
    docs = [(i, r[4]) for i, r in enumerate(rows)]
    ext_of = {i: gen.external_id(r) for i, r in enumerate(rows)}
    oracle = OracleIndex(docs)
    q = "fn term00003 term00010"
    want = gate.oracle_answer(oracle, q, 10)
    got = [(d, np.uint32(b).view(np.float32)) for d, b in want]
    return want, got, ext_of


def _judge(want, got, ext_of, got_ext=None) -> gate.Ledger:
    ledger = gate.Ledger()
    ledger.attempt("q0")
    bad = gate.malformed(got, 10) or gate.mismatch(want, got, got_ext, ext_of)
    if bad:
        ledger.fail("q0", bad)
    return ledger


def test_exact_answer_passes():
    want, got, ext_of = _oracle_and_answer()
    assert len(want) == 10
    ext = [(ext_of[d], s) for d, s in got]
    ledger = _judge(want, got, ext_of, ext)
    assert (ledger.attempted, ledger.failed) == (1, 0)


def test_corrupted_answers_count_as_failed():
    want, got, ext_of = _oracle_and_answer()
    one_bit = list(got)
    d, s = one_bit[3]
    one_bit[3] = (d, (np.float32(s).view(np.uint32) ^ np.uint32(1)).view(np.float32))
    swapped = list(got)
    swapped[0], swapped[1] = (swapped[1][0], swapped[0][1]), (swapped[0][0], swapped[1][1])
    truncated = got[:-1]
    for bad in (one_bit, swapped, truncated):
        assert _judge(want, bad, ext_of).failed == 1
    wrong_ext = [(ext_of[d], s) for d, s in got]
    wrong_ext[5] = ("org0/repo0/nope", wrong_ext[5][1])
    assert _judge(want, got, ext_of, wrong_ext).failed == 1


def test_malformed_answers():
    assert gate.malformed([("a", 2.0), ("b", 1.0)], 10, {"a", "b"}) is None
    assert gate.malformed([("a", 1.0), ("b", 2.0)], 10) is not None
    assert gate.malformed([("a", 1.0)] * 11, 10) is not None
    assert gate.malformed([("zz", 1.0)], 10, {"a"}) is not None


def test_raising_op_counts_once(tmp_path):
    run = Run("serve_point", 1, 1.0, False, str(tmp_path), str(tmp_path))

    def boom():
        raise RuntimeError("engine failure")

    assert run._do("q0", boom) is None
    run.ledger.fail("q0", "also wrong")
    assert run._do("q1", lambda: 42) == 42
    assert (run.ledger.attempted, run.ledger.failed) == (2, 1)
    assert "RuntimeError" in run.ledger.reasons()[0]
