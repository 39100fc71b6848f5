"""Persisted index: write/read roundtrip + checkpointed resume."""

import json
import os
import shutil

import pytest

from frankensearch_spark.corpus import corpus_docs
from frankensearch_spark.operators.build import build_index
from frankensearch_spark.operators.wand import QuerySpec
from frankensearch_spark.operators.wand import serving_from_built, wand_bits
from frankensearch_spark.oracle import OracleIndex
from frankensearch_spark.plans.manifest import (
    load_manifest,
    read_index,
    write_index,
)
from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df

N_DOCS = 200


@pytest.fixture(scope="module")
def raw(spark):
    return build_index(synthetic_corpus_df(spark, N_DOCS, partitions=3), CORPUS_KEY, docid_mode="global")


@pytest.fixture(scope="module")
def built(raw):
    return serving_from_built(raw, bucket_shift=7, n_term_partitions=8)


def test_write_read_query_roundtrip(built, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx"))
    m = write_index(built, path, n_groups=3)
    assert m.completed
    assert len(m.committed_groups) == 3
    assert os.path.exists(os.path.join(path, "_COMMITTED"))

    idx = read_index(spark, path)
    oracle = OracleIndex(corpus_docs(N_DOCS))
    for text in ("fn", "term00000 term00001", "generated record"):
        assert wand_bits(idx, text, k=10) == oracle.search_bits(text, k=10), text


def test_resume_skips_committed_groups(built, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx2"))
    write_index(built, path, n_groups=3)

    # simulate a crash after group 0: roll the manifest back
    mp = os.path.join(path, "manifest.json")
    with open(mp) as f:
        d = json.load(f)
    d["completed"] = False
    kept = {"0": d["committed_groups"]["0"]}
    d["committed_groups"] = kept
    d["tables"] = {}
    with open(mp, "w") as f:
        json.dump(d, f)
    os.remove(os.path.join(path, "_COMMITTED"))
    shutil.rmtree(os.path.join(path, "blocks", "group=1"))
    shutil.rmtree(os.path.join(path, "blocks", "group=2"))
    with pytest.raises(FileNotFoundError):
        read_index(spark, path)

    m2 = write_index(built, path)  # resume: config comes from the manifest
    assert m2.completed
    assert set(m2.committed_groups) == {"0", "1", "2"}

    idx = read_index(spark, path)
    oracle = OracleIndex(corpus_docs(N_DOCS))
    assert wand_bits(idx, "fn import", k=10) == oracle.search_bits("fn import", k=10)


def test_rewrite_of_completed_index_is_noop(built, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx3"))
    m1 = write_index(built, path, n_groups=2)
    g1 = dict(m1.committed_groups)
    m2 = write_index(built, path)
    assert m2.completed and m2.committed_groups == g1


def test_tombstones_survive_save_load(built, spark, tmp_path_factory):
    """delete -> save -> load must NOT resurrect deleted docs (the
    reference's MANIFEST durably records tombstone sets, keeper.rs:929)."""
    from frankensearch_spark.operators.lifecycle import delete_documents

    oracle = OracleIndex(corpus_docs(N_DOCS))
    victims = [d for d, _ in oracle.search_bits("fn", k=2)]
    deleted = delete_documents(built, victims)
    path = str(tmp_path_factory.mktemp("idx5"))
    write_index(deleted, path, n_groups=2)

    idx = read_index(spark, path)
    assert idx.tombstones is not None
    oracle.delete(victims)
    got = wand_bits(idx, "fn", k=10)
    assert got == oracle.search_bits("fn", k=10)
    assert not any(d in set(victims) for d, _ in got)


def test_boolean_query_on_persisted_index(built, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx4"))
    write_index(built, path, n_groups=2)
    idx = read_index(spark, path)
    oracle = OracleIndex(corpus_docs(N_DOCS))
    spec = QuerySpec(should=["term00001"], must_not=["term00002"])
    got = wand_bits(idx, spec, k=15)
    assert got == oracle.search_bits(["term00001"], k=15, must_not=["term00002"])
    assert load_manifest(path).completed


def test_serving_save_clears_crashed_partial_target(built, spark, tmp_path_factory):
    """A target holding a CRASHED partial write (uncommitted
    manifest + staged block groups) under the same docid assignment and
    layout is resumed by a serving save, not duplicated — read_index
    unions every blocks/group=* dir, so stale groups would silently
    duplicate postings."""
    good = str(tmp_path_factory.mktemp("src"))
    write_index(built, good, n_groups=2)
    sidx = read_index(spark, good)

    crash = str(tmp_path_factory.mktemp("crash"))
    write_index(built, crash, n_groups=2)
    # forge the crash: drop the completion state but keep a staged group
    m = load_manifest(crash)
    m.completed = False
    m.tables = {}
    from frankensearch_spark.plans.manifest import _publish

    _publish(crash, m)
    os.unlink(os.path.join(crash, "_COMMITTED"))

    write_index(sidx, crash, key_cols=CORPUS_KEY)
    reopened = read_index(spark, crash)
    assert reopened.blocks.count() == sidx.blocks.count()  # no stale dup groups
    spec = QuerySpec(should=["fn", "import"])
    assert wand_bits(reopened, "fn import", k=10) == wand_bits(sidx, "fn import", k=10)


def test_resume_repins_fingerprint_when_nothing_committed(
    built, spark, tmp_path_factory
):
    """A manifest published by a session that crashed BEFORE its first
    group commit must not keep that session's docid fingerprint: the
    resuming session re-pins it to ITS OWN assignment before writing.
    Leaving the stale value would validate a LATER resume against the
    wrong session's assignment — session B writes groups under fp_B
    while the manifest says fp_A; session C with fp_C == fp_A then
    passes the check and mixes assignments, the exact silent corruption
    the fingerprint exists to prevent."""
    path = str(tmp_path_factory.mktemp("idx_fp"))
    write_index(built, path, n_groups=3)

    # simulate: published manifest, zero committed groups, a fingerprint
    # from a DIFFERENT session's docid assignment
    mp = os.path.join(path, "manifest.json")
    with open(mp) as f:
        d = json.load(f)
    d["completed"] = False
    d["committed_groups"] = {}
    d["tables"] = {}
    d["docid_fingerprint"] = "stale-session-fingerprint"
    with open(mp, "w") as f:
        json.dump(d, f)
    os.remove(os.path.join(path, "_COMMITTED"))
    for g in range(3):
        shutil.rmtree(
            os.path.join(path, "blocks", f"group={g}"), ignore_errors=True
        )

    m2 = write_index(built, path)
    assert m2.completed
    assert m2.docid_fingerprint != "stale-session-fingerprint"

    idx = read_index(spark, path)
    oracle = OracleIndex(corpus_docs(N_DOCS))
    assert wand_bits(idx, "fn import", k=10) == oracle.search_bits(
        "fn import", k=10
    )


def test_serving_save_refuses_partial_target_of_another_layout(
    built, raw, tmp_path_factory
):
    """A serving index writes its blocks as they are, so a partial
    target whose committed groups were written under another block
    layout cannot be resumed: the save refuses it."""
    from frankensearch_spark.plans.manifest import _publish

    path = str(tmp_path_factory.mktemp("idx_layout"))
    write_index(built, path, n_groups=2)
    m = load_manifest(path)
    m.completed = False
    m.tables = {}
    _publish(path, m)
    os.unlink(os.path.join(path, "_COMMITTED"))
    with pytest.raises(ValueError, match="layout mismatch"):
        write_index(serving_from_built(raw), path)


def test_write_clears_uncommitted_block_groups(built, spark, tmp_path_factory):
    """Block groups a crashed write staged but never committed (here its
    manifest never landed) are removed before the next write, so
    read_index's union of every group directory sees no stale rows."""
    clean = str(tmp_path_factory.mktemp("idx_clean"))
    write_index(built, clean)
    path = str(tmp_path_factory.mktemp("idx_stale"))
    write_index(built, path, n_groups=3)
    for name in ("manifest.json", "_COMMITTED"):
        os.unlink(os.path.join(path, name))

    m = write_index(built, path)
    assert set(m.committed_groups) == {"0"}
    idx = read_index(spark, path)
    assert idx.blocks.count() == read_index(spark, clean).blocks.count()
    oracle = OracleIndex(corpus_docs(N_DOCS))
    assert wand_bits(idx, "fn import", k=10) == oracle.search_bits(
        "fn import", k=10
    )
