"""Delete/tombstone/upsert/compaction semantics vs the oracle (S2/M3).

Reference laws under test:
  * deleting docs removes them from results but does NOT change surviving
    docs' scores (stats still count tombstones — grimoire.rs:68-71);
  * compaction preserves surviving docids and recomputes stats, so scores
    MAY change, matching an oracle rebuilt over survivors;
  * upsert = fresh docid above the high-watermark + tombstone of the old.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from frankensearch_spark.corpus import corpus_docs
from frankensearch_spark.operators.astexec import search_ast_bits
from frankensearch_spark.operators.build import build_index
from frankensearch_spark.operators.lifecycle import (
    compact,
    delete_by_key,
    delete_documents,
    tombstone_density,
    upsert_documents,
)
from frankensearch_spark.operators.wand import serving_from_built
from frankensearch_spark.oracle import OracleIndex
from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df

N_DOCS = 200
QUERY = "term00001 term00002 fn"


@pytest.fixture(scope="module")
def built(spark):
    corpus = synthetic_corpus_df(spark, N_DOCS, partitions=4)
    return serving_from_built(
        build_index(corpus, CORPUS_KEY, docid_mode="global")
    )


def test_delete_excludes_but_preserves_scores(built):
    oracle = OracleIndex(corpus_docs(N_DOCS))
    baseline = search_ast_bits(built, QUERY, k=5)
    victims = [d for d, _ in baseline[:2]]

    deleted = delete_documents(built, victims)
    oracle.delete(victims)

    got = search_ast_bits(deleted, QUERY, k=5)
    exp = oracle.search_bits(QUERY, k=5)
    assert got == exp
    assert not any(d in victims for d, _ in got)
    # surviving docs keep their EXACT pre-delete score bits (stats rule)
    base_scores = dict(baseline)
    for d, bits in got:
        if d in base_scores:
            assert bits == base_scores[d]


def test_delete_by_key(built):
    row = built.docmeta.limit(1).collect()[0]
    deleted = delete_by_key(built, F.col("path") == row["path"])
    assert deleted.tombstones.count() >= 1
    ids = {int(r["docid"]) for r in deleted.tombstones.collect()}
    assert int(row["docid"]) in ids


def test_compaction_preserves_docids_and_matches_rebuilt_oracle(built):
    baseline = search_ast_bits(built, QUERY, k=10)
    victims = [d for d, _ in baseline[:3]]
    deleted = delete_documents(built, victims)
    assert tombstone_density(deleted) > 0

    compacted = compact(deleted, force=True)
    assert compacted.tombstones is None
    n_before, _ = built.stats()
    n_after, _ = compacted.stats()
    assert n_after == n_before - len(victims)

    # oracle rebuilt over survivors with ORIGINAL docids
    survivors = [
        (d, text) for d, text in corpus_docs(N_DOCS) if d not in set(victims)
    ]
    oracle = OracleIndex(survivors)
    got = search_ast_bits(compacted, QUERY, k=10)
    assert got == oracle.search_bits(QUERY, k=10)


def test_compaction_noop_below_threshold(built):
    deleted = delete_documents(built, [0])  # density 0.5% << 20%
    same = compact(deleted)
    assert same.tombstones is not None  # no-op kept the tombstone set


def test_upsert_replaces_by_key(spark, built):
    # re-ingest one existing key with new content + one brand-new key
    row = built.docmeta.limit(1).collect()[0]
    new_rows = [
        (row["repo"], row["path"], row["commit"], "rust",
         "zzupserted freshcontenttoken fn"),
        ("neworg/newrepo", "src/new.rs", "c" * 40, "rust",
         "zzupserted brandnew fn"),
    ]
    new_corpus = spark.createDataFrame(
        new_rows, "repo string, path string, commit string, lang string, content string"
    )
    up = upsert_documents(built, new_corpus, CORPUS_KEY)

    hits = search_ast_bits(up, "zzupserted", k=5)
    assert len(hits) == 2
    hwm = int(built.docmeta.agg(F.max("docid")).collect()[0][0])
    assert all(d > hwm for d, _ in hits)  # fresh docids above watermark
    # the old revision no longer matches queries
    old_id = int(row["docid"])
    all_hits = search_ast_bits(up, "term00001 term00002 fn", k=N_DOCS + 2)
    assert old_id not in {d for d, _ in all_hits}


def test_upsert_mixed_position_formats_serves_phrases(spark, built):
    """A delta built by the default analyzer upserts into the index in
    the one positions wire format (the blocks' vbyte ``pos_bytes``
    sidecar, no normalization shim), and the upserted doc serves an
    exact phrase query."""
    new_rows = [
        ("mixorg/mixrepo", "src/mix.rs", "d" * 40, "rust",
         "alphamix betamix gammamix"),
    ]
    new_corpus = spark.createDataFrame(
        new_rows,
        "repo string, path string, commit string, lang string, content string",
    )
    up = upsert_documents(built, new_corpus, CORPUS_KEY)
    assert dict(up.blocks.dtypes)["pos_bytes"] == "binary"
    hits = search_ast_bits(up, '"alphamix betamix gammamix"', k=5)
    assert len(hits) == 1
    miss = search_ast_bits(up, '"betamix alphamix"', k=5)
    assert miss == []


def test_docids_never_reused_after_compaction(spark, tmp_path):
    """Compaction drops the tombstoned top docids from docmeta, but not
    from the high-watermark: the next upsert leases above the docids it
    compacted away, in-session and through save -> load."""
    from frankensearch_spark.corpus import make_corpus
    from frankensearch_spark.engine import FrankensearchSpark

    ddl = "repo string, path string, commit string, lang string, content string"

    def upsert_one(eng, tag):
        eng = eng.upsert(spark.createDataFrame(
            [("neworg/x", f"src/{tag}.rs", "c1", "rust", f"{tag} fn")], ddl
        ))
        (docid, _score), = eng.search_docids(tag)
        return eng, docid

    eng = FrankensearchSpark.build(
        spark.createDataFrame(make_corpus(20), ddl), CORPUS_KEY
    )
    eng, first = upsert_one(eng, "zzfirst")
    assert first == 8192
    compacted = eng.delete_documents([first]).compact()
    path = str(tmp_path / "compacted")
    compacted.save(path)
    _, again = upsert_one(compacted, "zzsecond")
    assert again >= 16384
    _, loaded = upsert_one(FrankensearchSpark.load(spark, path), "zzsecond")
    assert loaded >= 16384
