"""Streaming incremental build + multimodal plumbing tests."""

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from frankensearch_spark.corpus import make_corpus
from frankensearch_spark.sources.corpus import CORPUS_KEY, CORPUS_SCHEMA

N_DOCS = 120


@pytest.fixture(scope="module")
def stream_dirs():
    src = tempfile.mkdtemp(prefix="fsx_stream_src_")
    out = tempfile.mkdtemp(prefix="fsx_stream_out_")
    yield src, out
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)


def test_incremental_equals_batch_scores(spark, stream_dirs):
    """Streamed mini-segments answer queries with the same scores as a
    one-shot batch build over the same docs (Q1-OB3 merge law)."""
    from frankensearch_spark.operators.astexec import search_ast_collect
    from frankensearch_spark.operators.build import build_index
    from frankensearch_spark.operators.wand import serving_from_built
    from frankensearch_spark.streaming.incremental import (
        read_incremental_index,
        start_incremental_build,
    )

    src, out = stream_dirs
    rows = make_corpus(N_DOCS)
    df = spark.createDataFrame(rows, schema=CORPUS_SCHEMA).repartition(3)
    df.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .parquet(src)
    )
    q = start_incremental_build(stream, out, CORPUS_KEY)
    q.awaitTermination(120)

    inc = read_incremental_index(spark, out)
    batch = serving_from_built(build_index(df, CORPUS_KEY))
    n_inc, tok_inc = inc.stats()
    n_b, tok_b = batch.stats()
    assert (n_inc, tok_inc) == (n_b, tok_b)

    for text in ("fn import", "term00001 term00002"):
        inc_hits = search_ast_collect(inc, text, k=10)
        b_hits = search_ast_collect(batch, text, k=10)
        # docid numbering differs (stream leases); scores must match as
        # multisets of f32 bits
        assert sorted(
            np.float32(s).view(np.uint32) for _d, s in inc_hits
        ) == sorted(np.float32(s).view(np.uint32) for _d, s in b_hits)

    # streamed mini-segments keep positions: phrase queries work
    # (round-1 gap — incremental.py dropped the positions column)
    assert inc.has_positions
    for text in ('"generated record"', '"term00001 term00002"'):
        inc_ph = search_ast_collect(inc, text, k=10)
        b_ph = search_ast_collect(batch, text, k=10)
        assert sorted(
            np.float32(s).view(np.uint32) for _d, s in inc_ph
        ) == sorted(np.float32(s).view(np.uint32) for _d, s in b_ph), text

    # tier compaction: merge the many small mini-segments down, then
    # re-assert Q1-OB3 — scores (and docids: concat never renumbers) are
    # invariant under the merge schedule, and phrases still serve
    from frankensearch_spark.plans.tiers import compact_stream, list_segments
    from frankensearch_spark.streaming.incremental import (
        read_incremental_index as read_inc,
    )

    n_before = len(list_segments(out))
    assert n_before > 1
    pre = {
        text: search_ast_collect(inc, text, k=10)
        for text in ("fn import", "term00001 term00002")
    }
    n_merges = compact_stream(spark, out, fanout=min(3, n_before))
    assert n_merges >= 1
    segs_after = list_segments(out)
    assert len(segs_after) < n_before
    merged = read_inc(spark, out)
    for text, exp in pre.items():
        got = search_ast_collect(merged, text, k=10)
        assert [(d, np.float32(s).view(np.uint32)) for d, s in got] == [
            (d, np.float32(s).view(np.uint32)) for d, s in exp
        ], text
    ph = search_ast_collect(merged, '"generated record"', k=10)
    assert sorted(np.float32(s).view(np.uint32) for _d, s in ph) == sorted(
        np.float32(s).view(np.uint32)
        for _d, s in search_ast_collect(batch, '"generated record"', k=10)
    )

    # streamed -> durable -> served: the mini-segment snapshot persists
    # to the compressed block store (huge lease docids and all) and
    # serves phrases from disk with the same score bits
    import os

    from frankensearch_spark.operators.serving_exec import serving_search_bits
    from frankensearch_spark.plans.manifest import read_index, write_index

    idx_path = os.path.join(out, "durable_idx")
    write_index(merged, idx_path, n_groups=1)
    srv = read_index(spark, idx_path)
    got = serving_search_bits(srv, '"generated record"', k=10)
    assert sorted(bits for _d, bits in got) == sorted(
        int(np.float32(s).view(np.uint32)) for _d, s in ph
    )


def test_resume_through_file_uri_checkpoint(spark, tmp_path):
    """A checkpoint given as a URI (``file://`` here, ``hdfs://`` or
    ``s3a://`` on a cluster) resumes over the stream's committed
    segments: its offsets resolve through the Hadoop FileSystem API, so
    the fresh-checkpoint guard no longer mistakes it for a new stream.
    A genuinely fresh URI checkpoint still trips the guard."""
    from frankensearch_spark.streaming.incremental import (
        read_incremental_index,
        start_incremental_build,
    )

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ckpt = (tmp_path / "ckpt").as_uri()
    rows = make_corpus(40)

    def stream_once(batch, checkpoint):
        spark.createDataFrame(batch, schema=CORPUS_SCHEMA).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(src)
        start_incremental_build(
            stream, out, CORPUS_KEY, checkpoint_dir=checkpoint
        ).awaitTermination(120)

    stream_once(rows[:20], ckpt)
    stream_once(rows[20:], ckpt)
    assert read_incremental_index(spark, out).stats()[0] == 40

    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(src)
    with pytest.raises(ValueError, match="fresh"):
        start_incremental_build(
            stream, out, CORPUS_KEY,
            checkpoint_dir=(tmp_path / "ckpt2").as_uri(),
        )


def test_multimodal_plumbing(spark):
    from frankensearch_spark.operators.multimodal import (
        extract_features,
        frame_sample,
        media_from_documents,
        resize_metadata,
    )

    docs = spark.createDataFrame(
        [(i, f"payload text {i} " * (i + 1)) for i in range(20)],
        "doc_id long, text string",
    )
    media = media_from_documents(docs, kind="image")
    feats = extract_features(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r["sha256"]) == 64
        assert 1 <= r["width"] <= 64 and 1 <= r["height"] <= 64
        assert r["n_frames"] == 1  # images have one frame
        assert len(r["embedding"]) == 16

    # determinism: same payload -> same features
    feats2 = extract_features(media).collect()
    assert sorted(r["sha256"] for r in feats) == sorted(r["sha256"] for r in feats2)

    video = media_from_documents(docs, kind="video")
    frames = frame_sample(video, every_n=4)
    got = frames.groupBy("media_id").count().collect()
    assert all(r["count"] >= 1 for r in got)

    rs = resize_metadata(media, max_side=16).collect()
    for r in rs:
        assert max(r["target_width"], r["target_height"]) <= 16
        assert min(r["target_width"], r["target_height"]) >= 1


def test_unknown_media_kind_raises(spark):
    from frankensearch_spark.operators.multimodal import (
        extract_features,
        media_from_documents,
    )
    from py4j.protocol import Py4JJavaError

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    bad = media_from_documents(docs, kind="hologram")
    with pytest.raises(Exception) as exc:
        extract_features(bad).collect()
    assert "hologram" in str(exc.value) or isinstance(exc.value, Py4JJavaError)


def _seal_batches(spark, out, rows, n_batches):
    from frankensearch_spark.streaming.incremental import index_microbatch

    per = -(-len(rows) // n_batches)
    for bid in range(n_batches):
        batch = spark.createDataFrame(
            rows[bid * per : (bid + 1) * per], schema=CORPUS_SCHEMA
        )
        index_microbatch(batch, bid, out, CORPUS_KEY)


def test_streamed_engine_serves_point_shapes_in_one_job(spark, tmp_path):
    """A streamed snapshot is a working engine: warmed, it answers every
    bounded point shape in ONE Spark job per search, with the numpy
    oracle's bits over the same documents."""
    from frankensearch_spark.engine import FrankensearchSpark
    from frankensearch_spark.streaming.incremental import (
        read_incremental_index,
    )
    from tests.test_engine import POINT_SHAPES, _bits, _jobs, oracle_bits, oracle_of

    out = str(tmp_path / "out")
    rows = make_corpus(N_DOCS)
    _seal_batches(spark, out, rows, 3)
    eng = FrankensearchSpark(read_incremental_index(spark, out), CORPUS_KEY)
    eng.warm()
    oracle = oracle_of(eng, {tuple(r[:3]): r[4] for r in rows}, {})
    for name, q in POINT_SHAPES.items():
        hits, n = _jobs(spark, f"streamed:{name}", lambda: eng.search_docids(q))
        assert _bits(hits) == oracle_bits(oracle, q, 10), name
        assert n == 1, (name, n)


def test_seal_releases_build_caches(spark, tmp_path):
    """Sealing micro-batches leaves no more persisted RDDs than before:
    each seal unpersists the frames its build cached once the segment's
    tables are written."""
    sc = spark.sparkContext

    def cached():
        return len(sc._jsc.getPersistentRDDs())

    before = cached()
    _seal_batches(spark, str(tmp_path / "out"), make_corpus(60), 3)
    assert cached() <= before


def test_postings_form_segment_is_refused(spark, tmp_path):
    """A segment sealed by the retired postings-form writer (a postings
    table, no layout stamp in its segmeta) is refused by name at read,
    with the way out, instead of failing on a missing table."""
    import json
    import os

    from frankensearch_spark.streaming.incremental import (
        read_incremental_index,
    )

    out = str(tmp_path / "out")
    seg = os.path.join(out, "segments", "s01048576")
    spark.createDataFrame(
        [(1 << 53, "fn", 1, 1, b"\x00")],
        "docid long, term string, tf int, doclen int, positions binary",
    ).write.parquet(os.path.join(seg, "postings"))
    spark.createDataFrame(
        [(1 << 53, 1)], "docid long, doclen int"
    ).write.parquet(os.path.join(seg, "docmeta"))
    with open(os.path.join(seg, "segmeta.json"), "w") as fh:
        json.dump({"seg_id": "s01048576", "lease_lo": 1 << 20,
                   "lease_hi": (1 << 20) + 1, "n_docs": 1, "replaces": [],
                   "pos_format": "binary"}, fh)
    with pytest.raises(ValueError, match="s01048576.*re-ingest"):
        read_incremental_index(spark, out)
