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
    batch = build_index(df, CORPUS_KEY)
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
    assert inc.positions is not None
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


def test_legacy_position_segments_migrate_once(spark):
    """ONE positions wire format end-to-end: a mini-segment still
    carrying the retired pre-r4 ``array<int>`` format fails loudly at
    read (no silent per-read normalization), the one-shot
    migrate_segment_positions rewrites it through the merge commit
    protocol (replaces chain, marker-first retirement), and the migrated
    index serves bit-identically — phrases included — then tier-compacts
    normally.  Re-running the migration is a no-op."""
    import os

    from frankensearch_spark.corpus import make_corpus
    from frankensearch_spark.operators.astexec import search_ast_bits
    from frankensearch_spark.operators.build import positions_as_array
    from frankensearch_spark.plans.manifest import (
        LegacyPositionsError,
        migrate_segment_positions,
    )
    from frankensearch_spark.plans.tiers import compact_stream, list_segments
    from frankensearch_spark.streaming.incremental import (
        index_microbatch,
        read_incremental_index,
    )

    out = tempfile.mkdtemp(prefix="fsx_legacy_seg_")
    try:
        rows = make_corpus(40)
        for bid in range(2):
            batch = spark.createDataFrame(
                rows[bid * 20 : (bid + 1) * 20], schema=CORPUS_SCHEMA
            )
            index_microbatch(batch, bid, out, CORPUS_KEY)
        inc0 = read_incremental_index(spark, out)
        doc0_terms = rows[0][4].split()[:2]
        phrase = f'"{doc0_terms[0]} {doc0_terms[1]}"'
        hits0 = search_ast_bits(inc0, phrase, k=5)
        assert hits0

        # rewrite segment 0's postings in the LEGACY array<int> format
        seg0 = sorted(list_segments(out), key=lambda s: s.seg_id)[0]
        p0 = os.path.join(out, "segments", seg0.seg_id, "postings")
        legacy = positions_as_array(spark.read.parquet(p0))
        assert dict(legacy.dtypes)["positions"] == "array<int>"
        tmp = p0 + ".legacy"
        legacy.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(p0)
        os.rename(tmp, p0)
        # a faithful legacy segment carries NO pos_format stamp (the
        # field postdates those writers) — strip it so the reader's
        # segmeta fast path correctly falls back to the footer probe
        import json

        smp = os.path.join(out, "segments", seg0.seg_id, "segmeta.json")
        with open(smp) as fh:
            sm = json.load(fh)
        sm.pop("pos_format", None)
        with open(smp, "w") as fh:
            json.dump(sm, fh)

        # the shim is retired: reading an unmigrated index raises
        with pytest.raises(LegacyPositionsError) as exc:
            read_incremental_index(spark, out)
        assert "migrate_segment_positions" in str(exc.value)

        assert migrate_segment_positions(spark, out) == 1
        live = {s.seg_id for s in list_segments(out)}
        assert f"g{seg0.seg_id}" in live and seg0.seg_id not in live
        # replaces chain carries the legacy member (resurrection guard)
        mig = next(s for s in list_segments(out)
                   if s.seg_id == f"g{seg0.seg_id}")
        assert seg0.seg_id in mig.replaces

        inc = read_incremental_index(spark, out)
        assert dict(inc.positions.dtypes)["positions"] == "binary"
        assert search_ast_bits(inc, phrase, k=5) == hits0

        assert migrate_segment_positions(spark, out) == 0  # idempotent

        # tier compaction over the migrated index
        n = compact_stream(spark, out, fanout=2)
        assert n == 1
        inc2 = read_incremental_index(spark, out)
        assert search_ast_bits(inc2, phrase, k=5) == hits0
    finally:
        shutil.rmtree(out, ignore_errors=True)
