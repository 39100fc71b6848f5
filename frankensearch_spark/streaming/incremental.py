"""Structured Streaming incremental index build (SURVEY.md §7 step 8 —
the delta-segment analogue of quill/delta.rs + bulk-load checkpointing,
COMPREHENSIVE_PLAN.md:255-260 watch mode).

Design: each micro-batch is a MINI-SEGMENT in the one block format an
engine build makes (Scribe seals, the Keeper concat-merges and Argus
serves one layout).  The batch's docs get a disjoint docid lease
``(batch_id + base_lease) * DOC_ORDS_PER_LEASE + i`` (never reused, Q1
discipline), are built by ``build_index`` and blockified once by
``wand.serving_from_built``; the segment holds that ``blocks`` table,
``docmeta`` and ``termstats``, and its ``segmeta.json`` stamps the block
layout.  A reader unions the segments' blocks and docmeta, sums their
termstats per term and derives fieldstats from docmeta — so the
snapshot stats are global, BM25 scores are IDENTICAL to a one-shot batch
build over the same docs modulo docid numbering, and the snapshot is a
``ServingIndex`` that serves (and warms) like any engine's.

``foreachBatch`` gives exactly-once appends when the sink directory and
the checkpoint location are kept together (Spark's own streaming
checkpoint + parquet atomic commit)."""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frankensearch_spark.plans.manifest import PARQUET_COMPRESSION
from frankensearch_spark.operators.build import (
    DOC_ORDS_PER_LEASE,
    build_fieldstats,
    build_index,
)
from frankensearch_spark.operators.wand import ServingIndex, serving_from_built

STREAM_LEASE_BASE = 1 << 20  # streaming leases start far above batch builds


def index_microbatch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    key_cols: list[str],
    content_col: str = "content",
) -> None:
    """foreachBatch body: seal one micro-batch as ONE block segment
    directory (``segments/s<lease>/{blocks,docmeta,termstats,
    segmeta.json}``).

    The batch's docids are leased here; ``build_index`` trusts them
    (its persist pins the window's assignment to one evaluation, and its
    range exchange spreads the tokenizer over every core), and
    ``serving_from_built`` blockifies the grouped frame once, uncached —
    the blocks write is its only reader.  The segmeta write is the
    commit marker — a crash mid-seal leaves an uncommitted directory
    that readers skip and a re-run overwrites.  Per-segment directories
    are what the tier-merge compactor (:mod:`frankensearch_spark.plans.tiers`)
    plans over."""
    from frankensearch_spark.plans.tiers import (
        SEGMENT_TABLES,
        SegmentInfo,
        segments_dir,
        write_segment_meta,
    )

    w = F.row_number().over(Window.orderBy(*[F.col(c) for c in key_cols]))
    lease_idx = STREAM_LEASE_BASE + int(batch_id)
    lease = lease_idx * DOC_ORDS_PER_LEASE
    built = build_index(
        batch_df.withColumn("docid", w.cast("long") - 1 + F.lit(lease)),
        key_cols, content_col,
    )
    seg = serving_from_built(built, cache=False)
    seg_id = f"s{lease_idx:08d}"
    seg_dir = os.path.join(segments_dir(out_dir), seg_id)
    # marker-FIRST reseal (the tiers.merge_segments retirement rule):
    # foreachBatch is at-least-once, so a replayed batch re-seals this
    # directory — retire the commit marker BEFORE the first overwrite
    # or a crash mid-rewrite (or a concurrent reader/merge) would see a
    # committed marker over a partially rewritten segment
    try:
        os.remove(os.path.join(seg_dir, "segmeta.json"))
    except OSError:
        pass
    for name in SEGMENT_TABLES:
        getattr(seg, name).write.mode("overwrite").option(
            "compression", PARQUET_COMPRESSION
        ).parquet(os.path.join(seg_dir, name))
    built.release_aux_caches()
    for df in built.persisted:
        df.unpersist()
    spark = batch_df.sparkSession
    n_docs = spark.read.parquet(os.path.join(seg_dir, "docmeta")).count()
    write_segment_meta(
        seg_dir,
        SegmentInfo(
            seg_id, lease_idx, lease_idx + 1, int(n_docs),
            layout=(seg.bucket_shift, seg.n_term_partitions, seg.codec),
        ),
    )


def _has_offsets(spark: SparkSession, ckpt: str) -> bool:
    """True when checkpoint ``ckpt`` holds committed offsets.  A URI
    with a scheme (``file://``, ``hdfs://``, ``s3a://``) resolves
    through the Hadoop FileSystem API, as Spark resolves the checkpoint
    itself; a plain path is read locally."""
    if not urlparse(ckpt).scheme:
        offsets = os.path.join(ckpt, "offsets")
        return os.path.isdir(offsets) and bool(os.listdir(offsets))
    path = spark._jvm.org.apache.hadoop.fs.Path(ckpt.rstrip("/") + "/offsets")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(path)) and len(fs.listStatus(path)) > 0


def start_incremental_build(
    stream_df: DataFrame,
    out_dir: str,
    key_cols: list[str],
    content_col: str = "content",
    checkpoint_dir: str | None = None,
    trigger_once: bool = True,
):
    """Wire a streaming corpus source into the mini-segment sink.

    Refuses to start a FRESH-checkpoint stream over an out_dir that
    already holds committed stream segments: batch ids restart at 0 for
    a new checkpoint, so the new stream's leases would collide with (and
    ``mode("overwrite")`` silently replace) the previous stream's
    committed segments.  Resuming with the original checkpoint is
    always fine — its offsets make the batch ids line up."""
    ckpt = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    if not _has_offsets(stream_df.sparkSession, ckpt):
        from frankensearch_spark.plans.tiers import list_segments

        try:
            stale = [
                s.seg_id
                for s in list_segments(out_dir)
                if s.lease_lo >= STREAM_LEASE_BASE
            ]
        except OSError:
            stale = []
        if stale:
            raise ValueError(
                f"out_dir {out_dir!r} already holds committed stream "
                f"segments {stale[:4]}... but the checkpoint at "
                f"{ckpt!r} is fresh — a new stream's batch ids restart "
                "at 0 and would silently overwrite them. Resume with "
                "the original checkpoint, or use a new out_dir."
            )
    writer = stream_df.writeStream.foreachBatch(
        lambda df, bid: index_microbatch(df, bid, out_dir, key_cols, content_col)
    ).option("checkpointLocation", ckpt)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_incremental_index(spark: SparkSession, out_dir: str) -> ServingIndex:
    """Snapshot over every live, committed mini-segment as one serving
    index: blocks and docmeta unioned, termstats summed per term,
    fieldstats from docmeta — stats are global, so scores equal a batch
    build over the same docs (Q1-OB3 law) under ANY merge schedule of
    the tier compactor."""
    from frankensearch_spark.plans.tiers import (
        list_segments,
        segment_layout,
        segments_dir,
    )

    segs = list_segments(out_dir)
    if not segs:
        raise FileNotFoundError(f"no committed mini-segments in {out_dir}")
    bucket_shift, n_term_partitions, codec = segment_layout(segs)
    root = segments_dir(out_dir)

    def union(name: str) -> DataFrame:
        return spark.read.parquet(
            *[os.path.join(root, s.seg_id, name) for s in segs]
        )

    docmeta = union("docmeta")
    termstats = union("termstats").groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )
    return ServingIndex(
        union("blocks"), termstats, docmeta, build_fieldstats(docmeta),
        bucket_shift, n_term_partitions, has_positions=True, codec=codec,
    )
