"""Structured Streaming incremental index build (SURVEY.md §7 step 8 —
the delta-segment analogue of quill/delta.rs + bulk-load checkpointing,
COMPREHENSIVE_PLAN.md:255-260 watch mode).

Design: each micro-batch is a MINI-SEGMENT — the batch's docs get a
disjoint docid lease ``(batch_id + base_lease) * DOC_ORDS_PER_LEASE + i``
(never reused, Q1 discipline), are tokenized with the same fused kernel
as the bulk build, and appended to parquet tables.  A reader recomputes
snapshot-global stats from the union — so BM25 scores follow the same
"stats are snapshot-global" rule as the reference and are IDENTICAL to a
one-shot batch build over the same docs modulo docid numbering.

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
    BuiltIndex,
    build_docmeta,
    build_fieldstats,
    build_postings_fused,
    build_termstats,
)

STREAM_LEASE_BASE = 1 << 20  # streaming leases start far above batch builds


def index_microbatch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    key_cols: list[str],
    content_col: str = "content",
) -> None:
    """foreachBatch body: seal one micro-batch as ONE mini-segment
    directory (``segments/s<lease>/{postings,docmeta,segmeta.json}``).

    The segmeta write is the commit marker — a crash mid-seal leaves an
    uncommitted directory that readers skip and a re-run overwrites.
    Per-segment directories are what the tier-merge compactor
    (:mod:`frankensearch_spark.plans.tiers`) plans over."""
    from frankensearch_spark.plans.tiers import (
        SegmentInfo,
        segments_dir,
        write_segment_meta,
    )

    w = F.row_number().over(Window.orderBy(*[F.col(c) for c in key_cols]))
    lease_idx = STREAM_LEASE_BASE + int(batch_id)
    lease = lease_idx * DOC_ORDS_PER_LEASE
    # persist pins the row_number docid assignment to ONE evaluation:
    # without it the postings write and the docmeta build re-run the
    # window (and the tokenizer) independently, and key ties could
    # receive OPPOSITE docids in the two jobs — a silently corrupt
    # segment (the bulk path guards the same hazard, build.py persist)
    with_docid = batch_df.withColumn(
        "docid", (w.cast("long") - 1 + F.lit(lease))
    ).persist()
    spark = batch_df.sparkSession
    # the global row_number window collapses the batch to ONE partition;
    # re-spread AFTER the persisted docid assignment so the tokenizer
    # mapInArrow runs on every core (the docids are pinned by the cache,
    # the exchange only moves already-assigned rows) — without this an
    # availableNow catch-up over a large backlog tokenizes serially
    spread = with_docid.repartition(spark.sparkContext.defaultParallelism)
    # positions ride along in the mini-segment (quill's delta segment
    # indexes positions too, delta.rs:782-830) so streamed indexes can
    # serve phrase queries; read_incremental_index splits them back out
    postings = build_postings_fused(spread, content_col)
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
    postings.write.mode("overwrite").option(
        "compression", PARQUET_COMPRESSION
    ).parquet(os.path.join(seg_dir, "postings"))
    # docmeta reads the SEALED postings back from disk: tokenization
    # runs exactly once per micro-batch (build_docmeta's contract)
    sealed = spark.read.parquet(os.path.join(seg_dir, "postings"))
    docmeta = build_docmeta(
        with_docid, key_cols, sealed.drop("positions"), content_col
    )
    docmeta.write.mode("overwrite").option(
        "compression", PARQUET_COMPRESSION
    ).parquet(os.path.join(seg_dir, "docmeta"))
    with_docid.unpersist()
    n_docs = spark.read.parquet(os.path.join(seg_dir, "docmeta")).count()
    write_segment_meta(
        seg_dir,
        SegmentInfo(
            seg_id, lease_idx, lease_idx + 1, int(n_docs),
            # recorded at seal time so snapshot reads skip the footer
            # probe; the fused build always emits LEB128-binary
            # positions
            pos_format="binary",
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


def read_segment_postings(
    spark: SparkSession,
    paths: list[str],
    formats: list[str | None] | None = None,
) -> DataFrame:
    """Union mini-segment posting tables — ONE positions wire format
    (per-posting canonical LEB128 ``binary``).

    Segments without a positions column union in with nulls (they
    predate positions and can never serve phrases anyway).  A segment
    still carrying the retired pre-round-4 ``array<int>`` format raises
    :class:`~frankensearch_spark.plans.manifest.LegacyPositionsError` —
    run ``plans.manifest.migrate_segment_positions(spark, out_dir)``
    once (idempotent, per-segment atomic) instead of paying a format
    probe + normalization pass on EVERY read.

    ``formats``: per-path positions format from the segments' OWN
    segmeta (``SegmentInfo.pos_format``, recorded at seal time) — a
    None entry (segment sealed before the field existed) falls back to
    a parquet footer probe.  Passing it turns the O(n_segments)
    sequential driver-side footer fetches this function otherwise pays
    on EVERY snapshot read into zero I/O."""
    from frankensearch_spark.plans.manifest import LegacyPositionsError

    # known formats come from segmeta; only unknown entries pay the
    # footer read (the probe keeps the union type-safe: a single
    # multi-path scan over conflicting column types would fail or
    # silently mis-read)
    by_fmt: dict[str, list[str]] = {}
    for i, p in enumerate(paths):
        fmt = formats[i] if formats is not None else None
        if fmt is None:
            fmt = dict(spark.read.parquet(p).dtypes).get(
                "positions", "<none>"
            )
        by_fmt.setdefault(fmt, []).append(p)
    legacy = {f: g for f, g in by_fmt.items() if f not in ("binary", "<none>")}
    if legacy:
        raise LegacyPositionsError(
            "mini-segments with retired positions format "
            f"{sorted(legacy)}: {sorted(sum(legacy.values(), []))[:4]}... — "
            "run plans.manifest.migrate_segment_positions(spark, out_dir) "
            "once to rewrite them to canonical LEB128 binary"
        )
    out = None
    for _fmt, group in sorted(by_fmt.items()):
        df = spark.read.parquet(*group)
        out = (
            df
            if out is None
            else out.unionByName(df, allowMissingColumns=True)
        )
    return out


def read_incremental_index(spark: SparkSession, out_dir: str) -> BuiltIndex:
    """Snapshot over every live, committed mini-segment: stats recomputed
    globally, so scores equal a batch build over the same docs (Q1-OB3
    law) — under ANY merge schedule of the tier compactor."""
    from frankensearch_spark.plans.tiers import list_segments, segments_dir

    segs = list_segments(out_dir)
    if not segs:
        raise FileNotFoundError(f"no committed mini-segments in {out_dir}")
    root = segments_dir(out_dir)
    raw = read_segment_postings(
        spark,
        [os.path.join(root, s.seg_id, "postings") for s in segs],
        formats=[s.pos_format for s in segs],
    )
    docmeta = spark.read.parquet(
        *[os.path.join(root, s.seg_id, "docmeta") for s in segs]
    )
    if "positions" in raw.columns:
        postings = raw.drop("positions")
        positions = raw.select("docid", "term", "positions")
    else:  # mini-segments sealed by older writers
        postings, positions = raw, None
    return BuiltIndex(
        postings=postings,
        docmeta=docmeta,
        termstats=build_termstats(postings),
        fieldstats=build_fieldstats(docmeta),
        positions=positions,
    )
