"""Sort-merge reduce into compressed global term partitions (SURVEY.md M1-M2,
B4-B7) — the north-rule's "per-partition sorted posting lists with delta +
variable-byte compression, sort-merge reduced into global term partitions
with explicit salting for skewed terms".

Layout: one row per posting **block** of up to 128 postings
(POSTINGS_PER_BLOCK, quiver.rs:395-430):

    term        string   — the indexed term
    bucket      long     — docid >> bucket_shift (deterministic salt: the
                           'fn'/'import' mega-terms split across buckets,
                           so no task ever sees a whole skewed posting list)
    first_doc   long     — absolute docid of the block's first posting
    n           int      — postings in the block (<= 128)
    doc_bytes   binary   — LEB128(delta(docid offsets within bucket))
    tf_bytes    binary   — LEB128(term frequencies)
    norm_bytes  binary   — one fieldnorm id byte per posting (DOCLEN is
                           denormalized into the block: queries never join
                           a docid-side table — the reference reads DOCLEN
                           via segment-local mmap for free; a distributed
                           join is NOT free, this is the Spark-native move)
    max_tf_code tinyint-ish int — saturating block-max code (contract)
    min_fieldnorm_id int — block min fieldnorm id
    tpart       int      — stable hash(term) % n_term_partitions: the disk
                           partition column, enabling partition pruning at
                           query time (grimoire block-first-key analogue)

Because ``bucket`` is a prefix of docid order, concatenating a term's
blocks in (bucket, first_doc) order reproduces the docid-sorted global
posting list — the reference's concat-merge theorem Q1
(keeper.rs:4166-4206) carried over: merge is concatenation, never decode.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frankensearch_spark.contract import POSTINGS_PER_BLOCK, fieldnorm_to_id

DEFAULT_BUCKET_SHIFT = 13  # 8,192 docids per bucket
DEFAULT_TERM_PARTITIONS = 64

BLOCKS_SCHEMA = (
    "term string, bucket long, first_doc long, n int, "
    "doc_bytes binary, tf_bytes binary, norm_bytes binary, "
    "max_tf_code int, min_fieldnorm_id int, tpart int, pos_bytes binary, "
    "codec int"
)


def term_partition(term: str, n_parts: int = DEFAULT_TERM_PARTITIONS) -> int:
    """Stable engine-independent term partition.

    CRC-32 so the Spark side can compute it JVM-native (``F.crc32``) while
    the Python query planner computes the identical value via zlib."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_parts


def _blockify_arrow(batches, bucket_shift: int, codec: str = "vint"):
    """mapInArrow blockify kernel over partitions pre-sorted by
    (term, bucket, docid) — no per-cell Python: list positions are
    consumed as FLAT values + offsets (zero-copy), binary positions as
    one data buffer + byte offsets, and term run boundaries come from
    one vectorized Arrow compare.  Byte-identity with the independently
    written pandas reference kernel (tests/test_properties.py) is
    pinned property-style.

    ``codec="for"`` stores every FULL 128-posting block FrameOfReference
    bitpacked (minimal-width doc deltas; tf FREQ_ALL_ONE / bitpacked —
    the reference's primary codec, quiver.rs:395-430) and keeps LEB128
    for partial tail blocks, per-row codec column dispatching decode."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from frankensearch_spark.functions.bitpack import (
        BITMAP_SPAN,
        CODEC_BITMAP,
        CODEC_FOR,
        CODEC_VINT,
        bitmap_encode_rows,
        for_encode_rows,
        for_encode_tf_rows,
    )
    from frankensearch_spark.functions.vbyte import vbyte_encode_segmented

    use_for = codec == "for"
    # "bitmap" = the reference's full three-kind dispatch: dense full
    # blocks (span < 512) -> Bitmap, other full blocks -> FOR, tails ->
    # Vint (quiver.rs:395-430 chooses exactly this way)
    use_bitmap = codec == "bitmap"

    for rb in batches:
        n_rows = rb.num_rows
        if n_rows == 0:
            continue
        names = rb.schema.names
        col = {n: rb.column(i) for i, n in enumerate(names)}
        docids = col["docid"].to_numpy()
        tfs = col["tf"].to_numpy().astype(np.int64)
        tparts = col["tpart"].to_numpy().astype(np.int64)
        fids = fieldnorm_to_id(
            col["doclen"].to_numpy().astype(np.int64)
        ).astype(np.uint8)
        buckets = (docids >> bucket_shift).astype(np.int64)
        terms_pa = col["term"]
        # dictionary-encoded term columns (the grouped write path) keep
        # run detection and the final take on int32 codes — no string
        # compares or per-posting string copies
        term_is_dict = pa.types.is_dictionary(terms_pa.type)

        change = np.empty(n_rows, dtype=bool)
        change[0] = True
        if n_rows > 1:
            if term_is_dict:
                idxs = terms_pa.indices.to_numpy()
                term_neq = idxs[1:] != idxs[:-1]
            else:
                term_neq = pc.not_equal(
                    terms_pa.slice(1), terms_pa.slice(0, n_rows - 1)
                ).to_numpy(zero_copy_only=False)
            change[1:] = term_neq | (buckets[1:] != buckets[:-1])
        g_starts = np.nonzero(change)[0]
        g_sizes = np.diff(np.append(g_starts, n_rows))
        idx_in_group = np.arange(n_rows, dtype=np.int64) - np.repeat(
            g_starts, g_sizes
        )
        b_start_mask = (idx_in_group % POSTINGS_PER_BLOCK) == 0
        b_starts = np.nonzero(b_start_mask)[0]
        b_sizes = np.diff(np.append(b_starts, n_rows))

        offs = (docids - (buckets << bucket_shift)).astype(np.uint64)
        deltas = np.empty(n_rows, dtype=np.uint64)
        deltas[0] = offs[0]
        deltas[1:] = offs[1:] - offs[:-1]
        deltas[b_starts] = offs[b_starts]

        full_mask = b_sizes == POSTINGS_PER_BLOCK
        if (use_for or use_bitmap) and full_mask.any():
            # FOR path: gather full blocks into (k, 128) matrices (every
            # full block has identical length, so one fancy-index does
            # it) and bitpack per width group; tails re-segment through
            # the canonical LEB128 encoder unchanged.
            # True frame-of-reference (quiver.rs): the block's absolute
            # first value is NOT in the packed stream — it is already
            # recoverable from the (first_doc, bucket) columns — so only
            # the 127 gaps pack, at the GAP width, not the offset width
            # (packing the ~13-bit absolute first offset into the shared
            # width measured +62% on dense mega-term doc streams).
            f_rows = np.nonzero(full_mask)[0]
            tfs_u64 = tfs.astype(np.uint64)
            gather = b_starts[f_rows][:, None] + np.arange(
                POSTINGS_PER_BLOCK, dtype=np.int64
            )
            doc_for = for_encode_rows(deltas[gather][:, 1:])
            tf_for = for_encode_tf_rows(tfs_u64[gather])
            t_rows = np.nonzero(~full_mask)[0]
            if t_rows.size:
                sizes_t = b_sizes[t_rows]
                total_t = int(sizes_t.sum())
                starts_new = np.zeros(t_rows.size, dtype=np.int64)
                np.cumsum(sizes_t[:-1], out=starts_new[1:])
                flat_idx = (
                    np.arange(total_t, dtype=np.int64)
                    - np.repeat(starts_new, sizes_t)
                    + np.repeat(b_starts[t_rows], sizes_t)
                )
                doc_vint = vbyte_encode_segmented(
                    deltas[flat_idx], starts_new
                )
                tf_vint = vbyte_encode_segmented(
                    tfs_u64[flat_idx], starts_new
                )
            else:
                doc_vint, tf_vint = [], []
            doc_bytes: list[bytes] = [b""] * b_starts.size
            tf_bytes: list[bytes] = [b""] * b_starts.size
            codec_col = np.full(b_starts.size, CODEC_VINT, dtype=np.int32)
            for i, r in enumerate(f_rows):
                doc_bytes[r] = doc_for[i]
                tf_bytes[r] = tf_for[i]
            codec_col[f_rows] = CODEC_FOR
            if use_bitmap:
                offs_mat = offs[gather]
                bm_rows = np.nonzero(
                    (offs_mat[:, -1] - offs_mat[:, 0]) < BITMAP_SPAN
                )[0]
                if bm_rows.size:
                    doc_bm = bitmap_encode_rows(offs_mat[bm_rows])
                    for i, fi in enumerate(bm_rows):
                        doc_bytes[f_rows[fi]] = doc_bm[i]
                    codec_col[f_rows[bm_rows]] = CODEC_BITMAP
            for i, r in enumerate(t_rows):
                doc_bytes[r] = doc_vint[i]
                tf_bytes[r] = tf_vint[i]
        else:
            doc_bytes = vbyte_encode_segmented(deltas, b_starts)
            tf_bytes = vbyte_encode_segmented(
                tfs.astype(np.uint64), b_starts
            )
            codec_col = np.full(b_starts.size, CODEC_VINT, dtype=np.int32)
        norm_raw = fids.tobytes()
        norm_bounds = np.append(b_starts, n_rows)
        norm_bytes = [
            norm_raw[norm_bounds[i] : norm_bounds[i + 1]]
            for i in range(b_starts.size)
        ]
        max_tf = np.minimum(np.maximum.reduceat(tfs, b_starts), 255)
        min_fn = np.minimum.reduceat(fids, b_starts)

        has_pos = "positions" in col and col["positions"].null_count < n_rows
        if has_pos and pa.types.is_binary(col["positions"].type):
            # pre-encoded per-posting LEB128 buffers (the fused build's
            # vbyte pos_format): block pos_bytes is pure CONCATENATION —
            # LEB128 is per-value, so concat of per-posting encodes is
            # byte-identical to one segmented encode of the flat stream.
            barr = col["positions"]
            offs_b = np.frombuffer(barr.buffers()[1], dtype=np.int32)[
                barr.offset : barr.offset + n_rows + 1
            ].astype(np.int64)
            data_buf = barr.buffers()[2]
            data = (
                np.frombuffer(data_buf, dtype=np.uint8)
                if data_buf is not None
                else np.empty(0, dtype=np.uint8)
            )
            blk_b = offs_b[b_starts]
            # guard: per-block decoded value count must equal Σtf (cell
            # alignment was enforced at encode time; null/empty cells
            # surface here as a count shortfall)
            if not (
                data.size > 0
                and np.all(np.diff(blk_b) > 0)
                and blk_b[-1] < offs_b[-1] <= data.size
            ):
                raise ValueError("positions misaligned with tf")
            is_last = (data & 0x80) == 0
            n_vals = np.add.reduceat(is_last[: offs_b[-1]], blk_b)
            if not np.array_equal(n_vals, np.add.reduceat(tfs, b_starts)):
                raise ValueError("positions misaligned with tf")
            raw = data.tobytes()
            bounds = np.append(blk_b, offs_b[-1])
            pos_arr = pa.array(
                [
                    raw[bounds[i] : bounds[i + 1]]
                    for i in range(b_starts.size)
                ],
                type=pa.binary(),
            )
        elif has_pos:
            plist = col["positions"]
            flat = plist.flatten().to_numpy().astype(np.int64)
            per_row = pc.list_value_length(plist).to_numpy(
                zero_copy_only=False
            )
            per_row = np.nan_to_num(per_row.astype(np.float64), nan=0.0).astype(
                np.int64
            )
            if not np.array_equal(per_row, tfs):
                raise ValueError("positions misaligned with tf")
            pos_offsets = np.zeros(n_rows, dtype=np.int64)
            np.cumsum(per_row[:-1], out=pos_offsets[1:])
            pos_bytes = vbyte_encode_segmented(
                flat.astype(np.uint64), pos_offsets[b_starts]
            )
            pos_arr = pa.array(pos_bytes, type=pa.binary())
        else:
            pos_arr = pa.nulls(b_starts.size, type=pa.binary())

        take_idx = pa.array(b_starts, type=pa.int64())
        term_out = pc.take(terms_pa, take_idx)
        if term_is_dict:
            term_out = term_out.cast(pa.string())
        yield pa.RecordBatch.from_arrays(
            [
                term_out,
                pa.array(buckets[b_starts], type=pa.int64()),
                pa.array(docids[b_starts], type=pa.int64()),
                pa.array(b_sizes.astype(np.int32), type=pa.int32()),
                pa.array(doc_bytes, type=pa.binary()),
                pa.array(tf_bytes, type=pa.binary()),
                pa.array(norm_bytes, type=pa.binary()),
                pa.array(max_tf.astype(np.int32), type=pa.int32()),
                pa.array(min_fn.astype(np.int32), type=pa.int32()),
                pa.array(tparts[b_starts].astype(np.int32), type=pa.int32()),
                pos_arr,
                pa.array(codec_col, type=pa.int32()),
            ],
            names=[
                "term", "bucket", "first_doc", "n", "doc_bytes", "tf_bytes",
                "norm_bytes", "max_tf_code", "min_fieldnorm_id", "tpart",
                "pos_bytes", "codec",
            ],
        )


def _encode_partition(batches, n_term_partitions: int):
    """One blockify partition as (table, int64 term codes, unique-term
    dictionary, tpart per unique term), or ``None`` when it is empty.

    The term column is dictionary-encoded once, and tpart is computed per
    UNIQUE term via zlib.crc32 — engine-identical to the JVM ``F.crc32``
    of :func:`_range_partition` and to :func:`term_partition`."""
    import zlib

    import pyarrow as pa
    import pyarrow.compute as pc

    batches = [rb for rb in batches if rb.num_rows]
    if not batches:
        return None
    tbl = pa.Table.from_batches(batches).combine_chunks()
    dict_arr = pc.dictionary_encode(tbl.column("term").chunk(0))
    uniq = dict_arr.dictionary
    tparts_u = np.fromiter(
        (
            zlib.crc32(u.encode("utf-8")) % n_term_partitions
            for u in uniq.to_pylist()
        ),
        dtype=np.int64,
        count=len(uniq),
    )
    return tbl, dict_arr.indices.to_numpy().astype(np.int64), uniq, tparts_u


def _blockify_presort_arrow(
    batches,
    bucket_shift: int,
    n_term_partitions: int,
    codec: str = "vint",
):
    """Sort-then-blockify kernel of :func:`build_blocks`.

    The partition arrives range-partitioned by the composed ``rkey``
    (term-partition-major) but UNSORTED: a numpy ``lexsort`` over
    dictionary-encoded term codes does the grouping in low single
    seconds where Spark's comparator-based row sorter took ~34 s of the
    89 s write phase at 2M docs / local[8].  Steps, all vectorized:

      1. :func:`_encode_partition` — term codes and tpart per row
      2. ``np.lexsort`` by (tpart, code, docid) — term-contiguous,
         docid-sorted groups; term ORDER within a tpart is the
         dictionary-code order, which no consumer depends on (blocks
         are grouped by (term, bucket) at read time)
      3. one Arrow ``take`` per column, then delegate to the pinned
         :func:`_blockify_arrow` encode kernel on the sorted batch —
         byte-identity of the encode stays guaranteed by its own tests
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    part = _encode_partition(batches, n_term_partitions)
    if part is None:
        return
    tbl, codes, _uniq, tparts_u = part
    del part
    tpart_row = tparts_u[codes]
    docids = tbl.column("docid").chunk(0).to_numpy()
    order = np.lexsort((docids, codes, tpart_row))
    idx = pa.array(order)
    names = ["term", "docid", "tf", "doclen"]
    has_pos = "positions" in tbl.schema.names
    if has_pos:
        names.append("positions")
    cols = [pc.take(tbl.column(n).chunk(0), idx) for n in names]
    cols.append(pa.array(tpart_row[order].astype(np.int32), type=pa.int32()))
    rb = pa.RecordBatch.from_arrays(cols, names=names + ["tpart"])
    del tbl, cols, codes, tpart_row, docids, order, idx
    yield from _blockify_arrow([rb], bucket_shift, codec)


def _blockify_grouped_arrow(
    batches,
    bucket_shift: int,
    n_term_partitions: int,
    codec: str = "vint",
):
    """Blockify kernel over GROUPED postings rows (one row per
    (tokenize-batch, term); array payloads; disjoint docid spans per
    term — see build.POSTINGS_GROUPED_SCHEMA).

    The partition arrives range-partitioned by the composed rkey but
    unsorted.  Steps, all vectorized at ROW granularity (~1000x fewer
    rows than postings):

      1. dictionary-encode term -> codes; crc32 tpart per unique term
      2. order rows by (tpart, code, first_docid) — within a term the
         disjoint spans concatenate docid-sorted (verified, not assumed)
      3. flatten the list columns through one gather (list_flatten is
         zero-copy; the per-posting gather is one numpy fancy-index)
      4. hand the per-posting batch — term as a DICTIONARY column, so
         no per-posting string materializes — to the pinned
         :func:`_blockify_arrow` encode kernel
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    part = _encode_partition(batches, n_term_partitions)
    if part is None:
        return
    tbl, codes, uniq, tparts_u = part
    del part
    docs_list = tbl.column("docids").chunk(0)
    lens = pc.list_value_length(docs_list).to_numpy().astype(np.int64)
    if (lens == 0).any():
        raise ValueError(
            "grouped postings row with empty docids "
            f"({int((lens == 0).sum())})"
        )
    docs_vals = pc.list_flatten(docs_list).to_numpy()
    tfs_vals = pc.list_flatten(tbl.column("tfs").chunk(0)).to_numpy()
    dls_vals = pc.list_flatten(tbl.column("doclens").chunk(0)).to_numpy()
    has_pos = "positions" in tbl.schema.names
    pos_vals = (
        pc.list_flatten(tbl.column("positions").chunk(0)) if has_pos else None
    )
    in_starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=in_starts[1:])
    first_docs = docs_vals[in_starts]
    order = np.lexsort((first_docs, codes, tparts_u[codes]))
    lens_o = lens[order]
    total = int(lens_o.sum())
    out_starts = np.zeros(len(lens_o), dtype=np.int64)
    np.cumsum(lens_o[:-1], out=out_starts[1:])
    flat_idx = (
        np.arange(total, dtype=np.int64)
        - np.repeat(out_starts, lens_o)
        + np.repeat(in_starts[order], lens_o)
    )
    docids = docs_vals[flat_idx]
    codes_post = np.repeat(codes[order], lens_o)
    # disjoint-span contract check: within a term run docids must be
    # strictly increasing (a violation means the input was NOT
    # range-partitioned/locally sorted by docid — refuse rather than
    # write interleaved blocks)
    if total > 1:
        viol = (codes_post[1:] == codes_post[:-1]) & (np.diff(docids) <= 0)
        if viol.any():
            raise ValueError(
                "grouped postings spans overlap — the grouped layout "
                "requires docid-range-partitioned, locally sorted input"
            )
    take_post = pa.array(flat_idx, type=pa.int64())
    term_post = pa.DictionaryArray.from_arrays(
        pa.array(codes_post.astype(np.int32), type=pa.int32()), uniq
    )
    arrays = [
        term_post,
        pa.array(docids, type=pa.int64()),
        pa.array(tfs_vals[flat_idx], type=pa.int32()),
        pa.array(dls_vals[flat_idx], type=pa.int32()),
        pa.array(
            tparts_u[codes_post].astype(np.int32), type=pa.int32()
        ),
    ]
    names = ["term", "docid", "tf", "doclen", "tpart"]
    if has_pos:
        arrays.append(pc.take(pos_vals, take_post))
        names.append("positions")
    rb = pa.RecordBatch.from_arrays(arrays, names=names)
    del tbl, docs_vals, tfs_vals, dls_vals, pos_vals, flat_idx
    yield from _blockify_arrow([rb], bucket_shift, codec)


def _range_partition(
    df: DataFrame,
    docid,
    bucket_shift: int,
    n_term_partitions: int,
    shuffle_partitions: int | None,
) -> DataFrame:
    """``df`` range-partitioned (unsorted) on ONE composed 8-byte key over
    (term, ``docid`` bucket), instead of 20 B of (tpart int, thash long,
    bucket long) key columns.  Layout, term-partition-major so parquet
    files keep narrow tpart spans:

      [63-tp_bits .. 62]  tpart   (crc32(term) % n_term_partitions)
      [20 .. ]            thash top bits (term discriminator)
      [0 .. 19]           bucket & 0xFFFFF (the mega-term skew salt:
                          equal (term, bucket) rows share an identical
                          key -> one partition; a skewed term SPLITS
                          across partitions at bucket boundaries.
                          mod-2^20 truncation only coarsens salting
                          beyond 8.6 B docs.)

    Rows with equal keys always land in one range partition, so every
    (term, bucket) group stays whole; thash collisions merely co-locate
    two terms.  Bit 63 stays clear (sign-safe)."""
    n_shuffle = int(
        shuffle_partitions
        or max(df.sparkSession.sparkContext.defaultParallelism * 4, 16)
    )
    tp_bits = max((n_term_partitions - 1).bit_length(), 1)
    th_bits = 63 - tp_bits - 20
    rkey = (
        F.shiftleft(
            (F.crc32(F.col("term").cast("binary")) % n_term_partitions),
            63 - tp_bits,
        )
        .bitwiseOR(
            F.shiftleft(
                F.shiftrightunsigned(F.xxhash64(F.col("term")), 64 - th_bits),
                20,
            )
        )
        .bitwiseOR(
            F.shiftright(docid, bucket_shift).bitwiseAND(F.lit(0xFFFFF))
        )
    )
    return (
        df.withColumn("rkey", rkey)
        .repartitionByRange(n_shuffle, "rkey")
        .drop("rkey")
    )


def build_blocks_grouped(
    grouped: DataFrame,
    bucket_shift: int = DEFAULT_BUCKET_SHIFT,
    n_term_partitions: int = DEFAULT_TERM_PARTITIONS,
    shuffle_partitions: int | None = None,
    codec: str = "vint",
) -> DataFrame:
    """Grouped postings -> compressed block table.

    Same composed one-long range key as the kernel-sort rows path, but
    the bucket salt comes from each row's FIRST docid (a grouped row
    spans ~one bucket of contiguous docids): a mega-term's rows spread
    across reduce partitions by docid span while every row stays whole.
    The exchange moves ~1000x fewer rows than the rows path — the
    measured write-phase wall was per-row conversion/shuffle overhead,
    not payload bytes."""
    arranged = _range_partition(
        grouped.filter(F.col("term").isNotNull()),  # DOCLEN pseudo-rows out
        F.element_at(F.col("docids"), 1), bucket_shift, n_term_partitions,
        shuffle_partitions,
    )
    return arranged.mapInArrow(
        lambda it: _blockify_grouped_arrow(
            it, bucket_shift, n_term_partitions, codec
        ),
        BLOCKS_SCHEMA,
    )


def build_blocks(
    postings: DataFrame,
    bucket_shift: int = DEFAULT_BUCKET_SHIFT,
    n_term_partitions: int = DEFAULT_TERM_PARTITIONS,
    shuffle_partitions: int | None = None,
    positions: DataFrame | None = None,
    codec: str = "vint",
) -> DataFrame:
    """postings -> compressed block table: the writer for every
    non-grouped index (builds, upserted engines, compaction, serving).

    One wide exchange (:func:`_range_partition`, whose docid-bucket key
    component is the explicit skew salt), then the blockify kernel
    numpy-lexsorts its partition (:func:`_blockify_presort_arrow`) — no
    JVM sort at all.

    ``positions`` (docid, term, positions array<int>): when given, each
    block also carries a vbyte-packed POSITIONS sidecar (``pos_bytes``),
    so phrase queries serve from the durable index with no separate
    positions artifact.  If ``postings`` itself already carries a
    ``positions`` column (the build's fused frame) it is used directly —
    no join; otherwise the sidecar joins on the exact posting identity.
    """
    cols = ["term", "docid", "tf", "doclen"]
    if positions is not None and "positions" in postings.columns:
        src = postings.select(*cols, "positions")
    else:
        src = postings.select(*cols)
        if positions is not None:
            src = src.join(positions.select("docid", "term", "positions"),
                           ["docid", "term"], "left")
    arranged = _range_partition(
        src, F.col("docid"), bucket_shift, n_term_partitions,
        shuffle_partitions,
    )
    return arranged.mapInArrow(
        lambda it: _blockify_presort_arrow(
            it, bucket_shift, n_term_partitions, codec
        ),
        BLOCKS_SCHEMA,
    )


def decode_blocks_pdf(
    pdf: pd.DataFrame,
    bucket_shift: int = DEFAULT_BUCKET_SHIFT,
    with_positions: bool | str = False,
    docid_whitelist: np.ndarray | None = None,
):
    """Decode a pandas frame of block rows back to posting arrays.

    Returns (docids int64, tfs uint32, fieldnorm_ids uint8, row_index int64)
    where row_index maps each posting back to its source block row; with
    ``with_positions`` a fifth object array of per-posting position
    arrays (None for blocks without a positions sidecar) — the tf stream
    is the alignment ruler (positions aligned by posting freq,
    quiver.rs:3456).  ``with_positions="vbyte"`` slices the sidecar into
    per-posting LEB128 *buffers* WITHOUT decoding — positions then stay
    compressed through the serving pivot's exchange and the phrase
    kernel decodes only the candidate cells it scores.

    ``docid_whitelist`` (SORTED unique int64 array): emit only postings
    of those docids.  The doc/tf streams must decode whole-block anyway
    (delta chains), but the per-posting position slicing — the dominant
    cost for mega-term phrase queries — is skipped for excluded docs.
    """
    from frankensearch_spark.functions.bitpack import (
        CODEC_BITMAP,
        CODEC_FOR,
        bitmap_decode_doc,
        for_decode_doc,
        for_decode_tf,
    )
    from frankensearch_spark.functions.vbyte import delta_decode, vbyte_decode

    vb_slices = with_positions == "vbyte"
    wl = docid_whitelist
    all_docs, all_tfs, all_fids, all_rows = [], [], [], []
    all_pos: list = []
    has_pos_col = with_positions and "pos_bytes" in pdf.columns
    # pre-codec durable indexes have no codec column -> all vint
    codecs = pdf["codec"] if "codec" in pdf.columns else None
    for i in range(len(pdf)):
        base = int(pdf["bucket"].iat[i]) << bucket_shift
        n = int(pdf["n"].iat[i])
        ci = int(codecs.iat[i]) if codecs is not None else 0
        if ci == CODEC_FOR:
            # true frame-of-reference: the packed stream holds only the
            # n-1 gaps; the absolute first in-bucket offset comes from
            # the block's (first_doc, bucket) columns
            first = np.uint64(int(pdf["first_doc"].iat[i]) - base)
            gaps = for_decode_doc(pdf["doc_bytes"].iat[i], n - 1)
            offs = delta_decode(np.concatenate(([first], gaps)))
            tfs = for_decode_tf(pdf["tf_bytes"].iat[i], n)
        elif ci == CODEC_BITMAP:
            # dense 512-bit window: offsets = first + set-bit indexes
            first = np.uint64(int(pdf["first_doc"].iat[i]) - base)
            offs = first + bitmap_decode_doc(pdf["doc_bytes"].iat[i], n)
            tfs = for_decode_tf(pdf["tf_bytes"].iat[i], n)
        else:
            offs = delta_decode(vbyte_decode(pdf["doc_bytes"].iat[i], n))
            tfs = vbyte_decode(pdf["tf_bytes"].iat[i], n)
        docs_b = base + offs.astype(np.int64)
        fids_b = np.frombuffer(pdf["norm_bytes"].iat[i], dtype=np.uint8)
        keep = None
        if wl is not None:
            if wl.size == 0:
                continue
            j = np.searchsorted(wl, docs_b)
            keep = wl[np.minimum(j, wl.size - 1)] == docs_b
            if not keep.any():
                continue
        n_keep = n if keep is None else int(keep.sum())
        all_docs.append(docs_b if keep is None else docs_b[keep])
        all_tfs.append(tfs if keep is None else tfs[keep])
        all_fids.append(fids_b if keep is None else fids_b[keep])
        all_rows.append(np.full(n_keep, i, dtype=np.int64))
        if with_positions:
            pb = pdf["pos_bytes"].iat[i] if has_pos_col else None
            idxs = range(n) if keep is None else np.nonzero(keep)[0]
            if pb is None:
                all_pos.extend([None] * n_keep)
            elif vb_slices:
                # per-posting byte boundaries: value k ends at the k-th
                # terminator byte; posting j spans values
                # [Σtf[:j], Σtf[:j+1])
                barr = np.frombuffer(pb, dtype=np.uint8)
                ends = np.nonzero((barr & 0x80) == 0)[0]
                if ends.size != int(tfs.sum()):
                    raise ValueError("pos_bytes misaligned with tf stream")
                vb = np.zeros(n + 1, dtype=np.int64)
                np.cumsum(tfs.astype(np.int64), out=vb[1:])
                byte_bounds = np.concatenate(
                    ([0], ends[vb[1:] - 1] + 1)
                )
                all_pos.extend(
                    pb[byte_bounds[j] : byte_bounds[j + 1]]
                    for j in idxs
                )
            else:
                flat = vbyte_decode(pb, int(tfs.sum()))
                bounds = np.zeros(n + 1, dtype=np.int64)
                np.cumsum(tfs.astype(np.int64), out=bounds[1:])
                all_pos.extend(
                    flat[bounds[j] : bounds[j + 1]].astype(np.int32)
                    for j in idxs
                )
    if not all_docs:
        z = np.array([], dtype=np.int64)
        out = (z, z.astype(np.uint32), z.astype(np.uint8), z)
        return out + (np.empty(0, dtype=object),) if with_positions else out
    out = (
        np.concatenate(all_docs),
        np.concatenate(all_tfs),
        np.concatenate(all_fids),
        np.concatenate(all_rows),
    )
    if with_positions:
        pos_arr = np.empty(len(all_pos), dtype=object)
        pos_arr[:] = all_pos
        return out + (pos_arr,)
    return out
