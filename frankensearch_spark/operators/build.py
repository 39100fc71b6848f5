"""Index-build dataflow (SURVEY.md §2.3 B1-B13, Spark-first).

The build is a declarative DataFrame pipeline; Catalyst supplies partial
(map-side) aggregation, shuffle, and pushdown.  Custom logic lives in three
Arrow-vectorized UDFs only: the tokenizer, the fieldnorm quantizer, and
(in :mod:`frankensearch_spark.operators.merge`) the posting-block codec.

Scale design notes (100 TB / 1000 executors):

* **Docid discipline** — the reference's invariant Q1 (global u32 docids,
  disjoint per-shard leases, quill/scribe.rs:77-83) maps to two modes:
  ``mode="lease"`` (the DEFAULT — no global sort) range-partitions by the
  natural key and assigns ``partition_id * LEASE + local_ordinal`` —
  disjoint, never reused, monotone with the key; the build cuts one lease
  per docid bucket of input, up to the core count
  (:func:`fused_lease_count`); ``mode="global"`` uses a
  global ``row_number`` over the natural key (dense ordinals, but the
  window funnels the key projection through ONE task — test-scale only).
* **Skew** — posting-list construction groups by ``(term, docid bucket)``
  rather than bare ``term`` (quill/scribe.rs radix partition analogue,
  B4): the docid bucket is a *deterministic salt*, so the 'fn'/'import'
  mega-terms never concentrate on one task, and bucket-ordered
  concatenation reproduces the reference's concat-merge theorem (M2).
* **tf aggregation** — ``groupBy(term, docid)`` has near-unique keys and
  map-side combine; no salting needed there.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from frankensearch_spark.operators.merge import DEFAULT_BUCKET_SHIFT

DOC_ORDS_PER_LEASE = 1 << 33  # scale-mode lease width (Q1 analogue)


@pandas_udf(T.IntegerType())
def fieldnorm_id_udf(doclen: pd.Series) -> pd.Series:
    """Tantivy fieldnorm quantization (contract.rs:291-295), vectorized."""
    import numpy as np

    from frankensearch_spark.contract import fieldnorm_to_id

    return pd.Series(
        fieldnorm_to_id(doclen.to_numpy(dtype=np.int64)).astype("int32")
    )


def duplicate_key_error(key: tuple) -> ValueError:
    return ValueError(
        f"duplicate external key {key!r}: the reference's external-id "
        "contract requires unique keys (upsert replaces by id) — "
        "deduplicate or upsert instead"
    )


def check_sorted_keys_unique(keys: list) -> None:
    """Raise :func:`duplicate_key_error` when two adjacent rows of the
    key-sorted Arrow columns ``keys`` are equal (null-safe): in a sorted
    stream every duplicate pair is adjacent."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(keys[0])
    if n < 2:
        return
    dup = None
    for k in keys:
        a, b = k.slice(0, n - 1), k.slice(1, n)
        eq = pc.or_kleene(
            pc.fill_null(pc.equal(a, b), False),
            pc.and_(pc.is_null(a), pc.is_null(b)),
        )
        dup = eq if dup is None else pc.and_(dup, eq)
    if pc.any(dup).as_py():
        i = int(np.nonzero(dup.to_numpy(zero_copy_only=False))[0][0])
        raise duplicate_key_error(tuple(k[i].as_py() for k in keys))


def assign_docids(
    corpus: DataFrame, key_cols: list[str], mode: str = "lease",
    broadcast_map: bool = True, assert_unique: bool = True,
    aux_caches: list | None = None,
) -> DataFrame:
    """Deterministic, parallelism-invariant global docid (SURVEY.md B3).

    The ordering pass runs on a SKINNY key-only projection, then the
    (key -> docid) map joins back to the corpus — by broadcast when the
    map fits (default; ~30 bytes/doc, fine to ~10^7 docs per driver GiB),
    else a shuffle join.  The wide ``content`` column never rides the
    range shuffle either way.

    External keys must be UNIQUE per row (the reference's external-id
    contract — upserts replace by id, types.rs:39-50): the map is built
    over DISTINCT keys and joined back null-safely, so null key columns
    index rather than vanish; with ``assert_unique`` (default) a skinny
    one-pass agg rejects duplicate keys up front instead of silently
    sharing one docid across rows."""
    keys = corpus.select(*[F.col(c) for c in key_cols])
    if assert_unique:
        # ONE skinny aggregation serves both the uniqueness check and the
        # distinct-keys input to the ordering pass (persisted: the
        # dup-check collect materializes it, the range sampling and the
        # window then rescan the cache instead of re-aggregating)
        kc = keys.groupBy(*[F.col(c) for c in key_cols]).agg(
            F.count(F.lit(1)).alias("__kn")
        )
        if aux_caches is not None:
            # persist ONLY when the caller takes ownership (build_index
            # → BuiltIndex.release_aux_caches): the dup-check collect
            # materializes the cache, the range sampling and the window
            # rescan it instead of re-aggregating.  Without an owner the
            # persist would outlive the build (CacheManager pins cached
            # plans until an explicit unpersist) — callers that can't
            # release it get the re-aggregation instead of the leak.
            kc = kc.persist()
        dup = kc.filter(F.col("__kn") > 1).limit(1).collect()
        if dup:
            kc.unpersist()
            raise duplicate_key_error(tuple(dup[0][c] for c in key_cols))
        if aux_caches is not None:
            aux_caches.append(kc)
        keys = kc.drop("__kn")
    else:
        keys = keys.distinct()
    if mode == "global":
        w = Window.orderBy(*[F.col(c) for c in key_cols])
        mapdf = keys.withColumn(
            "docid", F.row_number().over(w).cast("long") - 1
        )
    elif mode == "lease":
        # CRITICAL: the lease id must be materialized as a COLUMN in the
        # stage that reads the range exchange.  Calling
        # F.spark_partition_id() again in the docid projection would
        # re-evaluate it AFTER the window's hash exchange, where AQE can
        # co-locate several lease groups in one physical partition —
        # their row_numbers restart per group but share the fresh pid,
        # so docids COLLIDE (observed at 2M docs: ~630k merged postings).
        ranged = keys.repartitionByRange(*[F.col(c) for c in key_cols])
        with_lease = ranged.withColumn("__lease", F.spark_partition_id())
        w = Window.partitionBy("__lease").orderBy(
            *[F.col(c) for c in key_cols]
        )
        mapdf = with_lease.withColumn(
            "docid",
            F.col("__lease").cast("long") * F.lit(DOC_ORDS_PER_LEASE)
            + F.row_number().over(w).cast("long")
            - 1,
        ).drop("__lease")
    else:
        raise ValueError(f"unknown docid mode {mode!r}")
    if broadcast_map:
        mapdf = F.broadcast(mapdf)
    # null-safe equality: rows with null key columns still join their docid
    # (plain equality would silently drop them from the index)
    renamed = mapdf.select(
        *[F.col(c).alias(f"__k_{c}") for c in key_cols], "docid"
    )
    cond = None
    for c in key_cols:
        eq = corpus[c].eqNullSafe(renamed[f"__k_{c}"])
        cond = eq if cond is None else cond & eq
    return corpus.join(renamed, cond).drop(*[f"__k_{c}" for c in key_cols])


def persist_owned(df: DataFrame, owned: list) -> DataFrame:
    """``df.persist()``, appending it to ``owned`` only when this call
    created the cache entry.  Spark keys its cache by plan, so an equal
    plan another live index already persisted is shared, and
    unpersisting it would pull that index's frozen docids out from
    under it."""
    level = df.storageLevel
    fresh = not (level.useMemory or level.useDisk or level.useOffHeap)
    df = df.persist()
    if fresh:
        owned.append(df)
    return df


def fused_lease_count(corpus: DataFrame) -> int:
    """Leases for :func:`assign_docids_fused_spans`: one per
    ``2^DEFAULT_BUCKET_SHIFT`` input rows, at least 1 and at most
    ``defaultParallelism``.  No lease is smaller than a docid bucket, so
    a small corpus (or an upsert delta) lands in one bucket instead of
    one sparse bucket per core; a large one still tokenizes on every
    core.  One count job, capped: no partition reads more rows than the
    cap needs."""
    cap = corpus.sparkSession.sparkContext.defaultParallelism
    n = corpus.limit(cap << DEFAULT_BUCKET_SHIFT).count()
    return max(1, min(n >> DEFAULT_BUCKET_SHIFT, cap))


def assign_docids_fused_spans(
    corpus: DataFrame, key_cols: list[str], n_parts: int | None = None
) -> DataFrame:
    """Lease docids assigned INSIDE the span arrangement (the build's
    default docid path).  ONE range exchange of the corpus by external
    key into ``n_parts`` leases (default: :func:`fused_lease_count`)
    both co-locates and orders each lease's rows; the docid column
    is then computed per partition as ``lease·DOC_ORDS_PER_LEASE +
    rank`` — the same (lease, rank) law as
    :func:`assign_docids`(mode="lease") (rank order follows the global
    key sort, so ranking is parallelism-invariant), with the lease
    ranges sampled from the corpus itself instead of a separate skinny
    keys frame.  The separate ordering pass, the window sort, the
    (key→docid) broadcast map and the second content exchange all
    disappear from the plan.

    Key uniqueness (the reference's external-id contract,
    types.rs:39-50) is enforced for FREE by an adjacent-row comparison
    on the sorted stream: the range partitioner never splits equal keys
    across partitions, so every duplicate pair is adjacent somewhere.

    Output is docid-range-partitioned and locally docid-sorted — exactly
    the arrangement :func:`build_postings_grouped` requires — and MUST
    be persisted by the caller before any consumer runs (the docid
    values depend on this plan's sampled range bounds; one
    materialization freezes them — the round-1 double-evaluation
    pitfall class)."""
    if n_parts is None:
        n_parts = fused_lease_count(corpus)
    # the lease id is materialized as a COLUMN in the stage that reads
    # the range exchange (the rule of assign_docids' lease mode): the
    # task's own partition id is the final RDD's, which a union or a
    # coalesce downstream shifts whenever this frame is recomputed
    arranged = corpus.repartitionByRange(
        n_parts, *[F.col(c) for c in key_cols]
    ).sortWithinPartitions(*[F.col(c) for c in key_cols]).withColumn(
        "__lease", F.spark_partition_id()
    )
    names = list(corpus.columns)
    key_idx = [names.index(c) for c in key_cols]

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        seen = 0
        prev_last = None
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            base = rb.column(len(names))[0].as_py() * DOC_ORDS_PER_LEASE
            keys = [rb.column(i) for i in key_idx]
            check_sorted_keys_unique(keys)
            first = tuple(k[0].as_py() for k in keys)
            if prev_last is not None and first == prev_last:
                raise duplicate_key_error(first)
            prev_last = tuple(k[n - 1].as_py() for k in keys)
            ids = pa.array(
                np.arange(base + seen, base + seen + n, dtype=np.int64),
                type=pa.int64(),
            )
            seen += n
            yield pa.RecordBatch.from_arrays(
                [ids, *rb.columns[:len(names)]], ["docid", *names]
            )

    out_schema = T.StructType(
        [T.StructField("docid", T.LongType(), False)]
        + list(corpus.schema.fields)
    )
    return arranged.mapInArrow(gen, out_schema)


def build_docmeta(
    corpus_with_docid: DataFrame,
    key_cols: list[str],
    postings: DataFrame,
    content_col: str = "content",
    meta_cols: list[str] | None = None,
    lens: DataFrame | None = None,
) -> DataFrame:
    """IDMAP + DOCLEN analogue (B10/B11): one row per document with the
    external key, the per-row content witness sha256 (quiver.rs:5824-5850
    analogue), the admitted-token doclen and its fieldnorm id, plus any
    extra keyword metadata columns (``meta_cols``; default: every
    non-key non-content column, e.g. ``lang``) so metadata query leaves
    (Range/Set/keyword Term, E8) can filter on them.

    doclen is recovered from the (persisted) postings rather than by
    re-tokenizing the corpus — tokenization is the build's dominant CPU
    cost and must run exactly once.  Docs with zero admitted tokens get
    doclen 0 via the left join (scribe.rs:1743 zero-fieldnorm rule)."""
    if meta_cols is None:
        # always exclude the canonical text column too: indexing a
        # secondary field (content_col="repo") must not sweep the full
        # document text into docmeta as a "metadata" column (it would be
        # persisted and shuffled wholesale for no query purpose)
        skip = set(key_cols) | {content_col, "content", "docid"}
        meta_cols = [c for c in corpus_with_docid.columns if c not in skip]
    if lens is None:
        # recover per-doc doclen from the per-posting view (first() per
        # docid); the build passes its cheaper per-doc source (the
        # grouped DOCLEN pseudo-rows) via ``lens`` instead
        lens = postings.groupBy("docid").agg(
            F.first("doclen").alias("doclen")
        )
    ids = corpus_with_docid.select(
        "docid",
        *key_cols,
        *meta_cols,
        F.sha2(F.col(content_col), 256).alias("content_sha256"),
    )
    return (
        ids.join(lens, "docid", "left")
        .withColumn("doclen", F.coalesce(F.col("doclen"), F.lit(0)))
        .withColumn("fieldnorm_id", fieldnorm_id_udf(F.col("doclen")))
    )


TOKEN_ROWS_SCHEMA = (
    "docid long, term string, pos int, doclen int"
)


def build_token_rows(
    corpus_with_docid: DataFrame, content_col: str = "content", code_aware: bool = False
) -> DataFrame:
    """(docid, term, pos, doclen) — the tokenize+explode projection (T1/B2).

    One ``mapInPandas`` pass: the tokenizer runs exactly once per document
    (an ``F.size`` + ``F.explode`` over the same UDF column gets re-inlined
    by Catalyst's project collapse into TWO tokenizer invocations — measured
    on the physical plan).  doclen rides along per token row (constant per
    doc, dictionary-encodes to ~nothing in shuffle files) so postings never
    need a docid-side join against DOCLEN at query time.
    """
    from frankensearch_spark.analyze import tokenize_code_aware, tokenize_fast

    tok_fn = tokenize_code_aware if code_aware else tokenize_fast

    def gen(batches):
        import numpy as np

        for pdf in batches:
            docids: list = []
            terms: list[str] = []
            poss: list[int] = []
            dls: list[int] = []
            for docid, content in zip(pdf["docid"], pdf[content_col]):
                toks = tok_fn(content) if content is not None else []
                n = len(toks)
                if n == 0:
                    continue
                docids.extend([docid] * n)
                terms.extend(t for t, _ in toks)
                poss.extend(p for _, p in toks)
                dls.extend([n] * n)
            yield pd.DataFrame(
                {
                    "docid": np.asarray(docids, dtype=np.int64),
                    "term": terms,
                    "pos": np.asarray(poss, dtype=np.int32),
                    "doclen": np.asarray(dls, dtype=np.int32),
                }
            )

    return corpus_with_docid.select("docid", content_col).mapInPandas(
        gen, TOKEN_ROWS_SCHEMA
    )


def build_postings(
    token_rows: DataFrame, with_positions: bool = True
) -> DataFrame:
    """(term, docid, tf, doclen, fieldnorm_id[, positions]) (B2/B5).

    Reference path from token rows; ``groupBy(term, docid)`` keys are
    near-unique so Catalyst's partial aggregation absorbs skewed terms
    before shuffle.  The production build uses the fused zero-shuffle
    :func:`build_postings_grouped` — this one remains as the differential
    check (tests assert both produce identical postings).
    """
    aggs = [
        F.count(F.lit(1)).cast("int").alias("tf"),
        F.first("doclen").alias("doclen"),
    ]
    if with_positions:
        aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
    return token_rows.groupBy("term", "docid").agg(*aggs)


# NOTE: no fieldnorm_id column — the quantized id is a pure function of
# doclen (contract.rs:291-295) and is derived in numpy inside whichever
# kernel needs it.  Storing it per posting forced a 13M-row Python eval
# stage into the JVM build path; deriving it per batch is free.
#
# Positions: each posting's positions pre-encoded as ONE
# canonical-LEB128 buffer at tokenize time (quiver.rs POSITIONS wire
# format, section kind 3).  The merge exchange then ships ~1 byte per
# position instead of a 4-byte array slot, and blockify CONCATENATES
# buffers instead of re-encoding — byte-identical block ``pos_bytes``
# because LEB128 is per-value (concat of per-posting encodes == one
# segmented encode of the flat stream).
POSTINGS_VB_SCHEMA = "docid long, term string, tf int, positions binary, doclen int"
# grouped layout (the build's wire format): ONE row per
# (tokenize-batch, term) with array payloads instead of one row per
# posting.  At 2M docs this is ~1.6M rows instead of ~102M through
# every Arrow boundary and the merge shuffle — per-row conversion
# overhead was the measured write-phase wall (see merge.build_blocks_grouped).
# Within a row, postings are docid-ascending; across rows of the same
# term the docid spans are DISJOINT by construction (the grouped build
# range-partitions + locally sorts by docid before tokenize), so the
# reduce side is pure concatenation in first-docid order.
POSTINGS_GROUPED_SCHEMA = (
    "term string, docids array<long>, tfs array<int>, "
    "doclens array<int>, positions array<binary>"
)
POSTINGS_GROUPED_NOPOS_SCHEMA = (
    "term string, docids array<long>, tfs array<int>, doclens array<int>"
)


def _contract_batch(rb, tok_fn, with_positions: bool):
    """Per-batch kernel of :func:`build_postings_fused` (contract
    analyzer in Python, numpy aggregation).  Returns a RecordBatch of
    postings or ``None`` when the batch yields no tokens."""
    import numpy as np
    import pyarrow as pa

    from frankensearch_spark.functions.vbyte import vbyte_encode_chunks

    docid_in = rb.column(0).to_numpy(zero_copy_only=False)
    contents = rb.column(1).to_pylist()
    term_col: list[str] = []
    pos_col: list[int] = []  # analyzer positions (gaps preserved, T3)
    doc_idx: list[int] = []  # row index within this batch, per token
    dls = np.zeros(len(contents), dtype=np.int32)
    for i, content in enumerate(contents):
        if content is None:
            continue
        toks = tok_fn(content)
        n = len(toks)
        if n == 0:
            continue
        dls[i] = n
        for t, p in toks:
            term_col.append(t)
            pos_col.append(p)
        doc_idx.extend([i] * n)
    if not term_col:
        return None
    rows = np.asarray(doc_idx, dtype=np.int64)
    poss = np.asarray(pos_col, dtype=np.int32)
    codes, uniq_terms = pd.factorize(np.asarray(term_col, dtype=object))
    # tokens are already docid-major and position-ascending; a
    # stable sort by code within the existing order groups the
    # (doc, term) runs without disturbing position order
    order = np.lexsort((codes, rows))
    r_s, c_s, p_s = rows[order], codes[order], poss[order]
    change = np.empty(len(r_s), dtype=bool)
    change[0] = True
    change[1:] = (r_s[1:] != r_s[:-1]) | (c_s[1:] != c_s[:-1])
    starts = np.nonzero(change)[0]
    tf = np.diff(np.append(starts, len(r_s))).astype(np.int32)
    head_rows = r_s[starts]
    doclen_out = dls[head_rows]
    term_arr = pa.array(uniq_terms, type=pa.string()).take(
        pa.array(c_s[starts], type=pa.int64())
    )
    if with_positions:
        # zero-materialization binary assembly: ONE encoded
        # buffer + int32 offsets via from_buffers — building a
        # Python bytes object per posting instead measured +50%
        # on the whole build phase at 2M docs
        data, bounds = vbyte_encode_chunks(p_s.astype(np.uint64), starts)
        pos_arr = pa.Array.from_buffers(
            pa.binary(),
            len(starts),
            [
                None,
                pa.py_buffer(bounds.astype(np.int32).tobytes()),
                pa.py_buffer(data.tobytes()),
            ],
        )
    else:
        pos_arr = pa.nulls(len(starts), type=pa.binary())
    return pa.RecordBatch.from_arrays(
        [
            pa.array(docid_in[head_rows], type=pa.int64()),
            term_arr,
            pa.array(tf, type=pa.int32()),
            pos_arr,
            pa.array(doclen_out, type=pa.int32()),
        ],
        names=["docid", "term", "tf", "positions", "doclen"],
    )


def build_postings_fused(
    corpus_with_docid: DataFrame,
    content_col: str = "content",
    code_aware: bool = False,
    with_positions: bool = True,
) -> DataFrame:
    """Fused tokenize→aggregate: one mapInArrow pass, ZERO shuffles.

    A (term, docid) posting is local to its document, and a document is
    local to its partition — so per-doc tf/positions aggregation never
    needs the cluster.  This is the Spark analogue of the reference's
    shard-local columnar accumulation (scribe.rs:2285-2900): the only
    wide exchanges left in the whole build are the small termstats agg
    and the merge job's repartition-by-term.

    Inner aggregation is vectorized numpy (factorize + argsort +
    run-length boundaries), and the output batch is assembled directly in
    Arrow.  Each posting's positions come out as a pre-encoded LEB128
    ``binary`` buffer — the canonical on-wire form every downstream
    wants: the merge exchange ships ~4x fewer position bytes and
    blockify degenerates to buffer concatenation.
    """
    from frankensearch_spark.analyze import tokenize_code_aware, tokenize_fast

    tok_fn = tokenize_code_aware if code_aware else tokenize_fast

    def gen(batches):
        for rb in batches:
            out = _contract_batch(rb, tok_fn, with_positions)
            if out is not None:
                yield out

    return corpus_with_docid.select("docid", content_col).mapInArrow(
        gen, POSTINGS_VB_SCHEMA
    )


def _regroup_posting_batch(rbs: list, with_positions: bool):
    """Posting-layout RecordBatch(es) (docid, term, tf, positions binary,
    doclen) -> ONE grouped-layout RecordBatch (one row per term, list
    payloads, docid-ascending within term).

    ``rbs`` is the full output of one tokenizer input batch (the auto
    router can yield two sub-batches — ascii + contract — over the SAME
    docid span, so regrouping must see them TOGETHER to keep the grouped
    layout's disjoint-span invariant).  All vectorized: dictionary
    encode + one lexsort + Arrow takes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = pa.Table.from_batches(rbs).combine_chunks()
    n_post = tbl.num_rows
    docids = tbl.column("docid").chunk(0).to_numpy()
    denc = pc.dictionary_encode(tbl.column("term").chunk(0))
    codes = denc.indices.to_numpy().astype(np.int64)
    ord2 = np.lexsort((docids, codes))
    c_o = codes[ord2]
    chg = np.empty(n_post, dtype=bool)
    chg[0] = True
    chg[1:] = c_o[1:] != c_o[:-1]
    g_starts = np.nonzero(chg)[0]
    offsets = pa.array(
        np.append(g_starts, n_post).astype(np.int32), type=pa.int32()
    )
    idx = pa.array(ord2, type=pa.int64())
    term_arr = denc.dictionary.take(
        pa.array(c_o[g_starts], type=pa.int64())
    )
    tfs = tbl.column("tf").chunk(0).to_numpy()
    dls = tbl.column("doclen").chunk(0).to_numpy()
    arrays = [
        term_arr,
        pa.ListArray.from_arrays(
            offsets, pa.array(docids[ord2].astype(np.int64), type=pa.int64())
        ),
        pa.ListArray.from_arrays(
            offsets, pa.array(tfs[ord2].astype(np.int32), type=pa.int32())
        ),
        pa.ListArray.from_arrays(
            offsets, pa.array(dls[ord2].astype(np.int32), type=pa.int32())
        ),
    ]
    names = ["term", "docids", "tfs", "doclens"]
    if with_positions:
        arrays.append(
            pa.ListArray.from_arrays(
                offsets, pc.take(tbl.column("positions").chunk(0), idx)
            )
        )
        names.append("positions")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def posting_kernel(code_aware: bool, with_positions: bool):
    """The build's per-batch posting kernel: a (docid, text) RecordBatch
    -> a list of posting-layout RecordBatches over its docid span — the
    contract analyzer under ``code_aware``, else the ASCII router."""
    if code_aware:
        from frankensearch_spark.analyze import tokenize_code_aware

        def kernel(rb):
            out = _contract_batch(rb, tokenize_code_aware, with_positions)
            return [out] if out is not None else []
    else:
        def kernel(rb):
            return _auto_batches(rb, with_positions)
    return kernel


def build_postings_grouped(
    corpus_with_docid: DataFrame,
    content_col: str = "content",
    code_aware: bool = False,
    with_positions: bool = True,
) -> DataFrame:
    """Fused tokenize→aggregate→GROUP: one mapInArrow pass emitting the
    grouped postings layout (one row per (batch, term), array payloads).
    The per-batch posting kernels (the ASCII router, or the contract
    analyzer under ``code_aware``) run unchanged; a
    per-batch regroup adapter folds their output into grouped rows, so
    the bit-parity of the kernels carries over.

    CONTRACT: the input must be docid-RANGE-partitioned and locally
    docid-sorted (the grouped build arranges this) so every emitted
    row's docid span is disjoint from every other row of the same term —
    the downstream block writer then merges by concatenation in
    first-docid order, never by decode (keeper.rs:4166-4206 theorem,
    carried to the map side)."""
    kernel = posting_kernel(code_aware, with_positions)

    def gen(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            outs = kernel(rb)
            if outs:
                yield _regroup_posting_batch(outs, with_positions)
            # one DOCLEN pseudo-row per input batch (term NULL): every
            # batch docid with its admitted doclen (0 for token-free
            # docs) — docmeta reads these ~n_docs pairs instead of
            # first()-aggregating the 80x larger exploded posting view
            yield _doclen_pseudo_batch(rb, outs, with_positions)

    return corpus_with_docid.select("docid", content_col).mapInArrow(
        gen,
        POSTINGS_GROUPED_SCHEMA if with_positions
        else POSTINGS_GROUPED_NOPOS_SCHEMA,
    )


def _doclen_pseudo_batch(rb, outs: list, with_positions: bool):
    """One grouped-layout row with ``term = NULL`` carrying (docids,
    doclens) for EVERY document of the input batch — including docs
    that admitted zero tokens (doclen 0, scribe.rs:1743 zero-fieldnorm
    rule).  tfs are zeros and positions empty; every posting consumer
    filters ``term IS NOT NULL``."""
    import numpy as np
    import pyarrow as pa

    all_ids = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
    n = len(all_ids)
    dl = np.zeros(n, dtype=np.int32)
    if outs:
        tbl = pa.Table.from_batches(outs)
        p_ids = tbl.column("docid").to_numpy()
        p_dls = tbl.column("doclen").to_numpy()
        order = np.argsort(all_ids, kind="stable")
        dl[order[np.searchsorted(all_ids[order], p_ids)]] = p_dls
    offsets = pa.array(np.array([0, n], dtype=np.int32), type=pa.int32())
    arrays = [
        pa.array([None], type=pa.string()),
        pa.ListArray.from_arrays(
            offsets, pa.array(all_ids, type=pa.int64())
        ),
        pa.ListArray.from_arrays(
            offsets, pa.array(np.zeros(n, np.int32), type=pa.int32())
        ),
        pa.ListArray.from_arrays(offsets, pa.array(dl, type=pa.int32())),
    ]
    names = ["term", "docids", "tfs", "doclens"]
    if with_positions:
        arrays.append(
            pa.ListArray.from_arrays(
                offsets, pa.array([b""] * n, type=pa.binary())
            )
        )
        names.append("positions")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def grouped_doclens(grouped: DataFrame) -> DataFrame:
    """(docid, doclen) for every document, from the grouped layout's
    DOCLEN pseudo-rows — ~n_docs pairs, one JVM explode, no agg."""
    z = grouped.filter(F.col("term").isNull()).select(
        F.explode(F.arrays_zip("docids", "doclens")).alias("p")
    )
    return z.select(
        F.col("p.docids").alias("docid"),
        F.col("p.doclens").alias("doclen"),
    )


def explode_grouped_postings(grouped: DataFrame) -> DataFrame:
    """Grouped layout -> the standard per-posting view (lazy, pure JVM
    generate — no Python stage).  Column order matches
    POSTINGS_VB_SCHEMA so every per-posting consumer works unchanged."""
    with_pos = "positions" in grouped.columns
    zip_cols = ["docids", "tfs", "doclens"] + (
        ["positions"] if with_pos else []
    )
    z = grouped.filter(F.col("term").isNotNull()).select(
        "term", F.explode(F.arrays_zip(*zip_cols)).alias("p")
    )
    cols = [
        F.col("p.docids").alias("docid"),
        F.col("term"),
        F.col("p.tfs").alias("tf"),
    ]
    if with_pos:
        cols.append(F.col("p.positions").alias("positions"))
    cols.append(F.col("p.doclens").alias("doclen"))
    return z.select(*cols)


def _vector_batch(rb, with_positions: bool):
    """RE2 posting kernel, the ASCII leg of :func:`_auto_batches`.

    The whole tokenize→aggregate pass runs without per-token Python:
    ``utf8_lower`` + RE2 ``split_pattern_regex`` + ``dictionary_encode``
    happen in Arrow C++, and everything after is numpy over the
    dictionary CODES.  Token admission (>65,530-byte tokens dropped,
    position gaps preserved — T3) and per-doc admitted doclen match the
    contract analyzer.  On ASCII input the posting table is IDENTICAL to
    :func:`_contract_batch` (pinned by test_build_paths); on other
    Unicode RE2's ``\\pL\\pN`` classes and whole-string lowering can
    differ from Rust ``char::is_alphanumeric``, so only ASCII documents
    are routed here.  Returns a RecordBatch of postings or ``None`` when
    the batch yields no tokens."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from frankensearch_spark.contract import MAX_TERM_BYTES
    from frankensearch_spark.functions.vbyte import vbyte_encode_chunks

    n_b = rb.num_rows
    if n_b == 0:
        return None
    docid_in = rb.column(0).to_numpy(zero_copy_only=False)
    content = rb.column(1)
    lists = pc.split_pattern_regex(pc.utf8_lower(content), r"[^\pL\pN]+")
    lens = pc.list_value_length(lists).to_numpy(zero_copy_only=False)
    lens = np.nan_to_num(lens.astype(np.float64), nan=0.0).astype(np.int64)
    flat = lists.flatten()  # null list slots contribute nothing
    total = int(lens.sum())
    if total == 0:
        return None
    rows_all = np.repeat(np.arange(n_b, dtype=np.int64), lens)
    blen = pc.binary_length(flat).to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    nonempty = blen > 0
    # analyzer position = index among the doc's NON-EMPTY tokens
    # (split artifacts at string edges are not tokens); admission
    # drops oversized tokens AFTER numbering (gap rule, T3)
    pref = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(nonempty, out=pref[1:])
    doc_starts = np.zeros(n_b + 1, dtype=np.int64)
    np.cumsum(lens, out=doc_starts[1:])
    poss_all = pref[:-1] - np.repeat(pref[doc_starts[:-1]], lens)
    admitted = nonempty & (blen <= MAX_TERM_BYTES)
    rows = rows_all[admitted]
    if rows.size == 0:
        return None
    poss = poss_all[admitted].astype(np.int32)
    dls = np.bincount(rows, minlength=n_b).astype(np.int32)
    denc = flat.filter(pa.array(admitted)).dictionary_encode()
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dictionary = denc.dictionary

    order = np.lexsort((codes, rows))
    r_s, c_s, p_s = rows[order], codes[order], poss[order]
    change = np.empty(len(r_s), dtype=bool)
    change[0] = True
    change[1:] = (r_s[1:] != r_s[:-1]) | (c_s[1:] != c_s[:-1])
    starts = np.nonzero(change)[0]
    tf = np.diff(np.append(starts, len(r_s))).astype(np.int32)
    head_rows = r_s[starts]
    term_arr = dictionary.take(pa.array(c_s[starts], type=pa.int64()))
    if with_positions:
        data, bounds = vbyte_encode_chunks(p_s.astype(np.uint64), starts)
        pos_arr = pa.Array.from_buffers(
            pa.binary(),
            len(starts),
            [
                None,
                pa.py_buffer(bounds.astype(np.int32).tobytes()),
                pa.py_buffer(data.tobytes()),
            ],
        )
    else:
        pos_arr = pa.nulls(len(starts), type=pa.binary())
    return pa.RecordBatch.from_arrays(
        [
            pa.array(docid_in[head_rows], type=pa.int64()),
            term_arr,
            pa.array(tf, type=pa.int32()),
            pos_arr,
            pa.array(dls[head_rows], type=pa.int32()),
        ],
        names=["docid", "term", "tf", "positions", "doclen"],
    )


def _auto_batches(rb, with_positions: bool) -> list:
    """Per-batch ASCII router: postings RecordBatches for one input batch
    of (docid, content).

    Documents whose content is pure ASCII (``string_is_ascii``, Arrow
    C++) go through the RE2 kernel (:func:`_vector_batch`), the rest
    through the reference contract analyzer (:func:`_contract_batch`).
    Tokenization is per-document, so per-doc routing cannot change any
    posting.  Returns up to two sub-batches over the SAME docid span."""
    import pyarrow.compute as pc

    from frankensearch_spark.analyze import tokenize_fast

    # null content: both kernels drop the doc — route to the vector side
    # (no Python loop) via fill_null(True)
    mask = pc.fill_null(pc.string_is_ascii(rb.column(1)), True)
    n_ascii = pc.sum(mask).as_py() or 0
    if n_ascii == rb.num_rows:
        # all-ASCII batch (the common case for source code): skip the
        # filter() copy of every content buffer
        outs = [_vector_batch(rb, with_positions)]
    else:
        outs = [
            _vector_batch(rb.filter(mask), with_positions)
            if n_ascii else None,
            _contract_batch(
                rb.filter(pc.invert(mask)), tokenize_fast, with_positions
            ),
        ]
    return [out for out in outs if out is not None]


def positions_as_array(pos_df: DataFrame) -> DataFrame:
    """``positions binary`` (per-posting vbyte) → ``positions array<int>``.

    One vectorized mapInArrow decode for consumers that want JVM-side
    array semantics (``explode``, SQL lateral views) over the fused
    build's pre-encoded positions.  Passthrough when the column is
    already an array.  Null/empty buffers decode to empty arrays."""
    dtypes = dict(pos_df.dtypes)
    if dtypes.get("positions") != "binary":
        return pos_df
    out_schema = ", ".join(
        f"{c} array<int>" if c == "positions" else f"{c} {dtypes[c]}"
        for c in pos_df.columns
    )

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        from frankensearch_spark.functions.vbyte import vbyte_decode_concat

        for rb in batches:
            n = rb.num_rows
            names = rb.schema.names
            pidx = names.index("positions")
            if n == 0:
                continue
            cells = [
                c if c is not None else b""
                for c in rb.column(pidx).to_pylist()
            ]
            flat, counts = vbyte_decode_concat(cells)
            offsets = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(counts, out=offsets[1:])
            arr = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(flat.astype(np.int32), type=pa.int32()),
            )
            cols = [
                arr if i == pidx else rb.column(i) for i in range(len(names))
            ]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return pos_df.mapInArrow(gen, out_schema)


def build_termstats(postings: DataFrame) -> DataFrame:
    """(term, df, cf) — TERMDICT metadata analogue (B9).

    Pure count/sum aggregation: map-side combine makes the skewed terms a
    non-issue (each task contributes one partial row per term).
    """
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )


def build_termstats_grouped(grouped: DataFrame) -> DataFrame:
    """(term, df, cf) straight from the GROUPED postings layout (B9).

    ``df = Σ size(docids)`` and ``cf = Σ sum(tfs)`` per term: the
    aggregation input is one row per (batch, term) — orders of magnitude
    fewer rows than the exploded per-posting view, and the per-row array
    sums are whole-stage-codegen higher-order functions.  Result is
    row-identical to ``build_termstats(explode_grouped_postings(g))``."""
    return (
        grouped.filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(
            F.sum(F.size("docids")).alias("df"),
            F.sum(
                F.aggregate(
                    "tfs", F.lit(0).cast("long"), lambda a, x: a + x
                )
            ).alias("cf"),
        )
    )


def build_fieldstats(docmeta: DataFrame) -> DataFrame:
    """(doc_count, total_tokens) — STATS section analogue (B12).

    Computed from the same table the postings were built from — df/N
    include tombstoned docs until compaction (argus.rs:1327-1344 rule).
    """
    return docmeta.agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.coalesce(F.sum("doclen"), F.lit(0)).alias("total_tokens"),
    )


# Row bound of every driver-resident cache an index preloads (term dfs;
# on a serving index also bucket coverage, the id map, the tombstone
# set): a driver OOM guard, not a ranking choice — past it each consumer
# falls back to its Spark-side route.
PRELOAD_MAX_ROWS = 2_000_000


class TermStats:
    """The snapshot stats and the bounded (term -> df) cache, shared by
    both index forms (:class:`BuiltIndex`, ``wand.ServingIndex``); each
    declares the ``_cached_stats``, ``_term_df_cache`` and
    ``_term_df_complete`` fields these read."""

    def stats(self) -> tuple[int, int]:
        if self._cached_stats is None:
            row = self.fieldstats.collect()[0]
            self._cached_stats = (int(row["doc_count"]), int(row["total_tokens"]))
        return self._cached_stats

    def preload_termstats(self, max_terms: int = PRELOAD_MAX_ROWS) -> int:
        """Long-lived-serving amortization: collect the (term -> df)
        dictionary ONCE so per-query planning never runs a Spark job for
        stats (the reference holds TERMDICT mmap'd for the same reason).

        BOUNDED: at 100-TB code-corpus scale the vocabulary is
        O(10^8-10^9) distinct terms and a full ``termstats.collect()``
        is a driver OOM — so the preload takes the top-``max_terms`` by
        df (the head covers almost all query mass; IDF makes tail terms
        rare in queries too) and marks the cache PARTIAL, letting
        ``df_of_terms`` route misses through the filtered collect and
        fold them into the cache.  When the collect comes back smaller
        than the cap, the vocabulary fit and the cache is complete —
        misses then mean "term not in corpus", no job needed."""
        rows = (
            self.termstats.orderBy(F.desc("df"), F.asc("term"))
            .limit(max_terms)
            .collect()
        )
        self._term_df_cache = {r["term"]: int(r["df"]) for r in rows}
        self._term_df_complete = len(rows) < max_terms
        return len(self._term_df_cache)

    def df_of_terms(self, terms: list[str]) -> dict[str, int]:
        """(term -> df) for the query's terms — from the preloaded cache
        when present, else one filtered collect (the cold path)."""
        if not terms:
            return {}
        cache = self._term_df_cache
        if cache is not None:
            if self._term_df_complete:
                return {t: cache[t] for t in terms if t in cache}
            # partial (bounded) cache: df==0 entries are negative-cached
            # misses, so a long-lived process asks Spark about any given
            # absent term at most once
            hits = {t: cache[t] for t in terms if cache.get(t)}
            missing = [t for t in terms if t not in cache]
            if not missing:
                return hits
            fetched = {
                r["term"]: int(r["df"])
                for r in self.termstats.filter(
                    F.col("term").isin(missing)
                ).collect()
            }
            for t in missing:
                cache[t] = fetched.get(t, 0)
            hits.update(fetched)
            return hits
        return {
            r["term"]: int(r["df"])
            for r in self.termstats.filter(F.col("term").isin(terms)).collect()
        }


@dataclass
class BuiltIndex(TermStats):
    """The build's product, a build intermediate only: nothing scores
    or saves it — ``wand.serving_from_built`` converts it once into the
    serving form every reader and the writer take.  Its ``postings`` and
    ``positions`` frames stay for the relational pipeline queries
    (``driver_queries``) and the tests."""

    postings: DataFrame  # per-posting view: docid, term, tf, doclen
    docmeta: DataFrame
    termstats: DataFrame
    fieldstats: DataFrame
    positions: DataFrame | None = None  # (docid, term, positions) — phrase path
    tombstones: DataFrame | None = None  # (docid) — excluded from results,
    # NOT from stats (grimoire.rs:68-71 rule; folded by lifecycle.compact)
    postings_grouped: DataFrame | None = None  # grouped layout (one row
    # per (batch, term), array payloads, disjoint docid spans per term) —
    # every build_index() sets it, and serving_from_built and the
    # Spark-path upsert blockify it (merge.build_blocks_grouped)
    _cached_stats: tuple[int, int] | None = None
    _term_df_cache: dict | None = None
    # declared as a FIELD (not a plain attribute) so lifecycle's
    # dataclasses.replace() clones keep it — a dropped completeness flag
    # over a partial cache would silently lose tail terms (see
    # ServingIndex._term_df_complete)
    _term_df_complete: bool = False
    # transient build-time persists (the duplicate-key aggregate) whose
    # cache is only needed until the index frames first materialize;
    # CacheManager pins them until an explicit unpersist, so long-lived
    # processes call release_aux_caches() after materializing
    aux_caches: tuple = ()
    # the frames whose cache this build created (persist_owned), the
    # docid assignment included: a caller that copies the index out
    # (the serving upsert's delta, once checkpointed) unpersists them.
    # An index still served from these frames must keep the docid
    # assignment cached (lease docids are frozen by its first
    # materialization)
    persisted: tuple = ()

    def release_aux_caches(self) -> None:
        """Unpersist transient build-time caches (NOT the index's own
        postings/docmeta/termstats persists).  Call after the index
        frames have materialized — the aux data is re-derivable, so a
        later rescan merely recomputes."""
        for df in self.aux_caches:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — best-effort release
                pass


@dataclass
class MultiFieldIndex:
    """Several single-field indexes over ONE docid space (the reference's
    multi-field document model: content + title^2, schema.rs:295-298).

    Each field has its own postings/termstats and its own avgdl/tf-cache
    (per (field, snapshot) — contract.rs:395-404); ``doc_count`` is
    snapshot-global and shared.  ``primary`` carries docmeta (external
    keys, sha256 witness, metadata columns) and the tombstone set.
    """

    fields: dict[str, BuiltIndex]
    primary_name: str
    field_cols: dict[str, str] | None = None  # field -> source column

    @property
    def primary(self) -> BuiltIndex:
        return self.fields[self.primary_name]

    @property
    def docmeta(self) -> DataFrame:
        return self.primary.docmeta

    @property
    def tombstones(self) -> DataFrame | None:
        return self.primary.tombstones

    @property
    def termstats(self) -> DataFrame:
        # primary-field stats: snippets df-weight highlight terms by the
        # content field, matching the reference's content-based previews
        return self.primary.termstats

    def stats(self) -> tuple[int, int]:
        return self.primary.stats()


def build_multifield_index(
    corpus: DataFrame,
    key_cols: list[str],
    field_cols: dict[str, str],
    primary: str | None = None,
    docid_mode: str = "lease",
    **kw,
) -> MultiFieldIndex:
    """Build one index per text field over a single docid assignment.

    ``field_cols``: field name -> source column (e.g. {"content":
    "content", "title": "title"}).  Missing/null field values index as
    empty documents (doclen 0), keeping N global across fields."""
    owned: list = []
    if "docid" in corpus.columns:
        with_docid = corpus
    else:
        with_docid = persist_owned(
            assign_docids(corpus, key_cols, docid_mode), owned
        )
    primary = primary or next(iter(field_cols))
    sources = set(field_cols.values())
    skip = set(key_cols) | sources | {"docid"}
    primary_meta = [c for c in with_docid.columns if c not in skip]
    out: dict[str, BuiltIndex] = {}
    for fname, col in field_cols.items():
        out[fname] = build_index(
            with_docid, key_cols, content_col=col,
            meta_cols=primary_meta if fname == primary else [],
            **kw,
        )
    # the primary field owns the shared docid assignment's cache
    out[primary] = dataclasses.replace(
        out[primary], persisted=out[primary].persisted + tuple(owned)
    )
    return MultiFieldIndex(out, primary, field_cols=dict(field_cols))


def build_index(
    corpus: DataFrame,
    key_cols: list[str],
    content_col: str = "content",
    docid_mode: str = "lease",
    with_positions: bool = True,
    code_aware: bool = False,
    cache: bool = True,
    meta_cols: list[str] | None = None,
) -> BuiltIndex:
    """Full batch build: corpus -> postings/docmeta/termstats/fieldstats.

    One layout, the grouped one: every tokenize batch covers a
    contiguous docid span and emits one row per (batch, term) with array
    payloads (:func:`build_postings_grouped`), which is what licenses
    the block writer's concat-only merge (``merge.build_blocks_grouped``).
    The per-posting ``postings`` view is a lazy JVM explode of the
    cached grouped frame; docmeta, termstats and the in-memory query
    path consume it unchanged.

    Docids: by default the span arrangement IS the lease assignment
    (:func:`assign_docids_fused_spans`, lease count sized to the input).
    A corpus that already carries a ``docid`` column (e.g. the driver
    testdata's ``doc_id``, or a multi-field build's shared assignment)
    is trusted as the global docid, and ``docid_mode="global"`` takes
    :func:`assign_docids`; both are then range-partitioned by docid and
    locally sorted.  Either way the docid assignment is persisted
    before the span exchange samples it (range sampling re-evaluates
    its child, and lease docids must be frozen first — the round-1 AQE
    docid-collision pitfall class), even under ``cache=False``.

    The analyzer follows from the input: ``code_aware=True`` runs the
    contract analyzer with code-aware splitting; every other build
    routes ASCII documents through the Arrow-C++ kernel and the rest
    through the contract analyzer (:func:`_auto_batches`) —
    contract-exact postings on every corpus."""
    aux: list = []
    owned: list = []
    if "docid" not in corpus.columns and docid_mode == "lease":
        with_docid = spans = persist_owned(
            assign_docids_fused_spans(corpus, key_cols), owned
        )
    else:
        if "docid" not in corpus.columns:
            corpus = assign_docids(
                corpus, key_cols, docid_mode, aux_caches=aux
            )
        with_docid = persist_owned(corpus, owned)
        spans = with_docid.repartitionByRange(
            corpus.sparkSession.sparkContext.defaultParallelism, "docid"
        ).sortWithinPartitions("docid")
    grouped = build_postings_grouped(
        spans, content_col, code_aware, with_positions
    )
    if cache:
        grouped = persist_owned(grouped, owned)
    postings = explode_grouped_postings(grouped)
    positions = None
    if with_positions:
        positions = postings.select("docid", "term", "positions")
        postings = postings.drop("positions")
    docmeta = build_docmeta(
        with_docid, key_cols, postings, content_col, meta_cols,
        lens=grouped_doclens(grouped),
    )
    if cache:
        docmeta = persist_owned(docmeta, owned)
    # termstats from the grouped rows directly (no per-posting explode),
    # persisted: the durable write re-reads it (a tiny table) instead of
    # re-running the aggregation
    termstats = build_termstats_grouped(grouped)
    if cache:
        termstats = persist_owned(termstats, owned)
    return BuiltIndex(
        postings, docmeta, termstats, build_fieldstats(docmeta), positions,
        postings_grouped=grouped,
        aux_caches=tuple(aux),
        persisted=tuple(owned),
    )
