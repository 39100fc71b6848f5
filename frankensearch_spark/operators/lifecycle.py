"""Document lifecycle: delete (tombstones), upsert, compaction (SURVEY.md
S2/M3 — quill/index.rs:9104-9270 delete/upsert, keeper.rs:4219-4253
tombstone-folding compaction).

Reference semantics carried over exactly:

* A delete never rewrites postings — it adds the docid to a TOMBSTONE set;
  queries exclude tombstoned docs from RESULTS, but snapshot statistics
  (``df``, ``N``, ``total_tokens``) keep counting them until compaction
  (grimoire.rs:68-71, argus.rs:1327-1344 — scores of surviving docs do
  NOT change when a neighbour is deleted).
Every operation takes and returns the serving form (``ServingIndex`` /
``ServingMultiIndex``) — what every engine holds, in-session ``build()``
engines and streamed snapshots included.  The builder form is a build
intermediate only and never reaches these operations.

* Upsert = index the new revision under a fresh docid + tombstone every
  older docid with the same external key (new internal docid + tombstone,
  COMPREHENSIVE_PLAN.md:274-276).  Docids are never reused.  The new ids
  start at the first ``2^bucket_shift`` boundary above the current
  high-watermark (:func:`lease_offset`, keeper.rs:1567-1610), so the new
  rows fill docid buckets of their own and no existing block changes.
* An upsert never decodes the committed block store: only the new rows
  are built and blockified — a small delta — and the result is a
  serving index over base ⊕ delta (the Keeper's mutable delta segment,
  delta.rs).  Its planning state (stats,
  the df cache, bucket coverage, the id map, the tombstone set) is
  extended on the driver by ONE function (:func:`_serving_union`) for
  either write path:

  - the driver-local write lane (:func:`_local_deltas`): when the new
    rows fit one docid bucket (``2^bucket_shift`` rows) and their
    postings fit ``wand.LOCAL_LANE_MAX_POSTINGS``, the build's own Arrow
    kernels run in-process over one Arrow collect of the rows, the
    delta reaches Spark once through Arrow-backed ``createDataFrame``,
    and the superseded docids come from the preloaded id map — one
    Spark job in all, and a delta no executor loss can take away;
  - past that bound, the Spark path (:func:`_spark_deltas`): the delta
    is built by ``build_index``, materialized as local checkpoints (so
    a lost executor loses it), and its superseded docids come from a
    docmeta semi-join.

* Compaction folds tombstones — the one operation that decodes the
  store: decode every block, drop dead postings and docmeta rows,
  re-blockify, recompute stats from the survivors, PRESERVE surviving
  docids (gaps are fine, keeper.rs:4219-4253) and the high-watermark
  (so a compacted-away docid is never leased again).  After compaction
  scores MAY change (df/N drop) — same as the reference.

Spark shapes: the tombstone set is a DataFrame of docids (cogrouped or
anti-joined at query time); compaction is an anti-join rewrite job.  A
serving index also keeps the set on the driver as a bounded ``TombSet``
(``wand.PRELOAD_MAX_ROWS`` docids — preloaded by ``warm()``, extended by
delete and upsert), from which the driver-local lane drops tombstoned
docs in-process; past the bound queries keep the cogroup route.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frankensearch_spark.operators.build import (
    _doclen_pseudo_batch,
    _regroup_posting_batch,
    build_fieldstats,
    build_index,
    build_multifield_index,
    build_termstats,
    check_sorted_keys_unique,
    posting_kernel,
)
from frankensearch_spark.operators.merge import (
    BLOCKS_SCHEMA,
    DEFAULT_BUCKET_SHIFT,
    _blockify_grouped_arrow,
    build_blocks,
    build_blocks_grouped,
)
from frankensearch_spark.operators.wand import (
    LOCAL_LANE_MAX_POSTINGS,
    NO_TOMBSTONES,
    PRELOAD_MAX_ROWS,
    ServingIndex,
    ServingMultiIndex,
    _wand_fields,
)

TOMBSTONE_COMPACT_THRESHOLD = 0.20  # config.rs:29


def _tombstone_df(index, docids) -> DataFrame:
    spark = index.docmeta.sparkSession
    if isinstance(docids, DataFrame):
        return docids.select(F.col(docids.columns[0]).cast("long").alias("docid"))
    import numpy as np
    import pyarrow as pa

    # Arrow-backed: a 5,000-docid list through the row path spent
    # ~0.2 s in per-row schema checks
    return spark.createDataFrame(
        pa.table({"docid": np.asarray(docids, dtype=np.int64)}),
        "docid long",
    )


def delete_documents(index, docids):
    """Tombstone documents by docid; returns a new searchable handle.

    Stats tables are passed through untouched — the reference's
    "df/N include tombstoned docs until compaction" rule.  Multi-field
    indexes tombstone on the PRIMARY field (the one query-time anti-join
    source shared by every field)."""
    if isinstance(index, ServingMultiIndex):
        fields = dict(index.fields)
        fields[index.primary_name] = delete_documents(index.primary, docids)
        return dataclasses.replace(index, fields=fields)
    tombset = None
    if not isinstance(docids, DataFrame):
        docids = [int(d) for d in docids]
        prev = index._tombset
        if index.tombstones is None:
            prev = NO_TOMBSTONES
        if prev is not None:
            tombset = prev.extended(docids)
    ts = _tombstone_df(index, docids)
    if index.tombstones is not None:
        ts = index.tombstones.unionByName(ts).distinct()
    # replace() keeps every other field — including the warm()
    # planning state (_term_df_cache, _bucket_cov): tombstones don't
    # change term stats or bucket coverage, only result filtering.
    # A driver-side docid list extends the preloaded set; a
    # DataFrame leaves it for warm() to preload
    return dataclasses.replace(index, tombstones=ts, _tombset=tombset)


def delete_by_key(index, key_predicate):
    """Tombstone by external key predicate over docmeta (delete_documents
    by id, index.rs:9254)."""
    ids = index.docmeta.filter(key_predicate).select("docid")
    return delete_documents(index, ids)


def lease_offset(hwm: int, bucket_shift: int = DEFAULT_BUCKET_SHIFT) -> int:
    """The first docid an upsert leases: the first ``2^bucket_shift``
    boundary above the high-watermark ``hwm`` (0 on an empty index)."""
    return ((hwm >> bucket_shift) + 1) << bucket_shift


def _extend_df_cache(sub, delta_df: dict) -> tuple[dict | None, bool]:
    """``sub``'s (term -> df) cache plus the delta's dfs, under the
    preload's bounded-cache law: a complete cache stays complete; an
    incomplete one updates only the terms it holds — its entries,
    negative ones included, are exact — and leaves the rest to the
    filtered-collect fallback.  A complete cache the delta would push
    to ``PRELOAD_MAX_ROWS`` is dropped, for warm() to preload again
    under the bound."""
    cache, complete = sub._term_df_cache, sub._term_df_complete
    if cache is None:
        return None, False
    out = dict(cache)
    for t, n in delta_df.items():
        if complete or t in out:
            out[t] = out.get(t, 0) + n
    if complete and len(out) >= PRELOAD_MAX_ROWS:
        return None, False
    return out, complete


def _extend_bucket_cov(sub, delta_nb: dict, n_buckets: int) -> dict:
    """``sub``'s bucket-coverage planning stats plus the delta's, as
    ``dataclasses.replace`` keywords.  The delta's buckets are its own
    (:func:`lease_offset`), so coverage adds.  The MaxScore shape max is
    dropped: it was computed at the old avgdl, and a stale bound could
    under-estimate.  The skippable-fraction estimate only steers routing
    and is kept (0.0 for a term new to the index).  Under a truncated
    cache the eviction floor rises by the delta's largest per-term
    coverage, so it stays an upper bound for every evicted term; a
    complete cache the delta would push to ``PRELOAD_MAX_ROWS`` is
    dropped, for warm() to preload again under the bound."""
    cov, complete = sub._bucket_cov, sub._bucket_cov_complete
    if cov is None:
        return {}
    out = {t: (nb, frac, None) for t, (nb, frac, *_mx) in cov.items()}
    for t, nb in delta_nb.items():
        if t in out:
            out[t] = (out[t][0] + nb, out[t][1], None)
        elif complete:
            out[t] = (nb, 0.0, None)
    if complete and len(out) >= PRELOAD_MAX_ROWS:
        return {"_bucket_cov": None}
    min_nb = sub._bucket_cov_min_nb
    if not complete:
        min_nb = (min_nb or 0) + max(delta_nb.values(), default=0)
    return {
        "_bucket_cov": out,
        "_bucket_cov_min_nb": min_nb,
        "_total_buckets": (sub._total_buckets or 0) + n_buckets,
    }


@dataclasses.dataclass(frozen=True)
class _Delta:
    """One field's upsert delta in serving form, its docids leased: the
    three tables a serving index reads, plus what the driver extends
    the planning state from — the blocks' postings per ``(term,
    bucket, n)`` and the docmeta rows ``(docid, doclen, key tuple)``
    (key None off the primary field).  Built by either write path:
    :func:`_local_deltas` or :func:`_spark_deltas`."""

    blocks: DataFrame
    docmeta: DataFrame
    termstats: DataFrame
    counts: list
    docs: list


def _require_positions(sub, delta_has_positions: bool) -> None:
    if sub.has_positions and not delta_has_positions:
        raise ValueError(
            "the index carries positions but the upsert delta lacks them; "
            "upsert with with_positions=True"
        )


def _serving_union(sub, delta: _Delta, key_cols):
    """``sub`` ⊕ ``delta`` in serving form — the one planning-state
    extension both write paths share.  The committed store is never
    decoded or scanned: from the delta's per-(term, bucket) posting
    counts and docmeta rows, whichever side computed them, the driver
    extends the stats, the df cache, bucket coverage, the high-watermark
    and (``key_cols``: the primary field) the id map, so the returned
    index is warm at birth.  A driver-local delta is parallelized from
    data the driver holds; a Spark-path delta is local checkpoints
    (lineage cut, so a read plans a plain scan either way, but the
    checkpoints live on executors: a lost executor loses them).
    Tombstones carry over unchanged."""
    delta_df: dict = {}
    delta_nb: dict = {}
    buckets = set()
    for term, bucket, n in delta.counts:
        delta_df[term] = delta_df.get(term, 0) + n
        delta_nb[term] = delta_nb.get(term, 0) + 1
        buckets.add(bucket)
    n_docs, total_tokens = sub.stats()
    n_docs += len(delta.docs)
    total_tokens += sum(dl for _, dl, _ in delta.docs)
    idm = sub._idmap
    if key_cols is None or idm is None or idm.key_cols != tuple(key_cols):
        idm = None
    else:
        idm = idm.extended(
            ((d, k) for d, _, k in delta.docs), n_docs < PRELOAD_MAX_ROWS
        )
    hwm = sub._max_docid
    if hwm is not None:
        hwm = max([hwm] + [d for d, _, _ in delta.docs])
    term_df, term_df_complete = _extend_df_cache(sub, delta_df)
    spark = sub.blocks.sparkSession
    return dataclasses.replace(
        sub,
        # one partition per delta in every scan of the union: a read's
        # task count must not grow by the blockify's shuffle width per
        # upsert
        blocks=sub.blocks.unionByName(
            delta.blocks.coalesce(1), allowMissingColumns=True
        ),
        termstats=sub.termstats.unionByName(delta.termstats)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")),
        docmeta=sub.docmeta.unionByName(
            delta.docmeta.coalesce(1), allowMissingColumns=True
        ),
        fieldstats=spark.createDataFrame(
            [(n_docs, total_tokens)], sub.fieldstats.schema
        ),
        _cached_stats=(n_docs, total_tokens),
        _term_df_cache=term_df,
        _term_df_complete=term_df_complete,
        _phrase_wl_cache=None,
        _idmap=idm,
        _max_docid=hwm,
        **_extend_bucket_cov(sub, delta_nb, len(buckets)),
    )


def _spark_deltas(fields: dict, built: dict, shift: int, key_cols,
                  primary: str) -> dict:
    """Spark-path deltas: each field's built delta (docids from 0)
    blockified from its grouped rows, docids shifted in the arrays — no
    per-posting explode — then its blocks, docmeta and termstats
    materialized as local checkpoints and read by one collect of the
    blocks' per-(term, bucket) counts and one of the docmeta.  Every
    frame the delta builds persisted is released once all fields are
    checkpointed (a multi-field delta shares one docid assignment)."""
    out = {}
    for name, sub in fields.items():
        delta = built[name]
        grouped = delta.postings_grouped
        _require_positions(sub, "positions" in grouped.columns)
        if not sub.has_positions:
            grouped = grouped.drop("positions")
        blocks = build_blocks_grouped(
            grouped.withColumn(
                "docids", F.transform("docids", lambda d: d + shift)
            ),
            sub.bucket_shift, sub.n_term_partitions, codec=sub.codec,
        ).localCheckpoint()
        docmeta = delta.docmeta.withColumn(
            "docid", F.col("docid") + F.lit(shift)
        ).localCheckpoint()
        keys = key_cols if name == primary else ()
        out[name] = _Delta(
            blocks, docmeta, delta.termstats.localCheckpoint(),
            [
                (r["term"], r["bucket"], int(r["n"]))
                for r in blocks.groupBy("term", "bucket")
                .agg(F.sum("n").alias("n")).collect()
            ],
            [
                (int(r["docid"]), int(r["doclen"]),
                 tuple(r[c] for c in keys) if keys else None)
                for r in docmeta.select("docid", "doclen", *keys).collect()
            ],
        )
    for delta in built.values():
        for df in delta.persisted:
            df.unpersist()
    return out


# Spark types whose Arrow sort order is Spark's (binary UTF-8 strings,
# integers, false < true, days): only keys of these types are ranked on
# the driver; other docmeta columns may also be exact numbers or bytes
_LANE_KEY_TYPES = (
    T.StringType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.BooleanType, T.DateType,
)
_LANE_META_TYPES = _LANE_KEY_TYPES + (
    T.FloatType, T.DoubleType, T.DecimalType, T.BinaryType,
)


def _local_deltas(index, fields: dict, new_corpus: DataFrame, key_cols,
                  text_cols: dict, primary: str, shift: int,
                  build_kw: dict):
    """The driver-local write lane: ``(deltas, new key tuples)``, or
    None when the delta is out of its bound and the Spark path runs.

    Bound: the new rows fit one docid bucket (``2^bucket_shift`` rows,
    found by ONE Arrow collect of at most one row more), their postings
    fit ``LOCAL_LANE_MAX_POSTINGS``, the corpus carries no ``docid``,
    and the key columns are types whose Arrow order is Spark's.  Inside
    it every step is the build's own kernel, run in-process: keys
    sorted ascending, nulls first, and checked unique like
    :func:`assign_docids_fused_spans`; docids ``lease offset + rank``;
    :func:`posting_kernel` and :func:`_regroup_posting_batch`, then
    ``merge._blockify_grouped_arrow`` (its span and positions checks
    included); docmeta (sha256, doclen, fieldnorm id) and termstats
    (df, cf) from the same grouped rows.  Each table reaches Spark
    once, through an Arrow-backed ``createDataFrame``: no job, no
    persist, nothing an executor can lose."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from frankensearch_spark.contract import fieldnorm_to_id

    schema = new_corpus.schema
    with_positions = build_kw.get("with_positions", True)
    code_aware = build_kw.get("code_aware", False)
    # the docmeta columns build_docmeta / build_multifield_index keep
    skip = set(key_cols) | set(text_cols.values()) | {"docid"}
    if not hasattr(index, "fields"):
        skip.add("content")
    meta = [c for c in schema.names if c not in skip]
    base = index.docmeta.schema

    def typed(cols, types):
        return all(
            c in schema.names and isinstance(schema[c].dataType, types)
            for c in cols
        )

    if (
        build_kw.get("docid_mode", "lease") != "lease"
        or set(build_kw) - {"cache", "code_aware", "docid_mode",
                            "with_positions"}
        or not key_cols or "docid" in schema.names
        or not typed(key_cols, _LANE_KEY_TYPES)
        or not typed(meta, _LANE_META_TYPES)
        or not typed(text_cols.values(), T.StringType)
        or not all(
            c in base.names and base[c].dataType == schema[c].dataType
            for c in key_cols
        )
    ):
        return None
    cap = 1 << fields[primary].bucket_shift
    tbl = new_corpus.limit(cap + 1).toArrow()
    if not 0 < tbl.num_rows <= cap:
        return None
    tbl = tbl.take(pc.sort_indices(
        tbl, [(c, "ascending") for c in key_cols], null_placement="at_start"
    )).combine_chunks()
    keys = [tbl.column(c).chunk(0) for c in key_cols]
    check_sorted_keys_unique(keys)
    n = tbl.num_rows
    docids = pa.array(np.arange(shift, shift + n, dtype=np.int64))
    tokenized = {}
    for name, col in text_cols.items():
        sub = fields[name]
        _require_positions(sub, with_positions)
        rb = pa.RecordBatch.from_arrays(
            [docids, tbl.column(col).chunk(0)], ["docid", col]
        )
        outs = posting_kernel(code_aware, sub.has_positions)(rb)
        grouped = (
            _regroup_posting_batch(outs, sub.has_positions) if outs else None
        )
        tokenized[name] = (rb, outs, grouped)
    postings = sum(
        len(g.column("docids").values)
        for _, _, g in tokenized.values() if g is not None
    )
    if postings > LOCAL_LANE_MAX_POSTINGS:
        return None

    spark = new_corpus.sparkSession
    key_tuples = list(zip(*(k.to_pylist() for k in keys)))
    out = {}
    for name, col in text_cols.items():
        sub = fields[name]
        rb, outs, grouped = tokenized[name]
        own = [*key_cols, *(meta if name == primary else ())]
        doclens = _doclen_pseudo_batch(rb, outs, False).column(
            "doclens"
        ).values.to_numpy()
        docmeta = pa.Table.from_arrays(
            [
                docids, *(tbl.column(c) for c in own),
                pa.array(
                    [
                        None if t is None
                        else hashlib.sha256(t.encode("utf-8")).hexdigest()
                        for t in tbl.column(col).to_pylist()
                    ],
                    type=pa.string(),
                ),
                pa.array(doclens, type=pa.int32()),
                pa.array(fieldnorm_to_id(doclens).astype(np.int32)),
            ],
            ["docid", *own, "content_sha256", "doclen", "fieldnorm_id"],
        )
        docmeta_schema = T.StructType(
            [T.StructField("docid", T.LongType(), False)]
            + [schema[c] for c in own]
            + [
                T.StructField("content_sha256", T.StringType()),
                T.StructField("doclen", T.IntegerType()),
                T.StructField("fieldnorm_id", T.IntegerType()),
            ]
        )
        blocks, terms, counts = [], [], []
        if grouped is not None:
            blocks = pa.Table.from_batches(list(_blockify_grouped_arrow(
                [grouped], sub.bucket_shift, sub.n_term_partitions,
                sub.codec,
            )))
            per = blocks.group_by(["term", "bucket"]).aggregate(
                [("n", "sum")]
            )
            counts = list(zip(
                per.column("term").to_pylist(),
                per.column("bucket").to_pylist(),
                per.column("n_sum").to_pylist(),
            ))
            # one grouped row per term: df = its list length, cf = Σ tfs
            lens = pc.list_value_length(grouped.column("docids")).to_numpy()
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            terms = pa.table({
                "term": grouped.column("term"),
                "df": pa.array(lens.astype(np.int64)),
                "cf": pa.array(np.add.reduceat(
                    grouped.column("tfs").values.to_numpy().astype(np.int64),
                    starts,
                )),
            })
        out[name] = _Delta(
            spark.createDataFrame(blocks, BLOCKS_SCHEMA),
            spark.createDataFrame(docmeta, docmeta_schema),
            spark.createDataFrame(terms, "term string, df long, cf long"),
            counts,
            list(zip(
                range(shift, shift + n), doclens.tolist(),
                key_tuples if name == primary else [None] * n,
            )),
        )
    return out, key_tuples


def upsert_documents(
    index,
    new_corpus: DataFrame,
    key_cols: list[str],
    content_col: str = "content",
    **build_kw,
):
    """Replace-by-external-key: index new revisions under fresh docids,
    tombstone every existing docid sharing the key.

    The fresh docids start at :func:`lease_offset` above the current
    high-watermark — never reused, monotone (Q1 docid discipline),
    tracked on the driver — and the result stays in serving form
    (:func:`_serving_union`).  Multi-field indexes upsert every field
    from the same delta corpus (requires the ``field_cols`` mapping the
    index was built with).

    A delta within the driver-local lane's bound
    (:func:`_local_deltas`: one docid bucket of rows, at most
    ``LOCAL_LANE_MAX_POSTINGS`` postings) is built in-process with the
    build's kernels, and its superseded docids come from the preloaded
    id map: one Spark job in all.  Past the bound, or with an
    incomplete map, the Spark path's build and docmeta semi-join run."""
    multi = hasattr(index, "fields")
    if multi and not index.field_cols:
        raise ValueError(
            "multi-field upsert needs the index's field_cols mapping "
            "(build via build_multifield_index)"
        )
    fields, primary_sub = _wand_fields(index)
    primary = index.primary_name if multi else "content"
    old_ids = index.docmeta.join(
        new_corpus.select(*key_cols).distinct(), key_cols, "left_semi"
    ).select("docid")

    shift = lease_offset(index.high_watermark(), primary_sub.bucket_shift)
    local = _local_deltas(
        index, fields, new_corpus, key_cols,
        dict(index.field_cols) if multi else {"content": content_col},
        primary, shift, build_kw,
    )
    superseded = None
    if local is None:
        built = (
            build_multifield_index(
                new_corpus, key_cols, index.field_cols, primary=primary,
                **build_kw,
            ).fields
            if multi
            else {"content": build_index(
                new_corpus, key_cols, content_col, **build_kw
            )}
        )
        deltas = _spark_deltas(fields, built, shift, key_cols, primary)
    else:
        deltas, new_keys = local
        idm = index._idmap
        if idm is not None and idm.key_cols == tuple(key_cols):
            superseded = idm.superseded(new_keys)
    if superseded is None:
        # the superseded docids on the driver, where the tombstone set
        # the local lane reads is extended
        superseded = [int(r["docid"]) for r in old_ids.collect()]
    unions = {
        name: _serving_union(
            sub, deltas[name], key_cols if name == primary else None
        )
        for name, sub in fields.items()
    }
    merged = (
        dataclasses.replace(index, fields=unions) if multi
        else unions["content"]
    )
    return delete_documents(merged, superseded)


def tombstone_density(index) -> float:
    if index.tombstones is None:
        return 0.0
    n_docs, _ = index.stats()
    if n_docs == 0:
        return 0.0
    return index.tombstones.count() / n_docs


def _compact_field(sub, ts: DataFrame, cache: bool, hwm: int):
    """One field of :func:`compact`: its postings decoded, dead docs
    anti-joined out of them and out of docmeta, the survivors
    re-blockified under the field's layout, termstats and fieldstats
    recomputed from them.  Under ``cache`` the survivors are decoded
    once: held while the new blocks and termstats materialize, then
    released.  The result is cold: warm() preloads it.  It carries the
    pre-compaction high-watermark ``hwm``, so the docids compaction
    dropped from the top are never leased again."""
    from frankensearch_spark.operators.serving_exec import blocks_to_postings

    docmeta = sub.docmeta.join(ts, "docid", "left_anti")
    postings = (
        blocks_to_postings(sub, None, with_positions=sub.has_positions)
        .join(ts, "docid", "left_anti")
        .drop("fieldnorm_id")
        .join(docmeta.select("docid", "doclen"), "docid")
    )
    if cache:
        postings = postings.persist()
    blocks = build_blocks(
        postings, sub.bucket_shift, sub.n_term_partitions,
        positions=postings if sub.has_positions else None, codec=sub.codec,
    )
    termstats = build_termstats(postings)
    if cache:
        # the SUPERSEDED index's persisted frames are deliberately left
        # alone: engines are immutable and the caller may still hold
        # (and query) the pre-compact engine.  Spark persists at
        # MEMORY_AND_DISK, so abandoned generations are LRU-evicted
        # under pressure rather than leaking unboundedly
        blocks, termstats, docmeta = (
            blocks.persist(), termstats.persist(), docmeta.persist()
        )
        blocks.count()
        termstats.count()
        postings.unpersist()
    return ServingIndex(
        blocks, termstats, docmeta, build_fieldstats(docmeta),
        sub.bucket_shift, sub.n_term_partitions,
        has_positions=sub.has_positions, codec=sub.codec, _max_docid=hwm,
    )


def compact(index, force: bool = False, cache: bool = True):
    """Fold tombstones: rewrite without dead docs, preserving surviving
    docids; stats recomputed from survivors (keeper.rs:4219-4253).

    No-op below the 20% density threshold unless ``force``.  Serving
    form in, serving form out (:func:`_compact_field` per field); a
    multi-field index folds its (primary-held) tombstone set into
    EVERY field."""
    if index.tombstones is None:
        return index
    if not force and tombstone_density(index) <= TOMBSTONE_COMPACT_THRESHOLD:
        return index
    ts = index.tombstones
    hwm = index.high_watermark()
    if isinstance(index, ServingMultiIndex):
        return dataclasses.replace(index, fields={
            name: _compact_field(sub, ts, cache, hwm)
            for name, sub in index.fields.items()
        })
    return _compact_field(index, ts, cache, hwm)
