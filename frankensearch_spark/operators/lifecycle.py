"""Document lifecycle: delete (tombstones), upsert, compaction (SURVEY.md
S2/M3 — quill/index.rs:9104-9270 delete/upsert, keeper.rs:4219-4253
tombstone-folding compaction).

Reference semantics carried over exactly:

* A delete never rewrites postings — it adds the docid to a TOMBSTONE set;
  queries exclude tombstoned docs from RESULTS, but snapshot statistics
  (``df``, ``N``, ``total_tokens``) keep counting them until compaction
  (grimoire.rs:68-71, argus.rs:1327-1344 — scores of surviving docs do
  NOT change when a neighbour is deleted).
* Upsert = index the new revision under a fresh docid + tombstone every
  older docid with the same external key (new internal docid + tombstone,
  COMPREHENSIVE_PLAN.md:274-276).  Docids are never reused.  ONE lease
  rule serves built and serving indexes alike (keeper.rs:1567-1610): the
  new ids start at the first ``2^bucket_shift`` boundary above the
  current high-watermark (:func:`lease_offset`), so the new rows fill
  docid buckets of their own and no existing block changes.
* On a serving (loaded) index an upsert never decodes the committed
  block store: only the new rows are built and blockified — a small
  delta, materialized once — and the result is a serving index over
  base ⊕ delta (the Keeper's mutable delta segment, delta.rs).  Its
  planning state (stats, the df cache, bucket coverage, the id map, the
  tombstone set) is extended on the driver from the delta's own small
  collects.  Only compaction decodes the store (:func:`serving_to_built`).
* Compaction folds tombstones: drop dead rows from postings/docmeta,
  recompute stats, PRESERVE surviving docids (gaps are fine,
  keeper.rs:4219-4253).  After compaction scores MAY change (df/N drop) —
  same as the reference.

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

from frankensearch_spark.operators.build import (
    BuiltIndex,
    MultiFieldIndex,
    build_fieldstats,
    build_index,
    build_multifield_index,
    build_termstats,
)
from frankensearch_spark.operators.merge import (
    DEFAULT_BUCKET_SHIFT,
    build_blocks_grouped,
)
from frankensearch_spark.operators.wand import (
    NO_TOMBSTONES,
    PRELOAD_MAX_ROWS,
    IdMap,
    ServingIndex,
    ServingMultiIndex,
    _wand_fields,
    external_id,
)

TOMBSTONE_COMPACT_THRESHOLD = 0.20  # config.rs:29


def _tombstone_df(index, docids) -> DataFrame:
    df = getattr(index, "postings", None)
    if df is None:  # ServingIndex carries blocks, not postings
        df = index.blocks
    spark = df.sparkSession
    if isinstance(docids, DataFrame):
        return docids.select(F.col(docids.columns[0]).cast("long").alias("docid"))
    return spark.createDataFrame(
        [(int(d),) for d in docids], "docid long"
    )


def delete_documents(index, docids):
    """Tombstone documents by docid; returns a new searchable handle.

    Stats tables are passed through untouched — the reference's
    "df/N include tombstoned docs until compaction" rule.  Multi-field
    indexes tombstone on the PRIMARY field (the one query-time anti-join
    source shared by every field)."""
    if isinstance(index, MultiFieldIndex):
        fields = dict(index.fields)
        fields[index.primary_name] = delete_documents(index.primary, docids)
        # field_cols must survive: upsert ends in delete_documents, and
        # the NEXT upsert needs the field->source-column map
        return MultiFieldIndex(
            fields, index.primary_name,
            field_cols=getattr(index, "field_cols", None),
        )
    if isinstance(index, ServingMultiIndex):
        fields = dict(index.fields)
        fields[index.primary_name] = delete_documents(index.primary, docids)
        return dataclasses.replace(index, fields=fields)
    if isinstance(index, ServingIndex):
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
    ts = _tombstone_df(index, docids)
    if index.tombstones is not None:
        ts = index.tombstones.unionByName(ts).distinct()
    # replace() keeps every other field incl. the preload_termstats()
    # warm planning cache — tombstones only change result filtering
    return dataclasses.replace(index, tombstones=ts)


def delete_by_key(index: BuiltIndex, key_predicate) -> BuiltIndex:
    """Tombstone by external key predicate over docmeta (delete_documents
    by id, index.rs:9254)."""
    ids = index.docmeta.filter(key_predicate).select("docid")
    return delete_documents(index, ids)


def lease_offset(hwm: int, bucket_shift: int = DEFAULT_BUCKET_SHIFT) -> int:
    """The first docid an upsert leases: the first ``2^bucket_shift``
    boundary above the high-watermark ``hwm`` (0 on an empty index)."""
    return ((hwm >> bucket_shift) + 1) << bucket_shift


def _shift_union(old: BuiltIndex, delta: BuiltIndex,
                 shift: int) -> BuiltIndex:
    """Union ``delta`` into ``old`` with the delta's docids shifted by
    the lease offset; per-field stats recomputed over the union."""
    shifted_postings = delta.postings.withColumn(
        "docid", F.col("docid") + F.lit(shift)
    )
    shifted_docmeta = delta.docmeta.withColumn(
        "docid", F.col("docid") + F.lit(shift)
    )
    if (delta.positions is None) != (old.positions is None):
        # silently dropping one side's positions would leave a PARTIAL
        # positions table: phrase queries then silently miss the docs of
        # the positionless side — fail loudly instead
        missing = "delta" if delta.positions is None else "existing index"
        raise ValueError(
            "positions present on only one side of the upsert (the "
            f"{missing} lacks them); rebuild/upsert with matching "
            "with_positions"
        )
    shifted_positions = (
        delta.positions.withColumn("docid", F.col("docid") + F.lit(shift))
        if delta.positions is not None
        else None
    )
    # every build path (fused arrow, vector, auto, SQL) emits positions
    # as per-posting LEB128 binary — one wire format, no normalization;
    # only durable segments sealed by pre-unification writers still carry
    # array<int> (handled at load in streaming/incremental.py)
    old_positions = old.positions
    postings = old.postings.unionByName(shifted_postings)
    docmeta = old.docmeta.unionByName(
        shifted_docmeta.select(*old.docmeta.columns)
    )
    positions = (
        old_positions.unionByName(shifted_positions)
        if shifted_positions is not None
        else old_positions
    )
    return BuiltIndex(
        postings=postings,
        docmeta=docmeta,
        termstats=build_termstats(postings),
        fieldstats=build_fieldstats(docmeta),
        positions=positions,
        tombstones=old.tombstones,
    )


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


def _serving_union(sub, delta: BuiltIndex, shift: int, key_cols):
    """``sub`` ⊕ ``delta`` with the delta's docids shifted by the lease
    offset, in serving form.  Only the delta is blockified, from its
    grouped postings (the build's own layout, docids shifted in the
    arrays — no per-posting explode); its blocks
    and docmeta are materialized once as local checkpoints (lineage
    cut, so a read plans a plain scan of them, not the delta's build),
    then read by ONE collect of the blocks' per-(term, bucket) posting
    counts and one of the docmeta — the committed store is never
    decoded or scanned.  From those two small collects the driver
    extends the stats, the df cache, bucket coverage and (``key_cols``:
    the primary field) the id map, so the returned index is warm at
    birth.  Tombstones carry over unchanged."""
    grouped = delta.postings_grouped
    if sub.has_positions and "positions" not in grouped.columns:
        raise ValueError(
            "the index carries positions but the upsert delta lacks them; "
            "upsert with with_positions=True"
        )
    if not sub.has_positions:
        grouped = grouped.drop("positions")
    blocks = build_blocks_grouped(
        grouped.withColumn(
            "docids", F.transform("docids", lambda d: d + shift)
        ),
        sub.bucket_shift, sub.n_term_partitions,
    ).localCheckpoint()
    delta_df: dict = {}
    delta_nb: dict = {}
    buckets = set()
    for r in blocks.groupBy("term", "bucket").agg(
        F.sum("n").alias("n")
    ).collect():
        delta_df[r["term"]] = delta_df.get(r["term"], 0) + int(r["n"])
        delta_nb[r["term"]] = delta_nb.get(r["term"], 0) + 1
        buckets.add(r["bucket"])
    docmeta = delta.docmeta.withColumn(
        "docid", F.col("docid") + F.lit(shift)
    ).localCheckpoint()
    rows = docmeta.select("docid", "doclen", *(key_cols or ())).collect()
    n_docs, total_tokens = sub.stats()
    n_docs += len(rows)
    total_tokens += sum(int(r["doclen"]) for r in rows)
    idm = sub._idmap
    if key_cols is None or idm is None or idm.key_cols != tuple(key_cols):
        idm = None
    else:
        ext = dict(idm.ext)
        for r in rows:
            if len(ext) >= PRELOAD_MAX_ROWS:
                break
            ext[int(r["docid"])] = external_id(r, key_cols)
        idm = IdMap(
            idm.key_cols, ext, idm.complete and n_docs < PRELOAD_MAX_ROWS
        )
    hwm = sub._max_docid
    if hwm is not None:
        hwm = max([hwm] + [int(r["docid"]) for r in rows])
    term_df, term_df_complete = _extend_df_cache(sub, delta_df)
    spark = sub.blocks.sparkSession
    return dataclasses.replace(
        sub,
        # one partition per delta in every scan of the union: its rows
        # are cached, and a read's task count must not grow by the
        # blockify's shuffle width per upsert
        blocks=sub.blocks.unionByName(
            blocks.coalesce(1), allowMissingColumns=True
        ),
        termstats=sub.termstats.unionByName(delta.termstats)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")),
        docmeta=sub.docmeta.unionByName(
            docmeta.coalesce(1), allowMissingColumns=True
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


def serving_to_built(index):
    """Reconstruct builder form from a durable serving index: ONE
    distributed decode pass over the whole block store (no driver
    materialization), doclen re-joined from docmeta (fieldnorm
    quantization is idempotent, so re-derived ids equal the stored
    ones bit-for-bit).  This is what lets a LOADED engine run
    upsert/compact with full reference semantics (index.rs:9104-9270
    over a committed snapshot).

    Cost note: linear in index size — fine for compaction-sized jobs;
    for high-rate appends at very large corpora prefer streamed
    mini-segments (streaming.incremental), which never decode the base."""
    if isinstance(index, ServingMultiIndex):
        return MultiFieldIndex(
            {n: serving_to_built(f) for n, f in index.fields.items()},
            index.primary_name,
            field_cols=index.field_cols,
        )
    assert isinstance(index, ServingIndex)
    from frankensearch_spark.operators.serving_exec import blocks_to_postings

    decoded = blocks_to_postings(
        index, None, with_positions=index.has_positions
    )
    doclens = index.docmeta.select("docid", "doclen")
    post = decoded.drop("fieldnorm_id").join(doclens, "docid")
    if index.has_positions:
        postings_full = post.select("docid", "term", "tf", "positions", "doclen")
        postings = postings_full.drop("positions")
        positions = postings_full.select("docid", "term", "positions")
    else:
        postings_full = None
        postings = post.select("docid", "term", "tf", "doclen")
        positions = None
    return BuiltIndex(
        postings=postings,
        docmeta=index.docmeta,
        termstats=index.termstats,
        fieldstats=index.fieldstats,
        positions=positions,
        tombstones=index.tombstones,
        postings_full=postings_full,
    )


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
    high-watermark — never reused, monotone (Q1 docid discipline).  A
    serving index (loaded engine) tracks its high-watermark on the
    driver and stays in serving form (:func:`_serving_union`); a built
    index stays in builder form.  Multi-field indexes upsert every field
    from the same delta corpus (requires the ``field_cols`` mapping the
    index was built with)."""
    old_ids = index.docmeta.join(
        new_corpus.select(*key_cols).distinct(), key_cols, "left_semi"
    ).select("docid")
    if isinstance(index, (ServingIndex, ServingMultiIndex)):
        shift = lease_offset(
            index.high_watermark(), _wand_fields(index)[1].bucket_shift
        )
        # the superseded docids on the driver, where the tombstone set
        # the local lane reads is extended
        old_ids = [int(r["docid"]) for r in old_ids.collect()]

        def union(sub, delta, primary):
            return _serving_union(
                sub, delta, shift, key_cols if primary else None
            )
    else:
        hwm = index.docmeta.agg(F.max("docid")).collect()[0][0]
        shift = lease_offset(-1 if hwm is None else int(hwm))

        def union(sub, delta, _primary):
            return _shift_union(sub, delta, shift)

    if hasattr(index, "fields"):
        if not getattr(index, "field_cols", None):
            raise ValueError(
                "multi-field upsert needs the index's field_cols mapping "
                "(build via build_multifield_index)"
            )
        delta = build_multifield_index(
            new_corpus, key_cols, index.field_cols,
            primary=index.primary_name, **build_kw,
        )
        fields = {
            name: union(sub, delta.fields[name], name == index.primary_name)
            for name, sub in index.fields.items()
        }
        merged = (
            dataclasses.replace(index, fields=fields)
            if isinstance(index, ServingMultiIndex)
            else MultiFieldIndex(
                fields, index.primary_name, field_cols=index.field_cols
            )
        )
        return delete_documents(merged, old_ids)

    delta = build_index(new_corpus, key_cols, content_col, **build_kw)
    return delete_documents(union(index, delta, True), old_ids)


def tombstone_density(index: BuiltIndex) -> float:
    if index.tombstones is None:
        return 0.0
    n_docs, _ = index.stats()
    if n_docs == 0:
        return 0.0
    return index.tombstones.count() / n_docs


def compact(index, force: bool = False, cache: bool = True):
    """Fold tombstones: rewrite without dead docs, preserving surviving
    docids; stats recomputed from survivors (keeper.rs:4219-4253).

    No-op below the 20% density threshold unless ``force``.  Multi-field
    indexes fold the (primary-held) tombstone set into EVERY field.  A
    serving index is decoded back to builder form first
    (:func:`serving_to_built`) — the one lifecycle op that touches the
    committed store."""
    if index.tombstones is None:
        return index
    if not force and tombstone_density(index) <= TOMBSTONE_COMPACT_THRESHOLD:
        return index
    if isinstance(index, (ServingIndex, ServingMultiIndex)):
        index = serving_to_built(index)
    if isinstance(index, MultiFieldIndex):
        ts = index.tombstones
        fields = {}
        for name, sub in index.fields.items():
            with_ts = BuiltIndex(
                postings=sub.postings,
                docmeta=sub.docmeta,
                termstats=sub.termstats,
                fieldstats=sub.fieldstats,
                positions=sub.positions,
                tombstones=ts,
            )
            fields[name] = compact(with_ts, force=True, cache=cache)
        return MultiFieldIndex(
            fields, index.primary_name,
            field_cols=getattr(index, "field_cols", None),
        )
    ts = index.tombstones
    postings = index.postings.join(ts, "docid", "left_anti")
    docmeta = index.docmeta.join(ts, "docid", "left_anti")
    positions = (
        index.positions.join(ts, "docid", "left_anti")
        if index.positions is not None
        else None
    )
    if cache:
        # the SUPERSEDED index's persisted frames are deliberately left
        # alone: engines are immutable and the caller may still hold
        # (and query) the pre-compact engine.  Spark persists at
        # MEMORY_AND_DISK, so abandoned generations are LRU-evicted
        # under pressure rather than leaking unboundedly; a long-lived
        # process that compacts in a loop and wants the memory back NOW
        # can `old_engine.index.postings.unpersist()` once it drops its
        # last reference.
        postings = postings.persist()
        docmeta = docmeta.persist()
    return BuiltIndex(
        postings=postings,
        docmeta=docmeta,
        termstats=build_termstats(postings),
        fieldstats=build_fieldstats(docmeta),
        positions=positions,
        tombstones=None,
    )
