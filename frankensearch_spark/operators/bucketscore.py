"""The one per-bucket scorer over compressed candidate blocks.

Every serving lane that scores docid buckets shares two pieces:

* :func:`candidate_blocks` — the candidate block scan: per queried field,
  the blocks of its terms (tpart + term parquet pruning), tagged with the
  field name; ``pos_bytes`` ships for phrase terms only;
* :func:`bucket_scorer` — the per-bucket closure: decode each block once,
  build dense span-local :class:`kernel.FieldView`\\ s, and evaluate every
  query's AST through :func:`kernel.eval_query` with its support mask and
  a local top-k per query.

Their callers: block-max WAND (:func:`wand.wand_topk` — driver-local,
distributed, θ and MaxScore), the batch executor's bucket lane and its
driver-local twin (:func:`batchexec.bucket_lane_local`).  Pruning never
scores: it only decides which block rows reach the decode (the paper's
Argus has one scorer tree, and MaxScore / Block-Max-WAND pick the blocks
it skips).  Bit parity with the numpy oracle is therefore structural.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frankensearch_spark import kernel
from frankensearch_spark.contract import block_max_score, score_total_order_key
from frankensearch_spark.operators.merge import decode_blocks_pdf, term_partition

_F32_EPS = float(np.finfo(np.float32).eps)

# every column a bucket scorer, the θ mask or the WAND bound pass reads;
# pos_bytes (the heaviest) is added for phrase terms only
SCAN_COLS = (
    "term", "bucket", "first_doc", "n", "doc_bytes", "tf_bytes",
    "norm_bytes", "max_tf_code", "min_fieldnorm_id", "codec",
)


def candidate_blocks(fidx: dict, field_terms: dict,
                     phrase_terms: dict | None = None) -> DataFrame | None:
    """Union of the candidate block rows of ``field_terms`` (field ->
    terms, in field order) with a ``field`` column; ``phrase_terms``
    (field -> terms) names the blocks that also carry ``pos_bytes`` —
    the rest never read its pages.  None when no field has a term."""
    cand: DataFrame | None = None
    for f, terms in field_terms.items():
        if not terms:
            continue
        sub = fidx[f]
        tparts = sorted(
            {term_partition(t, sub.n_term_partitions) for t in terms}
        )
        part = sub.blocks.filter(
            F.col("tpart").isin(tparts) & F.col("term").isin(list(terms))
        )
        keep = [c for c in SCAN_COLS if c in part.columns]
        ph = (phrase_terms or {}).get(f)
        if ph and "pos_bytes" in part.columns:
            pos_part = part.filter(F.col("term").isin(list(ph))).select(
                *keep, "pos_bytes"
            )
            plain = part.filter(~F.col("term").isin(list(ph))).select(*keep)
            part = plain.unionByName(pos_part, allowMissingColumns=True)
        else:
            part = part.select(*keep)
        part = part.withColumn("field", F.lit(f))
        cand = (
            part if cand is None
            else cand.unionByName(part, allowMissingColumns=True)
        )
    return cand


def _tiles(pdf: pd.DataFrame, base: int, hi: int):
    """Per (field, term) group of one bucket's block rows, in order of
    first appearance: ``(key, rows sorted by first_doc, their first_doc
    offsets clipped to [0, hi], degenerate)`` — block i covers
    ``[start_i, start_{i+1})``; a degenerate tiling has overlapping
    starts."""
    firsts = pdf["first_doc"].to_numpy(dtype=np.int64) - base
    groups = pdf.groupby(["field", "term"], sort=False).indices
    for key, rows_a in groups.items():
        rows_a = rows_a[np.argsort(firsts[rows_a], kind="stable")]
        starts = np.clip(firsts[rows_a], 0, hi)
        yield key, rows_a, starts, (
            starts.size > 1 and bool(np.any(np.diff(starts) <= 0))
        )


def _block_keep_mask(pdf: pd.DataFrame, theta: float, weights: dict,
                     avgdls: dict, mult: dict,
                     bucket_shift: int) -> np.ndarray:
    """BLOCK-granular θ mask over one bucket's block rows — the
    reference's native Block-Max-WAND granularity (argus.rs:4474-4520,
    quiver.rs:1719-1930), which bucket-level bounds alone cannot reach:
    a df≈N term on an i.i.d. corpus has flat BUCKET bounds but its
    128-posting blocks still vary in (max_tf, min_fieldnorm).

    Within the bucket each (field, term)'s blocks tile contiguous docid
    sub-ranges ``[first_doc_i, first_doc_{i+1})`` (different segments'
    docid leases are disjoint intervals, so sorting by first_doc only
    OVER-covers inter-segment gaps — bound-safe).  The per-doc upper
    bound is the f64 interval-sum of the covering blocks' conservative
    bounds with clause multiplicity, inflated by the same ``n·eps``
    envelope as :func:`contract.conservative_bound_sum` so it dominates
    every f32 accumulation order.  ANY block — scored or not (must_not,
    zero-weight) — whose covered region tops out below θ is dropped:
    every doc it covers is provably below the certified kth score, so
    losing its contributions (or its exclusions) cannot change the
    top-k.  A dropped doc may still receive PARTIAL contributions from
    kept blocks of other terms; its partial f32 score ≤ its true score
    ≤ its bound < θ, and the final merge already holds k exact scores
    ≥ θ from the seed phase, so the straggler is cut — rank identity is
    preserved (pinned by test_wand's pruned ≡ exhaustive ≡ oracle).
    """
    span = 1 << bucket_shift
    base = int(pdf["bucket"].iat[0]) << bucket_shift
    mtc = pdf["max_tf_code"].to_numpy(dtype=np.int64)
    mfn = pdf["min_fieldnorm_id"].to_numpy(dtype=np.int64)
    diff = np.zeros(span + 1, dtype=np.float64)
    n_contrib = 0
    tiled: list = []  # (rows sorted by first, starts) for phase 2
    for (f, t), rows_a, starts, degenerate in _tiles(pdf, base, span - 1):
        w = weights.get((f, t))
        mm = mult.get(t, 0)
        if w is not None and mm:
            b = block_max_score(
                mtc[rows_a], mfn[rows_a], avgdls[f], w
            ).astype(np.float64) * mm
            n_contrib += mm
            if degenerate:
                # overlapping first_docs (shouldn't happen for healthy
                # segments): one flat max bound over the group's span
                diff[int(starts[0])] += float(b.max())
            else:
                ends = np.append(starts[1:], span)
                np.add.at(diff, starts, b)
                np.add.at(diff, ends, -b)
        if not degenerate:
            tiled.append((rows_a, starts))
    ub = np.cumsum(diff[:span])
    # f32 any-order summation envelope (conservative_bound_sum's law)
    ub += np.abs(ub) * (_F32_EPS * max(n_contrib, 1))
    keep = np.ones(len(pdf), dtype=bool)
    for rows_a, starts in tiled:
        seg_max = np.maximum.reduceat(ub, starts)
        keep[rows_a] = seg_max >= theta
    return keep


def _candidate_block_mask(ne_pdf: pd.DataFrame, cand_mask: np.ndarray,
                          base: int, bucket_shift: int) -> np.ndarray:
    """Keep mask over NON-essential block rows: a block decodes only when
    its covered docid segment ``[first_doc_i, first_doc_{i+1})`` (per
    (field, term) group, the same over-covering tiling as
    :func:`_block_keep_mask`) contains at least one candidate doc.  A
    candidate's own posting block always survives: postings are docid-
    sorted, so the block holding docid d covers a segment containing d.
    Degenerate tilings (overlapping first_docs) keep the whole group."""
    span = 1 << bucket_shift
    pre = np.concatenate(([0], np.cumsum(cand_mask, dtype=np.int64)))
    keep = np.ones(len(ne_pdf), dtype=bool)
    for _key, rows_a, starts, degenerate in _tiles(ne_pdf, base, span):
        if not degenerate:  # a degenerate tiling keeps all (safe)
            ends = np.append(starts[1:], span)
            keep[rows_a] = pre[ends] > pre[starts]
    return keep


@dataclass(frozen=True)
class BlockPrune:
    """The pre-decode filters of a certified θ: block rows whose covered
    docids all bound below ``theta`` drop (:func:`_block_keep_mask`), and
    with a MaxScore split the ``non_essential`` terms' blocks decode only
    where an essential-list candidate lies (:func:`_candidate_block_mask`),
    the match mask then restricted to those candidates.  ``weights`` is
    keyed (field, term), ``mult`` is the scored-clause multiplicity."""

    theta: float
    weights: dict
    avgdls: dict
    mult: dict
    non_essential: frozenset = frozenset()


def _decode(pdf: pd.DataFrame, shift: int) -> list:
    """[(field, docids, tfs, fieldnorm ids, term code per posting, terms,
    position cells | None)] — each block row decoded once, per field,
    positions only for rows that carry ``pos_bytes``."""
    out = []
    has_pos = "pos_bytes" in pdf.columns
    for f in pdf["field"].unique():
        fsel = pdf[pdf["field"] == f]
        pmask = (
            fsel["pos_bytes"].notna().to_numpy() if has_pos
            else np.zeros(len(fsel), dtype=bool)
        )
        for part, withpos in ((fsel[~pmask], False), (fsel[pmask], True)):
            if len(part) == 0:
                continue
            dec = decode_blocks_pdf(
                part, shift, with_positions="vbyte" if withpos else False,
            )
            docids, tfs, fids, rows = dec[:4]
            if docids.size == 0:
                continue
            codes, uniq = pd.factorize(part["term"])
            out.append((
                f, docids, tfs, fids, codes[rows], uniq,
                dec[4] if withpos else None,
            ))
    return out


def bucket_scorer(queries, field_df: dict, field_cache: dict,
                  doc_count: int, k: int, shift: int,
                  basic=frozenset(), prune: BlockPrune | None = None):
    """The per-bucket closure ``score_bucket(pdf, tomb=None)`` -> (qid,
    docid, score) rows: each query's local top-``k`` over one bucket's
    candidate block rows ``pdf`` (a :func:`candidate_blocks` slice),
    minus the bucket's tombstoned ``docid`` rows ``tomb``.

    ``queries``: objects with ``qid``, ``ast``, ``terms`` and ``qfields``
    (:class:`astexec.PreparedQuery`); ``field_df`` / ``field_cache``: per
    field, the df map and the snapshot tf cache; ``basic``: field names
    scored with tf forced to 1.  ``prune`` filters block rows before any
    decode.  A doc's score is ``kernel.eval_query`` over dense span-local
    views, so it is bit-identical to the oracle's whichever docs share
    its bucket or batch; the support mask (≥1 of the query's terms in ≥1
    of its fields) drops docs that are candidates only through another
    query's terms."""
    span = 1 << shift
    queries = list(queries)
    k = int(k)

    def empty() -> pd.DataFrame:
        return pd.DataFrame({
            "qid": pd.Series([], dtype=np.int32),
            "docid": pd.Series([], dtype=np.int64),
            "score": pd.Series([], dtype=np.float32),
        })

    def score_bucket(pdf: pd.DataFrame, tomb: pd.DataFrame | None = None):
        if prune is not None and len(pdf):
            # θ skip BEFORE any decode: the mask is metadata-only, so a
            # pruned block costs one bound compare, not a vbyte decode
            keep = _block_keep_mask(
                pdf, prune.theta, prune.weights, prune.avgdls, prune.mult,
                shift,
            )
            if not keep.all():
                pdf = pdf[keep]
        if len(pdf) == 0:
            return empty()
        base = int(pdf["bucket"].iat[0]) << shift
        cand = None
        if prune is not None and prune.non_essential:
            # term-level MaxScore (argus.rs:4463-4485): candidates come
            # ONLY from the essential lists, decoded first; a
            # non-essential block decodes only when its covered docid
            # segment holds a candidate (the distributed "seek the
            # low-weight cursor to the next candidate").  A doc with no
            # essential posting scores ≤ the split's inflated cumsum < θ,
            # and the merge holds k exact scores ≥ θ from the seed phase
            ne = pdf["term"].isin(prune.non_essential).to_numpy()
            chunks = _decode(pdf[~ne], shift)
            cand = np.zeros(span, dtype=bool)
            for c in chunks:
                cand[c[1] - base] = True
            if not cand.any():
                return empty()
            ne_pdf = pdf[ne]
            if len(ne_pdf):
                ne_pdf = ne_pdf[
                    _candidate_block_mask(ne_pdf, cand, base, shift)
                ]
                chunks += _decode(ne_pdf, shift)
        else:
            chunks = _decode(pdf, shift)
        views: dict[str, kernel.FieldView] = {}
        for f, docids, tfs, fids, codes, uniq, pos in chunks:
            v = views.get(f)
            if v is None:
                v = kernel.FieldView(
                    n=span, fieldnorm_id=np.zeros(span, dtype=np.int64),
                    tf={}, positions={}, df=field_df[f],
                    tf_cache=field_cache[f], basic=f in basic,
                )
                views[f] = v
            offs = (docids - base).astype(np.int64)
            v.fieldnorm_id[offs] = fids.astype(np.int64)
            for i, t in enumerate(uniq):
                sel = codes == i
                o = offs[sel]
                arr = v.tf.get(t)
                if arr is None:
                    arr = v.tf[t] = np.zeros(span, dtype=np.float32)
                arr[o] = tfs[sel].astype(np.float32)
                if pos is not None:
                    parr = v.positions.get(t)
                    if parr is None:
                        parr = v.positions[t] = np.full(
                            span, None, dtype=object
                        )
                    parr[o] = pos[sel]
        ctx = kernel.EvalContext(
            n=span, views=views, doc_count=doc_count, meta={}
        )
        dead = None
        if tomb is not None and len(tomb):
            local = tomb["docid"].to_numpy(dtype=np.int64) - base
            local = local[(local >= 0) & (local < span)]
            dead = local if local.size else None
        out_q, out_d, out_s = [], [], []
        for q in queries:
            sup = np.zeros(span, dtype=bool)
            for f in q.qfields:
                v = views.get(f)
                if v is None:
                    continue
                for t in q.terms:
                    tfv = v.tf.get(t)
                    if tfv is not None:
                        sup |= tfv > 0
            if cand is not None:
                sup &= cand
            if dead is not None:
                sup[dead] = False
            if not sup.any():
                continue
            mask, scores = kernel.eval_query(q.ast, ctx)
            hit = np.nonzero(mask & sup)[0]
            if hit.size == 0:
                continue
            sc = scores[hit].astype(np.float32)
            docids = (base + hit).astype(np.int64)
            order = score_total_order_key(sc, docids)[:k]
            out_q.append(np.full(order.size, q.qid, dtype=np.int32))
            out_d.append(docids[order])
            out_s.append(sc[order])
        if not out_q:
            return empty()
        return pd.DataFrame({
            "qid": np.concatenate(out_q),
            "docid": np.concatenate(out_d),
            "score": np.concatenate(out_s),
        })

    return score_bucket


def bucket_plan(cand: DataFrame, score_bucket, tombstones,
                shift: int) -> DataFrame:
    """The distributed form: ``cand`` rides ONE exchange to its bucket
    groups, still compressed, each through ``score_bucket``; tombstones
    cogroup into their bucket's task."""
    out_schema = "qid int, docid long, score float"
    if tombstones is None:
        def score_grouped(pdf):
            # single-arg wrapper: a 2-arg fn would be read as (key, pdf)
            return score_bucket(pdf)

        return cand.groupBy("bucket").applyInPandas(
            score_grouped, out_schema
        )
    tb = tombstones.select(
        F.col("docid").cast("long").alias("docid")
    ).withColumn("bucket", F.shiftright(F.col("docid"), shift))

    def score_cogrouped(blocks_pdf, tomb_pdf):
        return score_bucket(blocks_pdf, tomb_pdf)

    return (
        cand.groupBy("bucket")
        .cogroup(tb.groupBy("bucket"))
        .applyInPandas(score_cogrouped, out_schema)
    )
