"""Query execution over the COMPRESSED serving index.

The durable index (``plans/manifest.py``) stores delta+vbyte posting
blocks; :func:`blocks_to_postings` decodes only the query's candidate
blocks (tpart + term parquet pruning) back into posting rows inside a
mapInPandas pass.  :func:`field_postings` is the per-field posting
source of the one exhaustive scorer (:mod:`operators.astexec`), so
boolean / phrase / metadata AST queries run one pivot + numpy-kernel
plan and are bit-identical to the oracle.

Phrase queries decode the per-block POSITIONS sidecar (``pos_bytes``,
the quiver.rs:3456-3530 section-kind-3 analogue) for the phrase terms
only; indexes persisted without positions raise a capability error
(query.rs:699-752 validation analogue).  :func:`serving_search_bits`
routes point queries: flat bag-of-words shapes take the block-max WAND
pruned path (:mod:`operators.wand`), the rest the batch executor's
bucket lane.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frankensearch_spark.operators.merge import decode_blocks_pdf, term_partition
from frankensearch_spark.operators.wand import ServingIndex
from frankensearch_spark.query_ast import (
    ENGINE_SCHEMA,
    ParserSchema,
    parse_lenient,
)


def _interval_keep_mask(pdf: pd.DataFrame, wl: np.ndarray,
                        shift: int) -> np.ndarray:
    """True for block rows whose docid interval CAN intersect the sorted
    whitelist ``wl`` — the phrase candidate restriction applied at block-
    METADATA level, before any decode (round 4; argus.rs:4474-4520 skips
    at the same granularity).

    Within one (term, bucket) group, blocks partition the term's sorted
    posting stream, so block ``i`` covers ``[first_doc_i,
    first_doc_{i+1} - 1]`` (last block: the bucket's end).  A group
    split across Arrow chunks only OVERESTIMATES the last visible
    block's end (bucket end instead of the true next first_doc) — keeps
    a superset, never drops a block holding a whitelisted doc."""
    n = len(pdf)
    keep = np.zeros(n, dtype=bool)
    if wl.size == 0:
        return keep
    fd = pdf["first_doc"].to_numpy(dtype=np.int64)
    for (_t, b), idx in pdf.groupby(["term", "bucket"], sort=False).indices.items():
        fds = fd[idx]
        order = np.argsort(fds, kind="stable")
        ends = np.empty(len(idx), dtype=np.int64)
        ends[order[:-1]] = fds[order[1:]] - 1
        ends[order[-1]] = ((int(b) + 1) << shift) - 1
        lo = np.searchsorted(wl, fds, side="left")
        hi = np.searchsorted(wl, ends, side="right")
        keep[idx] = hi > lo
    return keep


def blocks_to_postings(
    index: ServingIndex, terms: list[str] | None, with_positions: bool = False,
    docid_whitelist=None, local_whitelist_terms: list[str] | None = None,
) -> DataFrame:
    """Decode the candidate blocks of ``terms`` into posting rows
    (docid, term, tf, fieldnorm_id[, positions]) — parquet-pruned by
    tpart + term.  ``terms=None`` decodes the WHOLE block store (the
    compaction's decode, ``lifecycle.compact``).  Positions are NOT decoded
    here: the sidecar is sliced into per-posting LEB128 buffers
    (``binary``), so they stay compressed through the pivot exchange and
    the phrase kernel decodes only the candidate cells it actually
    scores.

    ``docid_whitelist``: sorted int64 numpy array shipped to executors
    as a broadcast — only those docids' postings are emitted (and only
    their positions sliced), the root-phrase candidate restriction.

    ``local_whitelist_terms``: the SCALE form of the same restriction —
    instead of collecting the rare-slot docids to the driver (a >500k
    collect+broadcast costs more than it saves, and at 100-TB scale is
    a driver OOM), the candidate blocks are cogrouped BY BUCKET with the
    rare-slot terms' blocks, and each bucket task decodes its own local
    whitelist before decoding anything else.  Valid because bucket =
    docid >> shift: a doc's rare-slot postings live in exactly the
    bucket of its other postings.  No driver materialization, no
    broadcast, one exchange of still-compressed block rows."""
    if terms is None:
        cand = index.blocks
    else:
        tparts = sorted(
            {term_partition(t, index.n_term_partitions) for t in terms}
        )
        cand = index.blocks.filter(
            F.col("tpart").isin(tparts) & F.col("term").isin(terms)
        )
    if not with_positions:
        # non-phrase decodes never touch the positions sidecar: prune
        # pos_bytes (the heaviest block column) so the parquet scan
        # skips its pages entirely
        cand = cand.select(
            *[c for c in cand.columns if c != "pos_bytes"]
        )
    shift = index.bucket_shift
    bc = None
    if docid_whitelist is not None:
        from pyspark.broadcast import Broadcast

        if isinstance(docid_whitelist, Broadcast):
            bc = docid_whitelist
        else:
            bc = index.blocks.sparkSession.sparkContext.broadcast(
                np.unique(np.asarray(docid_whitelist, dtype=np.int64))
            )

    def decode_one(pdf: pd.DataFrame, wl) -> pd.DataFrame | None:
        if len(pdf) == 0:
            return None
        if wl is not None:
            # block-interval pruning (round 4): a block whose docid
            # interval cannot intersect the whitelist never decodes at
            # all — for a mega-term slot, decode cost drops from "every
            # posting block" to "blocks actually covering candidate
            # docs".  Metadata-only, bit-transparent: the per-posting
            # whitelist filter inside decode_blocks_pdf would drop every
            # posting of a skipped block anyway.
            pdf = pdf[_interval_keep_mask(pdf, wl, shift)]
            if len(pdf) == 0:
                return None
        out = decode_blocks_pdf(
            pdf, shift,
            with_positions="vbyte" if with_positions else False,
            docid_whitelist=wl,
        )
        docids, tfs, fids, rows = out[:4]
        cols = {
            "docid": docids.astype(np.int64),
            "term": pdf["term"].to_numpy(dtype=object)[rows],
            "tf": tfs.astype(np.int32),
            "fieldnorm_id": fids.astype(np.int32),
        }
        if with_positions:
            cols["positions"] = out[4]
        return pd.DataFrame(cols)

    schema = "docid long, term string, tf int, fieldnorm_id int"
    if with_positions:
        schema += ", positions binary"
    if local_whitelist_terms:
        # the rare-slot blocks are a SUBSET of the candidate blocks, so
        # one bucket-grouped pass suffices (no self-cogroup — Spark
        # cannot disambiguate a dataset cogrouped with itself): each
        # bucket task first decodes its local rare-slot docids (doc
        # stream only, positions untouched), then decodes everything
        # under that whitelist
        wl_terms = set(local_whitelist_terms)

        def empty_typed() -> pd.DataFrame:
            cols = {
                "docid": pd.Series([], dtype=np.int64),
                "term": pd.Series([], dtype=object),
                "tf": pd.Series([], dtype=np.int32),
                "fieldnorm_id": pd.Series([], dtype=np.int32),
            }
            if with_positions:
                cols["positions"] = pd.Series([], dtype=object)
            return pd.DataFrame(cols)

        def decode_grouped(pdf: pd.DataFrame) -> pd.DataFrame:
            rare_mask = pdf["term"].isin(wl_terms).to_numpy()
            if not rare_mask.any():
                # no rare-slot posting in this bucket: no doc here can
                # match the root phrase — emit nothing
                return empty_typed()
            d = decode_blocks_pdf(pdf[rare_mask], shift)[0]
            out = decode_one(pdf, np.unique(d))
            return empty_typed() if out is None else out

        return cand.groupBy("bucket").applyInPandas(decode_grouped, schema)

    def decode(pdfs):
        wl = bc.value if bc is not None else None
        for pdf in pdfs:
            out = decode_one(pdf, wl)
            if out is not None:
                yield out

    return cand.mapInPandas(decode, schema)


PHRASE_WL_CAP = 500_000  # rare-slot dfs above this skip the driver
# collect+broadcast and take the bucket-cogrouped local whitelist
_WL_CACHE_MAX = 32  # per-index cached rare-slot whitelists (FIFO evict)
_WL_CACHE_LOCK = threading.Lock()


def _rare_slot_whitelist(sub, rare_slot_terms: list[str], rare_df: int):
    """Broadcast whitelist of docids holding any rare-slot term, cached
    on the (immutable-snapshot) serving index.

    Concurrency (the bench's 8-thread FAIR-pool serving mode): cache
    mutations take a lock, and eviction UNPERSISTs (never destroys) —
    an in-flight or lazily-held plan that still references an evicted
    broadcast refetches it from the driver instead of failing with
    "used after destroy"; only executor copies are dropped eagerly.
    The whitelist-building collect runs OUTSIDE the lock (it is a Spark
    job); a concurrent miss on the same key keeps the first-registered
    broadcast and unpersists the duplicate."""
    key = tuple(sorted(rare_slot_terms))
    with _WL_CACHE_LOCK:
        cache = getattr(sub, "_phrase_wl_cache", None)
        if cache is None:
            cache = {}
            sub._phrase_wl_cache = cache
        bc = cache.get(key)
    if bc is not None:
        return bc
    if rare_df == 0:
        ids = np.empty(0, dtype=np.int64)
    else:
        pdf = (
            blocks_to_postings(sub, rare_slot_terms)
            .select("docid")
            .distinct()
            .toPandas()
        )
        ids = np.unique(pdf["docid"].to_numpy(dtype=np.int64))
    bc = sub.blocks.sparkSession.sparkContext.broadcast(ids)
    with _WL_CACHE_LOCK:
        race = cache.get(key)
        drop = []
        if race is not None:
            drop.append(bc)
            bc = race
        else:
            cache[key] = bc
            while len(cache) > _WL_CACHE_MAX:
                drop.append(cache.pop(next(iter(cache))))
    for old in drop:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass  # context already cleaned up
    return bc


def _rare_slot_terms(root, field_df) -> list[str] | None:
    """Root-phrase candidate restriction: when the WHOLE query is one
    phrase (possibly boosted), a scoring doc must contain every slot —
    so a field's postings can be cut down to docs holding the RAREST
    slot's terms (df summed over the queried fields) before any
    positions ride the exchange.  A "foo bar"-style phrase whose first
    term is a mega-term then ships ~df(rarest) rows instead of
    ~df(largest).  Rank-safe: docs dropped here can never have phrase
    freq > 0 in that field.  None for every other shape."""
    from frankensearch_spark.kernel import _phrase_slots
    from frankensearch_spark.query_ast import Boost, Phrase

    while isinstance(root, Boost):
        root = root.query
    if not isinstance(root, Phrase):
        return None
    slots = _phrase_slots(root)
    if len(slots) < 2:
        return None
    all_df: dict[str, int] = {}
    for dfs in field_df.values():
        for t, d in dfs.items():
            all_df[t] = all_df.get(t, 0) + d
    return min(
        (s[1] for s in slots),
        key=lambda ts: sum(all_df.get(t, 0) for t in ts),
    )


def field_postings(sub: ServingIndex, f: str, terms: list[str],
                   phrase_terms: list[str], field_df, root):
    """The exhaustive scorer's per-field posting source
    (``astexec.candidates``): ``sub``'s candidate blocks for
    ``terms`` decoded to (docid, term, tf, fieldnorm_id[, positions])
    rows.  ``field_df``: (field -> df map) of every queried field, ``f``
    among them; ``root``: the single query's tree, for the root-phrase
    restriction (None in a batch)."""
    from frankensearch_spark.operators.astexec import FieldPostings

    rare_slot_terms = (
        _rare_slot_terms(root, field_df) if phrase_terms else None
    )
    rare_df = (
        sum(field_df[f].get(t, 0) for t in rare_slot_terms)
        if rare_slot_terms is not None
        else None
    )
    # cap: past ~500k candidate docids the collect+broadcast costs
    # more than the position slices it saves (and at 100-TB scale
    # would be a driver OOM) — switch to the bucket-cogrouped LOCAL
    # whitelist below instead of the old full pivot
    if rare_df is not None and rare_df <= PHRASE_WL_CAP:
        # one cheap tf-only decode of the rarest slot -> its docid
        # set rides to executors as a broadcast whitelist, so the
        # mega-terms' postings (and especially their per-posting
        # position slices) are never materialized for docs that
        # cannot match the phrase.  Whitelists are cached per
        # (field index, slot terms) with bounded eviction —
        # repeated phrases in a long-lived process skip the collect
        # job AND broadcasts never accumulate unboundedly.
        bc = _rare_slot_whitelist(sub, rare_slot_terms, rare_df)
        postings = blocks_to_postings(
            sub, terms, with_positions=True, docid_whitelist=bc
        )
    elif rare_df is not None:
        # beyond the whitelist cap: same candidate restriction at
        # BUCKET granularity, decoded task-locally (no driver
        # collect, no broadcast — the 100-TB mega-phrase path); a
        # bucket without the rare slot emits nothing at all
        postings = blocks_to_postings(
            sub, terms, with_positions=True,
            local_whitelist_terms=rare_slot_terms,
        )
    else:
        ph = [t for t in terms if t in set(phrase_terms)]
        nonph = [t for t in terms if t not in set(phrase_terms)]
        if ph and nonph:
            # positions decode ONLY for the phrase terms (the
            # bucket lane's rule, batchexec): a mixed non-root-
            # phrase query ('+"foo bar" megaterm') must not scan
            # the mega term's pos_bytes pages nor slice a LEB128
            # buffer per posting that the phrase kernel never
            # reads — the position pivot filters to phrase_terms
            # anyway
            postings = blocks_to_postings(
                sub, ph, with_positions=True
            ).unionByName(
                blocks_to_postings(
                    sub, nonph, with_positions=False
                ).withColumn("positions", F.lit(None).cast("binary"))
            )
        else:
            postings = blocks_to_postings(
                sub, terms, with_positions=bool(phrase_terms)
            )
    return FieldPostings(postings, postings if phrase_terms else None)


def ast_to_queryspec_fields(ast):
    """Lower a prunable AST shape to ``(QuerySpec, term_fields)``, else
    None.  ``term_fields``: term -> ordered tuple of (field name, f32
    field boost) — the field order of each clause's Term, which
    ``QuerySpec.to_ast`` rebuilds for the kernel.

    Convertible: Terms over TEXT non-basic fields — single-field
    (``content`` queries) AND multi-field (the reference's default
    content + title^2 expansion, or explicit ``title:x`` scopes) —
    boosted or not (Boost chains fold into the spec's per-term boost in
    the kernel's exact f32 multiplication order), under one Boolean
    level (Must/Should/MustNot) or alone, including glob expansions
    that substituted a Should union at the root.  Phrases, metadata
    leaves, All, nested booleans, basic (tf=1) fields, and terms with
    CONFLICTING boosts or field scopes stay on the decode-and-score
    path.  The conversion is score-exact: QuerySpec clause order (Must
    then Should) matches the kernel's aggregation order, and
    ``QuerySpec.to_ast`` rebuilds a tree the kernel scores bit-equal to
    the original (pinned by test_serving_exec)."""
    from frankensearch_spark.operators.wand import QuerySpec
    from frankensearch_spark.query_ast import (
        MUST,
        MUST_NOT,
        SHOULD,
        TEXT,
        Boolean,
        Boost,
        Term,
    )

    def term_of(q):
        """(term, f32 clause boost, fields tuple) for a TEXT-field Term
        (Boost chains folded step-by-step in f32, mirroring kernel
        eval), else None."""
        b = np.float32(1.0)
        while isinstance(q, Boost):
            b = np.float32(b * np.float32(q.factor))
            q = q.query
        if (
            isinstance(q, Term)
            and q.fields
            and all(f.kind == TEXT and not f.basic for f in q.fields)
        ):
            flds = tuple(
                (f.name, float(np.float32(f.boost))) for f in q.fields
            )
            return q.text, b, flds
        return None

    spec = QuerySpec()
    term_fields: dict = {}

    def add(t, b, flds, lst):
        # scope conflicts check against ANY earlier clause of the term —
        # including a MustNot, which records fields but no boost
        if t in term_fields and term_fields[t] != flds:
            return False  # conflicting field scopes: not per-term
        prev = spec.boosts.get(t)
        if prev is not None and np.float32(prev) != b:
            return False  # conflicting boosts: not expressible per-term
        spec.boosts[t] = float(b)
        term_fields[t] = flds
        lst.append(t)
        return True

    tb = term_of(ast)
    if tb is not None:
        add(tb[0], tb[1], tb[2], spec.should)
        return spec, term_fields
    if not isinstance(ast, Boolean):
        return None
    for cl in ast.clauses:
        tb = term_of(cl.query)
        if tb is None:
            return None
        t, b, flds = tb
        if cl.occur == MUST:
            ok = add(t, b, flds, spec.must)
        elif cl.occur == SHOULD:
            ok = add(t, b, flds, spec.should)
        elif cl.occur == MUST_NOT:
            ok = True
            spec.must_not.append(t)
            if t not in term_fields:
                term_fields[t] = flds
            elif term_fields[t] != flds:
                return None
        else:
            return None
        if not ok:
            return None
    if not spec.must and not spec.should:
        return None  # pure-negative shapes need the All-repair path
    return spec, term_fields


def serving_search_collect(
    index, query, k: int = 10, offset: int = 0,
    schema: ParserSchema = ENGINE_SCHEMA, prune: bool = True,
) -> list:
    """[(docid, np.float32 score)] over the durable index — the loaded-
    engine analogue of ``astexec.search_ast_collect`` (same pinned total
    order; offset handled by over-fetching the prefix)."""
    bits = serving_search_bits(index, query, k + offset, schema, prune)
    out = [
        (int(d), np.uint32(b).view(np.float32)) for d, b in bits
    ]
    return out[offset : offset + k]


def serving_search_bits(index: ServingIndex, query, k: int = 10,
                        schema: ParserSchema = ENGINE_SCHEMA,
                        prune: bool = True):
    """Top-k bits over the durable index.  Prunable flat/boolean shapes
    take the block-max WAND path (rank-identical by the conservative-
    bound theorem, and cheaper: only buckets that can beat θ decode);
    everything else — nested booleans, phrases, split identifiers,
    mixed shapes — runs the batch executor's bucket-lane kernel.  Under
    the local-lane cap that kernel runs on the driver over ONE collect
    of the candidate blocks (batchexec.bucket_lane_local: one Spark
    job; preloaded tombstones drop in-process); over the cap, with a
    tombstone set past its bound, or with every lane slot busy the
    query runs as a batch of ONE (round 4): its candidate blocks
    cross one docid-colocating exchange still compressed and decode
    exactly once.  Measured at 2M docs warm: nested boolean 7.7 → 1.6
    s, mega-phrase 3.2 → 1.9 s against the old decode→explode→pivot
    chain, bit-identical (parity pinned by test_batchexec and the
    random-grammar fuzz).  All/metadata shapes fall back to the
    decode-and-score pivot inside the batch executor itself.
    ``prune=False`` runs the exhaustive scorer (``astexec``) — the
    parity reference for every routed path."""
    ast = parse_lenient(query, schema).query if isinstance(query, str) else query
    from frankensearch_spark.operators.astexec import expand_globs

    expanded = expand_globs(index, ast)
    if prune:
        out = ast_to_queryspec_fields(expanded)
        if out is not None:
            spec, term_fields = out
            from frankensearch_spark.operators.wand import wand_topk

            return [
                (int(d), int(np.float32(s).view(np.uint32)))
                for d, s in wand_topk(index, spec, k,
                                      term_fields=term_fields)
            ]
        from frankensearch_spark.operators.batchexec import (
            bucket_lane_local,
            search_batch_collect,
        )

        hits = bucket_lane_local(index, expanded, k, schema)
        if hits is None:
            hits = search_batch_collect(index, [expanded], k, schema)[0]
        return [
            (int(d), int(np.float32(s).view(np.uint32))) for d, s in hits
        ]
    from frankensearch_spark.operators.astexec import search_ast_bits

    return search_ast_bits(index, expanded, k, schema=schema)
