"""Shared AST scoring kernel — ONE numpy implementation for both sides.

The oracle (:mod:`frankensearch_spark.oracle`) evaluates it over dense
full-corpus arrays; the Spark executors evaluate it over candidate
batches — the exhaustive scorer (:mod:`operators.astexec`, both index
forms) over pivoted candidate rows inside a ``mapInPandas`` pass, the
batch executor's bucket lane (:mod:`operators.batchexec`) over dense
per-bucket spans of decoded blocks.  Because both sides call the
same f32 code, rank- and bit-parity between Spark and the oracle hold by
construction; the pytest suite still asserts them explicitly.

Scoring semantics (reference parity targets):

* Term (text field) — ``weight * tf / (tf + tf_cache[fieldnorm_id])`` per
  field, fields summed in order (multi-field Term = Should union of
  per-field scorers, ``quill/index.rs:11168-11191``).
* Term (keyword field) / RangeStr / RangeI64 / SetStr — constant-score doc
  sets: every match scores exactly the cumulative boost
  (``quill/argus.rs:2432-2630`` numeric_range_with_boost / constant_score).
* All — every doc scores the cumulative boost (AllScorer,
  ``argus.rs:2432-2460``).  Raw UNIT All scorers (cumulative boost == 1.0)
  follow Tantivy's removal rules inside Booleans (``argus.rs:2941-2999``):
  dropped from Must/Should lists, kept as a domain token; a Should-level
  unit All is score-neutral when a Must scorer determines matching, and is
  unioned LAST (after ordinary Should aggregation) otherwise; any MustNot
  All empties the result.
* Phrase — slots grouped by analyzer position (OR-alternatives at equal
  positions, ``argus.rs:1974-1984``); phrase freq = count of exact
  position-delta matches; ``weight = (Σ idf(df_i, N)) * (1+k1) * boost``
  (``argus.rs:1966``); scored on the same tf curve.  ``slop != 0`` or
  prefix phrases are rejected at lowering (``quill/index.rs:11193-11203``);
  a 1-term phrase degrades to a Term (``index.rs:11204-11225``).
* Boolean — Must intersects, Should unions, MustNot excludes; clause
  scores accumulate in f32 in clause order, Must aggregate before Should
  (``argus.rs:2835-3195``).
* Boost — multiplies the inherited boost flowing DOWN into leaf weights
  (``quill/index.rs:11338-11348``), never a post-multiplication.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

import numpy as np
import pandas as pd

from frankensearch_spark.contract import BM25_K1, idf, term_weight
from frankensearch_spark.query_ast import (
    KEYWORD,
    MUST,
    MUST_NOT,
    NUMERIC,
    SHOULD,
    TEXT,
    All,
    Boolean,
    Boost,
    Empty,
    Glob,
    Phrase,
    Query,
    RangeBound,
    RangeI64,
    RangeStr,
    SetStr,
    Term,
)


class UnsupportedQueryError(ValueError):
    """Parsed-but-unlowerable constructs (slop/prefix phrases, raw globs)."""


@dataclass
class FieldView:
    """One indexed text field's candidate-row data.

    ``tf``: term -> float32[n] (0 where absent); ``positions``: term ->
    object array of per-row int arrays (only phrase terms need entries);
    ``fieldnorm_id``: int array[n] for THIS field's doclen; ``df``:
    per-term doc freq in this field; ``tf_cache`` is this field's
    snapshot-global 256-entry norm cache (per (field, snapshot) —
    contract.rs:395-404).
    """

    n: int
    fieldnorm_id: np.ndarray
    tf: dict[str, np.ndarray]
    positions: dict[str, np.ndarray]
    df: dict[str, int]
    tf_cache: np.ndarray
    basic: bool = False  # Basic record option: score with tf forced to 1

    def tf_of(self, term: str) -> np.ndarray:
        arr = self.tf.get(term)
        if arr is None:
            return np.zeros(self.n, dtype=np.float32)
        return arr

    def df_of(self, term: str) -> int:
        return self.df.get(term, 0)


@dataclass
class EvalContext:
    """Candidate-row view of the index the kernel scores against.

    ``views``: text field name -> :class:`FieldView` (multi-field Term =
    Should union of per-field scorers, quill/index.rs:11168-11191);
    ``meta``: keyword/numeric field name -> value column; ``doc_count``
    is snapshot-global (argus.rs:1279-1350).
    """

    n: int
    views: dict[str, FieldView]
    doc_count: int
    meta: dict[str, np.ndarray] = dc_field(default_factory=dict)

    @classmethod
    def single_field(
        cls, n, fieldnorm_id, tf, positions, df, doc_count, tf_cache,
        meta=None, field_name: str = "content",
    ) -> "EvalContext":
        view = FieldView(
            n=n, fieldnorm_id=fieldnorm_id, tf=tf, positions=positions,
            df=df, tf_cache=tf_cache,
        )
        return cls(
            n=n, views={field_name: view}, doc_count=doc_count,
            meta=meta or {},
        )

    def view_of(self, field_name: str) -> "FieldView | None":
        return self.views.get(field_name)

    def meta_of(self, field_name: str) -> np.ndarray:
        arr = self.meta.get(field_name)
        if arr is None:
            raise UnsupportedQueryError(
                f"metadata field {field_name!r} not available on this index"
            )
        return arr


def _zeros(n: int):
    return np.zeros(n, dtype=bool), np.zeros(n, dtype=np.float32)


def eval_query(
    q: Query, ctx: EvalContext, boost: np.float32 = np.float32(1.0)
) -> tuple[np.ndarray, np.ndarray]:
    """(match_mask, f32 scores); scores are zero outside the mask."""
    if isinstance(q, Empty):
        return _zeros(ctx.n)
    if isinstance(q, All):
        mask = np.ones(ctx.n, dtype=bool)
        return mask, np.full(ctx.n, np.float32(boost), dtype=np.float32)
    if isinstance(q, Boost):
        return eval_query(q.query, ctx, np.float32(boost * np.float32(q.factor)))
    if isinstance(q, Term):
        return _eval_term(q, ctx, boost)
    if isinstance(q, Phrase):
        return _eval_phrase(q, ctx, boost)
    if isinstance(q, Boolean):
        return _eval_boolean(q, ctx, boost)
    if isinstance(q, (RangeStr, RangeI64)):
        return _eval_range(q, ctx, boost)
    if isinstance(q, SetStr):
        mask = _isin_mask(ctx.meta_of(q.field), set(q.values))
        return mask, np.where(mask, np.float32(boost), np.float32(0.0))
    if isinstance(q, Glob):
        if any(f.kind == TEXT for f in q.fields):
            raise UnsupportedQueryError(
                "text-field Glob must be expanded before kernel eval"
            )
        return _eval_keyword_glob(q, ctx, boost)
    raise UnsupportedQueryError(f"unknown node {type(q).__name__}")


def _eval_keyword_glob(q: Glob, ctx: EvalContext, boost: np.float32):
    """Keyword-field glob: raw-text ``*``/``?`` wildcard match over the
    metadata column, constant-score like a keyword Term hit.

    The reference expands globs over the FIELD-SCOPED term dictionary
    (grimoire.rs:1447); keyword fields live in docmeta under the Spark
    mapping, so that field's "dictionary" IS the column — matching the
    raw values directly is the same set of hits without materializing
    a distinct-values pass.  Patterns stay RAW-cased (schema.rs:39-74:
    keyword fields match raw text; the parser deliberately does not
    lowercase keyword globs).  Numeric fields have no glob semantics
    and contribute nothing (the same dropped-leaf rule as unparseable
    numeric Terms)."""
    import re as _re

    from frankensearch_spark.query_ast import glob_to_regex

    mask, acc = _zeros(ctx.n)
    pat = glob_to_regex(q.pattern)
    for f in q.fields:
        if f.kind != KEYWORD:
            continue
        vals, valid = _str_col(ctx.meta_of(f.name))
        # pandas' vectorized fullmatch (cython path, no per-row Python)
        hit = (
            pd.Series(vals)
            .str.fullmatch(pat, flags=_re.DOTALL)
            .to_numpy(dtype=bool)
            & valid
        )
        s = np.where(
            hit,
            np.float32(np.float32(boost) * np.float32(f.boost)),
            np.float32(0.0),
        )
        acc = (acc + s).astype(np.float32)
        mask |= hit
    return mask, np.where(mask, acc, np.float32(0.0))


def _isin_mask(col: np.ndarray, values: set) -> np.ndarray:
    # hashtable membership in pandas' cython path — no per-row Python
    return pd.Series(col, dtype=object).isin(values).to_numpy(dtype=bool)


def _numeric_col(col: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(float64 values, valid mask) for an object/int metadata column.

    Metadata numerics are doclen-scale i64 (≤ 2**53, exact in float64);
    NaN rows (nulls) compare False through the valid mask."""
    ser = pd.Series(col)
    vals = pd.to_numeric(ser, errors="coerce").to_numpy(dtype=np.float64)
    return vals, ~np.isnan(vals)


def _str_col(col: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(numpy <U array, valid mask) — vectorized lexicographic compares."""
    ser = pd.Series(col, dtype=object)
    valid = ser.notna().to_numpy(dtype=bool)
    return ser.fillna("").astype(str).to_numpy(dtype=str), valid


def _bound_mask(col: np.ndarray, b: RangeBound, is_lower: bool) -> np.ndarray:
    if b.bound == "Unbounded":
        return np.ones(len(col), dtype=bool)
    v = b.value
    if isinstance(v, (int, np.integer)):
        vals, valid = _numeric_col(col)
    else:
        vals, valid = _str_col(col)
        v = str(v)
    if is_lower:
        cmp = vals >= v if b.bound == "Included" else vals > v
    else:
        cmp = vals <= v if b.bound == "Included" else vals < v
    return cmp & valid


def _eval_range(q: RangeStr | RangeI64, ctx: EvalContext, boost: np.float32):
    col = ctx.meta_of(q.field)
    mask = _bound_mask(col, q.lower, True) & _bound_mask(col, q.upper, False)
    return mask, np.where(mask, np.float32(boost), np.float32(0.0))


def leaf_weight(df, doc_count, boost, field_boost) -> np.float32:
    """A text Term's f32 weight in one field: ``term_weight(df, N,
    f32(inherited boost) * f32(field boost))`` — the op order every
    scorer (WAND's bounds and the batch stream lane included) shares."""
    return np.float32(
        term_weight(df, doc_count, np.float32(boost) * np.float32(field_boost))
    )


def tf_score(w, tf: np.ndarray, norms: np.ndarray) -> np.ndarray:
    """The one BM25 contribution ``w * tf / (tf + norm)`` in f32 — every
    text leaf here and the batch stream lane's single-clause scores."""
    with np.errstate(invalid="ignore", divide="ignore"):
        return (np.float32(w) * tf / (tf + norms)).astype(np.float32)


def _eval_term(q: Term, ctx: EvalContext, boost: np.float32):
    mask, acc = _zeros(ctx.n)
    for f in q.fields:
        if f.kind == KEYWORD or f.kind == NUMERIC:
            col = ctx.meta_of(f.name)
            if f.kind == NUMERIC:
                # I64 fields parse bare terms numerically (query.rs:2759-2760
                # raw.parse().ok()); unparseable text is a dropped leaf
                try:
                    target = int(q.text)
                except ValueError:
                    continue
                vals, valid = _numeric_col(col)
                hit = (vals == float(target)) & valid
            else:
                vals, valid = _str_col(col)
                hit = (vals == q.text) & valid
            s = np.where(hit, np.float32(np.float32(boost) * np.float32(f.boost)),
                         np.float32(0.0))
            acc = (acc + s).astype(np.float32)
            mask |= hit
            continue
        view = ctx.view_of(f.name)
        if view is None:
            continue  # unindexed text field contributes nothing
        tf = view.tf_of(q.text)
        hit = tf > 0
        df = view.df_of(q.text)
        if df == 0:
            continue
        if view.basic:
            # Basic record option (positions=false prefix fields): the
            # scorer sees tf=1 regardless of stored frequency
            tf = np.minimum(tf, np.float32(1.0)).astype(np.float32)
        norms = view.tf_cache[view.fieldnorm_id]
        w = leaf_weight(df, ctx.doc_count, boost, f.boost)
        s = np.where(hit, tf_score(w, tf, norms), np.float32(0.0))
        acc = (acc + s).astype(np.float32)
        mask |= hit
    return mask, np.where(mask, acc, np.float32(0.0))


def _phrase_slots(q: Phrase) -> list[tuple[int, list[str]]]:
    slots: list[tuple[int, list[str]]] = []
    for pt in q.terms:
        if slots and pt.position == slots[-1][0]:
            slots[-1][1].append(pt.text)
        else:
            slots.append((pt.position, [pt.text]))
    return slots


def phrase_freqs(
    slots: list[tuple[int, list[str]]],
    view: FieldView,
    rows: np.ndarray,
) -> np.ndarray:
    """Exact-adjacency phrase frequency per candidate row (argus.rs:1829+).

    A match at base position p requires, for every slot i with position
    delta d_i, some slot-term occurrence at p + d_i.  Vectorized across
    ALL candidate rows at once: (row, position) pairs are packed into
    int64 keys (row << 32 | pos) and slots intersect with one sorted
    ``np.isin`` per slot instead of a per-document cursor dance.
    """
    base_pos = slots[0][0]
    out = np.zeros(len(rows), dtype=np.int64)
    if not len(rows):
        return out

    def slot_keys(terms: list[str], delta: int) -> np.ndarray:
        """Vectorized: ONE concatenate + one key computation per slot —
        no per-candidate-row numpy launches (was the phrase hot spot)."""
        key_parts: list[np.ndarray] = []
        for t in terms:
            parr = view.positions.get(t)
            if parr is None:
                continue
            cells = []
            cell_rows = []
            for i, r in enumerate(rows):
                p = parr[r]
                if p is None:
                    continue
                try:
                    if len(p) == 0:
                        continue
                except TypeError:  # scalar NaN from a null Spark array
                    continue
                cells.append(p)
                cell_rows.append(i)
            if not cells:
                continue
            is_vb = [isinstance(c, (bytes, bytearray)) for c in cells]
            if all(is_vb):
                # pre-encoded LEB128 position buffers (the fused build's
                # vbyte pos_format): ONE vectorized decode for all
                # candidate cells
                from frankensearch_spark.functions.vbyte import (
                    vbyte_decode_concat,
                )

                flat_u32, lens = vbyte_decode_concat(cells)
                flat = flat_u32.astype(np.int64)
            elif not any(is_vb):
                lens = np.fromiter(
                    (len(c) for c in cells), dtype=np.int64, count=len(cells)
                )
                flat = np.concatenate(
                    [np.asarray(c, dtype=np.int64) for c in cells]
                )
            else:
                # mixed formats in ONE candidate batch (vbyte-built and
                # array-built segments merged): dispatch per cell — the
                # format is a per-cell property, never a batch property
                from frankensearch_spark.functions.vbyte import vbyte_decode

                arrs = [
                    vbyte_decode(bytes(c)).astype(np.int64)
                    if vb
                    else np.asarray(c, dtype=np.int64)
                    for c, vb in zip(cells, is_vb)
                ]
                lens = np.fromiter(
                    (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
                )
                flat = (
                    np.concatenate(arrs)
                    if arrs
                    else np.empty(0, dtype=np.int64)
                )
            rep_rows = np.repeat(
                np.asarray(cell_rows, dtype=np.int64), lens
            )
            # +2^20 keeps shifted positions non-negative in the low bits
            key_parts.append(
                (rep_rows << 32) | (flat - delta + (1 << 20))
            )
        if not key_parts:
            return np.array([], dtype=np.int64)
        return np.unique(np.concatenate(key_parts))

    cand = slot_keys(slots[0][1], 0)
    for pos, terms in slots[1:]:
        if cand.size == 0:
            return out
        keys = slot_keys(terms, pos - base_pos)
        cand = cand[np.isin(cand, keys, assume_unique=True)]
    if cand.size == 0:
        return out
    counts = np.bincount((cand >> 32).astype(np.int64), minlength=len(rows))
    out[: len(counts)] = counts[: len(out)]
    return out


def _eval_phrase(q: Phrase, ctx: EvalContext, boost: np.float32):
    if q.slop != 0 or q.prefix:
        raise UnsupportedQueryError(f"phrase slop={q.slop} prefix={q.prefix}")
    if len(q.terms) == 1:
        return _eval_term(Term(q.fields, q.terms[0].text), ctx, boost)
    slots = _phrase_slots(q)
    if len(slots) < 2:
        raise UnsupportedQueryError("an exact phrase must span at least two positions")

    one_plus_k1 = np.float32(1.0) + BM25_K1
    mask, acc = _zeros(ctx.n)
    for f in q.fields:
        if f.kind != TEXT:
            continue
        view = ctx.view_of(f.name)
        if view is None:
            continue
        # candidate rows: every slot has a present term occurrence in
        # THIS field
        present = np.ones(ctx.n, dtype=bool)
        for _pos, terms in slots:
            slot_hit = np.zeros(ctx.n, dtype=bool)
            for t in terms:
                slot_hit |= view.tf_of(t) > 0
            present &= slot_hit
        rows = np.nonzero(present)[0]
        if rows.size == 0:
            continue
        pf_rows = phrase_freqs(slots, view, rows)
        pf = np.zeros(ctx.n, dtype=np.float32)
        pf[rows] = pf_rows.astype(np.float32)
        hit = pf > 0
        # idf_sum accumulates per phrase TERM in order, with THIS field's
        # doc freqs (argus.rs:1966)
        idf_sum = np.float32(0.0)
        for pt in q.terms:
            idf_sum = np.float32(idf_sum + idf(view.df_of(pt.text), ctx.doc_count))
        norms = view.tf_cache[view.fieldnorm_id]
        w = np.float32(
            idf_sum * one_plus_k1 * np.float32(np.float32(boost) * np.float32(f.boost))
        )
        s = np.where(hit, tf_score(w, pf, norms), np.float32(0.0))
        acc = (acc + s).astype(np.float32)
        mask |= hit
    return mask, np.where(mask, acc, np.float32(0.0))


def _is_raw_unit_all(q: Query, boost: np.float32) -> tuple[bool, bool]:
    """(is_all, is_raw_unit): resolves Boost chains around an All node."""
    b = np.float32(boost)
    node = q
    while isinstance(node, Boost):
        b = np.float32(b * np.float32(node.factor))
        node = node.query
    if isinstance(node, All):
        return True, bool(b == np.float32(1.0))
    return False, False


def _eval_boolean(q: Boolean, ctx: EvalContext, boost: np.float32):
    musts = [c for c in q.clauses if c.occur == MUST]
    shoulds = [c for c in q.clauses if c.occur == SHOULD]
    nots = [c for c in q.clauses if c.occur == MUST_NOT]

    # MustNot All (any boost) empties the result (argus.rs:2948-2951)
    for c in nots:
        is_all, _unit = _is_raw_unit_all(c.query, boost)
        if is_all:
            return _zeros(ctx.n)

    # strip raw unit All scorers, keeping domain tokens (argus.rs:2941-2947)
    must_all_token = False
    ordinary_musts = []
    for c in musts:
        is_all, unit = _is_raw_unit_all(c.query, boost)
        if is_all and unit:
            must_all_token = True
        else:
            ordinary_musts.append(c)
    should_all_token = False
    ordinary_shoulds = []
    for c in shoulds:
        is_all, unit = _is_raw_unit_all(c.query, boost)
        if is_all and unit:
            should_all_token = True
        else:
            ordinary_shoulds.append(c)

    acc = np.zeros(ctx.n, dtype=np.float32)
    if ordinary_musts:
        mask = np.ones(ctx.n, dtype=bool)
        for c in ordinary_musts:
            m, s = eval_query(c.query, ctx, boost)
            mask &= m
            acc = (acc + s).astype(np.float32)
        # raw optional All is score-neutral once a MUST determines matching
        for c in ordinary_shoulds:
            _m, s = eval_query(c.query, ctx, boost)
            acc = (acc + s).astype(np.float32)
    elif must_all_token:
        mask = np.ones(ctx.n, dtype=bool)
        for c in ordinary_shoulds:
            _m, s = eval_query(c.query, ctx, boost)
            acc = (acc + s).astype(np.float32)
    else:
        mask = np.zeros(ctx.n, dtype=bool)
        for c in ordinary_shoulds:
            m, s = eval_query(c.query, ctx, boost)
            mask |= m
            acc = (acc + s).astype(np.float32)
        if should_all_token:
            # ordinary Should aggregate first, then union one AllScorer
            mask = np.ones(ctx.n, dtype=bool)
            acc = (acc + np.float32(1.0)).astype(np.float32)

    for c in nots:
        m, _s = eval_query(c.query, ctx, np.float32(1.0))
        mask = mask & ~m
    return mask, np.where(mask, acc, np.float32(0.0))
