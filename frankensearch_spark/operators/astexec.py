"""Exhaustive execution of parsed query trees (SURVEY.md Q1-Q5, E1-E2,
E7-E9) — the one decode-and-score plan, over the one index form every
engine, load and stream read holds (``ServingIndex`` /
``ServingMultiIndex``).

The plan keeps every relational step declarative — per-field posting
filters by the query's terms (partition-prunable), one pivot shuffle per
queried field, a positions pivot for phrase clauses — and runs the
*scoring* through the same numpy kernel the oracle uses
(:mod:`frankensearch_spark.kernel`), inside one ``mapInPandas`` pass.
Rank/bit parity with the oracle is therefore structural, not coincidental.

Each piece exists once, and the batch executor's pivot lane reuses them:

* :func:`prepare_query` — parse, glob expansion, the metadata-field and
  per-field positions capability checks;
* :func:`serving_exec.field_postings` — the per-field posting source:
  a field's candidate blocks decoded to (docid, fieldnorm_id, term, tf
  [, positions]) rows;
* :func:`candidates` — one tf/positions pivot per queried field
  (:func:`_field_pivot`), the full-outer field join, the docmeta join for
  All/metadata shapes, the tombstone anti-join;
* :meth:`Layout.context` — a pandas batch of that frame as the kernel's
  ``FieldView``/``EvalContext``.

Multi-field queries (the reference's default ``content^1 + title^2``
expansion, quill/index.rs:11168-11191) join the per-field candidate
pivots FULL OUTER on docid: a doc matching only one field still
candidates, each field scores with its own df/avgdl/fieldnorms, and the
kernel sums per-field contributions in field order.

Glob expansion (Q5) probes the term-stats tables of the glob's fields
with a LIKE filter (grimoire.rs:1374-1460 analogue; cap 16,384 per
config.rs:33) and rewrites the tree to a Should union before execution,
exactly like the reference's lowering.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frankensearch_spark.contract import compute_avgdl, compute_tf_cache
from frankensearch_spark.operators.serving_exec import field_postings
from frankensearch_spark.operators.wand import _wand_fields
from frankensearch_spark.query_ast import (
    ENGINE_SCHEMA,
    KEYWORD,
    MUST,
    MUST_NOT,
    NUMERIC,
    TEXT,
    Boolean,
    Boost,
    Clause,
    ParserSchema,
    Phrase,
    Query,
    RangeI64,
    RangeStr,
    SetStr,
    Term,
    cap_glob_expansion,
    collect_globs,
    contains_all_node,
    glob_to_like,
    parse_lenient,
    substitute_globs,
    walk_leaf_terms,
    walk_metadata_fields,
    walk_text_fields,
)


def expand_globs(index, ast: Query) -> Query:
    globs = collect_globs(ast)
    if not globs:
        return ast
    from frankensearch_spark.query_ast import Glob

    fidx, _primary = _wand_fields(index)
    expansion = {}
    for g in globs:
        names = [
            f.name for f in g.fields if f.kind == TEXT and f.name in fidx
        ]
        terms: list[str] = []
        for name in names:
            rows = (
                fidx[name]
                .termstats.filter(F.col("term").like(glob_to_like(g.pattern)))
                .select("term")
                .collect()
            )
            terms.extend(r["term"] for r in rows)
        uniq = cap_glob_expansion(terms)
        clauses = tuple(Clause("Should", Term(g.fields, t)) for t in uniq)
        kw_fields = tuple(f for f in g.fields if f.kind == KEYWORD)
        if kw_fields:
            # keyword fields don't expand over a term dictionary here
            # (they live in docmeta): keep a keyword-scoped Glob leaf
            # for the kernel's raw-text wildcard match — previously the
            # keyword side of a glob silently expanded to NOTHING
            clauses += (Clause("Should", Glob(kw_fields, g.pattern)),)
        expansion[g] = Boolean(clauses, None)
    return substitute_globs(ast, expansion)


def _meta_leaf_condition(q: Query):
    """Spark Column for a pure keyword/numeric metadata leaf, else None.

    Only single-field leaves translate (multi-field Terms mix text
    scoring and can't reduce to a row predicate)."""
    while isinstance(q, Boost):
        q = q.query
    if isinstance(q, Term):
        if len(q.fields) != 1:
            return None
        f = q.fields[0]
        if f.kind == KEYWORD:
            return F.col(f.name) == q.text
        if f.kind == NUMERIC:
            try:
                return F.col(f.name) == int(q.text)
            except ValueError:
                return None  # dropped leaf; the kernel decides
        return None
    if isinstance(q, (RangeStr, RangeI64)):
        col = F.col(q.field)
        conds = []
        if q.lower.bound == "Included":
            conds.append(col >= q.lower.value)
        elif q.lower.bound == "Excluded":
            conds.append(col > q.lower.value)
        if q.upper.bound == "Included":
            conds.append(col <= q.upper.value)
        elif q.upper.bound == "Excluded":
            conds.append(col < q.upper.value)
        if not conds:
            # fully unbounded matches null metadata in the kernel — a
            # column predicate would wrongly drop null rows
            return None
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        return cond
    if isinstance(q, SetStr):
        return F.col(q.field).isin(list(q.values))
    return None


def metadata_pushdown(ast: Query):
    """(must_conds, must_not_conds): top-level conjunctive metadata
    predicates as Spark Columns — a pure candidate-set reduction.

    Rows failing a Must metadata predicate (or matching a MustNot one)
    can never match the full query, so filtering them BEFORE the pivot /
    kernel is score-neutral; the kernel still evaluates the complete AST
    on the survivors.  This keeps keyword/numeric filtering in Catalyst
    (predicate pushdown to the scan) instead of Python — the E8 leaves
    read NUMERIC fast columns natively in the reference too
    (quill/index.rs:11399-11935)."""
    node = ast
    while isinstance(node, Boost):
        node = node.query
    cond = _meta_leaf_condition(node)
    if cond is not None:
        return [cond], []
    must_conds, not_conds = [], []
    if isinstance(node, Boolean):
        for cl in node.clauses:
            c = _meta_leaf_condition(cl.query)
            if c is None:
                continue
            if cl.occur == MUST:
                must_conds.append(c)
            elif cl.occur == MUST_NOT:
                not_conds.append(c)
    return must_conds, not_conds


def apply_metadata_pushdown(base: DataFrame, ast: Query) -> DataFrame:
    must_conds, not_conds = metadata_pushdown(ast)
    for c in must_conds:
        base = base.filter(c)  # null predicate -> dropped, like the kernel
    for c in not_conds:
        # null predicate must KEEP the row (the kernel's MustNot misses
        # null metadata), so fold null to false before negating
        base = base.filter(~F.coalesce(c, F.lit(False)))
    return base


def _as_ast(query, schema: ParserSchema = ENGINE_SCHEMA) -> Query:
    if isinstance(query, str):
        return parse_lenient(query, schema).query
    return query


def _phrase_fields(ast) -> list[str]:
    """TEXT field names referenced by position-requiring (Phrase)
    leaves only — the scope of the positions capability check."""
    out: list[str] = []

    def collect(node) -> None:
        if isinstance(node, Phrase):
            for f in node.fields:
                if f.kind == TEXT and f.name not in out:
                    out.append(f.name)
        elif isinstance(node, Boolean):
            for c in node.clauses:
                collect(c.query)
        elif isinstance(node, Boost):
            collect(node.query)

    collect(ast)
    return out


@dataclass
class PreparedQuery:
    """One query after the prologue; ``qid`` is its position in a batch.
    The batch pivot lane also builds one over the UNION of its queries
    (``ast`` None) to assemble their shared candidates."""

    qid: int
    ast: Query | None
    terms: list[str]
    qfields: list[str]
    has_all: bool
    phrase_terms: list[str] = field(default_factory=list)
    meta_fields: list[str] = field(default_factory=list)
    pfields: list[str] = field(default_factory=list)  # fields of phrase leaves


def prepare_query(index, query, schema: ParserSchema = ENGINE_SCHEMA,
                  qid: int = 0, where: str = "") -> PreparedQuery | None:
    """The prologue of every exhaustive execution: parse, glob expansion,
    the metadata-field check and the positions check.  None when nothing
    can score (no text leaf and no All node).

    The positions check covers only the fields of PHRASE leaves
    (query.rs:699-752 checks per-field capability): a positions-less
    field queried by plain terms must not reject the query — in a batch,
    one such false rejection would abort the whole batch.  ``where``
    suffixes error messages (the batch names the query)."""
    fidx, primary = _wand_fields(index)
    ast = expand_globs(index, _as_ast(query, schema))
    leaves = walk_leaf_terms(ast)
    has_all = contains_all_node(ast)
    meta_fields = list(walk_metadata_fields(ast))
    for mf in meta_fields:
        if mf not in primary.docmeta.columns:
            raise ValueError(
                f"metadata field {mf!r} not present in docmeta{where}"
            )  # capability validation (query.rs:699-752)
    terms = [t for t, _ in leaves]
    if not terms and not has_all:
        return None
    phrase_terms = [t for t, needs_pos in leaves if needs_pos]
    pfields = _phrase_fields(ast) if phrase_terms else []
    for f in pfields:
        if f in fidx and not fidx[f].has_positions:
            raise ValueError(
                f"phrase query on field {f!r} without positions "
                f"(build or save it with with_positions=True){where}"
            )
    qfields = [f for f in walk_text_fields(ast) if f in fidx]
    return PreparedQuery(
        qid, ast, terms, qfields, has_all, phrase_terms, meta_fields, pfields
    )


def field_stats(fidx, qfields, terms, doc_count: int):
    """Per-field snapshot statistics: (field -> df map, field -> tf cache
    from that field's own avgdl)."""
    field_df: dict[str, dict[str, int]] = {}
    field_cache: dict[str, np.ndarray] = {}
    for f in qfields:
        sub = fidx[f]
        field_df[f] = sub.df_of_terms(terms)
        _n, total_tokens = sub.stats()
        field_cache[f] = compute_tf_cache(compute_avgdl(total_tokens, doc_count))
    return field_df, field_cache


class FieldPostings(NamedTuple):
    """One field's posting rows for the query terms, as the pivot takes
    them: ``frame`` has (docid, fieldnorm_id, term, tf) columns, and
    ``positions`` is the (docid, term, positions) frame the phrase pivot
    reads, or None."""

    frame: DataFrame
    positions: DataFrame | None


@dataclass
class _FieldCols:
    """Where one field's cells sit in a candidate batch, and the stats
    they score with."""

    df: dict
    tf_cache: np.ndarray
    basic: bool
    tf: dict = field(default_factory=dict)
    pos: dict = field(default_factory=dict)
    norm: str | None = None


@dataclass
class Layout:
    """The column layout of a candidate frame (:func:`candidates`)."""

    doc_count: int
    meta: list[str]
    fields: dict = field(default_factory=dict)  # name -> _FieldCols

    def context(self, pdf: pd.DataFrame):
        """The kernel's EvalContext over one pandas batch of candidates."""
        from frankensearch_spark.kernel import EvalContext, FieldView

        n = len(pdf)

        def dense(col: str, dtype) -> np.ndarray:
            return np.nan_to_num(
                pdf[col].to_numpy(dtype=np.float64), nan=0.0
            ).astype(dtype)

        views = {}
        for f, c in self.fields.items():
            views[f] = FieldView(
                n=n,
                fieldnorm_id=(
                    np.zeros(n, dtype=np.int64) if c.norm is None
                    else dense(c.norm, np.int64)
                ),
                tf={t: dense(col, np.float32) for t, col in c.tf.items()},
                positions={
                    t: pdf[col].to_numpy(dtype=object)
                    for t, col in c.pos.items()
                },
                df=c.df,
                tf_cache=c.tf_cache,
                basic=c.basic,
            )
        return EvalContext(
            n=n,
            views=views,
            doc_count=self.doc_count,
            meta={m: pdf[m].to_numpy(dtype=object) for m in self.meta},
        )


def _field_pivot(src: FieldPostings, fi: int, terms, phrase_terms,
                 cols: _FieldCols) -> DataFrame:
    """The per-field pivot: one row per candidate docid with the norm
    column ``nm{fi}``, tf columns ``f{fi}t{j}`` and, for phrase terms,
    positions columns ``f{fi}p{j}``; the names land in ``cols``."""
    tcols = [f"f{fi}t{j}" for j in range(len(terms))]
    cols.tf = dict(zip(terms, tcols))
    cols.norm = f"nm{fi}"
    pivot = (
        src.frame.groupBy("docid", "fieldnorm_id")
        .pivot("term", terms)
        .agg(F.first("tf"))
        .toDF("docid", cols.norm, *tcols)
    )
    if src.positions is None:
        return pivot
    pcols = [f"f{fi}p{j}" for j in range(len(phrase_terms))]
    cols.pos = dict(zip(phrase_terms, pcols))
    ppivot = (
        src.positions.filter(F.col("term").isin(phrase_terms))
        .groupBy("docid")
        .pivot("term", phrase_terms)
        .agg(F.first("positions"))
        .toDF("docid", *pcols)
    )
    return pivot.join(ppivot, "docid", "left")


def candidates(fidx, primary, q: PreparedQuery, schema: ParserSchema,
               doc_count: int, root=None):
    """Candidate assembly: one pivot per queried field, full-outer joined
    on docid, the docmeta join for All/metadata shapes and the tombstone
    anti-join.  Returns (frame, :class:`Layout`), or None when nothing can
    score (every text leaf names a field absent from this index)."""
    field_df, field_cache = field_stats(fidx, q.qfields, q.terms, doc_count)
    basic_of = {fl.name: getattr(fl, "basic", False) for fl in schema.fields}
    layout = Layout(doc_count, list(q.meta_fields))
    base: DataFrame | None = None
    for fi, f in enumerate(q.qfields):
        cols = _FieldCols(field_df[f], field_cache[f], basic_of.get(f, False))
        layout.fields[f] = cols
        if not q.terms:
            continue
        src = field_postings(
            fidx[f], f, q.terms, q.phrase_terms, field_df, root
        )
        pivot = _field_pivot(src, fi, q.terms, q.phrase_terms, cols)
        base = pivot if base is None else base.join(pivot, "docid", "full_outer")
    if base is None and not q.has_all:
        return None

    # 'doclen' metadata leaves read the PRIMARY field's doclen
    extra = [c for c in q.meta_fields if c not in ("docid", "doclen")]
    sel = ["docid"] + (["doclen"] if "doclen" in q.meta_fields else []) + extra
    if q.has_all:
        meta = primary.docmeta.select(*sel)
        base = meta if base is None else meta.join(base, "docid", "left")
    elif len(sel) > 1:
        base = base.join(primary.docmeta.select(*sel), "docid", "left")
    if primary.tombstones is not None:
        base = base.join(primary.tombstones.select("docid"), "docid", "left_anti")
    return base, layout


def score_ast(index, query, schema: ParserSchema = ENGINE_SCHEMA) -> DataFrame:
    """(docid, score) for every matching document of a parsed query tree."""
    fidx, primary = _wand_fields(index)
    empty = primary.docmeta.sparkSession.createDataFrame(
        [], "docid long, score float"
    )
    q = prepare_query(index, query, schema)
    if q is None:
        return empty
    doc_count, _tt = primary.stats()
    if doc_count == 0:
        return empty
    cand = candidates(fidx, primary, q, schema, doc_count, root=q.ast)
    if cand is None:
        return empty
    base, layout = cand
    base = apply_metadata_pushdown(base, q.ast)
    ast = q.ast

    def run(batches):
        from frankensearch_spark.kernel import eval_query

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mask, scores = eval_query(ast, layout.context(pdf))
            rows = np.nonzero(mask)[0]
            if rows.size == 0:
                continue
            yield pd.DataFrame(
                {
                    "docid": pdf["docid"].to_numpy(dtype=np.int64)[rows],
                    "score": scores[rows],
                }
            )

    return base.mapInPandas(run, "docid long, score float")


def topk_ast(
    index, query, k: int = 10, offset: int = 0,
    schema: ParserSchema = ENGINE_SCHEMA,
) -> DataFrame:
    """Top-k DataFrame under the pinned total order (TakeOrderedAndProject)."""
    scored = score_ast(index, query, schema)
    return scored.orderBy(F.desc("score"), F.asc("docid")).limit(offset + k)


def search_ast_collect(
    index, query, k: int = 10, offset: int = 0,
    schema: ParserSchema = ENGINE_SCHEMA,
) -> list[tuple[int, np.float32]]:
    rows = topk_ast(index, query, k, offset, schema).collect()
    out = [(int(r["docid"]), np.float32(r["score"])) for r in rows]
    return out[offset : offset + k]


def search_ast_bits(index, query, k: int = 10, **kw):
    return [
        (d, int(np.float32(s).view(np.uint32)))
        for d, s in search_ast_collect(index, query, k, **kw)
    ]
