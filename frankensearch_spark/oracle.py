"""Single-node numpy reference scorer (plays Tantivy 0.26.1's oracle role).

Every Spark path is judged against this module.  It implements exhaustive
BM25 top-k with the pinned f32 contract from
:mod:`frankensearch_spark.contract` and the pinned result total order
(score f32 total_cmp descending, then global docid ascending —
reference ``crates/frankensearch-quill/src/index.rs:8022-8040``).

Boolean semantics mirror the reference scorer tree
(``crates/frankensearch-quill/src/argus.rs:2330-3195``): Must terms
intersect, Should terms union, MustNot excludes; clause scores are summed
in f32 in clause order (required aggregate before optional aggregate —
scoring case ``score-multifield-title-boost``).
"""

from __future__ import annotations

import numpy as np

from frankensearch_spark.analyze import tokenize_fast
from frankensearch_spark.contract import (
    compute_avgdl,
    compute_tf_cache,
    fieldnorm_to_id,
    score_total_order_key,
    term_score,
    term_weight,
)

# expand_glob's default limit: the pinned GLOB_EXPANSION_LIMIT cap
# (``limit=None`` means every match)
PINNED_CAP = object()


class OracleIndex:
    """In-memory exhaustive BM25 index over one text field."""

    def __init__(self, docs, tokenizer=tokenize_fast, meta=None):
        """``docs``: iterable of (docid:int, text:str).  ``meta``:
        optional {field_name: {docid: value}} keyword/numeric metadata
        columns for Range/Set/keyword-Term leaves (E8) — ``doclen`` is
        always available, derived from the admitted token count."""
        postings: dict[str, dict[int, int]] = {}
        positions: dict[str, dict[int, list[int]]] = {}
        doclen: dict[int, int] = {}
        for docid, text in docs:
            toks = tokenizer(text)
            doclen[docid] = len(toks)
            for term, pos in toks:
                postings.setdefault(term, {}).setdefault(docid, 0)
                postings[term][docid] += 1
                positions.setdefault(term, {}).setdefault(docid, []).append(pos)

        self.docids = np.array(sorted(doclen), dtype=np.int64)
        self._row = {d: i for i, d in enumerate(self.docids)}
        dl = np.array([doclen[d] for d in self.docids], dtype=np.uint32)
        self.doclen = dl
        self.fieldnorm_id = fieldnorm_to_id(dl)
        self.doc_count = len(self.docids)
        self.total_tokens = int(dl.sum())
        self.avgdl = compute_avgdl(self.total_tokens, self.doc_count)
        self.tf_cache = compute_tf_cache(self.avgdl)
        self.meta_cols: dict[str, np.ndarray] = {}
        for name, col in (meta or {}).items():
            arr = np.empty(self.doc_count, dtype=object)
            for i, d in enumerate(self.docids):
                arr[i] = col.get(d)
            self.meta_cols[name] = arr
        self.postings = {
            term: (
                np.array(sorted(plist), dtype=np.int64),
                np.array([plist[d] for d in sorted(plist)], dtype=np.uint32),
            )
            for term, plist in postings.items()
        }
        self.positions = {
            term: {d: np.array(sorted(pl), dtype=np.int64) for d, pl in per_doc.items()}
            for term, per_doc in positions.items()
        }
        # tombstoned docids: excluded from results, still counted in stats
        # (grimoire.rs:68-71 / argus.rs:1327-1344)
        self.excluded: set[int] = set()

    def delete(self, docids) -> None:
        self.excluded.update(int(d) for d in docids)

    def _excluded_rows(self) -> np.ndarray:
        if not self.excluded:
            return np.array([], dtype=np.int64)
        return np.array(
            [self._row[d] for d in self.excluded if d in self._row],
            dtype=np.int64,
        )

    def term_doc_freq(self, term: str) -> int:
        p = self.postings.get(term)
        return 0 if p is None else len(p[0])

    def _term_scores(self, term: str, boost: float = 1.0):
        """(row_indices, f32 scores) for one term, empty if absent."""
        p = self.postings.get(term)
        if p is None:
            return np.array([], dtype=np.int64), np.array([], dtype=np.float32)
        docids, tfs = p
        rows = np.array([self._row[d] for d in docids], dtype=np.int64)
        w = term_weight(len(docids), self.doc_count, boost)
        scores = term_score(w, tfs, self.fieldnorm_id[rows], self.tf_cache)
        return rows, scores

    def search(
        self,
        query,
        k: int = 10,
        offset: int = 0,
        must: list[str] | None = None,
        must_not: list[str] | None = None,
    ) -> list[tuple[int, np.float32]]:
        """Top-k for a query.

        ``query``: string (tokenized to Should terms) or list of Should terms.
        Returns [(docid, f32 score)] under the pinned total order.
        """
        if isinstance(query, str):
            should = [t for t, _ in tokenize_fast(query)]
        else:
            should = list(query)
        must = list(must or [])
        must_not = list(must_not or [])

        acc = np.zeros(self.doc_count, dtype=np.float32)
        matched = np.zeros(self.doc_count, dtype=bool)

        # required aggregate first, f32 accumulation in clause order
        must_ok = np.ones(self.doc_count, dtype=bool) if must else None
        for term in must:
            rows, scores = self._term_scores(term)
            hit = np.zeros(self.doc_count, dtype=bool)
            hit[rows] = True
            must_ok &= hit
            acc[rows] = (acc[rows] + scores).astype(np.float32)
        for term in should:
            rows, scores = self._term_scores(term)
            acc[rows] = (acc[rows] + scores).astype(np.float32)
            matched[rows] = True

        if must:
            ok = must_ok  # Should is optional under Must (min_should 0)
        else:
            ok = matched
        for term in must_not:
            p = self.postings.get(term)
            if p is not None:
                rows = np.array([self._row[d] for d in p[0]], dtype=np.int64)
                ok = ok.copy()
                ok[rows] = False
        ex = self._excluded_rows()
        if ex.size:
            ok = ok.copy()
            ok[ex] = False

        rows = np.nonzero(ok)[0]
        if rows.size == 0:
            return []
        scores = acc[rows]
        docids = self.docids[rows]
        order = score_total_order_key(scores, docids)
        sel = order[offset : offset + k]
        return [(int(docids[i]), np.float32(scores[i])) for i in sel]

    def search_bits(self, query, k=10, **kw):
        """Top-k with scores as u32 bit patterns (for bit-exact asserts)."""
        return [
            (d, int(np.float32(s).view(np.uint32)))
            for d, s in self.search(query, k, **kw)
        ]

    # --- AST path (parser-driven queries through the shared kernel) --------

    def _eval_context(self, ast):
        """Dense full-corpus :class:`EvalContext` for one query tree."""
        from frankensearch_spark.kernel import EvalContext
        from frankensearch_spark.query_ast import walk_leaf_terms

        leaves = walk_leaf_terms(ast)
        tf: dict[str, np.ndarray] = {}
        pos: dict[str, np.ndarray] = {}
        df: dict[str, int] = {}
        for term, needs_pos in leaves:
            p = self.postings.get(term)
            if p is None:
                continue
            docids, tfs = p
            rows = np.array([self._row[d] for d in docids], dtype=np.int64)
            dense = np.zeros(self.doc_count, dtype=np.float32)
            dense[rows] = tfs.astype(np.float32)
            tf[term] = dense
            df[term] = len(docids)
            if needs_pos:
                arr = np.empty(self.doc_count, dtype=object)
                for d, parr in self.positions.get(term, {}).items():
                    arr[self._row[d]] = parr
                pos[term] = arr
        meta = dict(self.meta_cols)
        # doclen is a first-class numeric pseudo-column (I64{fast}
        # analogue) on every index, exactly like the Spark executors
        meta.setdefault("doclen", self.doclen.astype(np.int64))
        return EvalContext.single_field(
            n=self.doc_count,
            fieldnorm_id=self.fieldnorm_id.astype(np.int64),
            tf=tf,
            positions=pos,
            df=df,
            doc_count=self.doc_count,
            tf_cache=self.tf_cache,
            meta=meta,
        )

    def expand_glob(self, pattern: str,
                    limit: int | None | object = PINNED_CAP) -> list[str]:
        """Sorted term-dictionary glob expansion (grimoire.rs:1374-1460).

        By default the expansion takes the shared pinned cap
        (``query_ast.GLOB_EXPANSION_LIMIT``, config.rs:33), so this
        entry point can never desynchronize from the Spark executors'
        ``cap_glob_expansion`` sites; ``limit=None`` returns every
        match, and an int caps at that many."""
        hits = self.glob_matches(pattern)
        if limit is PINNED_CAP:
            from frankensearch_spark.query_ast import GLOB_EXPANSION_LIMIT

            limit = GLOB_EXPANSION_LIMIT
        return hits if limit is None else hits[:limit]

    def glob_matches(self, pattern: str) -> list[str]:
        from frankensearch_spark.query_ast import glob_match

        return sorted(t for t in self.postings if glob_match(pattern, t))

    def search_ast(self, ast, k: int = 10, offset: int = 0):
        """Top-k for a parsed query tree under the pinned total order."""
        from frankensearch_spark.kernel import eval_query
        from frankensearch_spark.query_ast import (
            Boolean,
            Clause,
            Term,
            collect_globs,
            substitute_globs,
        )

        globs = collect_globs(ast)
        if globs:
            from frankensearch_spark.query_ast import (
                KEYWORD,
                TEXT,
                Glob,
                cap_glob_expansion,
            )

            expansion = {}
            for g in globs:
                # expand over the text-term dictionary ONLY for TEXT
                # fields (the Spark executors' rule) — expanding a
                # keyword glob over content terms produced hits driven
                # by the wrong field's dictionary; keyword fields keep
                # a Glob leaf for the kernel's raw-text wildcard match
                terms = (
                    cap_glob_expansion(self.glob_matches(g.pattern))
                    if any(f.kind == TEXT for f in g.fields)
                    else []
                )
                clauses = tuple(
                    Clause("Should", Term(g.fields, t)) for t in terms
                )
                kw_fields = tuple(f for f in g.fields if f.kind == KEYWORD)
                if kw_fields:
                    clauses += (
                        Clause("Should", Glob(kw_fields, g.pattern)),
                    )
                expansion[g] = Boolean(clauses, None)
            ast = substitute_globs(ast, expansion)
        ctx = self._eval_context(ast)
        mask, scores = eval_query(ast, ctx)
        ex = self._excluded_rows()
        if ex.size:
            mask = mask.copy()
            mask[ex] = False
        rows = np.nonzero(mask)[0]
        if rows.size == 0:
            return []
        sel_scores = scores[rows]
        sel_docids = self.docids[rows]
        order = score_total_order_key(sel_scores, sel_docids)
        sel = order[offset : offset + k]
        return [(int(sel_docids[i]), np.float32(sel_scores[i])) for i in sel]

    def search_ast_bits(self, ast, k=10, **kw):
        return [
            (d, int(np.float32(s).view(np.uint32)))
            for d, s in self.search_ast(ast, k, **kw)
        ]


class OracleMultiIndex:
    """Multi-field exhaustive oracle: one :class:`OracleIndex` per text
    field over a SHARED docid space (missing field text indexes as the
    empty document so N stays snapshot-global across fields)."""

    def __init__(self, docs, field_names, basic_fields=(), meta=None):
        """``docs``: iterable of (docid, {field_name: text});
        ``basic_fields``: fields scored with the Basic record option
        (tf forced to 1 — CASS prefix fields); ``meta``: metadata column
        -> {docid: value} (keyword/numeric filter leaves, same contract
        as :class:`OracleIndex` — without it CASS structured filters
        have no independent oracle)."""
        docs = list(docs)
        self.sub = {
            f: OracleIndex([(d, t.get(f) or "") for d, t in docs])
            for f in field_names
        }
        first = next(iter(self.sub.values()))
        self.docids = first.docids
        self.doc_count = first.doc_count
        self.excluded: set[int] = set()
        self.basic_fields = set(basic_fields)
        self.meta = dict(meta or {})

    def delete(self, docids) -> None:
        self.excluded.update(int(d) for d in docids)

    def _eval_context(self, ast):
        from frankensearch_spark.kernel import EvalContext, FieldView
        from frankensearch_spark.query_ast import walk_leaf_terms

        leaves = walk_leaf_terms(ast)
        views = {}
        for fname, sub in self.sub.items():
            tf: dict[str, np.ndarray] = {}
            pos: dict[str, np.ndarray] = {}
            df: dict[str, int] = {}
            for term, needs_pos in leaves:
                p = sub.postings.get(term)
                if p is None:
                    continue
                docids, tfs = p
                rows = np.array([sub._row[d] for d in docids], dtype=np.int64)
                dense = np.zeros(sub.doc_count, dtype=np.float32)
                dense[rows] = tfs.astype(np.float32)
                tf[term] = dense
                df[term] = len(docids)
                if needs_pos:
                    arr = np.empty(sub.doc_count, dtype=object)
                    for d, parr in sub.positions.get(term, {}).items():
                        arr[sub._row[d]] = parr
                    pos[term] = arr
            views[fname] = FieldView(
                n=sub.doc_count,
                fieldnorm_id=sub.fieldnorm_id.astype(np.int64),
                tf=tf,
                positions=pos,
                df=df,
                tf_cache=sub.tf_cache,
                basic=fname in self.basic_fields,
            )
        first = next(iter(self.sub.values()))
        # 'doclen' metadata leaves read the PRIMARY field's doclen (the
        # same rule as the Spark executors)
        meta_cols = {"doclen": first.doclen.astype(np.int64)}
        for name, per_doc in self.meta.items():
            meta_cols[name] = np.array(
                [per_doc.get(int(d)) for d in self.docids], dtype=object
            )
        return EvalContext(
            n=self.doc_count, views=views, doc_count=self.doc_count,
            meta=meta_cols,
        )

    def search_ast(self, ast, k: int = 10, offset: int = 0):
        from frankensearch_spark.kernel import eval_query
        from frankensearch_spark.query_ast import (
            Boolean,
            Clause,
            Term,
            collect_globs,
            substitute_globs,
        )

        globs = collect_globs(ast)
        if globs:
            from frankensearch_spark.query_ast import cap_glob_expansion

            expansion = {}
            for g in globs:
                terms: set[str] = set()
                for f in g.fields:
                    sub = self.sub.get(f.name)
                    if sub is not None:
                        terms.update(sub.glob_matches(g.pattern))
                expansion[g] = Boolean(
                    tuple(
                        Clause("Should", Term(g.fields, t))
                        for t in cap_glob_expansion(terms)
                    ),
                    None,
                )
            ast = substitute_globs(ast, expansion)
        ctx = self._eval_context(ast)
        mask, scores = eval_query(ast, ctx)
        if self.excluded:
            first = next(iter(self.sub.values()))
            ex = np.array(
                [first._row[d] for d in self.excluded if d in first._row],
                dtype=np.int64,
            )
            if ex.size:
                mask = mask.copy()
                mask[ex] = False
        rows = np.nonzero(mask)[0]
        if rows.size == 0:
            return []
        sel_scores = scores[rows]
        sel_docids = self.docids[rows]
        order = score_total_order_key(sel_scores, sel_docids)
        sel = order[offset : offset + k]
        return [(int(sel_docids[i]), np.float32(sel_scores[i])) for i in sel]

    def search_ast_bits(self, ast, k=10, **kw):
        return [
            (d, int(np.float32(s).view(np.uint32)))
            for d, s in self.search_ast(ast, k, **kw)
        ]
