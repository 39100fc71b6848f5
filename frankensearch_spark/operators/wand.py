"""Block-Max WAND serving path (SURVEY.md E5/E6 — the north-rule centerpiece).

Distributed re-expression of the reference's Block-Max-WAND
(argus.rs:4474-4520, bound math contract.rs:333-370): instead of a scalar
cursor dance, pruning happens at **docid-bucket granularity**:

* every posting block belongs to one docid bucket (a deterministic docid
  range), and ALL terms' postings for a given doc live in the same bucket —
  so boolean logic, f32 clause-ordered scoring, and local top-k are
  bucket-local (embarrassingly parallel, one grouped-UDF task per bucket);
* per-bucket upper bound = conservative-envelope sum over scored clauses of
  the max block_max_score of that term's blocks in the bucket (decoded
  bounds never under-estimate: contract.rs:306-326, argus.rs:3918-3973);
  buckets missing a Must term are unmatchable and drop outright (the
  required-clause ordering of MaxScore, argus.rs:3034-3050, at bucket
  granularity) — so booleans prune too, not just flat bags of words;
* two phases: (A) score the best-bounded buckets exactly to certify a
  threshold θ = kth-best exact score, (B) decode only the remaining buckets
  whose bound ≥ θ.  Any doc in a skipped bucket scores ≤ bound < θ ≤ final
  kth score — rank-identity is a theorem, and the test suite asserts
  pruned ≡ exhaustive ≡ oracle on every fixture query (the reference's
  pruning-receipt discipline, index.rs:2434-2560);
* multi-field shapes (the reference's content + title^2 default surface)
  prune too: every field shares the one global docid space, so each
  field's blocks land in the same buckets — clauses become (field, term)
  pairs with per-field weights/avgdl, bucket bounds sum over them, and a
  Must term drops a bucket only when absent from ALL its fields.

Everything is distributed: per-bucket bounds are a grouped aggregate, the
seed ranking and every top-k merge is a ``TakeOrderedAndProject``, and
tombstones cogroup into their bucket's task — the driver only ever sees
O(seed + k) rows, never per-bucket metadata or winner sets (the round-1
driver-side collects are gone).

Every score comes from the shared kernel (:mod:`operators.bucketscore`
→ ``kernel.eval_query``); pruning only decides which blocks decode.
"""

from __future__ import annotations

import math
import threading
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frankensearch_spark.contract import (
    block_max_score,
    compute_avgdl,
    compute_tf_cache,
    score_total_order_key,
)
from frankensearch_spark.kernel import leaf_weight
from frankensearch_spark.operators.bucketscore import (
    _F32_EPS,
    BlockPrune,
    _block_keep_mask,
    bucket_plan,
    bucket_scorer,
    candidate_blocks,
)
from frankensearch_spark.operators.build import PRELOAD_MAX_ROWS, TermStats
from frankensearch_spark.operators.merge import (
    DEFAULT_BUCKET_SHIFT,
    DEFAULT_TERM_PARTITIONS,
)
from frankensearch_spark.analyze import tokenize_fast
from frankensearch_spark.query_ast import (
    MUST,
    MUST_NOT,
    SHOULD,
    Boolean,
    Boost,
    Clause,
    QueryField,
    Term,
)


@dataclass
class QuerySpec:
    """Flat boolean query the WAND planner consumes: Should union, Must
    intersection, MustNot exclusion.

    ``boosts``: optional per-term boost (default 1.0) — multiplies the
    term's weight exactly like the reference's inherited boost
    (argus.rs:1521-1523), so boosted flat/boolean shapes stay prunable.
    A term must carry ONE boost across all its clauses."""

    should: list[str] = field(default_factory=list)
    must: list[str] = field(default_factory=list)
    must_not: list[str] = field(default_factory=list)
    boosts: dict = field(default_factory=dict)

    @staticmethod
    def from_text(text: str) -> "QuerySpec":
        return QuerySpec(should=[t for t, _ in tokenize_fast(text)])

    def clause_terms(self) -> list[str]:
        """Scored clauses in accumulation order: Must first, then Should."""
        return list(self.must) + list(self.should)

    def boost_of(self, term: str) -> float:
        return float(self.boosts.get(term, 1.0))

    def to_ast(self, term_fields: dict | None = None) -> Boolean:
        """The kernel's AST of this spec, the inverse of
        :func:`serving_exec.ast_to_queryspec_fields`: Must, then Should,
        then MustNot clauses, each a ``Boost(Term)`` over the term's
        ordered (field, f32 boost) scopes — ``content`` at boost 1 when
        ``term_fields`` is None.  Scores are bit-equal to the AST it was
        lowered from: the kernel sums Must before Should, in clause
        order, and folds boosts in the same f32 steps."""
        def leaf(t: str) -> Boost:
            scopes = (
                (("content", 1.0),) if term_fields is None
                else term_fields.get(t, ())
            )
            return Boost(
                Term(tuple(QueryField(f, b) for f, b in scopes), t),
                self.boost_of(t),
            )

        return Boolean(tuple(
            [Clause(MUST, leaf(t)) for t in self.must]
            + [Clause(SHOULD, leaf(t)) for t in self.should]
            + [Clause(MUST_NOT, leaf(t)) for t in self.must_not]
        ))


def external_id(key: tuple) -> str:
    """A document's external id: its key tuple joined by '/'."""
    return "/".join(str(v) for v in key)


@dataclass(frozen=True)
class IdMap:
    """Preloaded docid -> key tuple map of one serving index, and its
    reverse (key tuple -> every docid that carries it, superseded
    revisions included).  Keys stay tuples: a '/'-joined string is
    ambiguous once a key column holds '/'.  ``complete`` is False when
    the preload hit its row bound: a docid or key the map lacks may
    then still exist in docmeta."""

    key_cols: tuple[str, ...]
    ext: dict[int, tuple]
    rev: dict[tuple, tuple[int, ...]]
    complete: bool

    @staticmethod
    def of(key_cols, pairs, complete: bool) -> "IdMap":
        return IdMap(tuple(key_cols), {}, {}, True).extended(pairs, complete)

    def extended(self, pairs, complete: bool) -> "IdMap":
        """This map plus ``(docid, key)`` pairs, under
        ``PRELOAD_MAX_ROWS``.  Both dicts are copied, so the snapshot
        that holds this map keeps it unchanged."""
        ext, rev = dict(self.ext), dict(self.rev)
        for d, k in pairs:
            if len(ext) >= PRELOAD_MAX_ROWS:
                complete = False
                break
            ext[d] = k
            rev[k] = rev.get(k, ()) + (d,)
        return IdMap(self.key_cols, ext, rev, self.complete and complete)

    def superseded(self, keys) -> list[int] | None:
        """Sorted docids carrying any of ``keys``, or None when the map
        is incomplete.  A key with a null column matches nothing, like
        the docmeta semi-join this replaces."""
        if not self.complete:
            return None
        return sorted({
            d for k in keys if None not in k for d in self.rev.get(k, ())
        })


@dataclass(frozen=True)
class TombSet:
    """Preloaded tombstoned docids of one serving index: sorted, unique
    int64.  ``complete`` is False past ``PRELOAD_MAX_ROWS`` (``ids`` is
    then empty); the local lane then declines and queries keep the
    distributed cogroup route."""

    ids: np.ndarray
    complete: bool

    @staticmethod
    def of(ids) -> "TombSet":
        arr = np.unique(np.asarray(ids, dtype=np.int64))
        if arr.size > PRELOAD_MAX_ROWS:
            return TombSet(np.empty(0, dtype=np.int64), False)
        return TombSet(arr, True)

    def extended(self, ids) -> "TombSet":
        if not self.complete:
            return self
        return self.of(
            np.concatenate([self.ids, np.asarray(ids, dtype=np.int64)])
        )


NO_TOMBSTONES = TombSet(np.empty(0, dtype=np.int64), True)


@dataclass
class ServingIndex(TermStats):
    """Compressed, query-ready index: block table + stats + idmap."""

    blocks: DataFrame
    termstats: DataFrame
    docmeta: DataFrame
    fieldstats: DataFrame
    bucket_shift: int = DEFAULT_BUCKET_SHIFT
    n_term_partitions: int = DEFAULT_TERM_PARTITIONS
    tombstones: DataFrame | None = None
    has_positions: bool = False  # pos_bytes sidecar present in blocks
    # the block writer's codec family (manifest.BuildManifest.codec):
    # from the manifest at load, from the blockify at build; upsert
    # deltas and compaction write new blocks with it
    codec: str = "vint"
    _cached_stats: tuple[int, int] | None = None
    _term_df_cache: dict | None = None
    # MUST be a declared field: lifecycle ops clone the index via
    # dataclasses.replace(), which silently drops plain attributes — a
    # lost completeness flag over a PARTIAL cache would make tail terms
    # read as absent (silently wrong top-k).  False is the safe default:
    # it only costs a filtered collect for cache misses.
    _term_df_complete: bool = False
    # preload_bucket_coverage() planning stats (long-lived serving)
    # term -> (n_buckets, block-skippable fraction, max block shape);
    # the shape max is weight-independent (bound = weight × shape), so
    # MaxScore whole-list upper bounds come from it for free
    _bucket_cov: dict | None = None
    # completeness + truncation floor for the BOUNDED coverage cache —
    # declared fields for the same dataclasses.replace() law as
    # _term_df_complete: a dropped flag would make consumers read a
    # truncated cache as authoritative.  When incomplete, an absent
    # term is EVICTED-or-absent, not absent: its true bucket coverage
    # is provably ≤ _bucket_cov_min_nb (the smallest kept entry — the
    # cache keeps the top-max_terms BY coverage), which is the upper
    # bound the routing gates fall back to.
    _bucket_cov_complete: bool = False
    _bucket_cov_min_nb: int | None = None
    _total_buckets: int | None = None
    _phrase_wl_cache: dict | None = None  # rare-slot docid whitelists (FIFO)
    # preload_idmap() docid <-> key tuple (Quiver's idmap section) — a
    # declared field so tombstone deletes (dataclasses.replace) keep it
    _idmap: IdMap | None = None
    # the tombstone set as the local lane reads it (preload_tombstones,
    # or extended on the driver by delete_documents / upsert); None
    # while not yet preloaded
    _tombset: TombSet | None = None
    # the high-watermark: the largest docid ever leased (docmeta's max,
    # or above it once compaction dropped the top); upserts lease above
    # it.  Carried through compaction and the manifest
    _max_docid: int | None = None

    def preload_bucket_coverage(self,
                                max_terms: int = PRELOAD_MAX_ROWS) -> int:
        """Long-lived-serving planning statistic, one grouped pass over
        the block table per process: per term, (a) docid-bucket coverage
        and (b) bound FLATNESS — the q25/max ratio of the term's
        per-BLOCK block-max score shape (weight-independent: computed
        at weight 1 with the snapshot avgdl, and every real bound is
        weight × shape).  Flatness is measured at 128-posting BLOCK
        granularity, not per bucket: since the kernel skips individual
        blocks under θ (argus.rs:4474-4520 granularity), a df≈N term
        whose bucket bounds are flat but whose blocks vary in
        (max_tf, min_fieldnorm) is still prunable, and the gate must
        not route it to the exhaustive pass.

        BOUNDED like ``preload_termstats`` (the same 100-TB-vocabulary
        driver-OOM law — and since round 5 the engine SELF-warms on
        first search, so this collect must be safe unconditionally):
        the cache keeps the top-``max_terms`` by bucket coverage — the
        wide-coverage head is what the dispersion/coverage gates and
        MaxScore bounds need, and an EVICTED tail term is still usable
        by the routing gates because eviction itself is information:
        its true coverage is ≤ ``_bucket_cov_min_nb`` (the smallest
        kept entry), the upper bound `_coverage_gap` /
        `_must_coverage_frac` fall back to.  Consumers that need exact
        per-term values (MaxScore elimination) disable themselves on a
        miss.  Either way a miss only relaxes ROUTING, never ranks.

        This is what lets :func:`wand_topk` decide BEFORE paying for the
        distributed bound pass whether pruning can possibly skip work:
        coverage gaps are the buckets the Must rule / θ-bounds can drop,
        and per-block shape variation (doc-length or tf skew) is what
        lets θ clear blocks even at full coverage.  Only when every
        clause term covers ~every bucket WITH near-identical per-block
        shape is the bound distribution provably flat.  The reference
        reads the same signals for free from its mmap'd block-max
        section; one cached job is the Spark-native analogue."""
        doc_count, total_tokens = self.stats()
        avgdl = float(compute_avgdl(total_tokens, doc_count))

        def shape(pdfs):
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                s = block_max_score(
                    pdf["mtc"].to_numpy(dtype=np.int64),
                    pdf["mfn"].to_numpy(dtype=np.int64),
                    np.float32(avgdl),
                    np.float32(1.0),
                )
                yield pd.DataFrame(
                    {
                        "term": pdf["term"],
                        "bucket": pdf["bucket"],
                        "shape": s.astype(np.float64),
                    }
                )

        per_block = self.blocks.select(
            "term",
            "bucket",
            F.col("max_tf_code").alias("mtc"),
            F.col("min_fieldnorm_id").alias("mfn"),
        )
        rows = (
            per_block.mapInPandas(
                shape, "term string, bucket long, shape double"
            )
            .groupBy("term")
            .agg(
                F.countDistinct("bucket").alias("nb"),
                F.max("shape").alias("mx"),
                F.expr(SHAPE_QUANTILE_SQL).alias("qs"),
            )
            .orderBy(F.desc("nb"), F.asc("term"))
            .limit(max_terms)
            .collect()
        )
        # per term: (bucket coverage, estimated block-skippable fraction,
        # whole-list max bound shape — MaxScore's U_t at weight 1)
        self._bucket_cov = {
            r["term"]: (
                int(r["nb"]),
                _frac_low(r["qs"], r["mx"]),
                float(r["mx"]) if r["mx"] is not None else None,
            )
            for r in rows
        }
        self._bucket_cov_complete = len(rows) < max_terms
        self._bucket_cov_min_nb = min(
            (e[0] for e in self._bucket_cov.values()), default=0
        )
        self._total_buckets = int(
            self.blocks.select("bucket").distinct().count()
        )
        return len(self._bucket_cov)

    def preload_idmap(self, key_cols: list[str],
                      max_rows: int = PRELOAD_MAX_ROWS) -> int:
        """docid <-> key tuple collected once per process, so
        ``engine.search`` resolves hits, and ``upsert()`` finds the
        docids it supersedes, without a Spark job.  BOUNDED
        like the other preloads (the lowest ``max_rows`` docids — a
        driver OOM guard, not a ranking choice): past the bound only
        the docids the map lacks fall back to a filtered collect."""
        plan = self.docmeta.select("docid", *key_cols)
        # doc_count IS the docmeta row count (build_fieldstats).  Only
        # past the bound does the collect need a top-k: Spark's
        # TakeOrderedAndProject sizes its per-task buffers by the limit
        # (2M rows ≈ 100 MB of JVM heap on a 5,000-doc index)
        complete = self.stats()[0] < max_rows
        if not complete:
            plan = plan.orderBy("docid").limit(max_rows)
        rows = plan.collect()
        self._idmap = IdMap.of(
            key_cols,
            ((int(r["docid"]), tuple(r[c] for c in key_cols)) for r in rows),
            complete,
        )
        if complete:
            # the larger of the observed and the carried maxima: a
            # compacted or loaded index carries docids its docmeta no
            # longer holds, and those must never be leased again
            self._max_docid = max(
                max(self._idmap.ext, default=-1),
                -1 if self._max_docid is None else self._max_docid,
            )
        return len(rows)

    def preload_tombstones(self) -> int:
        """The tombstoned docids collected once (bounded at
        ``PRELOAD_MAX_ROWS``), so the driver-local lane drops them
        in-process instead of declining."""
        rows = (
            self.tombstones.select(F.col("docid").cast("long"))
            .distinct()
            .limit(PRELOAD_MAX_ROWS + 1)
            .collect()
        )
        self._tombset = TombSet.of([r[0] for r in rows])
        return len(rows)

    def high_watermark(self) -> int:
        """Largest docid ever leased (-1 when empty): tracked on the
        driver once known — load, compaction, preload_idmap and upserts
        set it — else one aggregate over docmeta."""
        if self._max_docid is None:
            m = self.docmeta.agg(F.max("docid")).collect()[0][0]
            self._max_docid = -1 if m is None else int(m)
        return self._max_docid


@dataclass
class ServingMultiIndex:
    """Several single-field serving indexes over ONE docid space (the
    durable form of MultiFieldIndex — content + title^2 etc.).

    Per-field blocks/termstats/fieldstats; docmeta, tombstones and the
    global doc_count come from the primary field."""

    fields: dict[str, ServingIndex]
    primary_name: str
    field_cols: dict[str, str] | None = None  # field -> source column
    # (persisted in the root manifest so loaded engines can upsert)

    @property
    def primary(self) -> ServingIndex:
        return self.fields[self.primary_name]

    @property
    def docmeta(self):
        return self.primary.docmeta

    @property
    def tombstones(self):
        return self.primary.tombstones

    @property
    def termstats(self):
        # primary-field stats (content-based snippet weighting)
        return self.primary.termstats

    def stats(self) -> tuple[int, int]:
        return self.primary.stats()

    def preload_termstats(self) -> int:
        return sum(f.preload_termstats() for f in self.fields.values())

    def preload_bucket_coverage(self) -> int:
        return sum(
            f.preload_bucket_coverage() for f in self.fields.values()
        )

    @property
    def _idmap(self) -> IdMap | None:
        return self.primary._idmap

    def preload_idmap(self, key_cols: list[str]) -> int:
        return self.primary.preload_idmap(key_cols)

    @property
    def _tombset(self) -> TombSet | None:
        return self.primary._tombset

    def preload_tombstones(self) -> int:
        return self.primary.preload_tombstones()

    def high_watermark(self) -> int:
        return self.primary.high_watermark()


def serving_from_built(built, bucket_shift: int = DEFAULT_BUCKET_SHIFT,
                       n_term_partitions: int = DEFAULT_TERM_PARTITIONS,
                       cache: bool = True, with_positions: bool = True,
                       codec: str = "vint"):
    """The one conversion of a built index (``BuiltIndex`` or
    ``MultiFieldIndex``) into serving form (``ServingIndex`` or
    ``ServingMultiIndex``), and the one place a layout is chosen: each
    field's grouped frame is blockified under the given layout
    (``merge.build_blocks_grouped``: whole rows, no per-posting
    explode) and the blocks persisted under ``cache``.  Docmeta, the
    stats tables and the tombstones are carried over as they are."""
    from frankensearch_spark.operators.merge import build_blocks_grouped

    if hasattr(built, "fields"):
        return ServingMultiIndex(
            {
                name: serving_from_built(
                    sub, bucket_shift, n_term_partitions, cache,
                    with_positions, codec,
                )
                for name, sub in built.fields.items()
            },
            built.primary_name,
            field_cols=built.field_cols,
        )
    positions = built.positions if with_positions else None
    grouped = built.postings_grouped
    if positions is None and "positions" in grouped.columns:
        grouped = grouped.drop("positions")
    blocks = build_blocks_grouped(
        grouped, bucket_shift, n_term_partitions, codec=codec
    )
    if cache:
        blocks = blocks.persist()
    return ServingIndex(
        blocks, built.termstats, built.docmeta, built.fieldstats,
        bucket_shift, n_term_partitions, built.tombstones,
        has_positions=positions is not None, codec=codec,
    )


def _clause_mult(spec: QuerySpec) -> dict:
    """term -> scored-clause multiplicity ('+foo foo' counts foo twice,
    matching the exact scorers' clause loop and the bucket bound)."""
    mult: dict = {}
    for t in spec.clause_terms():
        mult[t] = mult.get(t, 0) + 1
    return mult


def _maxscore_split(spec: QuerySpec, weights: dict, tf_order: dict,
                    fidx: dict, theta: float) -> set:
    """Term-level MaxScore split (argus.rs:29,4463-4485): the set of
    NON-essential scored terms under the certified θ.

    The reference's MaxScore sorts clause terms ascending by whole-list
    upper bound and stops advancing the low-weight cursors once θ
    exceeds their residual sum — documents found ONLY in those lists can
    never reach the top-k.  The Spark analogue: a term t's whole-list
    bound is ``Σ_fields mult_t · weight_{f,t} · max_block_shape_{f,t}``
    (the shape max is cached weight-independent by
    ``preload_bucket_coverage``; ``bound = weight × shape`` since
    block_max_score is linear in the weight).  The longest ascending
    prefix whose f32-envelope-inflated cumulative sum stays BELOW θ is
    non-essential: a doc with postings only in those lists scores at
    most that cumsum < θ, while the merge already holds k exact scores
    ≥ θ from the seed phase — dropping it cannot change the top-k.

    Returns the non-essential term set; empty when the split cannot be
    certified (preload missing, any scored term's shape unknown, θ not
    finite, or the reference's 2..=8 direct-term gate unmet).  Only
    pure-Should shapes qualify: Must terms already gate candidacy and
    MustNot exclusions must see every candidate."""
    if not math.isfinite(theta) or theta <= 0.0:
        return set()
    if spec.must or spec.must_not:
        return set()
    terms = list(dict.fromkeys(spec.clause_terms()))
    if not 2 <= len(terms) <= 8:
        return set()
    mult = _clause_mult(spec)
    u: dict = {}
    n_contrib = 0
    for t in terms:
        tot = 0.0
        any_field = False
        for f in tf_order.get(t, ()):
            w = weights.get((f, t))
            if w is None:
                continue
            cov = getattr(fidx.get(f), "_bucket_cov", None)
            ent = cov.get(t) if cov else None
            mx = ent[2] if ent is not None and len(ent) > 2 else None
            if mx is None:
                return set()  # cannot certify this term's bound
            tot += float(w) * float(mx)
            any_field = True
            n_contrib += mult.get(t, 0)
        if not any_field:
            continue  # unscored term (absent everywhere): contributes 0
        u[t] = tot * mult.get(t, 0)
    if len(u) < 2:
        return set()
    infl = 1.0 + _F32_EPS * max(n_contrib, 1)
    non_essential: set = set()
    acc = 0.0
    for t in sorted(u, key=lambda t: (u[t], t)):
        acc += u[t]
        if acc * infl >= theta:
            break
        non_essential.add(t)
    if len(non_essential) == len(u):
        # θ above the sum of every bound can't happen for a real θ; be
        # safe and keep at least the largest-bound term essential
        non_essential.discard(max(u, key=lambda t: (u[t], t)))
    return non_essential


def _jvm_bucket_bounds(meta: DataFrame, must_set: set, weights: dict,
                       avgdls: dict, mult: dict) -> DataFrame:
    """Phase-A per-bucket conservative bounds as pure whole-stage
    codegen — NO Python stage (round 3; the pandas kernel this replaces
    cost an ArrowEvalPython round trip on the θ path's critical chain).

    Per aggregated (bucket, field, term) metadata row the contribution
    is ``mult_t · w_{f,t} · fmax(mtc) / (fmax(mtc) + norm_f(mfn))``
    (contract.rs:335-367 block bound): ``w``/``mult`` ride a per-group
    broadcast LUT, ``norm`` a 256-row per-field LUT of the f32
    ``cached_tf_component`` values.  The f64 product is inflated by one
    f32 ulp so it upper-bounds the kernel's f32 ``block_max_score``
    (whose rounding can land ON the achievable score); the per-bucket
    sum then takes the ``n·eps`` any-order envelope
    (conservative_bound_sum's law, argus.rs:3918-3973) — so every
    emitted bound dominates every possible f32 accumulation of true
    scores, and θ-pruning on it stays rank-safe.

    CLAUSE MULTIPLICITY is preserved (``mult``): the exact scorers
    accumulate a term once per scored clause ('+foo foo' adds foo
    twice); deduplicating would halve the bound and let θ skip buckets
    holding true top-k docs (the round-2 adversarial test).

    Buckets missing any Must term (absent from EVERY queried field)
    drop via the distinct-present-must-terms count — the
    bucket-granular required-clause rule.  Emits
    (bucket, bound, n_postings), same contract as the old kernel."""
    from frankensearch_spark.contract import (
        cached_tf_component,
        id_to_fieldnorm,
    )

    spark = meta.sparkSession
    wrows = [
        (f, t, float(w), int(mult.get(t, 0)), t in must_set)
        for (f, t), w in weights.items()
    ]
    wlut = spark.createDataFrame(
        wrows,
        "field string, term string, w double, mult int, is_must boolean",
    )
    nrows = []
    for f, avgdl in avgdls.items():
        norms = cached_tf_component(
            id_to_fieldnorm(np.arange(256, dtype=np.int64)), avgdl
        )
        nrows.extend((f, int(i), float(norms[i])) for i in range(256))
    nlut = spark.createDataFrame(nrows, "field string, mfn int, norm double")
    j = (
        meta.join(F.broadcast(wlut), ["field", "term"], "left")
        .join(F.broadcast(nlut), ["field", "mfn"], "left")
    )
    fmax = (
        F.when(F.col("mtc") >= 255, F.lit(4294967295.0))
        .otherwise(F.col("mtc").cast("double"))
    )
    b = F.when(F.col("mtc") <= 0, F.lit(0.0)).otherwise(
        F.col("w") * fmax / (fmax + F.col("norm"))
    )
    contrib = F.coalesce(
        b * F.col("mult") * F.lit(1.0 + 2.0 * _F32_EPS), F.lit(0.0)
    )
    agg = j.groupBy("bucket").agg(
        F.sum(contrib).alias("b0"),
        F.coalesce(F.sum("mult"), F.lit(0)).alias("ncon"),
        F.count_distinct(
            F.when(F.col("is_must"), F.col("term"))
        ).alias("nmust"),
        F.sum("n_postings").alias("n_postings"),
    )
    if must_set:
        agg = agg.filter(F.col("nmust") == len(must_set))
    return agg.select(
        "bucket",
        (
            F.col("b0") * (F.lit(1.0) + F.lit(_F32_EPS) * F.col("ncon"))
        ).alias("bound"),
        "n_postings",
    )


def _block_prefilter(blocks_df: DataFrame, theta: float, weights: dict,
                     avgdls: dict, mult: dict) -> DataFrame:
    """JVM-visible per-row block-θ prefilter, applied BEFORE the bucket
    shuffle so skipped blocks never cross the exchange or reach Python.

    A block of scored group g = (field, term) is droppable when
    ``mult_g·bound(block) + Σ_{g'≠g} mult_{g'}·weight_{g'} < θ``: every
    doc it covers stays below θ even if every OTHER clause contributes
    its absolute cap (``block_max_score ≤ weight`` since f/(f+norm)<1).
    The predicate depends only on (max_tf_code, min_fieldnorm_id), so it
    compiles to a broadcast lookup: per group a 256-row
    ``min_fieldnorm_id -> minimal admissible max_tf_code`` table,
    joined and filtered entirely JVM-side (whole-stage codegen, no UDF).
    Unscored rows (must_not terms) pass through.  Any block this filter
    drops, the in-kernel interval mask would also drop under the same
    tiling (its interval-sum bound is ≤ the absolute-cap bound used
    here) — but removing a block SHIFTS the mask's tiling for its
    neighbors, so decode-count receipts must replay the mask over the
    post-prefilter rows, not the full set (see PruningReceipt)."""
    spark = blocks_df.sparkSession
    n_contrib = sum(mult.get(t, 0) for (_f, t) in weights)
    total_cap = sum(
        mult.get(t, 0) * float(w) for (f, t), w in weights.items()
    )
    infl = 1.0 + _F32_EPS * max(n_contrib, 1)
    codes = np.repeat(np.arange(256, dtype=np.int64), 256)
    mfns = np.tile(np.arange(256, dtype=np.int64), 256)
    rows = []
    for (f, t), w in weights.items():
        mm = mult.get(t, 0)
        if not mm:
            continue
        cap_other = total_cap - mm * float(w)
        b = block_max_score(codes, mfns, avgdls[f], w).astype(np.float64)
        ok = ((mm * b + cap_other) * infl >= theta).reshape(256, 256)
        any_ok = ok.any(axis=0)
        first = np.argmax(ok, axis=0)  # codes are bound-monotone; even
        # if not, >= first keeps a SUPERSET of admissible codes (safe)
        mtc_min = np.where(any_ok, first, 256)
        rows.extend(
            (f, t, int(m), int(c)) for m, c in enumerate(mtc_min)
        )
    if not rows:
        return blocks_df
    lut = spark.createDataFrame(
        rows, "field string, term string, min_fieldnorm_id int, mtc_min int"
    )
    out = blocks_df.join(
        F.broadcast(lut), ["field", "term", "min_fieldnorm_id"], "left"
    )
    return out.filter(
        F.col("mtc_min").isNull() | (F.col("max_tf_code") >= F.col("mtc_min"))
    ).drop("mtc_min")


def _wand_fields(index) -> tuple[dict, "ServingIndex"]:
    """(field name -> per-field index, primary) for every index form:
    anything with ``.fields`` is multi-field; a single-field index
    exposes its one field as ``content`` (the engine schema's default)."""
    if hasattr(index, "fields"):
        return dict(index.fields), index.primary
    return {"content": index}, index


def _prepare(index, spec: QuerySpec, term_fields: dict | None = None):
    """Driver-side: broadcast-able term stats -> per-(field, term)
    weights, per-field tf caches/avgdls, the union candidate block scan
    (each field's blocks tagged with its name), and the per-field stats.

    ``term_fields``: term -> ordered tuple of (field name, f32 field
    boost); defaults to ``content`` with boost 1 (the flat QuerySpec
    surface).  Returns None when a Must term is absent from every one of
    its fields (no document can match)."""
    fidx, primary = _wand_fields(index)
    uniq: list[str] = []
    for t in spec.clause_terms() + list(spec.must_not):
        if t not in uniq:
            uniq.append(t)
    if not uniq:
        return None
    if term_fields is None:
        term_fields = {t: (("content", 1.0),) for t in uniq}
    doc_count, _tt = primary.stats()
    field_names: list[str] = []
    for t in uniq:
        for fname, _fb in term_fields.get(t, ()):
            if fname in fidx and fname not in field_names:
                field_names.append(fname)
    if not field_names:
        return None
    stats = {f: fidx[f].df_of_terms(uniq) for f in field_names}
    tf_order = {}  # term -> ordered field names actually queryable
    for t in uniq:
        tf_order[t] = tuple(
            fname for fname, _fb in term_fields.get(t, ()) if fname in fidx
        )
    for t in spec.must:
        if not any(stats[f].get(t) for f in tf_order.get(t, ())):
            return None
    avgdls: dict = {}
    tf_caches: dict = {}
    for f in field_names:
        _n, total_tokens = fidx[f].stats()
        avgdls[f] = compute_avgdl(total_tokens, doc_count)
        tf_caches[f] = compute_tf_cache(avgdls[f])
    weights = {}
    for t in uniq:
        if t in spec.must_not:
            continue
        for fname, fboost in term_fields.get(t, ()):
            if fname not in fidx:
                continue
            df = stats[fname].get(t)
            if not df:
                continue
            weights[(fname, t)] = leaf_weight(
                df, doc_count, spec.boost_of(t), fboost
            )
    # WAND never touches positions: the scan carries no pos_bytes
    cand = candidate_blocks(fidx, {
        f: [t for t in uniq if stats[f].get(t) and f in tf_order[t]]
        for f in field_names
    })
    if cand is None:
        return None
    return weights, tf_caches, avgdls, cand, stats, tf_order


@dataclass
class PruningReceipt:
    """Proof the pruned path ran and how much it skipped (the reference's
    pruning-conformance receipts, index.rs:2434-2560, reduced to counts).

    ``buckets_unmatchable`` counts candidate buckets dropped by the
    bucket-granular required-clause rule (a Must term absent from every
    queried field) — they never reach the bound ranking at all."""

    buckets_total: int = 0
    buckets_scored: int = 0
    buckets_unmatchable: int = 0
    theta: float = float("-inf")
    # BLOCK-granular receipt (argus.rs:4474-4520 granularity), measured
    # over the post-θ survivor buckets.  blocks_total counts every block
    # row in those buckets; blocks_after_prefilter counts rows that
    # crossed the exchange after the JVM broadcast-LUT prefilter; and
    # blocks_decoded replays the kernel's interval mask over EXACTLY the
    # post-prefilter rows the bucket tasks received (the mask's tiling
    # depends on which rows are present, so replaying over the full set
    # would under-count decodes — caught in round-3 review).
    blocks_total: int = 0
    blocks_after_prefilter: int = 0
    blocks_decoded: int = 0
    # term-level MaxScore receipt (argus.rs:4463-4485): scored clause
    # terms vs the count eliminated as candidate GENERATORS (their
    # blocks decode only where an essential-list candidate exists)
    terms_scored: int = 0
    terms_nonessential: int = 0

    @property
    def buckets_skipped(self) -> int:
        return self.buckets_total - self.buckets_scored

    @property
    def blocks_skipped(self) -> int:
        return self.blocks_total - self.blocks_decoded


WAND_MIN_COST = 16_384  # argus.rs:31 — prune only past this posting volume
# Driver-local serving lane (:func:`local_lane_topk`): when a point
# query's exact posting volume — Σ df over every (field, term) pair its
# candidate scan carries, MustNot and phrase terms included, known from
# preloaded stats — fits under this cap, the candidate block rows
# collect in ONE action and the shared per-bucket scorer
# (bucketscore.bucket_scorer) runs in-process.  Its two callers:
# wand_topk's run_topk (every flat shape, single terms included) and
# the bucket-lane twin (batchexec.bucket_lane_local) that serves
# phrases, nested booleans and split identifiers.  Byte bound at the
# cap, from the 5,000-doc clustered benchmark corpus: doc/tf/norm bytes
# take 3.3 B per posting (≈3.3 MB; the block-max columns add 8 B per
# 128-posting block), and phrase terms add their pos_bytes, 1.2 B per
# position or 2.0 B per posting — ≤ ~5.3 MB when every posting carries
# positions.  Measured 2M i.i.d.: the bucket exchange + Python-worker
# stage cost more wall-clock than the whole kernel for such shapes.
# Above the cap the distributed paths run unchanged; driver memory is
# bounded by the cap, never the corpus.
LOCAL_LANE_MAX_POSTINGS = 1_000_000
# The local lane is a LATENCY optimization for an idle server: its
# driver-side pandas groupby/concat holds the GIL, so N concurrent
# local-lane queries serialize (~1.45x overlap at 8 threads, measured
# sf0.1 r5) while the distributed path overlaps ~2.9x through Spark's
# FAIR scheduler.  Cap in-flight local-lane queries — excess concurrent
# queries spill to the distributed path, where executor capacity is
# idle exactly when the driver is the bottleneck.  Both lanes are
# bit-identical (pinned), so the route is purely a performance choice.
LOCAL_LANE_MAX_INFLIGHT = 2
_local_lane_slots = threading.BoundedSemaphore(LOCAL_LANE_MAX_INFLIGHT)


def lane_tombstones(index) -> np.ndarray | None:
    """The docids the driver-local lane must drop: empty without
    tombstones, the preloaded set with them, or None when the set is not
    preloaded or past its bound (the lane then declines)."""
    if index.tombstones is None:
        return NO_TOMBSTONES.ids
    ts = getattr(index, "_tombset", None)
    return ts.ids if ts is not None and ts.complete else None


def local_lane_topk(blocks_df: DataFrame, score_bucket, want: int,
                    volume: int, dead: np.ndarray | None,
                    bucket_shift: int) -> list | None:
    """Driver-local top-``want`` over candidate block rows, or None when
    the lane declines: ``dead`` (the :func:`lane_tombstones` set) is
    None, ``volume`` (postings the scan carries) is over
    ``LOCAL_LANE_MAX_POSTINGS``, or every ``_local_lane_slots`` slot is
    held — the caller then runs its distributed plan.

    ONE collect of the still-compressed candidate block rows, grouped by
    bucket, each group through ``score_bucket(pdf, tomb)`` (the
    :func:`bucketscore.bucket_scorer` closure returning ``docid``/
    ``score`` rows, the same one the distributed plan hands to
    applyInPandas / cogroup) — no bucket
    exchange, no Python-worker stage.  ``tomb`` is the bucket's slice of
    ``dead`` as a ``docid`` frame, exactly the right side the cogroup
    route delivers, or None when the bucket holds no tombstone.  This is
    the reference's in-process serving shape (argus.rs runs the whole
    cursor tree in one thread) and the same driver-local twin discipline
    as hybrid fusion.  Bit parity is structural: the per-bucket scorer
    is the distributed one, and the final merge in
    ``score_total_order_key`` order equals
    ``orderBy(desc score, asc docid).limit(want)``."""
    if (
        dead is None
        or volume > LOCAL_LANE_MAX_POSTINGS
        or not _local_lane_slots.acquire(blocking=False)
    ):
        return None
    try:
        pdf_all = blocks_df.toPandas()
        outs = []
        for b, g in pdf_all.groupby("bucket", sort=False):
            lo, hi = np.searchsorted(
                dead, [int(b) << bucket_shift, (int(b) + 1) << bucket_shift]
            )
            tomb = pd.DataFrame({"docid": dead[lo:hi]}) if hi > lo else None
            out = score_bucket(g, tomb)
            if len(out):
                outs.append(out)
        if not outs:
            return []
        merged = pd.concat(outs, ignore_index=True)
        sc = merged["score"].to_numpy(dtype=np.float32)
        dc = merged["docid"].to_numpy(dtype=np.int64)
        order = score_total_order_key(sc, dc)[:want]
        return [(int(dc[i]), np.float32(sc[i])) for i in order]
    finally:
        _local_lane_slots.release()


COVERAGE_GAP_MIN = 0.05  # prune only if ≥5% of buckets lack some clause term
# Block-granular θ-pruning engages only when the estimated skippable
# block fraction clears this: the θ ceremony costs ~2 extra jobs, and
# skipping b% of blocks saves ~b% of ONE decode job — measured on the
# 2M i.i.d. index, a real mega-term θ skips just 6% of blocks (θ lands
# within ~10% of the max block bound for small k), where the single
# exhaustive job is 2.5x faster than the ceremony.  Clustered/skewed
# corpora clear this easily (bimodal doc lengths → ~50%).
BLOCK_PRUNE_MIN_FRAC = 0.3
SHAPE_LOW_C = 0.85  # "skippable" proxy: bound < 0.85 × group max bound
# Quantile grid for the shape-flatness estimate.  _frac_low
# floor-quantizes the true low-shape fraction to the largest grid point
# it exceeds, so the grid must RESOLVE the BLOCK_PRUNE_MIN_FRAC=0.3
# decision boundary: points at 0.2/0.3/0.4 do that.  (A coarser
# 0.1/0.25/0.5 grid reported 0.25 for a bimodal doc-length corpus whose
# true skippable fraction was 0.47 — under the gate — and wrongly routed
# it to the exhaustive pass.)
SHAPE_QUANTILE_GRID = (0.1, 0.2, 0.3, 0.4, 0.5, 0.75, 0.9)
SHAPE_QUANTILE_SQL = (
    "percentile_approx(shape, array("
    + ", ".join(str(p) for p in SHAPE_QUANTILE_GRID)
    + "))"
)


def _frac_low(qs, mx) -> float:
    """Largest sampled quantile of a group's per-block bound shape that
    sits below ``SHAPE_LOW_C × max`` — a θ-free estimate of the
    block-skippable volume (θ for small k lands near the max bound)."""
    if not mx:
        return 0.0
    frac = 0.0
    for p, v in zip(SHAPE_QUANTILE_GRID, qs or ()):
        if v is not None and float(v) < SHAPE_LOW_C * float(mx):
            frac = p
    return frac


def _coverage_gap(fidx: dict, spec: QuerySpec, tf_order: dict,
                  stats: dict | None = None) -> float | None:
    """Largest prunability signal over the scored clause terms, from the
    preloaded per-term planning stats — or None when any queried field
    hasn't preloaded them (gate inactive).

    Per (term, field) the signal is ``max(coverage gap, block-skippable
    fraction)``: skipping a bucket needs some clause term to be absent
    there (Must rule / missing contribution), and skipping a BLOCK needs
    its bound below θ — estimated by the fraction of the term's blocks
    whose bound shape sits under ``SHAPE_LOW_C × max`` (only actionable
    past ``BLOCK_PRUNE_MIN_FRAC``: below that the θ ceremony's extra
    jobs cost more than the skipped decode, measured on the 2M i.i.d.
    index).  A query whose every term covers every bucket with
    near-identical per-block shape has provably near-uniform bounds,
    and the θ ceremony can only add jobs.

    The block-shape signal counts only for SINGLE-scored-term queries
    (round 4): with S scored clauses, θ is the k-th best SUM of
    contributions, so a block of term t skips only when
    ``w_t·shape_t < θ − Σ_{u≠t} max contribution_u`` — a cut that sits
    just under t's own maximum, not under ``SHAPE_LOW_C × max`` the
    per-term quantile signal tests.  The receipts bore this out on the
    2M i.i.d. index: natural/natural5/must queries skipped **0.0%** of
    blocks while the undiluted shape signal green-lit the ceremony
    (~3.2 s of bound/seed/θ jobs for nothing — natural5 6.9 s pruned
    vs 3.6 s exhaustive).  Multi-term prunability on clustered corpora
    flows through the coverage-gap signal instead (terms concentrated
    in docid ranges leave whole buckets absent), which this gate keeps
    for every clause count — the clustered 87–97% prune measurements
    all show large coverage gaps.

    ``stats`` (per-field term → df, already computed by ``_prepare``)
    disambiguates a coverage-cache MISS when the bounded preload
    truncated: with df > 0 the term EXISTS but was evicted for low
    coverage, so (a) it still counts toward the multi-term dilution of
    the block-shape signal, and (b) its coverage is provably ≤ the
    smallest cached entry (the cache keeps the top-max_terms BY
    coverage), which contributes a sound coverage-gap lower bound —
    without this, a huge-vocabulary index would misread evicted rare
    terms as absent and re-enable the round-4 undiluted-signal
    misroute this gate exists to prevent."""
    worst = 0.0
    any_seen = False

    def _scored(t):
        if stats is not None:
            return any(stats.get(f, {}).get(t) for f in tf_order.get(t, ()))
        return any(
            (getattr(fidx.get(f), "_bucket_cov", None) or {}).get(t)
            for f in tf_order.get(t, ())
        )

    contributing = [
        t for t in dict.fromkeys(spec.clause_terms()) if _scored(t)
    ]
    single_scored = len(contributing) <= 1
    for t in dict.fromkeys(spec.clause_terms()):
        for f in tf_order.get(t, ()):
            sub = fidx.get(f)
            cov = getattr(sub, "_bucket_cov", None)
            total = getattr(sub, "_total_buckets", None)
            if cov is None or not total:
                return None
            ent = cov.get(t)
            if ent is None:
                df = (stats or {}).get(f, {}).get(t, 0)
                if getattr(sub, "_bucket_cov_complete", True) or not df:
                    continue  # term absent from the field: no bound
                # evicted tail term: nb ≤ min(smallest kept nb, df)
                min_nb = getattr(sub, "_bucket_cov_min_nb", None)
                if min_nb is None:
                    continue
                nb_ub = min(min_nb, df, total)
                any_seen = True
                worst = max(worst, 1.0 - nb_ub / total)
                continue
            nb, frac = ent[0], ent[1]
            any_seen = True
            block_sig = (
                frac
                if (single_scored and frac >= BLOCK_PRUNE_MIN_FRAC)
                else 0.0
            )
            worst = max(worst, 1.0 - nb / total, block_sig)
    return worst if any_seen else None


def _must_term_nb_ub(fidx: dict, t: str, tf_order: dict,
                     stats: dict) -> int | None:
    """Summed per-field UPPER BOUND on the buckets that can contain
    Must term ``t``, or None when a queried field lacks the preloaded
    planning stats.  A coverage-cache miss under a TRUNCATED preload is
    still bounded: eviction keeps the top-max_terms by coverage, so the
    missing term's per-field bucket count is ≤ min(smallest kept nb,
    df) — rare Must terms (the ones the pre-restriction helps most) are
    exactly the entries a bounded cache evicts first, and without this
    fallback the gate would silently go dead at web-scale vocabulary."""
    nb = 0
    seen = False
    for f in tf_order.get(t, ()):
        sub = fidx.get(f)
        cov = getattr(sub, "_bucket_cov", None)
        tot = getattr(sub, "_total_buckets", None)
        if cov is None or not tot:
            return None
        ent = cov.get(t)
        if ent:
            nb += ent[0]
            seen = True
            continue
        df = stats.get(f, {}).get(t, 0)
        if getattr(sub, "_bucket_cov_complete", True) or not df:
            continue  # truly absent from this field
        min_nb = getattr(sub, "_bucket_cov_min_nb", None)
        if min_nb is None:
            return None
        nb += min(min_nb, df, tot)
        seen = True
    return nb if seen else None


def _must_coverage_frac(fidx: dict, spec: QuerySpec, tf_order: dict,
                        stats: dict) -> tuple[float, str, int] | None:
    """(worst coverage fraction, its Must term, that term's bucket-count
    upper bound) over the Must clauses, from the PRELOADED planning
    stats (long-lived serving only) — or None when unknown.

    Soundness: a matching doc contains every Must term, so only buckets
    where that term appears (in ANY of its queried fields) can hold
    matches — summing per-field bucket counts over-estimates coverage
    (shared buckets count twice), which only makes the gate MORE
    conservative about applying the restriction."""
    worst: tuple[float, str, int] | None = None
    for t in spec.must:
        nb = _must_term_nb_ub(fidx, t, tf_order, stats)
        if nb is None:
            return None
        total = 0
        for f in tf_order.get(t, ()):
            total = max(
                total, getattr(fidx.get(f), "_total_buckets", None) or 0
            )
        if not total:
            return None
        frac = min(1.0, nb / total)
        if worst is None or frac < worst[0]:
            worst = (frac, t, nb)
    return worst


# Spark-economics serving gates (round 5, measured on the 2M clustered
# corpora): one Spark job costs ~0.5 s of fixed constants at any data
# volume, so the bound/seed/θ ceremony (2-3 extra sequential jobs) only
# pays when the decode it avoids is tens of millions of postings.  The
# reference's WAND_MIN_COST=16k reflects in-process per-posting
# economics (argus.rs:31) and stays as the lower bound; these two gates
# encode the cluster-side job-constant economics on top:
# - a query whose whole posting volume fits the driver-local lane
#   (≤1M) answers fastest as ONE exhaustive/local job (measured:
#   should_repolocal θ-pruned 1.28-1.39 s vs exhaustive 0.59-0.73 s
#   even with θ skipping 98% of buckets);
# - a Must term covering ≤ this fraction of buckets already restricts
#   the candidate scan to that fraction (the semi-join below), so the
#   one restricted exhaustive job beats the ceremony regardless of
#   total volume (measured: must_repolocal gated 2.5 s -> ~1.0 s).
MUST_EXHAUSTIVE_MAX_FRAC = 0.10
# apply the must-bucket semi-join whenever coverage is known and below
# this (above it the join filters little and just adds a stage)
MUST_RESTRICT_MAX_FRAC = 0.5
# force-broadcast the restriction bucket set only when its size is
# BOUNDED IN ROWS (≈16 MB of longs), not merely in fraction — a 30-50%
# coverage fraction of a web-scale bucket space is still millions of
# rows, and an explicit broadcast hint would collect all of them on
# the driver per query; above the cap the semi-join runs unhinted
# (Catalyst/AQE picks shuffle vs broadcast from measured sizes)
MUST_BROADCAST_MAX_BUCKETS = 2_000_000


def wand_topk(
    index,
    spec: QuerySpec,
    k: int = 10,
    offset: int = 0,
    prune: bool = True,
    seed_buckets: int = 4,
    seed_scan_cap: int = 64,
    receipt: PruningReceipt | None = None,
    min_cost: int = WAND_MIN_COST,
    term_fields: dict | None = None,
) -> list[tuple[int, np.float32]]:
    """Top-k under the pinned total order via bucket-granular block-max WAND.

    ``index`` may be a single-field ServingIndex or a ServingMultiIndex
    (``term_fields`` then maps each term to its ordered (field, boost)
    scopes — see :func:`serving_exec.ast_to_queryspec_fields`).
    ``prune=False`` scores every candidate bucket (exhaustive-over-blocks);
    the pruned path is rank-identical by the conservative-bound theorem.

    Every bucket scores through ONE closure,
    :func:`bucketscore.bucket_scorer` over the kernel AST
    :meth:`QuerySpec.to_ast` rebuilds — on the driver-local lane, the
    bucket exchange (cogrouped with tombstones), or, for one scored
    clause, the batch executor's shuffle-free stream lane.  θ and
    MaxScore never score: they only drop block rows before decode
    (:class:`bucketscore.BlockPrune`).  Plan shape (no driver-side
    materialization beyond O(seed + k) rows):

      bounds   = cand.groupBy(bucket, field, term).agg(...) + LUT joins
                     (JVM codegen, no Python stage)            # distributed
      seeds    = bounds TakeOrderedAndProject(seed_scan_cap)   # tiny collect
      θ        = kth of scorer(seed buckets) top-k             # k-row collect
      winners  = scorer(buckets with bound ≥ θ, BlockPrune) top-k
    """
    prep = _prepare(index, spec, term_fields)
    if prep is None:
        return []
    weights, tf_caches, avgdls, cand, stats, tf_order = prep
    fidx, primary = _wand_fields(index)
    shift = primary.bucket_shift
    want = offset + k
    # the reference's cost gate (argus.rs:30-31): below WAND_MIN_COST
    # postings, bound/seed/θ orchestration costs more than one
    # exhaustive decode pass — run that single job instead.  Pruning also
    # needs enough BUCKETS that skipping some is worth the extra jobs:
    # below ~4x the seed set, the seed pass already touches most of the
    # corpus (bucket count ≈ doc_count / 2^shift, no job needed).
    # (min_cost=0 forces the pruned path — the tests' conformance mode)
    query_cost = sum(
        stats[f].get(t, 0)
        for t in dict.fromkeys(spec.clause_terms())
        for f in tf_order.get(t, ())
    )
    # what one exhaustive/local pass actually TOUCHES: the candidate
    # scan also carries every MustNot term's blocks (exclusions must
    # see all candidates), so volume-based routing decisions must
    # count them — query_cost alone would let `rare -mega` shapes
    # collect a mega term's whole block payload onto the driver
    collect_cost = query_cost + sum(
        stats[f].get(t, 0)
        for t in dict.fromkeys(spec.must_not)
        for f in tf_order.get(t, ())
    )
    est_buckets = max(1, primary.stats()[0] >> shift)
    if min_cost > 0 and (
        query_cost < min_cost or est_buckets < 4 * seed_buckets
    ):
        prune = False
    # bucket-granular required-clause PRE-restriction (round 5): when
    # preloaded coverage shows the rarest Must term lives in few
    # buckets, semi-join the whole candidate scan down to its buckets
    # before ANY path runs — a semantics-preserving plan shrink (docs
    # outside those buckets cannot match) that makes the exhaustive
    # path as cheap as the Must rule allows.  Tiny distinct on the
    # term's own block rows; broadcast-sized at any corpus scale.
    must_info = (
        _must_coverage_frac(fidx, spec, tf_order, stats)
        if spec.must
        else None
    )
    must_frac = must_info[0] if must_info is not None else None
    # at the default cost floor a query under the local-lane cap is
    # answered by ONE collect, where the kernel's own Must rule drops
    # the same buckets — the semi-join would only add its jobs
    lane_first = (
        min_cost >= WAND_MIN_COST
        and collect_cost <= LOCAL_LANE_MAX_POSTINGS
    )
    if (
        must_frac is not None
        and must_frac <= MUST_RESTRICT_MAX_FRAC
        and not lane_first
    ):
        _f, rarest, rarest_nb = must_info
        mb = cand.filter(F.col("term") == rarest).select("bucket").distinct()
        if receipt is not None:
            # the restriction IS the required-clause rule applied at
            # plan time — account the dropped buckets where that rule
            # already reports (receipt runs are untimed, extra counting
            # jobs are fine there)
            pre = cand.select("bucket").distinct().count()
            post = mb.count()
            receipt.buckets_unmatchable += max(0, pre - post)
        if rarest_nb <= MUST_BROADCAST_MAX_BUCKETS:
            mb = F.broadcast(mb)
        cand = cand.join(mb, "bucket", "left_semi")
    if min_cost >= WAND_MIN_COST and prune and (
        collect_cost <= LOCAL_LANE_MAX_POSTINGS
        or (must_frac is not None and must_frac <= MUST_EXHAUSTIVE_MAX_FRAC)
    ):
        # Spark job-constant economics (see the gate constants above):
        # the θ ceremony's extra jobs cannot beat one bounded decode.
        # Active only at the DEFAULT cost floor: a reduced min_cost is
        # the conformance/test knob for exercising the θ machinery on
        # small fixtures.
        prune = False
    if min_cost > 0 and prune:
        # coverage gate (active only in long-lived serving mode, after
        # preload_bucket_coverage): when every clause term is present in
        # ~every bucket, bounds are near-uniform and the bound/seed/θ
        # jobs cannot skip anything — answer with the one exhaustive
        # decode job instead
        gap = _coverage_gap(fidx, spec, tf_order, stats)
        if gap is not None and gap < COVERAGE_GAP_MIN:
            prune = False
    tomb = index.tombstones
    dead = lane_tombstones(index)
    from frankensearch_spark.operators.astexec import PreparedQuery

    query = PreparedQuery(
        0, spec.to_ast(term_fields),
        list(dict.fromkeys(spec.clause_terms() + list(spec.must_not))),
        list(tf_caches), False,
    )
    doc_count = primary.stats()[0]

    def run_topk(blocks_df, prune: BlockPrune | None = None,
                 stream: bool = False) -> list[tuple[int, np.float32]]:
        """The shared per-bucket scorer over ``blocks_df``: on the
        driver-local lane when its gate admits the query, else one
        distributed plan — the bucket exchange, or for ``stream`` (one
        scored clause) the batch executor's shuffle-free stream lane."""
        score_bucket = bucket_scorer(
            [query], stats, tf_caches, doc_count, want, shift, prune=prune,
        )
        local = local_lane_topk(
            blocks_df, score_bucket, want, collect_cost, dead, shift
        )
        if local is not None:
            return local
        if stream:
            from frankensearch_spark.operators.batchexec import (
                _stream_lane_scored,
            )

            (fname, t), w = next(iter(weights.items()))
            scored = _stream_lane_scored(
                fidx, primary, [(0, fname, t, w)], want, blocks_df
            )
        else:
            scored = bucket_plan(blocks_df, score_bucket, tomb, shift)
        rows = (
            scored.orderBy(F.desc("score"), F.asc("docid"))
            .limit(want)
            .collect()
        )
        return [(int(r["docid"]), np.float32(r["score"])) for r in rows]

    scored_terms = [
        t for t in spec.clause_terms()
        if any((f, t) in weights for f in tf_order.get(t, ()))
    ]
    if not prune or not scored_terms:
        # A single scored (field, term) clause — no MustNot, no
        # tombstones — over the local-lane cap, or spilled by a busy
        # lane, takes the SHUFFLE-FREE stream lane: every doc owns
        # exactly one posting, so each block scores where it lies and
        # TakeOrderedAndProject merges.  (An unscored Must term can't
        # slip through: with ONE clause term and ONE weight entry, that
        # term IS the scored clause; '+foo foo' multiplicity shapes fail
        # the clause_terms()==1 check.)
        winners = run_topk(cand, stream=(
            tomb is None
            and len(weights) == 1
            and not spec.must_not
            and len(spec.clause_terms()) == 1
        ))
    else:
        # Phase A: distributed per-bucket conservative bounds
        meta = cand.groupBy("bucket", "field", "term").agg(
            F.max("max_tf_code").alias("mtc"),
            F.min("min_fieldnorm_id").alias("mfn"),
            F.sum("n").alias("n_postings"),
        )
        bounds = _jvm_bucket_bounds(
            meta, set(spec.must), weights, avgdls, _clause_mult(spec)
        ).persist()
        # Dispersion gate: θ can only clear a bucket whose bound sits
        # BELOW the best achievable score, so when the bound distribution
        # is near-flat (i.i.d. corpora: every bucket holds near-identical
        # term statistics) the θ ceremony would score every bucket anyway
        # through two extra jobs.  One cheap metadata agg detects that;
        # the bypass still keeps the required-clause bucket filter (the
        # semi-join on bounds) and is rank-identical by construction.
        # min_cost=0 (the tests' conformance force mode) always takes
        # the full θ machinery.
        flat_bounds = False
        if min_cost > 0:
            disp = bounds.agg(
                F.max("bound").alias("mx"),
                F.expr("percentile_approx(bound, 0.25)").alias("q25"),
            ).collect()[0]
            flat_bounds = (
                disp["mx"] is not None
                and disp["q25"] is not None
                and disp["q25"] >= 0.98 * disp["mx"]
            )
        if flat_bounds:
            # flat BUCKET bounds no longer end the story: the
            # 128-posting BLOCKS inside those buckets may still vary
            # (block-max WAND's native granularity — a df≈N term on an
            # i.i.d. corpus is exactly this shape).  One metadata-only
            # agg estimates the block-skippable fraction per scored
            # group; the θ machinery re-engages only when it clears
            # BLOCK_PRUNE_MIN_FRAC (mere variation isn't enough — the
            # 2M i.i.d. receipts show θ skipping just 6% of a
            # mega-term's blocks, where exhaustive is 2.5x faster).
            scored_rows = cand
            if spec.must_not:
                scored_rows = cand.filter(
                    ~F.col("term").isin(list(spec.must_not))
                )

            def gshape(pdfs):
                for pdf in pdfs:
                    if len(pdf) == 0:
                        continue
                    out = []
                    for f in pdf["field"].unique():
                        sub = pdf[pdf["field"] == f]
                        s = block_max_score(
                            sub["max_tf_code"].to_numpy(np.int64),
                            sub["min_fieldnorm_id"].to_numpy(np.int64),
                            avgdls[f],
                            np.float32(1.0),
                        )
                        out.append(pd.DataFrame({
                            "field": sub["field"], "term": sub["term"],
                            "shape": s.astype(np.float64),
                        }))
                    yield pd.concat(out)

            grows = (
                scored_rows.select(
                    "field", "term", "max_tf_code", "min_fieldnorm_id"
                )
                .mapInPandas(gshape, "field string, term string, shape double")
                .groupBy("field", "term")
                .agg(
                    F.max("shape").alias("mx"),
                    F.expr(SHAPE_QUANTILE_SQL).alias("qs"),
                )
                .collect()
            )
            if any(
                _frac_low(r["qs"], r["mx"]) >= BLOCK_PRUNE_MIN_FRAC
                for r in grows
            ):
                flat_bounds = False
        if flat_bounds:
            winners = run_topk(
                cand.join(bounds.select("bucket"), "bucket", "left_semi")
            )
            if receipt is not None:
                receipt.buckets_total = bounds.count()
                receipt.buckets_scored = receipt.buckets_total
                receipt.buckets_unmatchable += (
                    cand.select("bucket").distinct().count()
                    - receipt.buckets_total
                )
            bounds.unpersist()
        else:
            # Phase A': certify θ by scoring the best-bounded buckets
            # exactly.  Only the seed CANDIDATES are collected
            # (≤ seed_scan_cap rows); the greedy postings-volume rule
            # runs over that tiny list.
            seed_rows = (
                bounds.orderBy(F.desc("bound"), F.asc("bucket"))
                .limit(seed_scan_cap)
                .collect()
            )
            seed: list[int] = []
            acc_n = 0
            for r in seed_rows:
                seed.append(int(r["bucket"]))
                acc_n += int(r["n_postings"])
                if len(seed) >= seed_buckets and acc_n >= 4 * want:
                    break
            winners = run_topk(cand.filter(F.col("bucket").isin(seed)))
            if len(winners) >= want:
                order = score_total_order_key(
                    np.array([s for _, s in winners], np.float32),
                    np.array([d for d, _ in winners], np.int64),
                )
                theta = float(np.float32(winners[order[want - 1]][1]))
            else:
                theta = -math.inf
            survivors = bounds.filter(
                (F.col("bound") >= theta) & ~F.col("bucket").isin(seed)
            ).select("bucket")
            rest = cand.join(survivors, "bucket", "left_semi")
            mult_map = _clause_mult(spec)
            pruned_rest = rest
            ne_terms: set = set()
            if theta != -math.inf:
                pruned_rest = _block_prefilter(
                    rest, theta, weights, avgdls, mult_map
                )
                ne_terms = _maxscore_split(
                    spec, weights, tf_order, fidx, theta
                )
            winners += run_topk(
                pruned_rest,
                None if theta == -math.inf else BlockPrune(
                    theta, weights, avgdls, mult_map, frozenset(ne_terms)
                ),
            )
            if receipt is not None:
                # extra counting jobs — only on request (receipts)
                receipt.buckets_total = bounds.count()
                receipt.buckets_scored = len(seed) + survivors.count()
                receipt.buckets_unmatchable += (
                    cand.select("bucket").distinct().count()
                    - receipt.buckets_total
                )
                receipt.theta = theta
                # count SCORED terms (some field weight exists) — the
                # population _maxscore_split's 2..=8 gate and
                # elimination actually operate on; an absent-from-
                # corpus clause term would otherwise inflate the count
                receipt.terms_scored = len(set(scored_terms))
                receipt.terms_nonessential = len(ne_terms)
                if theta != -math.inf:
                    # block-granular receipt: metadata-only replay of
                    # the kernel's interval mask over EXACTLY the rows
                    # the bucket tasks received (pruned_rest, i.e. after
                    # the JVM prefilter).  Replaying over the full rest
                    # would tile the intervals differently — a kept
                    # block's tile could end earlier and miss mass the
                    # kernel's coarser tiling credited it — so the full
                    # replay is NOT the decode count (round-3 review).
                    def count_blocks(pdf: pd.DataFrame) -> pd.DataFrame:
                        keepm = _block_keep_mask(
                            pdf, theta, weights, avgdls, mult_map, shift,
                        )
                        return pd.DataFrame(
                            {"t": [len(pdf)], "k": [int(keepm.sum())]}
                        )

                    receipt.blocks_total = rest.count()
                    crow = (
                        pruned_rest.select(
                            "bucket", "field", "term", "first_doc",
                            "max_tf_code", "min_fieldnorm_id",
                        )
                        .groupBy("bucket")
                        .applyInPandas(count_blocks, "t long, k long")
                        .agg(F.sum("t").alias("t"), F.sum("k").alias("k"))
                        .collect()[0]
                    )
                    receipt.blocks_after_prefilter = int(crow["t"] or 0)
                    receipt.blocks_decoded = int(crow["k"] or 0)
            bounds.unpersist()

    if not winners:
        return []
    scores = np.array([s for _, s in winners], dtype=np.float32)
    docids = np.array([d for d, _ in winners], dtype=np.int64)
    order = score_total_order_key(scores, docids)[offset : offset + k]
    return [(int(docids[i]), np.float32(scores[i])) for i in order]


def wand_bits(index: ServingIndex, query, k: int = 10, **kw):
    spec = query if isinstance(query, QuerySpec) else QuerySpec.from_text(query)
    return [
        (d, int(np.float32(s).view(np.uint32)))
        for d, s in wand_topk(index, spec, k, **kw)
    ]
