"""Compressed-block serving path: roundtrip + WAND pruning conformance.

The pruning-conformance law (reference index.rs:2434-2560): pruned top-k
must equal exhaustive top-k must equal the oracle, docids AND f32 bits,
for every fixture query."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from frankensearch_spark.corpus import FROZEN_QUERIES, corpus_docs
from frankensearch_spark.operators.build import build_index
from frankensearch_spark.operators.merge import build_blocks, decode_blocks_pdf
from frankensearch_spark.operators.wand import QuerySpec
from frankensearch_spark.operators.wand import (
    serving_from_built,
    wand_bits,
    wand_topk,
)
from frankensearch_spark.oracle import OracleIndex
from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df

N_DOCS = 400
SHIFT = 7  # 128-docid buckets -> ~4 buckets at this scale


@pytest.fixture(scope="module")
def built(spark):
    return build_index(synthetic_corpus_df(spark, N_DOCS, partitions=4), CORPUS_KEY, docid_mode="global")


@pytest.fixture(scope="module")
def serving(built):
    return serving_from_built(built, bucket_shift=SHIFT, n_term_partitions=16)


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex(corpus_docs(N_DOCS))


def test_block_roundtrip(built, spark):
    blocks = build_blocks(built.postings, bucket_shift=SHIFT).toPandas()
    docids, tfs, fids, rows = decode_blocks_pdf(blocks, SHIFT)
    got = sorted(
        zip(
            blocks["term"].to_numpy()[rows].tolist(),
            docids.tolist(),
            tfs.tolist(),
            fids.tolist(),
        )
    )
    from frankensearch_spark.contract import fieldnorm_to_id

    exp = sorted(
        (r["term"], r["docid"], r["tf"], int(fieldnorm_to_id(r["doclen"])))
        for r in built.postings.collect()
    )
    assert got == exp
    # block invariants: size cap, per-(term,bucket) docid sortedness, bounds
    assert (blocks["n"] <= 128).all()
    assert (blocks["max_tf_code"] <= 255).all()


def test_block_max_metadata_conservative(built):
    blocks = build_blocks(built.postings, bucket_shift=SHIFT).toPandas()
    docids, tfs, fids, rows = decode_blocks_pdf(blocks, SHIFT)
    for i in range(len(blocks)):
        sel = rows == i
        assert min(int(tfs[sel].max()), 255) == blocks["max_tf_code"].iat[i]
        assert int(fids[sel].min()) == blocks["min_fieldnorm_id"].iat[i]


@pytest.mark.parametrize("qid", sorted(FROZEN_QUERIES))
def test_wand_pruned_equals_oracle(serving, oracle, qid):
    text = FROZEN_QUERIES[qid]
    if any(op in text for op in (" AND ", " OR ", " NOT ", "+", "-", '"')):
        pytest.skip("boolean grammar: covered below")
    for k in (10, 100):
        pruned = wand_bits(serving, text, k=k, prune=True, min_cost=0)
        assert pruned == oracle.search_bits(text, k=k), (qid, k, "pruned")


def test_wand_pruned_equals_exhaustive(serving):
    for text in ("fn", "term00000 term00001", "generated record fn import"):
        spec = QuerySpec.from_text(text)
        a = wand_topk(serving, spec, k=25, prune=True, min_cost=0)
        b = wand_topk(serving, spec, k=25, prune=False)
        assert [(d, np.float32(s).view(np.uint32)) for d, s in a] == [
            (d, np.float32(s).view(np.uint32)) for d, s in b
        ], text


def test_wand_boolean(serving, oracle):
    spec = QuerySpec(must=["term00001", "term00002"])
    got = wand_bits(serving, spec, k=20)
    assert got == oracle.search_bits([], k=20, must=["term00001", "term00002"])
    spec = QuerySpec(should=["term00001"], must_not=["term00002"])
    got = wand_bits(serving, spec, k=20)
    assert got == oracle.search_bits(
        ["term00001"], k=20, must_not=["term00002"]
    )


def test_wand_boolean_pruned_equals_exhaustive(serving, oracle):
    """Round-2: pruning now covers Must/MustNot specs (bucket-granular
    required-clause rule) — pruned ≡ exhaustive ≡ oracle on booleans."""
    specs = [
        QuerySpec(must=["term00001", "term00002"]),
        QuerySpec(should=["term00001"], must_not=["term00002"]),
        QuerySpec(should=["generated", "record"], must=["fn"]),
        QuerySpec(should=["term00000"], must=["fn"], must_not=["import"]),
        QuerySpec(must=["fn", "zzzmissing"]),  # absent required term
    ]
    for spec in specs:
        a = wand_topk(serving, spec, k=20, prune=True, min_cost=0)
        b = wand_topk(serving, spec, k=20, prune=False)
        assert [(d, np.float32(s).view(np.uint32)) for d, s in a] == [
            (d, np.float32(s).view(np.uint32)) for d, s in b
        ], spec
        exp = oracle.search_bits(
            list(spec.should), k=20, must=list(spec.must),
            must_not=list(spec.must_not),
        )
        assert [(d, int(np.float32(s).view(np.uint32))) for d, s in a] == exp, spec


def test_wand_tombstones_cogrouped(built, oracle):
    """Tombstone exclusion joins the bucket task via cogroup — results
    match the oracle without shipping the tombstone set to the driver."""
    from frankensearch_spark.operators.lifecycle import delete_documents

    live = serving_from_built(built, bucket_shift=SHIFT,
                              n_term_partitions=16, with_positions=False)
    base = wand_bits(live, "fn", k=5)
    victims = [d for d, _ in base[:2]]
    # a DataFrame of docids leaves no driver-side tombstone set
    srv = delete_documents(
        live, built.docmeta.filter(F.col("docid").isin(victims)).select("docid")
    )
    import copy

    orc = copy.deepcopy(oracle)
    orc.delete(victims)
    for prune in (True, False):
        got = wand_bits(srv, "fn", k=5, prune=prune, min_cost=0)
        assert got == orc.search_bits("fn", k=5), prune
        assert not any(d in set(victims) for d, _ in got)


def test_wand_pruning_receipt(spark):
    """The pruned path must actually SKIP buckets when bounds separate
    (pruning receipts: not just rank-equal, provably cheaper).

    Corpus shape: bucket 0 holds SHORT docs (high per-term score), later
    buckets hold LONG docs — their conservative bounds fall below θ after
    the seed pass, so they are never decoded."""
    rows = []
    for i in range(64):  # bucket 0 at shift 6: short docs
        rows.append(("r", f"{i:05d}.rs", "c", "rust",
                     "needle alpha beta gamma"))
    for i in range(64, 320):  # buckets 1..4: long docs, low scores
        filler = " ".join(f"pad{j:03d}" for j in range(50))
        rows.append(("r", f"{i:05d}.rs", "c", "rust", f"needle {filler}"))
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    built = build_index(corpus, CORPUS_KEY, docid_mode="global")
    srv = serving_from_built(built, bucket_shift=6, n_term_partitions=8,
                             with_positions=False)
    from frankensearch_spark.operators.wand import PruningReceipt

    spec = QuerySpec.from_text("needle")
    r = PruningReceipt()
    got = wand_topk(srv, spec, k=5, prune=True, seed_buckets=1, receipt=r, min_cost=0)
    exh = wand_topk(srv, spec, k=5, prune=False)
    assert [(d, np.float32(s).view(np.uint32)) for d, s in got] == [
        (d, np.float32(s).view(np.uint32)) for d, s in exh
    ]
    assert all(d < 64 for d, _ in got)  # winners are the short docs
    assert r.buckets_total == 5
    assert r.buckets_skipped > 0, (r.buckets_total, r.buckets_scored)
    assert r.theta > float("-inf")


def test_wand_pagination(serving, oracle):
    got = wand_topk(serving, QuerySpec.from_text("term00000"), k=10, offset=10)
    exp = oracle.search("term00000", k=10, offset=10)
    assert [(d, np.float32(s).view(np.uint32)) for d, s in got] == [
        (d, np.float32(s).view(np.uint32)) for d, s in exp
    ]


def test_wand_empty_and_miss(serving):
    assert wand_topk(serving, QuerySpec(), k=10) == []
    assert wand_topk(serving, QuerySpec.from_text("zzzmissing"), k=10) == []


def test_must_bucket_prerestriction(spark):
    """Round-5 plan shrink: with preloaded coverage showing a Must term
    in few buckets, the candidate scan semi-joins down to its buckets
    BEFORE any path runs.  Bits must equal the unrestricted forced-θ
    and exhaustive paths on every route, and a receipt run accounts the
    dropped buckets as required-clause (unmatchable) drops."""
    from frankensearch_spark.operators.wand import PruningReceipt

    rows = []
    for i in range(64):  # bucket 0-1 at shift 5: docs with the rare term
        rows.append(("r", f"a{i:05d}", "c", "x",
                     "rareneedle alpha beta gamma"))
    for i in range(64, 640):  # buckets 2..19: no rareneedle
        rows.append(("r", f"b{i:05d}", "c", "x",
                     "alpha beta gamma " + " ".join(
                         f"pad{j:02d}" for j in range(20))))
    corpus = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string",
    )
    built = build_index(corpus, CORPUS_KEY, docid_mode="global")
    srv = serving_from_built(built, bucket_shift=5, n_term_partitions=8,
                             with_positions=False)
    spec = QuerySpec(must=["rareneedle"], should=["alpha", "beta"])
    exh = wand_topk(srv, spec, k=10, prune=False)
    forced = wand_topk(srv, spec, k=10, min_cost=0)

    def bits(hits):
        return [(d, np.float32(s).view(np.uint32)) for d, s in hits]

    assert bits(forced) == bits(exh)
    srv.preload_termstats()
    srv.preload_bucket_coverage()
    # default route (gates live): must coverage 2/20 buckets -> the
    # restricted exhaustive path; bits unchanged
    assert bits(wand_topk(srv, spec, k=10)) == bits(exh)
    # receipt run under the restriction: the dropped buckets are
    # accounted as required-clause drops
    r = PruningReceipt()
    got = wand_topk(srv, spec, k=10, receipt=r, min_cost=0,
                    seed_buckets=1)
    assert bits(got) == bits(exh)
    assert r.buckets_unmatchable >= 18, r
    # winners are rareneedle docs (keys a* sort first -> docids 0..63)
    assert all(d < 64 for d, _ in got)


def test_coverage_gate_routes_uniform_queries_exhaustive(spark):
    """Long-lived-serving routing: after preload_bucket_coverage, a
    query whose every term covers every bucket with IDENTICAL per-bucket
    bound shape (here: a corpus of equal-length docs all containing the
    terms) must answer through the single exhaustive decode job — the
    receipt stays empty because the bound/seed/θ jobs never run — and
    results equal the forced-exhaustive path.  The fixture clears the
    bucket-count gate (19 buckets ≥ 4×seed_buckets), so the coverage
    gate is the deciding check."""
    from frankensearch_spark.operators.wand import (
        COVERAGE_GAP_MIN,
        PruningReceipt,
        _coverage_gap,
    )

    rows = [(i, "fn import alpha beta gamma") for i in range(600)]
    corpus = spark.createDataFrame(rows, "docid long, content string")
    built = build_index(corpus, ["docid"], cache=False)
    srv = serving_from_built(built, bucket_shift=5, n_term_partitions=8)
    srv.preload_termstats()
    srv.preload_bucket_coverage()

    spec = QuerySpec.from_text("fn import alpha")
    gap = _coverage_gap({"content": srv}, spec,
                        {t: ("content",) for t in spec.should})
    assert gap is not None and gap < COVERAGE_GAP_MIN, gap
    r = PruningReceipt()
    got = wand_topk(srv, spec, k=10, receipt=r, min_cost=1, seed_buckets=1)
    assert r.buckets_total == 0  # pruned machinery bypassed entirely
    exp = wand_topk(srv, spec, k=10, prune=False)
    assert [(d, float(s)) for d, s in got] == [(d, float(s)) for d, s in exp]

    # the flatness signal itself: a doc-length-skewed corpus reports a
    # real gap even at 100% bucket coverage, keeping pruning available
    rows2 = [
        (i, "fn " + " ".join(["pad"] * (2 if i < 300 else 200)))
        for i in range(600)
    ]
    skewed = spark.createDataFrame(rows2, "docid long, content string")
    built2 = build_index(skewed, ["docid"], cache=False)
    srv2 = serving_from_built(built2, bucket_shift=5, n_term_partitions=8)
    srv2.preload_termstats()
    srv2.preload_bucket_coverage()
    spec2 = QuerySpec.from_text("fn")
    gap2 = _coverage_gap({"content": srv2}, spec2, {"fn": ("content",)})
    assert gap2 is not None and gap2 >= COVERAGE_GAP_MIN, gap2


def test_wand_duplicate_clause_term_bound_not_halved(serving):
    """A term scored in TWO clauses ('+foo foo', or 'foo foo') gets 2x
    contribution in every exact scorer, so the bucket bound must count
    it per clause occurrence — deduplicating the bound halves it and
    lets theta-pruning skip buckets holding true top-k docs."""
    specs = [
        QuerySpec(must=["fn"], should=["fn"]),           # +fn fn
        QuerySpec(should=["fn", "fn"]),                  # fn fn
        QuerySpec(should=["term00001", "term00001", "term00002"]),
    ]
    for spec in specs:
        a = wand_topk(serving, spec, k=20, prune=True, min_cost=0)
        b = wand_topk(serving, spec, k=20, prune=False)
        assert [(d, np.float32(s).view(np.uint32)) for d, s in a] == [
            (d, np.float32(s).view(np.uint32)) for d, s in b
        ], spec


def test_wand_duplicate_term_bound_skips_true_winner(spark):
    """Adversarial corpus where the OLD deduplicating bound provably
    θ-prunes the true top-1 doc.

    Bucket 0 (the seed bait): docs scoring ``2·w·c(tf=1) + w·c(tf=8)``
    for the spec should=[aaa, aaa, bbb].  A later bucket holds a SHORT
    doc with tf(aaa)=8 whose true score ``2·w·c(8, short)`` beats every
    seed doc, but whose deduplicated bound ``w·c(8, short)`` sits below
    θ — BM25 tf-saturation makes ``c(8, short) > 2·c(1, avg)`` only for
    short docs, which is exactly the shape dedup loses."""
    rows = []
    # bucket 0: 32 'bait' docs — aaa once, bbb eight times, padded long
    filler = " ".join(f"pad{i:03d}" for i in range(31))
    for i in range(32):
        rows.append(("r", f"a{i:03d}", "c", "x",
                     "aaa " + "bbb " * 8 + filler))
    # later buckets: filler docs (no aaa/bbb) keep avgdl high
    for i in range(32, 72):
        rows.append(("r", f"f{i:03d}", "c", "x",
                     " ".join(f"w{j:02d}" for j in range(40))))
    # the true winner: short doc, aaa x8 — lands in the last bucket
    rows.append(("r", "zwinner", "c", "x", "aaa " * 8 + "tail"))
    corpus = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string",
    )
    built = build_index(corpus, CORPUS_KEY, docid_mode="global")
    serving = serving_from_built(built, bucket_shift=5, n_term_partitions=8)
    spec = QuerySpec(should=["aaa", "aaa", "bbb"])
    kw = dict(k=1, prune=True, min_cost=0, seed_buckets=1, seed_scan_cap=4)
    a = wand_topk(serving, spec, **kw)
    b = wand_topk(serving, spec, k=1, prune=False)
    assert [(d, np.float32(s).view(np.uint32)) for d, s in a] == [
        (d, np.float32(s).view(np.uint32)) for d, s in b
    ]
    # and the winner really is the short high-tf doc, proving the branch
    docmeta = {r["docid"]: r["path"] for r in built.docmeta.collect()}
    assert docmeta[b[0][0]] == "zwinner"


def test_wand_block_granular_skip_on_flat_buckets(spark):
    """Flat BUCKET bounds, varying BLOCKS — the i.i.d./mega-term shape
    bucket-granular pruning can never skip (round-2 receipts honestly
    reported 0%).  Every 256-doc bucket holds one all-tf=1 block of
    'needle' and one block containing tf=8 docs, so all bucket bounds
    are equal; the 128-posting block mask (argus.rs:4474-4520
    granularity) must skip the tf=1 blocks in every survivor bucket.

    Pinned: pruned ≡ exhaustive (f32 bits), blocks_skipped > 0 on the
    forced path (min_cost=0), AND the dispersion gate (min_cost=1) no
    longer surrenders to the exhaustive pass when bucket bounds are
    flat but block stats vary."""
    from frankensearch_spark.operators.wand import PruningReceipt

    low = "needle " + " ".join(f"pad{j:02d}" for j in range(7))
    high = ("needle " * 8).strip()
    rows = []
    for i in range(1024):
        text = high if (i % 256) >= 240 else low  # tf=8 at the bucket tail
        rows.append(("r", f"{i:05d}", "c", "x", text))
    corpus = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string",
    )
    built = build_index(corpus, CORPUS_KEY, docid_mode="global")
    srv = serving_from_built(built, bucket_shift=8, n_term_partitions=8,
                             with_positions=False)
    spec = QuerySpec.from_text("needle")
    exh = wand_topk(srv, spec, k=5, prune=False)

    for mc in (0, 1):  # forced θ path AND the dispersion-gate path
        r = PruningReceipt()
        got = wand_topk(srv, spec, k=5, prune=True, seed_buckets=1,
                        receipt=r, min_cost=mc)
        assert [(d, np.float32(s).view(np.uint32)) for d, s in got] == [
            (d, np.float32(s).view(np.uint32)) for d, s in exh
        ], mc
        assert r.theta > float("-inf"), mc
        assert r.blocks_total > 0 and r.blocks_skipped > 0, (
            mc, r.blocks_total, r.blocks_decoded,
        )
    # winners are tf=8 docs (proving θ certified the right class)
    assert all((d % 256) >= 240 for d, _ in exh)


def test_coverage_gate_dilutes_block_signal_for_multiterm(spark):
    """Round 4: the block-shape prunability signal counts only for
    single-scored-term queries — with S scored clauses θ is the k-th
    best SUM, so per-term block cuts sit just under each term's own max
    and the quantile signal overestimates skippability (2M receipts:
    natural shapes skipped 0.0% while paying the full θ ceremony).

    Pinned on the flat-bucket corpus with coverage preloaded: the
    single-term query still takes the θ path and skips blocks; the
    two-term full-coverage query routes straight to the exhaustive
    kernel (no θ), bit-identical to the forced pruned path."""
    from frankensearch_spark.operators.wand import PruningReceipt

    low = "needle haystk " + " ".join(f"pad{j:02d}" for j in range(6))
    high = ("needle " * 7).strip() + " haystk"
    rows = []
    for i in range(1024):
        text = high if (i % 256) >= 240 else low
        rows.append(("r", f"{i:05d}", "c", "x", text))
    corpus = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string",
    )
    built = build_index(corpus, CORPUS_KEY, docid_mode="global")
    srv = serving_from_built(built, bucket_shift=8, n_term_partitions=8,
                             with_positions=False)
    srv.preload_termstats()
    srv.preload_bucket_coverage()

    # single scored term: block signal applies, θ ceremony skips blocks
    r1 = PruningReceipt()
    spec1 = QuerySpec.from_text("needle")
    got1 = wand_topk(srv, spec1, k=5, prune=True, seed_buckets=1,
                     receipt=r1, min_cost=1)
    assert r1.theta > float("-inf")
    assert r1.blocks_skipped > 0

    # two scored terms, both covering every bucket: the gate routes
    # exhaustive (θ never engages), results bit-match the forced θ path
    spec2 = QuerySpec.from_text("needle haystk")
    r2 = PruningReceipt()
    got2 = wand_topk(srv, spec2, k=5, prune=True, seed_buckets=1,
                     receipt=r2, min_cost=1)
    assert r2.theta == float("-inf")
    forced = wand_topk(srv, spec2, k=5, prune=True, seed_buckets=1,
                       min_cost=0)
    exh = wand_topk(srv, spec2, k=5, prune=False)
    as_bits = lambda hits: [  # noqa: E731
        (d, np.float32(s).view(np.uint32)) for d, s in hits
    ]
    assert as_bits(got2) == as_bits(exh) == as_bits(forced)


def test_maxscore_term_elimination(spark):
    """Term-level MaxScore (argus.rs:29,4463-4485): for a 2-clause
    Should query where the weak term's whole-list upper bound sits below
    the certified θ, the split must mark it NON-essential — candidates
    come from the strong term's postings only, the weak term contributes
    score ONLY on those candidates — and the result stays bit-identical
    to exhaustive.

    Corpus shape: every 4th doc is a short winner holding major×8 +
    minor×1 (8 winners per 32-doc bucket, so the k=5 seed θ certifies
    from WINNER scores; minor's contribution to those exact scores is
    live — a kernel that dropped minor's postings for candidates would
    mismatch the exhaustive bits); every other doc is a long minor-only
    doc (df(minor)=all docs → tiny idf weight; its whole-list bound
    cannot reach θ = w_major·c(8,short) + w_minor·c(1,short))."""
    from frankensearch_spark.operators.wand import PruningReceipt

    filler = " ".join(f"pad{j:03d}" for j in range(30))
    rows = []
    for i in range(640):
        if i % 4 == 0:
            rows.append(("r", f"{i:05d}", "c", "x",
                         ("major " * 8) + "minor tail"))
        else:
            rows.append(("r", f"{i:05d}", "c", "x", "minor " + filler))
    corpus = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string",
    )
    built = build_index(corpus, CORPUS_KEY, docid_mode="global")
    srv = serving_from_built(built, bucket_shift=5, n_term_partitions=8,
                             with_positions=False)
    srv.preload_termstats()
    srv.preload_bucket_coverage()

    spec = QuerySpec.from_text("major minor")
    exh = wand_topk(srv, spec, k=5, prune=False)
    r = PruningReceipt()
    got = wand_topk(srv, spec, k=5, prune=True, seed_buckets=1,
                    receipt=r, min_cost=0)
    as_bits = lambda hits: [  # noqa: E731
        (d, np.float32(s).view(np.uint32)) for d, s in hits
    ]
    assert as_bits(got) == as_bits(exh)
    assert r.theta > float("-inf")
    assert r.terms_scored == 2
    assert r.terms_nonessential == 1  # minor eliminated as a generator
    # every winner is a major doc and its score includes minor's part:
    # strictly above the pure-major score of the same doc (structural
    # proof the candidate mask didn't drop essential-doc contributions)
    only_major = wand_topk(srv, QuerySpec.from_text("major"), k=5,
                           prune=False)
    assert all(d % 4 == 0 for d, _ in got)
    assert all(s2 > s1 for (_, s2), (_, s1) in zip(got, only_major))


def test_maxscore_split_certification_guards(spark):
    """_maxscore_split returns the EMPTY set (no elimination) whenever
    the split cannot be certified: Must/MustNot present, <2 or >8 unique
    terms, θ not finite, or any scored term's shape max unknown (no
    preload)."""
    from frankensearch_spark.operators.wand import QuerySpec as QS
    from frankensearch_spark.operators.wand import _maxscore_split

    rows = [(i, "alpha beta gamma") for i in range(64)]
    corpus = spark.createDataFrame(rows, "docid long, content string")
    built = build_index(corpus, ["docid"], cache=False)
    srv = serving_from_built(built, bucket_shift=5, n_term_partitions=4)
    srv.preload_termstats()
    srv.preload_bucket_coverage()
    fidx = {"content": srv}
    tfo = {t: ("content",) for t in ("alpha", "beta", "gamma")}
    w = {("content", t): np.float32(1.0) for t in tfo}

    ok = _maxscore_split(QS(should=["alpha", "beta"]), w, tfo, fidx, 1e9)
    assert ok  # certifiable shape with a huge θ eliminates something
    assert len(ok) < 2  # never every scored term
    # guards, each → empty set
    assert _maxscore_split(QS(should=["alpha"]), w, tfo, fidx, 1e9) == set()
    many = QS(should=[f"t{i}" for i in range(9)])
    assert _maxscore_split(many, w, tfo, fidx, 1e9) == set()
    assert _maxscore_split(
        QS(must=["alpha"], should=["beta"]), w, tfo, fidx, 1e9) == set()
    assert _maxscore_split(
        QS(should=["alpha", "beta"]), w, tfo, fidx, float("inf")) == set()
    assert _maxscore_split(
        QS(should=["alpha", "beta"]), w, tfo, fidx, -1.0) == set()
    srv._bucket_cov = None  # no preload → cannot certify
    assert _maxscore_split(
        QS(should=["alpha", "beta"]), w, tfo, fidx, 1e9) == set()


def test_candidate_block_mask_laws():
    """Unit laws of the non-essential block keep-mask: a block survives
    iff its covered segment [first_i, next_first) holds ≥1 candidate;
    the last block of a group over-covers to the bucket span (safe);
    degenerate tilings keep the whole group."""
    import pandas as pd

    from frankensearch_spark.operators.bucketscore import _candidate_block_mask

    shift = 5  # span 32
    pdf = pd.DataFrame({
        "field": ["content"] * 3,
        "term": ["minor"] * 3,
        "first_doc": [100, 110, 120],  # base 100: segments [0,10) [10,20) [20,32)
    })
    cand = np.zeros(32, dtype=bool)
    cand[15] = True  # only the middle segment holds a candidate
    keep = _candidate_block_mask(pdf, cand, base=100, bucket_shift=shift)
    assert keep.tolist() == [False, True, False]
    cand2 = np.zeros(32, dtype=bool)
    cand2[31] = True  # tail candidate → only the over-covering last block
    keep2 = _candidate_block_mask(pdf, cand2, base=100, bucket_shift=shift)
    assert keep2.tolist() == [False, False, True]
    # degenerate tiling (duplicate first_doc) → keep all

    pdf_dup = pd.DataFrame({
        "field": ["content"] * 2,
        "term": ["minor"] * 2,
        "first_doc": [100, 100],
    })
    keep3 = _candidate_block_mask(pdf_dup, np.zeros(32, bool), 100, shift)
    assert keep3.tolist() == [True, True]


def test_local_lane_matches_distributed(serving, monkeypatch):
    """The driver-local serving lane (query_cost ≤ LOCAL_LANE cap: ONE
    collect of compressed candidate blocks + the in-process kernel) is
    bit-identical to the distributed applyInPandas path on the same
    specs — forced by flipping the cap to -1."""
    import frankensearch_spark.operators.wand as W

    specs = [
        QuerySpec.from_text("generated record fn"),
        QuerySpec.from_text("fn"),
        QuerySpec(should=["term00001"], must_not=["term00002"]),
    ]
    as_bits = lambda hits: [  # noqa: E731
        (d, np.float32(s).view(np.uint32)) for d, s in hits
    ]
    for spec in specs:
        local = wand_topk(serving, spec, k=25, prune=True, min_cost=0)
        monkeypatch.setattr(W, "LOCAL_LANE_MAX_POSTINGS", -1)
        dist = wand_topk(serving, spec, k=25, prune=True, min_cost=0)
        monkeypatch.setattr(W, "LOCAL_LANE_MAX_POSTINGS", 1_000_000)
        assert as_bits(local) == as_bits(dist), spec


def test_local_lane_spills_to_distributed_when_slots_busy(serving):
    """Concurrency spill law: the local lane is capped at
    LOCAL_LANE_MAX_INFLIGHT in-flight queries (its driver-side pandas
    loop holds the GIL; excess concurrent queries overlap better through
    the distributed FAIR path).  With every slot held, wand_topk must
    take the distributed path and return identical bits — the route is
    a pure performance choice."""
    import frankensearch_spark.operators.wand as W

    spec = QuerySpec.from_text("generated record fn")
    as_bits = lambda hits: [  # noqa: E731
        (d, np.float32(s).view(np.uint32)) for d, s in hits
    ]
    base = wand_topk(serving, spec, k=25, prune=True, min_cost=0)
    taken = 0
    try:
        while W._local_lane_slots.acquire(blocking=False):
            taken += 1
        assert taken == W.LOCAL_LANE_MAX_INFLIGHT
        spilled = wand_topk(serving, spec, k=25, prune=True, min_cost=0)
    finally:
        for _ in range(taken):
            W._local_lane_slots.release()
    assert as_bits(spilled) == as_bits(base)
    # slots were all released by the spilled run's bookkeeping path:
    # a fresh query can take the local lane again
    again = wand_topk(serving, spec, k=25, prune=True, min_cost=0)
    assert as_bits(again) == as_bits(base)


def test_local_lane_counts_mustnot_volume(serving, monkeypatch):
    """Volume routing counts MustNot terms' postings too: the candidate
    scan carries their whole block payloads (exclusions must see every
    candidate), so a `rare -mega` shape must not enter the driver-local
    collect on the rare term's df alone — at web scale that collect
    would be unbounded by the lane cap."""
    import frankensearch_spark.operators.wand as W

    attempts = []

    class Probe:
        def acquire(self, blocking=True):
            attempts.append(1)
            return False  # always spill; routing is what's under test

        def release(self):  # pragma: no cover - spill path never holds
            pass

    monkeypatch.setattr(W, "_local_lane_slots", Probe())
    stats = serving.df_of_terms(["term00001", "fn"])
    assert stats.get("term00001") and stats.get("fn")
    # cap admits the rare term alone but NOT rare + mega-MustNot
    monkeypatch.setattr(
        W, "LOCAL_LANE_MAX_POSTINGS",
        stats["term00001"] + stats["fn"] - 1,
    )
    wand_topk(
        serving,
        QuerySpec(should=["term00001"], must_not=["fn"]),
        k=5,
        min_cost=0,
    )
    assert attempts == [], "lane attempted despite MustNot volume"
    wand_topk(serving, QuerySpec(should=["term00001"]), k=5, min_cost=0)
    assert attempts, "same cap must admit the shape without the MustNot"


def test_single_term_local_lane_matches_stream(serving, monkeypatch):
    """A single scored term under the local-lane cap decodes on the
    driver through the bucket kernel (one collect); forced over the cap
    it takes the shuffle-free single-term stream.  Both are bit-equal."""
    import frankensearch_spark.operators.wand as W

    taken = []
    real = W.local_lane_topk

    def probe(*a, **kw):
        out = real(*a, **kw)
        taken.append(out is not None)
        return out

    monkeypatch.setattr(W, "local_lane_topk", probe)
    as_bits = lambda hits: [  # noqa: E731
        (d, np.float32(s).view(np.uint32)) for d, s in hits
    ]
    for text in ("fn", "term00001", "generated"):
        spec = QuerySpec.from_text(text)
        taken.clear()
        local = wand_topk(serving, spec, k=25)
        assert local and taken == [True], text
        monkeypatch.setattr(W, "LOCAL_LANE_MAX_POSTINGS", -1)
        taken.clear()
        stream = wand_topk(serving, spec, k=25)
        assert taken == [False], text
        monkeypatch.setattr(W, "LOCAL_LANE_MAX_POSTINGS", 1_000_000)
        assert as_bits(local) == as_bits(stream), text


def test_truncated_coverage_cache_fallbacks():
    """A BOUNDED coverage preload evicts low-coverage tail terms; the
    routing gates must read a miss as 'evicted: coverage ≤ smallest
    kept entry', never as 'absent'.  Pins three laws: (a) an evicted
    scored term still dilutes the single-term block-shape signal (the
    round-4 misroute guard), (b) an evicted term with tiny df yields a
    sound near-1 coverage gap, (c) _must_coverage_frac stays live for
    rare Must terms — the terms the pre-restriction helps most are
    exactly the ones a bounded cache evicts first."""
    from types import SimpleNamespace

    from frankensearch_spark.operators.wand import (
        COVERAGE_GAP_MIN,
        _coverage_gap,
        _must_coverage_frac,
    )

    sub = SimpleNamespace(
        _bucket_cov={"mega": (100, 0.9, 5.0)},  # full coverage, skew
        _bucket_cov_complete=False,             # truncated preload
        _bucket_cov_min_nb=100,
        _total_buckets=100,
    )
    fidx = {"content": sub}
    tf = {"mega": ("content",), "tail": ("content",), "rare": ("content",)}

    # (a) evicted-but-scored second term: nb_ub = min(100, df=1000, 100)
    # = full coverage, so gap is 0 AND the mega term's 0.9 block signal
    # must not count (two scored terms) -> exhaustive routing
    stats = {"content": {"mega": 5000, "tail": 1000}}
    gap = _coverage_gap(
        fidx, QuerySpec(should=["mega", "tail"]), tf, stats
    )
    assert gap is not None and gap < COVERAGE_GAP_MIN, gap

    # single scored term keeps the undiluted signal
    gap1 = _coverage_gap(fidx, QuerySpec(should=["mega"]), tf, stats)
    assert gap1 is not None and gap1 >= 0.9, gap1

    # (b) evicted rare term: nb_ub = min(100, df=3, 100) = 3
    stats2 = {"content": {"mega": 5000, "rare": 3}}
    gap2 = _coverage_gap(
        fidx, QuerySpec(should=["mega", "rare"]), tf, stats2
    )
    assert gap2 is not None and gap2 >= 0.97, gap2

    # (c) rare Must term evicted: the gate must return its bound, not None
    info = _must_coverage_frac(
        fidx, QuerySpec(must=["rare"]), tf, stats2
    )
    assert info == (0.03, "rare", 3), info

    # a COMPLETE cache still reads a miss as truly absent
    sub_c = SimpleNamespace(
        _bucket_cov={"mega": (100, 0.9, 5.0)},
        _bucket_cov_complete=True,
        _bucket_cov_min_nb=100,
        _total_buckets=100,
    )
    fidx_c = {"content": sub_c}
    assert _must_coverage_frac(
        fidx_c, QuerySpec(must=["rare"]), tf, stats2
    ) is None
    gap_c = _coverage_gap(
        fidx_c, QuerySpec(should=["rare"]), tf, stats2
    )
    assert gap_c is None  # nothing known about the query's only term
