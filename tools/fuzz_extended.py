"""Extended grammar fuzz: random query compositions through every
executor path vs the numpy oracle, bit-exact — durable serving (routed),
block-max WAND in conformance mode (``min_cost=0``: θ, the block mask
and MaxScore engage), the exhaustive AST scorer, multi-field (built and
durable, content + title^2) and batched execution.  The serving, WAND
and multi-field phases run on both the i.i.d. corpus and the clustered
one (``make_corpus(clustered=True)``: repo-local vocabularies, the shape
pruning exploits).

The in-suite fuzz (tests/test_serving_exec.py, test_astexec.py) runs
~30 compositions per path to keep the suite fast; this tool runs an
arbitrary budget for soak testing.  Usage:

    python tools/fuzz_extended.py [n_serving] [n_ast] [seed] [n_multifield] [n_batches]

Per corpus: ``n_serving`` routed compositions, ``n_serving // 2`` flat
WAND compositions and ``n_multifield`` multi-field ones.  Prints one
mismatch line per offending query and exits non-zero if any.
"""

from __future__ import annotations

import os
import random
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FRAGMENTS = [
    "fn", "import", "term00001", "term00002", "term00042",
    "missingkeywordzz", "lang:rust", "lang:go", "doclen:[40 TO 90]",
    "doclen:[* TO 60]", '"term00001 term00002"', '"fn import"',
    "term000*", "term0004?", "-fn", "+import", "-term00042",
    "(fn OR import)", "(term00001 AND term00002)", "fn^2",
    "term00001^0.5", "NOT import", "title:fn", "repo:org1",
    '"unclosed phrase', "AND", "OR", "((", "))", "^", "a:b:c",
    "doclen:42", "*", "?", '"term00003 term00004"', "lang:python^3",
    "(fn AND (import OR term00001))", "+doclen:[50 TO *] fn",
    "-lang:rust term00002", '"generated record" OR fn',
]


# multi-field fragment pool over the generated corpus as content + title
# (the document's path, title^2) — field scopes, boosts, phrases, globs,
# booleans
MF_FRAGMENTS = [
    "fn", "import", "term00001", "term00002", "src", "rs", "py",
    "title:py", "title:rs^3", "content:fn", "file1*", "title:m1*",
    '"term00001 term00002"', '"src m1"', "fn AND py", "(term00001 OR rs)",
    "-rs", "+term00002", "NOT import", "generated record term00007",
    "term00001^0.5", '"unclosed', "AND", "^", "missingzz",
]


# flat fragments for the WAND conformance phase: Should / Must / MustNot
# terms (common, rare, absent), boosts and a glob that expands to a flat
# Should union
WAND_FRAGMENTS = [
    "fn", "import", "term00000", "term00001", "term00002", "term00003",
    "term00007", "term00042", "term00100", "term00250", "record",
    "+term00001", "+fn", "+term00042", "-import", "-term00002",
    "term00005^2", "term00001^0.5", "missingkeywordzz", "term0004?",
]


def _bits(hits):
    return [(d, int(np.float32(s).view(np.uint32))) for d, s in hits]


def _phase(tag: str, n: int, compose, got, exp) -> int:
    """``n`` compositions, ``got(text)`` vs ``exp(text)`` bit for bit;
    prints each mismatch and returns their count."""
    bad = 0
    for i in range(n):
        text = compose()
        g, e = got(text), exp(text)
        if g != e:
            bad += 1
            print(f"{tag} MISMATCH: {text!r}\n  got {g}\n  exp {e}")
        if (i + 1) % 50 == 0 or i + 1 == n:
            print(f"{tag} {i + 1}/{n} bad={bad}", flush=True)
    return bad


def _corpus(spark, n_docs: int, clustered: bool, multifield: bool = False):
    """(built index, oracle) over ``make_corpus(n_docs, clustered)``;
    docids follow the natural key (repo, path, commit), as a global-docid
    build assigns them.  ``multifield`` adds ``title`` = path (title^2
    under the reference schema)."""
    from frankensearch_spark.corpus import make_corpus
    from frankensearch_spark.operators.build import (
        build_index,
        build_multifield_index,
    )
    from frankensearch_spark.oracle import OracleIndex, OracleMultiIndex
    from frankensearch_spark.sources.corpus import CORPUS_KEY, CORPUS_SCHEMA

    rows = make_corpus(n_docs, clustered=clustered)
    ordered = sorted(range(len(rows)), key=lambda i: rows[i][:3])
    if multifield:
        pairs = [
            (d, {"content": rows[i][4], "title": rows[i][1]})
            for d, i in enumerate(ordered)
        ]
        corpus = spark.createDataFrame(
            [(i, t["title"], t["content"]) for i, t in pairs],
            "docid long, title string, content string",
        )
        return (
            build_multifield_index(
                corpus, ["docid"], {"content": "content", "title": "title"}
            ),
            OracleMultiIndex(pairs, ["content", "title"]),
        )
    meta = {
        name: {d: rows[i][j] for d, i in enumerate(ordered)}
        for j, name in ((0, "repo"), (1, "path"), (2, "commit"), (3, "lang"))
    }
    built = build_index(
        spark.createDataFrame(rows, schema=CORPUS_SCHEMA).repartition(4),
        CORPUS_KEY, docid_mode="global",
    )
    return built, OracleIndex(
        [(d, rows[i][4]) for d, i in enumerate(ordered)], meta=meta
    )


def _fuzz_wand(spark, rng, n: int, clustered: bool) -> int:
    """Flat compositions through ``wand_topk(..., min_cost=0,
    seed_buckets=1)`` over a 2,000-doc index in 256-docid buckets (so a
    common term spans several 128-posting blocks per bucket) with
    preloaded coverage: the θ ceremony, the block mask and MaxScore
    engage, and receipts count how often each did."""
    from frankensearch_spark.operators.astexec import expand_globs
    from frankensearch_spark.operators.serving_exec import (
        ast_to_queryspec_fields,
    )
    from frankensearch_spark.operators.wand import (
        PruningReceipt,
        serving_from_built,
        wand_topk,
    )
    from frankensearch_spark.query_ast import ENGINE_SCHEMA, parse_lenient

    built, oracle = _corpus(spark, 2000, clustered)
    serving = serving_from_built(built, bucket_shift=8, n_term_partitions=8,
                                 with_positions=False)
    serving.preload_termstats()
    serving.preload_bucket_coverage()
    seen = {"ran": 0, "theta": 0, "blocks skipped": 0, "maxscore": 0}

    def ast_of(text):
        return expand_globs(serving, parse_lenient(text, ENGINE_SCHEMA).query)

    def got(text):
        lowered = ast_to_queryspec_fields(ast_of(text))
        if lowered is None:  # unprunable: not this phase's shape
            return exp(text)
        r = PruningReceipt()
        hits = wand_topk(serving, lowered[0], k=10, min_cost=0,
                         seed_buckets=1, receipt=r, term_fields=lowered[1])
        seen["ran"] += 1
        seen["theta"] += r.theta != float("-inf")
        seen["blocks skipped"] += r.blocks_skipped > 0
        seen["maxscore"] += r.terms_nonessential > 0
        return _bits(hits)

    def exp(text):
        return _bits(oracle.search_ast(ast_of(text), 10))

    def compose():
        return " ".join(
            rng.choice(WAND_FRAGMENTS) for _ in range(rng.randint(1, 6))
        )

    bad = _phase("WAND", n, compose, got, exp)
    print(f"wand receipts: {seen}", flush=True)
    serving.blocks.unpersist()
    return bad


def _fuzz_multifield(spark, rng, n_mf: int, n_docs: int,
                     clustered: bool) -> int:
    """Random compositions through the multi-field primary AND durable
    serving paths vs OracleMultiIndex.  Returns mismatch count."""
    import shutil
    import tempfile

    from frankensearch_spark.operators.astexec import search_ast_bits
    from frankensearch_spark.operators.serving_exec import serving_search_bits
    from frankensearch_spark.operators.wand import serving_from_built
    from frankensearch_spark.plans.manifest import read_index, write_index
    from frankensearch_spark.query_ast import REFERENCE_SCHEMA, parse_lenient

    built, oracle = _corpus(spark, n_docs, clustered, multifield=True)
    mem = serving_from_built(built, bucket_shift=6, n_term_partitions=8)
    path = tempfile.mkdtemp(prefix="fsx_fuzz_mf_")
    try:
        write_index(mem, path, n_groups=1)
        srv = read_index(spark, path)

        def compose():
            return " ".join(
                rng.choice(MF_FRAGMENTS) for _ in range(rng.randint(1, 4))
            )

        def both(text):
            return (
                search_ast_bits(mem, text, k=10, schema=REFERENCE_SCHEMA),
                serving_search_bits(srv, text, k=10, schema=REFERENCE_SCHEMA),
            )

        def exp(text):
            e = oracle.search_ast_bits(
                parse_lenient(text, REFERENCE_SCHEMA).query, k=10
            )
            return e, e

        return _phase("MULTIFIELD (in-session, loaded)", n_mf, compose,
                      both, exp)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def main() -> int:
    n_serving = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    n_ast = int(sys.argv[2]) if len(sys.argv) > 2 else 150
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 0xF00D
    n_mf = int(sys.argv[4]) if len(sys.argv) > 4 else 100
    n_batch = int(sys.argv[5]) if len(sys.argv) > 5 else 10
    n_docs = 250

    import shutil
    import tempfile

    from frankensearch_spark.operators.astexec import search_ast_bits
    from frankensearch_spark.operators.batchexec import search_batch_collect
    from frankensearch_spark.operators.serving_exec import serving_search_bits
    from frankensearch_spark.operators.wand import serving_from_built
    from frankensearch_spark.plans.manifest import read_index, write_index
    from frankensearch_spark.query_ast import ENGINE_SCHEMA, parse_lenient
    from frankensearch_spark.session import get_spark

    spark = get_spark("fuzz-ext", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    rng = random.Random(seed)

    def compose() -> str:
        n = rng.randint(1, 5)
        return " ".join(rng.choice(FRAGMENTS) for _ in range(n))

    bad = 0
    path = tempfile.mkdtemp(prefix="fsx_fuzz_ext_")
    try:
        for clustered in (False, True):
            label = "clustered" if clustered else "iid"
            built, oracle = _corpus(spark, n_docs, clustered)
            mem = serving_from_built(built)

            def exp(text):
                ast = parse_lenient(text, ENGINE_SCHEMA).query
                return _bits(oracle.search_ast(ast, 10))

            write_index(mem, f"{path}/{label}", n_groups=2, source="fuzz")
            serving = read_index(spark, f"{path}/{label}")
            serving.preload_termstats()
            serving.preload_bucket_coverage()
            bad += _phase(
                f"SERVING ({label})", n_serving, compose,
                lambda t: serving_search_bits(serving, t, k=10), exp,
            )
            bad += _fuzz_wand(spark, rng, n_serving // 2, clustered)
            if not clustered:
                bad += _phase(
                    "AST", n_ast, compose,
                    lambda t: search_ast_bits(mem, t, k=10), exp,
                )
                # batched execution: random batches through ONE job
                # each, every member checked against the oracle — the
                # support-mask / shared-pivot logic must hold under
                # arbitrary grammar mixes, not just the frozen set
                bad += _phase(
                    "BATCH", n_batch,
                    lambda: tuple(compose() for _ in range(12)),
                    lambda ts: [
                        _bits(h)
                        for h in search_batch_collect(serving, ts, k=10)
                    ],
                    lambda ts: [exp(t) for t in ts],
                )
            bad += _fuzz_multifield(spark, rng, n_mf, n_docs, clustered)

        print(
            f"done: per corpus (iid, clustered) {n_serving} serving + "
            f"{n_serving // 2} wand + {n_mf} multifield; {n_ast} ast + "
            f"{n_batch} batches of 12 on iid; {bad} mismatches"
        )
        return 1 if bad else 0
    finally:
        shutil.rmtree(path, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
