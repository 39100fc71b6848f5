"""Extended grammar fuzz: random query compositions through every
executor path vs the numpy oracle, bit-exact — durable serving (routed),
the exhaustive AST scorer, multi-field (built and durable, content +
title^2 over the generated corpus) and batched execution.

The in-suite fuzz (tests/test_serving_exec.py, test_astexec.py) runs
~30 compositions per path to keep the suite fast; this tool runs an
arbitrary budget for soak testing.  Usage:

    python tools/fuzz_extended.py [n_serving] [n_ast] [seed] [n_multifield] [n_batches]

Prints one mismatch line per offending query and exits non-zero if any.
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


def _fuzz_multifield(spark, rng, n_mf: int, n_docs: int) -> int:
    """Random compositions through the multi-field primary AND durable
    serving paths vs OracleMultiIndex.  Returns mismatch count."""
    import shutil
    import tempfile

    from frankensearch_spark.corpus import multifield_docs
    from frankensearch_spark.operators.astexec import search_ast_bits
    from frankensearch_spark.operators.build import build_multifield_index
    from frankensearch_spark.operators.serving_exec import serving_search_bits
    from frankensearch_spark.oracle import OracleMultiIndex
    from frankensearch_spark.plans.manifest import read_index, write_index
    from frankensearch_spark.query_ast import REFERENCE_SCHEMA, parse_lenient

    pairs = multifield_docs(n_docs)
    corpus = spark.createDataFrame(
        [(i, t["title"], t["content"]) for i, t in pairs],
        "docid long, title string, content string",
    )
    built = build_multifield_index(
        corpus, ["docid"], {"content": "content", "title": "title"}
    )
    oracle = OracleMultiIndex(pairs, ["content", "title"])
    path = tempfile.mkdtemp(prefix="fsx_fuzz_mf_")
    bad = 0
    try:
        write_index(built, path, bucket_shift=6, n_term_partitions=8, n_groups=1)
        srv = read_index(spark, path)
        for i in range(n_mf):
            text = " ".join(
                rng.choice(MF_FRAGMENTS) for _ in range(rng.randint(1, 4))
            )
            ast = parse_lenient(text, REFERENCE_SCHEMA).query
            exp = oracle.search_ast_bits(ast, k=10)
            got_p = search_ast_bits(built, ast, k=10, schema=REFERENCE_SCHEMA)
            got_s = serving_search_bits(srv, text, k=10, schema=REFERENCE_SCHEMA)
            if got_p != exp:
                bad += 1
                print(f"MF PRIMARY MISMATCH: {text!r}\n  got {got_p}\n  exp {exp}")
            if got_s != exp:
                bad += 1
                print(f"MF SERVING MISMATCH: {text!r}\n  got {got_s}\n  exp {exp}")
            if (i + 1) % 50 == 0:
                print(f"multifield {i + 1}/{n_mf} bad={bad}")
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return bad


def main() -> int:
    n_serving = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    n_ast = int(sys.argv[2]) if len(sys.argv) > 2 else 150
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 0xF00D
    n_mf = int(sys.argv[4]) if len(sys.argv) > 4 else 100
    n_docs = 250

    import shutil
    import tempfile

    from frankensearch_spark.corpus import corpus_docs, make_corpus
    from frankensearch_spark.operators.astexec import search_ast_bits
    from frankensearch_spark.operators.build import build_index
    from frankensearch_spark.operators.serving_exec import serving_search_bits
    from frankensearch_spark.oracle import OracleIndex
    from frankensearch_spark.plans.manifest import read_index, write_index
    from frankensearch_spark.query_ast import ENGINE_SCHEMA, parse_lenient
    from frankensearch_spark.session import get_spark
    from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df

    spark = get_spark("fuzz-ext", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    corpus = synthetic_corpus_df(spark, n_docs, partitions=4)
    built = build_index(corpus, CORPUS_KEY, docid_mode="global")
    path = tempfile.mkdtemp(prefix="fsx_fuzz_ext_")
    try:
        write_index(built, path, n_groups=2, source="fuzz")
        serving = read_index(spark, path)
        serving.preload_termstats()
        serving.preload_bucket_coverage()

        rows = make_corpus(n_docs)
        ordered = sorted(range(len(rows)), key=lambda i: rows[i][:3])
        meta = {
            name: {d: rows[i][j] for d, i in enumerate(ordered)}
            for j, name in ((0, "repo"), (1, "path"), (2, "commit"), (3, "lang"))
        }
        oracle = OracleIndex(corpus_docs(n_docs), meta=meta)

        rng = random.Random(seed)

        def compose() -> str:
            n = rng.randint(1, 5)
            return " ".join(rng.choice(FRAGMENTS) for _ in range(n))

        bad = 0
        for i in range(n_serving):
            text = compose()
            ast = parse_lenient(text, ENGINE_SCHEMA).query
            exp = [
                (d, int(np.float32(s).view(np.uint32)))
                for d, s in oracle.search_ast(ast, 10)
            ]
            got = serving_search_bits(serving, text, k=10)
            if got != exp:
                bad += 1
                print(f"SERVING MISMATCH: {text!r}")
                print(f"  got {got}\n  exp {exp}")
            if (i + 1) % 100 == 0:
                print(f"serving {i + 1}/{n_serving} ok={i + 1 - bad}")

        for i in range(n_ast):
            text = compose()
            ast = parse_lenient(text, ENGINE_SCHEMA).query
            exp = [
                (d, int(np.float32(s).view(np.uint32)))
                for d, s in oracle.search_ast(ast, 10)
            ]
            got = search_ast_bits(built, text, k=10)
            if got != exp:
                bad += 1
                print(f"AST MISMATCH: {text!r}")
                print(f"  got {got}\n  exp {exp}")
            if (i + 1) % 50 == 0:
                print(f"ast {i + 1}/{n_ast} ok={i + 1 - bad}")

        bad += _fuzz_multifield(spark, rng, n_mf, n_docs)

        # batched execution: random batches through ONE job each, every
        # member checked against the numpy oracle (bit-exact) — the
        # support-mask / shared-pivot logic must hold under arbitrary
        # grammar mixes, not just the frozen set
        n_batch = int(sys.argv[5]) if len(sys.argv) > 5 else 10
        from frankensearch_spark.operators.batchexec import (
            search_batch_collect,
        )

        for i in range(n_batch):
            texts = [compose() for _ in range(12)]
            got_lists = search_batch_collect(serving, texts, k=10)
            for text, hits in zip(texts, got_lists):
                ast = parse_lenient(text, ENGINE_SCHEMA).query
                exp = [
                    (d, int(np.float32(s).view(np.uint32)))
                    for d, s in oracle.search_ast(ast, 10)
                ]
                got = [
                    (d, int(np.float32(s).view(np.uint32))) for d, s in hits
                ]
                if got != exp:
                    bad += 1
                    print(f"BATCH MISMATCH: {text!r}")
                    print(f"  got {got}\n  exp {exp}")
            print(f"batch {i + 1}/{n_batch} ok={'yes' if not bad else bad}")

        print(
            f"done: {n_serving} serving + {n_ast} ast + {n_mf} multifield "
            f"+ {n_batch} batches, {bad} mismatches"
        )
        return 1 if bad else 0
    finally:
        shutil.rmtree(path, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
