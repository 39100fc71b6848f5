"""Pruning-conformance report over a 2M-doc durable index.

For each frozen bench query that routes through block-max WAND, runs the
pruned path WITH receipts (PruningReceipt — the reference's
pruning-conformance receipts, index.rs:2434-2560, reduced to counts) and
the exhaustive-over-blocks path, asserts bit-identical top-k, and prints
buckets scored vs skipped plus both latencies.

Usage: python tools/pruning_report.py [index_dir]
       python tools/pruning_report.py --clustered [n_docs]
(default index /tmp/fsx_vb_idx — build one with tools/submit_build.py)

The default i.i.d. synthetic corpus is ADVERSARIAL for bucket-granular
pruning: Zipf terms drawn independently per doc put every vocab term in
every 8,192-doc bucket with near-identical statistics, so bucket bounds
are uniform and θ never clears them (skip% ≈ 0; the receipts prove the
machinery is rank-safe, not that this corpus is prunable).  --clustered
builds the realistic code-corpus shape instead — repo-local identifier
tokens, with docids following the (repo, path, commit) natural key, so
a repo's vocabulary clusters into a docid range — where the
required-clause rule and θ-bounds skip the large majority of buckets.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bits_crc(hits) -> str:
    """crc32 of the top-k (docid, f32 bit pattern) pairs, to compare
    two runs' answers bit for bit."""
    import zlib

    import numpy as np

    raw = b"".join(
        int(d).to_bytes(8, "little") + np.float32(s).tobytes()
        for d, s in hits
    )
    return f"{zlib.crc32(raw):08x}"


def _run(srv, queries: dict) -> None:
    from frankensearch_spark.operators.wand import PruningReceipt, wand_topk

    print(f"{'query':<18} {'total':>7} {'unmatch':>8} {'scored':>7} "
          f"{'skipped':>8} {'skip%':>6} {'blk_tot':>8} {'blk_skip':>8} "
          f"{'blk%':>6} {'t_sc':>5} {'t_ne':>5} "
          f"{'gated(s)':>9} {'pruned(s)':>10} {'exhaust(s)':>11} "
          f"{'bits crc32':>10}")
    for name, spec in queries.items():
        wand_topk(srv, spec, k=10)  # warm (plan + caches)
        # receipts add 3-4 counting jobs — take the counts from an
        # UNTIMED run so t_pruned measures the serving path itself
        r = PruningReceipt()
        pruned = wand_topk(srv, spec, k=10, receipt=r, min_cost=0)
        # the DEFAULT path (cost gates live: they route each shape to
        # θ-pruning, the exhaustive bucket kernel, or the driver-local
        # lane — whatever the preloaded stats say is cheapest)
        t0 = time.perf_counter()
        gated = wand_topk(srv, spec, k=10)
        t_gated = time.perf_counter() - t0
        t0 = time.perf_counter()
        assert wand_topk(srv, spec, k=10, min_cost=0) == pruned
        t_pruned = time.perf_counter() - t0
        t0 = time.perf_counter()
        exhaustive = wand_topk(srv, spec, k=10, prune=False)
        t_exh = time.perf_counter() - t0
        assert [(d, float(s)) for d, s in pruned] == [
            (d, float(s)) for d, s in exhaustive
        ], f"rank divergence on {name}"
        assert [(d, float(s)) for d, s in gated] == [
            (d, float(s)) for d, s in exhaustive
        ], f"gated rank divergence on {name}"
        all_b = r.buckets_total + r.buckets_unmatchable
        skip_pct = (
            100.0 * (r.buckets_skipped + r.buckets_unmatchable) / all_b
            if all_b
            else 0.0
        )
        blk_pct = (
            100.0 * r.blocks_skipped / r.blocks_total if r.blocks_total else 0.0
        )
        pre_pct = (
            100.0 * (r.blocks_total - r.blocks_after_prefilter)
            / r.blocks_total
            if r.blocks_total
            else 0.0
        )
        print(f"{name:<18} {all_b:>7} {r.buckets_unmatchable:>8} "
              f"{r.buckets_scored:>7} {r.buckets_skipped:>8} "
              f"{skip_pct:>5.1f}% {r.blocks_total:>8} {r.blocks_skipped:>8} "
              f"{blk_pct:>5.1f}% (pre {pre_pct:>4.1f}%) "
              f"{r.terms_scored:>5} {r.terms_nonessential:>5} "
              f"{t_gated:>9.3f} {t_pruned:>10.3f} {t_exh:>11.3f} "
              f"{_bits_crc(pruned):>10}")


def clustered(n_docs: int) -> None:
    """Repo-local-vocabulary corpus where bucket pruning bites."""
    from frankensearch_spark.corpus import make_corpus
    from frankensearch_spark.operators.build import build_index
    from frankensearch_spark.operators.wand import QuerySpec
    from frankensearch_spark.operators.wand import serving_from_built
    from frankensearch_spark.session import get_spark
    from frankensearch_spark.sources.corpus import CORPUS_KEY, CORPUS_SCHEMA

    spark = get_spark("fsx-pruning-clustered")
    spark.sparkContext.setLogLevel("ERROR")
    import zlib

    from pyspark.sql import functions as F

    # the marker is appended DISTRIBUTED (Spark crc32 == zlib.crc32,
    # both standard CRC-32 — asserted below), so the clustered corpus
    # scales to 2M+ docs without a driver-side row materialization;
    # reuse the bench corpus parquet when a prior run wrote it
    corpus_pq = f"/tmp/fsx_bench_corpus_{n_docs}.parquet"
    if os.path.exists(corpus_pq):
        base = spark.read.parquet(corpus_pq)
    else:
        base = spark.createDataFrame(
            make_corpus(n_docs), schema=CORPUS_SCHEMA
        )
    marker_col = F.concat(
        F.lit("repolocal"),
        F.lpad((F.crc32(F.col("repo").cast("binary")) % 500)
               .cast("string"), 4, "0"),
    )
    df = base.withColumn(
        "content",
        F.concat_ws(" ", F.col("content"), marker_col, marker_col),
    )
    first_repo = make_corpus(1)[0][0]
    row = df.where(F.col("repo") == first_repo).select(
        marker_col.alias("m")
    ).head()
    assert row is not None, (
        f"{corpus_pq} does not contain repo {first_repo!r} — stale or "
        "foreign corpus parquet; delete it and re-run"
    )
    py_marker = f"repolocal{zlib.crc32(first_repo.encode()) % 500:04d}"
    assert row["m"] == py_marker, (row["m"], py_marker)
    idx = build_index(df, CORPUS_KEY)
    srv = serving_from_built(idx)
    srv.blocks = srv.blocks.persist()
    srv.stats()
    srv.preload_termstats()
    srv.preload_bucket_coverage()
    marker = py_marker
    _run(srv, {
        "must_repolocal": QuerySpec(
            must=[marker], should=["term00042", "term00100"]
        ),
        "should_repolocal": QuerySpec(should=[marker, "term00042"]),
        # mega-term variant: exhaustive must decode 'fn' (df≈N)
        # everywhere; θ from the marker's high-idf docs clears every
        # fn-only bucket — the shape where pruning wins wall-clock
        "repolocal_megaterm": QuerySpec(should=[marker, "fn"]),
    })
    spark.stop()


def zipf_clustered(n_docs: int) -> None:
    """Receipts over the reference gauntlet's repo-local generator shape
    (generator.rs:34-140 via make_corpus(clustered=True)): each doc's
    Zipf token ids rotate by a per-repo vocabulary offset and docids
    follow the (repo, path, commit) natural key, so every posting list
    concentrates into the docid ranges of the few repos where the term
    lands a low Zipf rank.  This is the corpus family where block-max
    θ-pruning and term-level MaxScore elimination are SUPPOSED to
    engage on natural multi-term shapes (the i.i.d. default is the
    adversarial control where honest gates keep them off)."""
    from frankensearch_spark.operators.build import build_index
    from frankensearch_spark.operators.wand import QuerySpec
    from frankensearch_spark.operators.wand import serving_from_built
    from frankensearch_spark.session import get_spark
    from frankensearch_spark.sources.corpus import CORPUS_KEY

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scaling_bench import ensure_corpus

    pq = ensure_corpus(
        n_docs, f"/tmp/fsx_corpus_{n_docs}_zipfclustered.parquet",
        clustered=True,
    )
    spark = get_spark("fsx-pruning-zipf")
    spark.sparkContext.setLogLevel("ERROR")
    idx = build_index(spark.read.parquet(pq), CORPUS_KEY)
    srv = serving_from_built(idx)
    srv.blocks = srv.blocks.persist()
    srv.stats()
    srv.preload_termstats()
    srv.preload_bucket_coverage()
    _run(srv, {
        "q_short_fn": QuerySpec.from_text("fn"),
        "q_short_term": QuerySpec.from_text("term00042"),
        "q_natural": QuerySpec.from_text(
            "term00001 term00007 generated record"
        ),
        "q_natural5": QuerySpec.from_text(
            "term00042 term00100 term00500 term01000 term02000"
        ),
        "q_must": QuerySpec(must=["term00042"],
                            should=["term00100", "term00500"]),
        "q_mustnot": QuerySpec(should=["term00042", "term00100"],
                               must_not=["term00500"]),
    })
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--clustered":
        clustered(int(sys.argv[2]) if len(sys.argv) > 2 else 200_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--zipf-clustered":
        zipf_clustered(int(sys.argv[2]) if len(sys.argv) > 2 else 200_000)
        return
    idx_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/fsx_vb_idx"
    from frankensearch_spark.operators.wand import QuerySpec
    from frankensearch_spark.operators.wand import PruningReceipt, wand_topk
    from frankensearch_spark.plans.manifest import read_index
    from frankensearch_spark.session import get_spark

    spark = get_spark("fsx-pruning-report")
    spark.sparkContext.setLogLevel("ERROR")
    srv = read_index(spark, idx_dir)
    srv.blocks = srv.blocks.persist()
    srv.stats()
    srv.preload_termstats()
    srv.preload_bucket_coverage()

    _run(srv, {
        "q_short_fn": QuerySpec.from_text("fn"),
        "q_short_term": QuerySpec.from_text("term00042"),
        "q_natural": QuerySpec.from_text("term00001 term00007 generated record"),
        "q_natural5": QuerySpec.from_text(
            "term00042 term00100 term00500 term01000 term02000"
        ),
        "q_must": QuerySpec(must=["term00042"],
                            should=["term00100", "term00500"]),
        "q_mustnot": QuerySpec(should=["term00042", "term00100"],
                               must_not=["term00500"]),
    })
    spark.stop()


if __name__ == "__main__":
    main()
