"""Phase decomposition of the durable build.

Phases timed in one session:
  p_assign   : docid assignment persist + count (skinny)
  p_spans    : docid-range exchange + local sort, noop sink
  p_tokenize : grouped tokenize materialize (cache count)
  p_stats    : docmeta + termstats counts
  p_exch     : rkey sample + exchange of grouped rows, noop sink
  p_blocks   : + grouped blockify kernel, noop sink
  p_write    : full write_index (parquet + manifest)

Usage: python tools/profile_grouped.py --cpus 8 [--docs 2000000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from frankensearch_spark.operators.build import (
        assign_docids,
        build_docmeta,
        build_postings_grouped,
        build_termstats,
        explode_grouped_postings,
    )
    from frankensearch_spark.operators.merge import (
        DEFAULT_BUCKET_SHIFT,
        DEFAULT_TERM_PARTITIONS,
        _range_partition,
        build_blocks_grouped,
    )
    from frankensearch_spark.sources.corpus import CORPUS_KEY

    corpus = spark.read.parquet(f"/tmp/fsx_bench_corpus_{args.docs}.parquet")

    def wf(batches):
        import numpy  # noqa: F401
        for rb in batches:
            yield rb

    spark.range(0, args.cpus * 4, 1, args.cpus * 4).mapInArrow(
        wf, "id long"
    ).count()

    out = {"cpus": args.cpus, "docs": args.docs}

    def timed(name, fn):
        t0 = time.perf_counter()
        r = fn()
        out[name] = round(time.perf_counter() - t0, 2)
        return r

    wd = assign_docids(corpus, CORPUS_KEY, "lease").persist()
    timed("p_assign", lambda: wd.count())
    spans = wd.repartitionByRange(args.cpus, "docid").sortWithinPartitions(
        "docid"
    )
    timed(
        "p_spans",
        lambda: spans.write.format("noop").mode("overwrite").save(),
    )
    grouped = build_postings_grouped(spans).persist()
    timed("p_tokenize", lambda: grouped.count())
    postings = explode_grouped_postings(grouped).drop("positions")
    docmeta = build_docmeta(wd, CORPUS_KEY, postings).persist()
    termstats = build_termstats(postings)
    timed("p_stats", lambda: (docmeta.count(), termstats.count()))

    arranged = _range_partition(
        grouped, F.element_at(F.col("docids"), 1), DEFAULT_BUCKET_SHIFT,
        DEFAULT_TERM_PARTITIONS, max(args.cpus * 4, 16),
    )
    timed(
        "p_exch",
        lambda: arranged.write.format("noop").mode("overwrite").save(),
    )
    blocks = build_blocks_grouped(grouped)
    timed(
        "p_blocks",
        lambda: blocks.write.format("noop").mode("overwrite").save(),
    )
    dest = f"/tmp/fsx_profile_grp_{args.cpus}"
    shutil.rmtree(dest, ignore_errors=True)
    t0 = time.perf_counter()
    blocks.write.mode("overwrite").option("compression", "zstd").parquet(dest)
    out["p_parquet"] = round(time.perf_counter() - t0, 2)
    out["index_bytes"] = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(dest) for f in fs
    )
    shutil.rmtree(dest, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
