"""Streamed-ingest visibility lag: file drop -> searchable.

The reference's mutable delta segment makes writes searchable within a
bounded lag (quill/delta.rs:782-830; delta_visibility config,
config.rs:43-46, 1 s default).  The Spark-native analogue is micro-batch
mini-segments: this tool runs the incremental build under a short
processing-time trigger, drops N single-file batches into the source
directory, and measures, per drop:

  * commit lag   — file drop -> the mini-segment's commit marker
                   (segmeta.json) exists, i.e. the docs are DURABLY
                   indexed and visible to any new reader;
  * search lag   — file drop -> a query for a token unique to that drop
                   returns the doc: read_incremental_index assembles the
                   snapshot (a ServingIndex over the sealed block
                   segments) and serving_search_bits answers it.

After the drops it seals one more 10-row batch outside the stream, in a
job group, and reports the Spark jobs that seal ran.  Prints ONE JSON
line with per-drop lags, medians and the jobs per seal.

Usage: python tools/visibility_bench.py [n_drops]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_drops = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    import pyarrow as pa
    import pyarrow.parquet as pq

    from frankensearch_spark.operators.serving_exec import serving_search_bits
    from frankensearch_spark.plans.tiers import list_segments
    from frankensearch_spark.session import get_spark
    from frankensearch_spark.sources.corpus import CORPUS_KEY, CORPUS_SCHEMA
    from frankensearch_spark.streaming.incremental import (
        index_microbatch,
        read_incremental_index,
    )

    spark = get_spark("fsx-visibility", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    src = tempfile.mkdtemp(prefix="fsx_vis_src_")
    out = tempfile.mkdtemp(prefix="fsx_vis_out_")
    names = ["repo", "path", "commit", "lang", "content"]

    def drop(i: int) -> str:
        token = f"visibletoken{i:04d}"
        rows = [
            (f"org/vis{i}", f"src/f{j}.rs", "c" * 40, "rust",
             f"{token} fn value batch row {j}")
            for j in range(10)
        ]
        cols = list(zip(*rows))
        pq.write_table(
            pa.table({n: list(c) for n, c in zip(names, cols)}),
            os.path.join(src, f"drop-{i:04d}.parquet"),
        )
        return token

    # prime the stream with one batch so workers/trigger are warm
    drop(0)
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: index_microbatch(df, bid, out, CORPUS_KEY)
        )
        .option("checkpointLocation", os.path.join(out, "_checkpoint"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    while not list_segments(out) and time.time() < deadline:
        time.sleep(0.1)

    commit_lags, search_lags = [], []
    for i in range(1, n_drops + 1):
        n_before = len(list_segments(out))
        t0 = time.perf_counter()
        token = drop(i)
        while len(list_segments(out)) <= n_before:
            if time.perf_counter() - t0 > 60:
                raise TimeoutError("mini-segment never committed")
            time.sleep(0.02)
        commit_lags.append(time.perf_counter() - t0)
        idx = read_incremental_index(spark, out)
        hits = serving_search_bits(idx, token, k=5)
        assert hits, token
        search_lags.append(time.perf_counter() - t0)

    q.stop()
    sc = spark.sparkContext
    sc.setJobGroup("seal", "seal")
    drop(n_drops + 1)
    index_microbatch(
        spark.read.parquet(
            os.path.join(src, f"drop-{n_drops + 1:04d}.parquet")
        ),
        0, os.path.join(out, "seal_probe"), CORPUS_KEY,
    )
    sc.setJobGroup("other", "other")
    seal_jobs = len(sc.statusTracker().getJobIdsForGroup("seal"))
    print(json.dumps({
        "metric": "stream_visibility_lag",
        "unit": "sec",
        "trigger": "500ms",
        "drops": n_drops,
        "commit_lag_p50": round(statistics.median(commit_lags), 3),
        "commit_lags": [round(x, 3) for x in commit_lags],
        "search_lag_p50": round(statistics.median(search_lags), 3),
        "search_lags": [round(x, 3) for x in search_lags],
        "seal_jobs": seal_jobs,
    }))
    spark.stop()
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
