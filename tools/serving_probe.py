"""Standalone serving-concurrency probe.

Round-3's driver bench recorded serving_qps_concurrent8 (0.94) ==
serving_qps_sequential (0.93) — the 3x FAIR-pool overlap r2 measured was
gone.  The round-3 verdict accepts "degraded host" as probable but
demands proof it was not a code change.  This tool isolates EXACTLY the
serving arms (durable index, warm termstats, sequential vs 8-thread
FAIR vs batched) so the question can be answered in ~3 minutes without
running the full bench.

Usage: python tools/serving_probe.py [n_docs]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools")
)

BENCH_QUERIES = {
    "q_identifier": "snake_case_identifier",
    "q_short_fn": "fn",
    "q_short_term": "term00042",
    "q_natural": "term00001 term00007 generated record",
    "q_natural5": "term00042 term00100 term00500 term01000 term02000",
    "q_miss": "missingkeywordalpha",
}


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from scaling_bench import ensure_corpus

    from frankensearch_spark.operators.build import build_index
    from frankensearch_spark.operators.batchexec import search_batch_collect
    from frankensearch_spark.operators.serving_exec import serving_search_bits
    from frankensearch_spark.operators.wand import serving_from_built
    from frankensearch_spark.plans.manifest import read_index, write_index
    from frankensearch_spark.session import get_spark
    from frankensearch_spark.sources.corpus import CORPUS_KEY

    corpus_path = ensure_corpus(
        n_docs, f"/tmp/fsx_bench_corpus_{n_docs}.parquet"
    )
    spark = get_spark(
        "fsx-serving-probe",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def wf(batches):
        for rb in batches:
            yield rb

    spark.range(0, cpus * 4, 1, cpus * 4).mapInArrow(wf, "id long").count()

    import shutil

    idx_out = "/tmp/fsx_probe_index"
    shutil.rmtree(idx_out, ignore_errors=True)
    corpus = spark.read.parquet(corpus_path)
    idx = build_index(corpus, CORPUS_KEY, docid_mode="lease")
    write_index(
        serving_from_built(idx, cache=False), idx_out, n_groups=1,
        source=corpus_path,
    )

    srv = read_index(spark, idx_out)
    srv.blocks = srv.blocks.persist()
    srv.stats()
    srv.preload_termstats()
    srv.preload_bucket_coverage()

    serving_lat = []
    for text in BENCH_QUERIES.values():
        serving_search_bits(srv, text, k=10)  # warm
        t0 = time.perf_counter()
        serving_search_bits(srv, text, k=10)
        serving_lat.append(time.perf_counter() - t0)

    import concurrent.futures as cf
    import threading

    q_stream = [t for t in BENCH_QUERIES.values() for _ in range(4)]

    def one_query(text: str) -> float:
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", threading.current_thread().name
        )
        t0 = time.perf_counter()
        serving_search_bits(srv, text, k=10)
        return time.perf_counter() - t0

    t0 = time.perf_counter()
    with cf.ThreadPoolExecutor(8) as ex:
        list(ex.map(one_query, q_stream))
    qps_fair = len(q_stream) / (time.perf_counter() - t0)

    search_batch_collect(srv, list(BENCH_QUERIES.values()), k=10)  # warm
    t0 = time.perf_counter()
    search_batch_collect(srv, q_stream, k=10)
    qps_batch = len(q_stream) / (time.perf_counter() - t0)

    out = {
        "n_docs": n_docs,
        "serving_p50": round(statistics.median(serving_lat), 4),
        "serving_qps_sequential": round(
            len(serving_lat) / sum(serving_lat), 2
        ),
        "serving_qps_concurrent8": round(qps_fair, 2),
        "serving_qps_batch": round(qps_batch, 2),
    }
    try:
        from tools.host_probe import run as _hp

        out["host_probe"] = _hp()
    except Exception as e:  # noqa: BLE001
        out["host_probe"] = {"error": repr(e)}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
