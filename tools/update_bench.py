"""Update-path bench: the QG-3/QG-5 analogues (round-5 verdict task 5).

Reference contract (quill-perf-gates.toml:73-86): sustained upsert rate
>= 5k updates/s in 5k-doc batches over a warm index, and compaction at
20% tombstone density >= 5x faster than the oracle force-merge shape
(a full rebuild of the survivors).

Spark analogue over a SAVED durable index, all arms on the LOADED
engine (what a serving process holds):

* ``upsert`` — K replacement batches of 5k docs each (same natural keys,
  new content — make_corpus keys are deterministic per docid, so a
  different seed is a pure replace batch).  Per batch the clock stops
  only when the update is VISIBLE: a search over the updated engine
  serves.  Batches chain (each upserts the previous result) like a real
  update stream.  Each batch also records its Spark jobs, grouped by
  the engine call site that ran them (``upsert_batch_jobs``).
* ``bulk_upsert`` — one replace batch of half the index (at most 100k
  docs): per-batch job constants vs sustainable update THROUGHPUT.
* ``compact`` — delete to 20% tombstone density, fold with
  compact(force=True), materialize survivors; compared against the
  oracle force-merge (full rebuild of the surviving corpus at the same
  parallelism).

Usage: python tools/update_bench.py [index_path] [n_batches] [n_docs]

When ``index_path`` holds no committed index, one is first built and
saved there from ``make_corpus(n_docs)`` (default 200,000 docs); the
tool's other scratch files go next to it.  Prints one JSON line and
writes it to BENCH_UPDATE.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEY_COLS = ["repo", "path", "commit"]


def _jobs_by_site(sc, group: str) -> list:
    """[(call site, jobs, seconds)] of the Spark jobs in ``group``, from
    the status store, in first-submission order."""
    store = sc._jsc.sc().statusStore()
    n: Counter = Counter()
    secs: Counter = Counter()
    for j in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(j)
        site = str(job.name()).split(" at ", 1)[-1]
        site = site.split("frankensearch_spark/", 1)[-1]
        n[site] += 1
        t0, t1 = job.submissionTime(), job.completionTime()
        if t0.isDefined() and t1.isDefined():
            secs[site] += (t1.get().getTime() - t0.get().getTime()) / 1e3
    return [[site, n[site], round(secs[site], 2)] for site in n]


def main() -> None:
    idx_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/fsx_idx_2m"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    n_build = int(sys.argv[3]) if len(sys.argv) > 3 else 200_000
    batch_docs = 5_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    work = os.path.dirname(os.path.abspath(idx_path))

    from pyspark.sql import functions as F

    from frankensearch_spark.corpus import make_corpus
    from frankensearch_spark.engine import FrankensearchSpark
    from frankensearch_spark.operators.build import build_index
    from frankensearch_spark.plans.manifest import is_completed_index
    from frankensearch_spark.session import get_spark
    from frankensearch_spark.sources.corpus import CORPUS_SCHEMA

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools"))
    from host_probe import run as host_probe

    probe = host_probe()
    spark = get_spark(
        "fsx-update-bench", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # Python-worker warmup (CLAUDE.md: cold-start ~10 s at 32 workers)
    def wf(batches):
        yield from batches
    spark.range(0, cpus * 4, 1, cpus * 4).mapInArrow(wf, "id long").count()

    out: dict = {"index": idx_path, "cpus": cpus, "host_probe": probe,
                 "batch_docs": batch_docs, "n_batches": n_batches}

    corpus_pq = os.path.join(work, f"fsx_bench_corpus_{n_build}.parquet")
    if not is_completed_index(idx_path):
        import pandas as pd

        pd.DataFrame(
            make_corpus(n_build), columns=[*KEY_COLS, "lang", "content"]
        ).to_parquet(corpus_pq)
        t0 = time.perf_counter()
        FrankensearchSpark.build(
            spark.read.parquet(corpus_pq), KEY_COLS
        ).save(idx_path)
        out["build_save_secs"] = round(time.perf_counter() - t0, 2)
        print(f"progress: built {out}", file=sys.stderr)

    eng = FrankensearchSpark.load(spark, idx_path)
    if not eng.key_cols:
        # scaling-bench-era indexes predate key_cols in the manifest;
        # docmeta carries the natural key columns either way
        eng = FrankensearchSpark(eng.index, KEY_COLS, eng.corpus, eng.schema)
    t0 = time.perf_counter()
    eng.warm()
    out["warm_secs"] = round(time.perf_counter() - t0, 2)
    n_docs = eng.index.stats()[0]
    out["n_docs"] = n_docs

    # ---- upsert arm: chained 5k replace batches, visibility-stopped
    batch_secs, batch_jobs = [], []
    cur = eng
    for b in range(n_batches):
        rows = make_corpus(batch_docs, seed=1000 + b)
        delta = spark.createDataFrame(rows, schema=CORPUS_SCHEMA)
        probe_term = f"term{(b + 3) * 11:05d}"
        n_before = cur.index.stats()[0]
        group = f"upsert-batch-{b}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            cur = cur.upsert(delta)
            # visibility witness stops the clock: a search over the
            # updated engine serves
            hits = cur.search_docids(probe_term, limit=5)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        dt = time.perf_counter() - t0
        assert cur.index.stats()[0] - n_before == batch_docs
        assert hits, probe_term
        batch_secs.append(round(dt, 3))
        batch_jobs.append(_jobs_by_site(sc, group))
    out["upsert_batch_secs"] = batch_secs
    out["upsert_docs_per_sec"] = round(
        batch_docs * n_batches / sum(batch_secs), 1
    )
    out["upsert_batch_jobs"] = batch_jobs
    print(f"progress: upsert done {out}", file=sys.stderr)

    # ---- bulk-upsert arm: one large replace batch — separates the
    # per-batch Spark job constants (the 5k-batch latency floor) from
    # sustainable update THROUGHPUT
    bulk_docs = min(100_000, n_docs // 2)
    rows = make_corpus(bulk_docs, seed=9000)
    delta = spark.createDataFrame(rows, schema=CORPUS_SCHEMA)
    t0 = time.perf_counter()
    bulk = eng.upsert(delta)
    hits = bulk.search_docids("term00042", limit=5)
    dt = time.perf_counter() - t0
    assert bulk.index.stats()[0] - n_docs == bulk_docs and hits
    out["bulk_upsert_docs"] = bulk_docs
    out["bulk_upsert_secs"] = round(dt, 2)
    out["bulk_upsert_docs_per_sec"] = round(bulk_docs / dt, 1)
    print(f"progress: bulk upsert done {out}", file=sys.stderr)

    # ---- compaction arm at 20% tombstone density (docids are sparse
    # lease-based — sample every 5th LIVE docid, not a dense range)
    dead = eng.index.docmeta.where(F.col("docid") % 5 == 0).select("docid")
    deleted = eng.delete_documents(dead)
    t0 = time.perf_counter()
    compacted = deleted.compact(force=True)
    compacted.index.blocks.count()
    compacted.index.docmeta.count()
    out["compact_secs"] = round(time.perf_counter() - t0, 2)
    out["compact_survivors"] = compacted.index.stats()[0]

    # oracle force-merge SHAPE comparator: a full rebuild of an
    # equal-sized (80%) corpus of the same generator shape at the same
    # parallelism — what the reference's force-merge gate compares
    # compaction against.  Read from the bench corpus parquet (no
    # driver-side materialization); a deterministic key-hash filter
    # keeps ~80% of rows.
    if os.path.exists(corpus_pq):
        full_df = spark.read.parquet(corpus_pq)
    else:
        full_df = spark.createDataFrame(
            make_corpus(n_docs), schema=CORPUS_SCHEMA
        )
    surv_pq = os.path.join(work, "fsx_update_bench_survivors.parquet")
    full_df.where(
        F.crc32(F.concat_ws("|", "repo", "path", "commit")) % 5 != 0
    ).write.mode("overwrite").parquet(surv_pq)
    surv_df = spark.read.parquet(surv_pq)
    out["force_merge_docs"] = surv_df.count()
    print(f"progress: compact done {out}", file=sys.stderr)
    t0 = time.perf_counter()
    rebuilt = build_index(surv_df, KEY_COLS, "content")
    rebuilt.postings.count()
    rebuilt.docmeta.count()
    out["force_merge_rebuild_secs"] = round(time.perf_counter() - t0, 2)
    out["compact_speedup_vs_rebuild"] = round(
        out["force_merge_rebuild_secs"] / max(out["compact_secs"], 1e-9), 2
    )

    sidecar = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_UPDATE.json",
    )
    with open(sidecar, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
