"""Benchmark driver: index-build throughput + top-k BM25 query latency.

Prints ONE compact JSON headline line (≤ ~1.9 kB — the driver captures
only the first ~2,000 chars of stdout):
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
and writes the full record (all arms, scaling levels) to
BENCH_DETAIL.json next to this file.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     FSX_BENCH_DOCS (query/serving corpus size; default 500k*sf),
     FSX_BENCH_BUILD_DOCS (throughput-arm corpus size; default 5M*sf,
     capped at 2M — large enough that per-job constants amortize).

The build arm measures the full durable pipeline (corpus parquet ->
tokenize -> posting aggregation -> compressed global term partitions ->
manifest write) over the deterministic synthetic corpus, Python workers
pre-warmed (steady-state, like the reference's 30-run medians).  The
query arm serves the frozen query classes through the rank-exact f32
path; a concurrent arm pushes a 24-query stream through 8 threads (one
FAIR pool each) for the serving-throughput numbers (serving_qps_*).
If tools/scaling_bench.py has produced BENCH_SCALING.json, its N-vs-4N
results ride along.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = {
    "q_identifier": "snake_case_identifier",
    "q_short_fn": "fn",
    "q_short_term": "term00042",
    "q_natural": "term00001 term00007 generated record",
    "q_natural5": "term00042 term00100 term00500 term01000 term02000",
    "q_miss": "missingkeywordalpha",
}

# per-class arm (QG-6 shape): the frozen query set incl. boolean/phrase
# classes, served through the full-grammar AST path
from frankensearch_spark.corpus import FROZEN_QUERIES  # noqa: E402


sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
)


def _corpus_parquet(n_docs: int) -> str:
    """Synthesize-once corpus parquet — ONE writer shared with the
    scaling bench (a drifted copy would silently benchmark a different
    corpus)."""
    from scaling_bench import ensure_corpus

    return ensure_corpus(n_docs, f"/tmp/fsx_bench_corpus_{n_docs}.parquet")


# Pinned HEALTHY-boot probe band (tools/host_probe.py, measured idle on
# the recovered 2026-08-19 boot: jvm 0.93-0.99s, ipc 2.83-3.06s, shuffle
# 2.6-2.8s; the degraded boot measured jvm 1.25, ipc 5.1, shuffle 3.7 on
# the same workloads).  The round-3 driver record was captured on the
# degraded boot and showed a concurrency collapse nobody could disprove
# — so every bench record now classifies its own host FIRST (idle, before
# any repo Spark work) and carries the verdict at headline level.
# ``ncpu`` is the core count of the boot the band was pinned on: a probe
# from any other core count is not comparable and reads UNKNOWN.
HEALTHY_BAND = {
    "ncpu": 32,
    "jvm_hash2b_secs": 1.10,
    "ipc_arrow64m_secs": 4.20,
    "shuffle_agg100m_secs": 3.30,
}


def classify_host(probe: dict) -> str:
    """HEALTHY / DEGRADED / UNKNOWN vs the pinned band.

    DEGRADED needs >=2 exceeded dimensions (any single one can be a
    transient co-tenant blip); all within band = HEALTHY; one exceeded =
    UNKNOWN (interpret absolute seconds with care).  A probe taken on a
    core count other than the band's is UNKNOWN."""
    if probe.get("ncpu") != HEALTHY_BAND["ncpu"]:
        return "UNKNOWN"
    over = 0
    for k, lim in HEALTHY_BAND.items():
        if k == "ncpu":
            continue
        v = probe.get(k)
        if v is None:
            return "UNKNOWN"
        if float(v) > lim:
            over += 1
    return "HEALTHY" if over == 0 else ("DEGRADED" if over >= 2 else "UNKNOWN")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = 0.1
    # TWO corpora, two regimes, deliberately:
    # * query corpus (n_docs, 500k*sf = 50k at sf0.1): every latency /
    #   serving / class arm runs against it — round-over-round
    #   comparable (r01 measured the same arms at the same size).
    # * build corpus (n_build, 10x): the throughput arms only.  At 50k
    #   docs fixed per-job constants (~0.2-0.25 s Spark scheduling
    #   floor per action) eat ~25% of the measured build and the
    #   steady-state number under-reports the pipeline by ~1.5x vs the
    #   same code at 500k — the 500k figure is the one that
    #   extrapolates to the 100-TB regime.
    n_docs = int(os.environ.get("FSX_BENCH_DOCS", str(int(500_000 * sf_num))))
    n_docs = max(n_docs, 5000)
    n_build = int(
        os.environ.get("FSX_BENCH_BUILD_DOCS", str(int(5_000_000 * sf_num)))
    )
    n_build = max(min(n_build, 2_000_000), n_docs)

    from frankensearch_spark.operators.astexec import topk_ast
    from frankensearch_spark.operators.build import build_index
    from frankensearch_spark.operators.wand import serving_from_built
    from frankensearch_spark.plans.manifest import write_index
    from frankensearch_spark.session import get_spark
    from frankensearch_spark.sources.corpus import CORPUS_KEY

    # host-health probe FIRST, on the idle machine: the probe value is
    # the state under which every latency/QPS arm below runs, and an
    # end-of-run probe measures our own leftover load instead of the
    # boot (r3's post-arms probe read 2x its idle value)
    try:
        from tools.host_probe import run as _host_probe

        host_probe = _host_probe()
    except Exception as e:  # noqa: BLE001 — probe must never fail bench
        host_probe = {"error": repr(e)}
    host_state = classify_host(host_probe)

    corpus_path = _corpus_parquet(n_docs)
    build_corpus_path = (
        corpus_path if n_build == n_docs else _corpus_parquet(n_build)
    )

    spark = get_spark(
        "fsx-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        # FAIR scheduling for the concurrent-serving arm: each query
        # thread runs in its own pool, so short queries interleave
        # instead of queueing FIFO behind one another
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm every Python worker before the clock starts
    def wf(batches):
        import numpy as np  # noqa: F401
        import pandas as pd  # noqa: F401
        import pyarrow as pa  # noqa: F401
        for rb in batches:
            yield rb

    spark.range(0, cpus * 4, 1, cpus * 4).mapInArrow(wf, "id long").count()

    corpus = spark.read.parquet(corpus_path)
    idx_out = "/tmp/fsx_bench_index"
    shutil.rmtree(idx_out, ignore_errors=True)

    # This in-process build only prepares the QUERY index (and reports
    # its cold time); the throughput headline comes from the fresh-JVM
    # spark-submit arms below — see the methodology note there.
    t0 = time.perf_counter()
    built = build_index(corpus, CORPUS_KEY, docid_mode="lease")
    built.postings.count()
    built.docmeta.count()
    built.termstats.count()
    built.stats()
    build_cold_secs = time.perf_counter() - t0

    # the queries arm and the save take the serving form, blockified
    # once here (the write times the blockify with the durable write)
    idx = serving_from_built(built)
    t0 = time.perf_counter()
    write_index(idx, idx_out, n_groups=1, source=corpus_path)
    write_secs = time.perf_counter() - t0

    # QG-7 analogue: on-disk index bytes per document (compressed blocks
    # + positions sidecar + docmeta/termstats/fieldstats + manifest)
    index_bytes = 0
    for root, _dirs, files in os.walk(idx_out):
        for f in files:
            index_bytes += os.path.getsize(os.path.join(root, f))
    corpus_bytes = sum(
        os.path.getsize(os.path.join(corpus_path, f))
        for f in os.listdir(corpus_path)
    )

    # long-lived serving mode: stats + full (term -> df) dictionary are
    # process-resident, so each query is exactly ONE Spark job
    t0 = time.perf_counter()
    idx.preload_termstats()
    warm_secs = time.perf_counter() - t0

    queries: dict[str, float] = {}
    lat: list[float] = []
    for name, text in BENCH_QUERIES.items():
        topk_ast(idx, text, k=10).collect()  # warm (plan compile)
        t0 = time.perf_counter()
        topk_ast(idx, text, k=10).collect()
        secs = time.perf_counter() - t0
        queries[name] = round(secs, 4)
        lat.append(secs)

    # serving arm: the same queries answered from the DURABLE compressed
    # index (decode-and-score + WAND routing), long-lived process
    from frankensearch_spark.operators.serving_exec import serving_search_bits
    from frankensearch_spark.plans.manifest import read_index

    srv = read_index(spark, idx_out)
    srv.blocks = srv.blocks.persist()
    srv.stats()
    srv.preload_termstats()
    srv.preload_bucket_coverage()  # WAND routing sees per-term coverage
    serving_lat: list[float] = []
    for name, text in BENCH_QUERIES.items():
        serving_search_bits(srv, text, k=10)  # warm (plan + block cache)
        t0 = time.perf_counter()
        serving_search_bits(srv, text, k=10)
        serving_lat.append(time.perf_counter() - t0)
    serving_p50 = statistics.median(serving_lat)

    # concurrent-serving throughput arm: a long-lived serving process
    # answering a stream of independent queries.  Single-query p50 is
    # floored by Spark's per-job scheduling constant; CONCURRENT queries
    # overlap those constants (and their I/O waits), so queries/sec —
    # not latency — is the serving-scale metric.  Each thread gets its
    # own FAIR pool (undeclared pools are created on first use, weight
    # 1), giving round-robin task scheduling across in-flight queries.
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

    n_workers = 8
    t0 = time.perf_counter()
    with cf.ThreadPoolExecutor(n_workers) as ex:
        list(ex.map(one_query, q_stream))
    qps_fair = len(q_stream) / (time.perf_counter() - t0)
    qps_seq = len(serving_lat) / sum(serving_lat)

    # batched-serving throughput arm: the SAME query stream answered in
    # ONE Spark job (operators/batchexec.py) — postings scan, pivot and
    # kernel pass shared across the batch, so the ~150-250 ms per-job
    # constant is paid once per BATCH instead of once per query.  This
    # is the cluster-serving shape; bit-parity with the single-query
    # path is pinned in tests/test_batchexec.py.
    from frankensearch_spark.operators.batchexec import search_batch_collect

    search_batch_collect(srv, list(BENCH_QUERIES.values()), k=10)  # warm
    t0 = time.perf_counter()
    search_batch_collect(srv, q_stream, k=10)
    qps_batch = len(q_stream) / (time.perf_counter() - t0)

    # hybrid-fusion serving arm: lexical top-depth from the DURABLE
    # index fused with a semantic relation (RRF K=60) — the product
    # two-tier path (engine.search_hybrid), timed end-to-end.  The
    # semantic tier is a deterministic synthetic (docid, sem_score)
    # relation: the embedding model is out of the lexical rebuild's
    # scope (SURVEY §1), and fusion cost is independent of where the
    # depth-row semantic relation came from.  The engine's ranked-query
    # cache is cleared before each timed call so the lexical tier is
    # actually served, not replayed from the driver cache.
    from pyspark.sql import functions as F
    from frankensearch_spark.engine import FrankensearchSpark
    from frankensearch_spark.sources.corpus import CORPUS_KEY as _CK

    heng = FrankensearchSpark(srv, key_cols=_CK)
    sem_df = spark.range(0, 200).select(
        F.col("id").cast("long").alias("docid"),
        (F.lit(1.0) / (F.col("id") + F.lit(1.0))).alias("sem_score"),
    )
    hybrid_lat: list[float] = []
    for text in ("fn", "term00042", "snake_case_identifier",
                 "term00001 term00007 generated record"):
        heng.search_hybrid(text, sem_df, limit=10, depth=50)  # warm
        heng._query_cache.clear()
        t0 = time.perf_counter()
        heng.search_hybrid(text, sem_df, limit=10, depth=50)
        hybrid_lat.append(time.perf_counter() - t0)
    hybrid_p50 = statistics.median(hybrid_lat)

    # per-class p50 over the frozen query set (AST path: booleans,
    # phrases, globs all supported); classes come from the Q2 classifier
    # (query_class.rs heuristics), not hand labels
    from frankensearch_spark.query_class import perf_class

    by_class: dict[str, list[float]] = {}
    for _qid, text in sorted(FROZEN_QUERIES.items()):
        cls = perf_class(text)
        topk_ast(idx, text, k=10).collect()  # warm (plan + caches)
        t0 = time.perf_counter()
        topk_ast(idx, text, k=10).collect()
        by_class.setdefault(cls, []).append(time.perf_counter() - t0)
    class_p50 = {
        cls: round(statistics.median(v), 4) for cls, v in by_class.items()
    }

    # Throughput arms LAST, each in a FRESH spark-submit process over
    # the BUILD corpus (n_build).  In-process measurement after the
    # latency/serving arms under-reports by ~40%: the serving block
    # caches and the concurrent arm leave the old-gen fragmented, and
    # System.gc() + clearCache only claw back half of it — a fresh JVM
    # (exactly how the N-vs-4N scaling bench measures, and how a real
    # cluster submits the job) is the reproducible steady state.  Each
    # arm: workers pre-warmed, one cold build (JIT), then median of
    # repeat-1 rebuilds with the SQL cache cleared between (Spark's
    # CacheManager otherwise substitutes the repeat plan with the
    # cached InMemoryRelation — measured 6x inflation).
    from scaling_bench import make_zip

    zpath = make_zip(os.path.join(os.path.dirname(
        os.path.abspath(__file__)), "dist"))

    def _submit_arm(repeat: int) -> dict:
        import subprocess

        out_dir = "/tmp/fsx_bench_arm"
        cmd = [
            "spark-submit",
            "--master", f"local[{cpus}]",
            "--conf", f"spark.sql.shuffle.partitions={cpus}",
            "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
            "--conf", "spark.sql.adaptive.enabled=true",
            "--conf", "spark.driver.memory=16g",
            "--conf", "spark.local.dir=/dev/shm/spark-local",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zpath,
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "tools", "submit_build.py"),
            "--corpus", build_corpus_path, "--out", out_dir,
            "--repeat", str(repeat),
        ]
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=1800, check=False
        )
        shutil.rmtree(out_dir, ignore_errors=True)
        for line in proc.stdout.splitlines()[::-1]:
            line = line.strip()
            if line.startswith("{"):
                return json.loads(line)
        raise RuntimeError(
            f"no JSON from the build arm:\n{proc.stderr[-2000:]}"
        )

    # the parent session has served its purpose (latency/serving arms);
    # stopping it BEFORE the subprocess arms frees its 16 GB heap +
    # cached blocks — measured ~30% faster subprocess builds vs arms
    # run while the idle parent JVM still holds memory
    spark.stop()

    # the build arm runs the default analyzer (ASCII docs through the
    # Arrow-C++ kernel, the rest through the contract analyzer —
    # contract-exact everywhere) and the one (grouped) layout.  It
    # degrades on its own: a timeout/crash there must not discard the
    # latency/serving measurements already taken
    arm_errors: dict[str, str] = {}
    try:
        arm = _submit_arm(repeat=8)
    except Exception as e:  # noqa: BLE001 — recorded, not swallowed
        arm_errors["grouped"] = repr(e)
        arm = None
    if arm is not None:
        build_secs = arm["build_secs"]
        build_cold_fresh_secs = arm["build_cold_secs"]
        build_write_secs = arm["write_secs"]
    else:
        # fall back to the in-process cold build + write timed above —
        # those measured the QUERY corpus (n_docs), so rebase n_build
        # to keep every derived docs/sec field truthful
        arm = {}
        n_build = n_docs
        build_secs = build_cold_secs
        build_cold_fresh_secs = build_cold_secs
        build_write_secs = write_secs
    p50 = statistics.median(lat)
    out = {
        "metric": "bm25_topk_p50_latency",
        "value": round(p50, 4),
        "unit": "sec",
        "queries": queries,
        "sf": sf_num,
        "query_docs": n_docs,
        "build_docs": n_build,
        "build_secs": round(build_secs, 3),
        "build_docs_per_sec": round(n_build / build_secs, 1),
        "build_cold_secs": round(build_cold_secs, 3),
        "build_cold_fresh_jvm_secs": round(build_cold_fresh_secs, 3),
        "build_warm_runs": arm.get("build_warm_runs"),
        "build_tokenizer": "auto",
        "build_layout": "grouped",
        "build_arm_errors": arm_errors or None,
        "build_write_secs": round(build_write_secs, 3),
        "durable_write_secs": round(write_secs, 3),
        "durable_docs_per_sec": round(
            n_build / (build_secs + build_write_secs), 1
        ),
        "index_bytes_per_doc": round(index_bytes / n_docs, 1),
        "index_to_corpus_ratio": round(index_bytes / max(corpus_bytes, 1), 3),
        "class_p50": class_p50,
        "hybrid_p50": round(hybrid_p50, 4),
        "serving_index_p50": round(serving_p50, 4),
        "serving_qps_sequential": round(qps_seq, 2),
        "serving_qps_concurrent8": round(qps_fair, 2),
        "serving_qps_batch": round(qps_batch, 2),
        "serving_mode": "warm",  # preloaded termstats (long-lived process)
        "warm_termstats_secs": round(warm_secs, 3),
        "cpus": cpus,
    }
    scaling_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALING.json"
    )
    scaling_pairs = None
    if os.path.exists(scaling_path):
        with open(scaling_path) as fh:
            out["scaling"] = json.load(fh)
        # layout-keyed record: report each layout's pair efficiencies as
        # "<layout>:<pair>"; legacy flat records keep plain pair keys
        if "layouts" in out["scaling"]:
            # sub-records annotated as measured on a DEGRADED host (see
            # tools/host_probe.py) stay in the detail file with their
            # evidence trail but are excluded from the headline — their
            # efficiencies describe the host state, not the code
            scaling_pairs = {
                f"{layout}:{pair}": rec.get("efficiency")
                for layout, sub in out["scaling"]["layouts"].items()
                if not str(sub.get("host_state", "")).startswith("DEGRADED")
                for pair, rec in sub.get("pairs", {}).items()
            }
            met = out["scaling"].get("met_by")
            if met:
                scaling_pairs["met_by"] = (
                    f"{met.get('layout')}:{met.get('pair')}"
                    f"={met.get('efficiency')}"
                )
        else:
            scaling_pairs = {
                pair: rec.get("efficiency")
                for pair, rec in out["scaling"].get("pairs", {}).items()
            }

    # update-path (QG-3/QG-5 analogues, tools/update_bench.py) and
    # cold-open (QG-9 analogue, tools/cold_open_bench.py) sidecars:
    # measured over the saved 2M durable index out-of-band (they need a
    # long-lived big index, not the per-round sf corpus) and folded in
    # here like BENCH_SCALING.json
    update_hl = coldopen_hl = None
    upd_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_UPDATE.json"
    )
    if os.path.exists(upd_path):
        with open(upd_path) as fh:
            out["update_path"] = json.load(fh)
        update_hl = {
            k: out["update_path"].get(k)
            for k in (
                "upsert_docs_per_sec",
                "bulk_upsert_docs_per_sec",
                "compact_speedup_vs_rebuild",
            )
        }
    co_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_COLDOPEN.json"
    )
    if os.path.exists(co_path):
        with open(co_path) as fh:
            out["cold_open"] = json.load(fh)
        coldopen_hl = {
            k: out["cold_open"].get(k)
            for k in ("cold_open_secs", "warm_query_secs")
        }

    # frozen host-health probe (measured at bench START on the idle
    # machine): fixed JVM/IPC/numpy workloads that never change with
    # repo code, so cross-round absolute-seconds comparisons can be
    # normalized for host state (2026-08-19: a VM reboot made
    # Spark-style multicore work 2.5-3x slower while raw numpy scaled
    # fine — without this field that reads as a code regression)
    out["host_probe"] = host_probe
    out["host_state"] = host_state
    out["host_healthy_band"] = HEALTHY_BAND

    # The driver captures only the FIRST ~2,000 chars of stdout: the
    # full record goes to BENCH_DETAIL.json and the printed line is a
    # compact headline (every claim in it re-derivable from the detail
    # file).  Round-2's single fat line exceeded the capture and the
    # driver recorded parsed: null — a verifiability bug, fixed here.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(out, fh, indent=1)
    headline = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": queries,
        "sf": sf_num,
        "cpus": cpus,
        "query_docs": n_docs,
        "build_docs": n_build,
        "build_docs_per_sec": out["build_docs_per_sec"],
        "durable_docs_per_sec": out["durable_docs_per_sec"],
        "build_warm_runs": arm.get("build_warm_runs"),
        "index_bytes_per_doc": out["index_bytes_per_doc"],
        "class_p50": class_p50,
        "hybrid_p50": out["hybrid_p50"],
        "serving_index_p50": out["serving_index_p50"],
        "serving_qps_sequential": out["serving_qps_sequential"],
        "serving_qps_concurrent8": out["serving_qps_concurrent8"],
        "serving_qps_batch": out["serving_qps_batch"],
        "scaling_eff": scaling_pairs,
        "update_path_2m": update_hl,
        "cold_open_2m": coldopen_hl,
        "host_state": host_state,
        "host": {
            k: out.get("host_probe", {}).get(k)
            for k in ("ipc_arrow64m_secs", "numpy_sort2m_per_sec_8p")
        },
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(headline, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: drop the bulkiest fields
        for k in ("build_warm_runs", "queries", "class_p50"):
            headline.pop(k, None)
            line = json.dumps(headline, separators=(",", ":"))
            if len(line) <= 1900:
                break
    print(line)


if __name__ == "__main__":
    main()
