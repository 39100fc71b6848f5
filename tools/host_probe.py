"""Frozen host-health probe — separates "host slow" from "code slow".

The bench/scaling records compare absolute seconds across days, but this
sandbox VM's behavior shifts between boots (measured 2026-08-19: raw
pinned numpy multiprocessing scaled 1->4 at ~0.93 while the SAME Spark
build — byte-identical old-commit code — ran 2.5-3x slower than the
previous boot at 8 cores).  This probe runs three FIXED workloads that
never change with repo code, so their throughput tracks host state only:

  * jvm:    spark.range(200M) -> xxhash64 -> sum       (pure codegen JVM)
  * ipc:    spark.range(8M)   -> mapInArrow passthrough (Arrow socket IPC
            between the JVM and Python workers — the channel that
            degraded on 2026-08-19 while raw CPU stayed healthy)
  * numpy:  pinned 1-proc and 8-proc np.sort loops      (raw CPU + memory)

plus ``ncpu``, the cores this process may run on: bench.py's pinned
band only classifies probes from the core count it was pinned on.

Usage:  python tools/host_probe.py            # spark-submit local[8] probe
        python tools/host_probe.py --inline   # reuse caller's JVM (faster,
                                              # less isolated)

Prints ONE JSON line; bench.py embeds it in BENCH_DETAIL.json as
``host_probe`` so every round's record is self-normalizing.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _numpy_worker(q, secs: float, cpu: int | None = None) -> None:
    import numpy as np

    if cpu is not None:
        try:
            os.sched_setaffinity(0, {cpu})
        except (AttributeError, OSError):
            pass  # non-Linux / restricted: run unpinned rather than fail
    rng = np.random.default_rng(0)
    a = rng.random(2_000_000)
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < secs:
        np.sort(a)
        n += 1
    q.put(n)


def numpy_rate(nproc: int, secs: float = 4.0) -> float:
    """np.sort(2M f64) completions/sec across ``nproc`` pinned procs.

    Worker ``i`` is affinity-pinned to CPU ``i`` (sched_setaffinity) so
    the 1p/8p ratio measures N-core behavior, not an unpinned pool
    free-riding on idle cores — the same mislabeling the repo warns
    about for unpinned local[1] Spark baselines."""
    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    n_cpus = os.cpu_count() or nproc
    ps = [
        ctx.Process(target=_numpy_worker, args=(q, secs, i % n_cpus))
        for i in range(nproc)
    ]
    for p in ps:
        p.start()
    total = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return round(total / secs, 1)


def spark_probe(spark) -> dict:
    """Fixed JVM + IPC workloads on an existing session."""
    from pyspark.sql import functions as F

    # warm both stage kinds once (worker cold-start is ~10s at high
    # parallelism — a known pitfall on this VM)
    spark.range(1000).select(F.xxhash64("id").alias("h")).agg(F.max("h")).collect()
    spark.range(1000, numPartitions=8).mapInArrow(
        lambda it: it, "id long"
    ).count()

    t0 = time.perf_counter()
    spark.range(2_000_000_000).select(
        F.xxhash64("id").alias("h")
    ).agg(F.max("h")).collect()
    jvm_secs = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark.range(64_000_000, numPartitions=8).mapInArrow(
        lambda it: it, "id long"
    ).count()
    ipc_secs = time.perf_counter() - t0

    t0 = time.perf_counter()
    (
        spark.range(100_000_000, numPartitions=8)
        .groupBy(F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("k"))
        .agg(F.count("*").alias("c"))
        .agg(F.max("c"))
        .collect()
    )
    shuffle_secs = time.perf_counter() - t0
    return {
        "jvm_hash2b_secs": round(jvm_secs, 2),
        "ipc_arrow64m_secs": round(ipc_secs, 2),
        "shuffle_agg100m_secs": round(shuffle_secs, 2),
    }


def run(inline: bool = False) -> dict:
    out: dict = {
        "ncpu": len(os.sched_getaffinity(0)),
        "numpy_sort2m_per_sec_1p": numpy_rate(1),
        "numpy_sort2m_per_sec_8p": numpy_rate(8),
    }
    if inline:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        owned = spark is None
        if owned:
            spark = (
                SparkSession.builder.master("local[8]")
                .config("spark.sql.shuffle.partitions", "8")
                .config("spark.ui.enabled", "false")
                .getOrCreate()
            )
        out.update(spark_probe(spark))
        if owned:
            spark.stop()
    else:
        proc = subprocess.run(
            [
                "spark-submit",
                "--master", "local[8]",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.driver.memory=4g",
                os.path.abspath(__file__), "--child",
            ],
            capture_output=True, text=True, timeout=600, check=False,
        )
        for line in proc.stdout.splitlines()[::-1]:
            if line.startswith("{"):
                out.update(json.loads(line))
                break
        else:
            out["spark_probe_error"] = proc.stderr[-500:]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--inline", action="store_true")
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.getOrCreate()
        print(json.dumps(spark_probe(spark)), flush=True)
        spark.stop()
        return
    print(json.dumps(run(inline=args.inline)), flush=True)


if __name__ == "__main__":
    main()
