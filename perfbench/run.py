"""Benchmark of the engine's entry points: point and batch serving, and
upsert-then-read, driven through the public ``FrankensearchSpark`` API.

    python3 perfbench/run.py --workload serve_point --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout.  Each invocation is one fresh process
running one workload: it generates its inputs from ``--seed``, sets the
engine up, measures for at least ``--seconds`` (in whole operations),
checks every timed answer, and prints one JSON object as the last line of
standard output.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reruns the same workload with spans on and reports per-layer
metrics.  Everything it writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (span files).  See README.md for the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import gate
import gen
from layers import per_layer, quantile
from spans import Tracer

N_DOCS = 5000
LIMIT = 10
BATCH_QUERIES, BATCHES = 64, 3
UPSERT_REPLACE, UPSERT_CHAINED, UPSERT_NEW = 125, 25, 125
MIN_CYCLES = 2  # of the query-class schedule on serve_point
ROUNDS_PER_CYCLE = 2
READS_PER_ROUND = 2
GATE_SAMPLE = 40

WORKLOADS = (
    # one search() per query, then a few search_batch() calls, on the
    # loaded engine: the per-query path and the batch executor
    "serve_point",
    # chained upserts, each followed by search() on the new engine
    "ingest_read",
)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class ProcTree:
    """Memory of this process and all its descendants (the JVM, the Python
    daemon and its workers): at each sample the tree's summed proportional
    set size (``Pss``, which splits pages the daemon's forked workers share
    with it instead of counting them once per process); the peak is the
    largest such sum."""

    def __init__(self):
        self.peak_kb = 0

    @staticmethod
    def descendants(root: int) -> list[int]:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids.setdefault(ppid, []).append(int(name))
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def sample(self) -> None:
        total = 0
        for pid in self.descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def start_spark(root: str, work: str, ncpu: int):
    """local[ncpu], shuffle partitions = ncpu, UI off, default driver memory;
    every scratch file under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{ncpu}]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(ncpu))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the Python daemon and workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = [p for p in ProcTree.descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        alive = []
        for pid in procs:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(pid)
            except OSError:
                pass
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running after stop: {alive}")


class Run:
    """One workload in one process."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 root: str, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.root, self.work = root, work
        self.ncpu = len(os.sched_getaffinity(0))
        self.ledger = gate.Ledger()
        self.mem = ProcTree()
        self.info: dict = {"workload": workload, "seed": seed, "ncpu": self.ncpu,
                           "n_docs": N_DOCS}
        self.trace = trace
        self.read_s: list[float] = []  # point-read latencies
        self.answered = 0
        self.batch_s: list[float] = []  # search_batch() latencies
        self.visible_s: list[float] = []  # upsert() call -> marker visible
        self.rounds_per_cycle = ROUNDS_PER_CYCLE
        self.spark = None

    # --- set-up ---------------------------------------------------------

    def prepare(self) -> None:
        """Inputs (not part of setup_s): the corpus as parquet."""
        import pandas as pd

        self.rows = gen.corpus(N_DOCS, self.seed, clustered=True)
        self.text_of = {gen.external_id(r): r[4] for r in self.rows}
        self.corpus_path = os.path.join(self.work, "corpus.parquet")
        pd.DataFrame(self.rows, columns=["repo", "path", "commit", "lang",
                                         "content"]).to_parquet(self.corpus_path)
        self.corpus_bytes = os.path.getsize(self.corpus_path)

    def setup(self) -> None:
        """setup_s: Spark session, build, save, load, warm.  Once per run: a
        second set-up would add ~10 s to every run, which the run budget in
        README.md cannot afford."""
        t0 = time.perf_counter()
        self.spark = start_spark(self.root, self.work, self.ncpu)
        self.session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, self.trace)
        from frankensearch_spark.engine import FrankensearchSpark

        span = self.tracer.span
        path = os.path.join(self.work, "index")
        with span("setup", op="setup"):
            t1 = time.perf_counter()
            df = self.spark.read.parquet(self.corpus_path)
            with span("build.plan", op="setup"):
                eng = FrankensearchSpark.build(df, gen.KEY_COLS)
            with span("manifest.save", op="setup"):
                eng.save(path)
            self.durable_s = time.perf_counter() - t1
            with span("manifest.load", op="setup"):
                self.engine = FrankensearchSpark.load(self.spark, path)
            with span("engine.warm", op="setup"):
                self.engine.warm()
        self.setup_s = time.perf_counter() - t0
        self.index_bytes = _dir_bytes(path)
        self.info.update(session_s=self.session_s, setup_s=self.setup_s,
                         durable_s=self.durable_s)
        self.mem.sample()

    # --- operations -----------------------------------------------------

    def point_read(self, eng, q: str, cls: str, op: str, layer: str):
        """search(q) -> (answer, wall).  Traced, the same call is split at
        layer boundaries: parse, ranked docids, then search() with its
        docids cached, which leaves only the external-id lookup."""
        if not self.trace:
            t0 = time.perf_counter()
            res = eng.search(q, limit=LIMIT)
            return res, time.perf_counter() - t0
        span = self.tracer.span
        with span("read", op=op, group=False, cls=cls) as rec:
            with span("query_ast.parse", op=op, n=1):
                eng.parse(q)
            with span(f"{layer}.search", op=op, cls=cls):
                eng.search_docids(q, limit=LIMIT)
            with span("engine.idmap", op=op) as idm:
                res = eng.search(q, limit=LIMIT)
            idm["hits"] = len(res)
        return res, rec["wall_s"]

    def _do(self, op: str, fn):
        """Run one attempted operation; an exception fails it."""
        self.ledger.attempt(op)
        try:
            return fn()
        except Exception as e:  # an op that raises counts as failed
            self.ledger.fail(op, f"raised {type(e).__name__}: {e}"[:300])
            return None

    def _measured(self, t_phase: float, collect0: float) -> float:
        """Wall since ``t_phase``, less the tracer's status-store reads."""
        return time.perf_counter() - t_phase - (self.tracer.collect_s - collect0)

    def _record(self, wall: float, answered: int) -> None:
        self.answered += answered
        self.read_s.append(wall)

    # --- workloads ------------------------------------------------------

    def serve_point(self) -> None:
        eng = self.engine
        stream = gen.QueryStream(self.rows, self.seed)
        for _, q in stream.warmup():
            eng.search(q, limit=LIMIT)
        # a small batch, so the batch executor's first call is not timed
        eng.search_batch([q for _, q in stream.take(BATCH_QUERIES // 4)],
                         limit=LIMIT)
        self.mem.sample()
        done = []
        t_phase, collect0 = time.perf_counter(), self.tracer.collect_s
        i = 0
        # whole class-schedule cycles, so every run has the same class mix,
        # and at least MIN_CYCLES of them, so a slow host does not halve
        # the number of samples
        n = len(gen.CLASS_SCHEDULE)
        while i < MIN_CYCLES * n or self._measured(t_phase, collect0) < self.seconds:
            for _ in gen.CLASS_SCHEDULE:
                cls, q = stream.next()
                op = f"q{i}"
                got = self._do(op, lambda: self.point_read(
                    eng, q, cls, op, "serving_exec"))
                if got is not None:
                    self._record(got[1], 1)
                    done.append((op, cls, q, got[0]))
                i += 1
        self.phase_s = time.perf_counter() - t_phase
        self.phase_collect_s = self.tracer.collect_s - collect0
        self.mem.sample()
        batched = self._batches(eng, stream)
        self.mem.sample()
        self._gate_loaded(done, batched)

    def _batches(self, eng, stream) -> list:
        """BATCHES timed search_batch() calls of BATCH_QUERIES distinct
        queries each, after the point reads.  Their latencies are kept
        apart from the point reads' (``batch_s``); traced, they give the
        ``batchexec.*`` layer."""
        span = self.tracer.span
        done = []
        for b in range(BATCHES):
            batch = stream.take(BATCH_QUERIES)
            qs = [q for _, q in batch]
            op = f"b{b}"

            def call():
                if not self.trace:
                    t0 = time.perf_counter()
                    res = eng.search_batch(qs, limit=LIMIT)
                    return res, time.perf_counter() - t0
                with span("read", op=op, group=False) as rec:
                    with span("query_ast.parse", op=op, n=len(qs)):
                        for q in qs:
                            eng.parse(q)
                    with span("batchexec.batch", op=op):
                        res = eng.search_batch(qs, limit=LIMIT)
                return res, rec["wall_s"]

            got = self._do(op, call)
            if got is not None:
                self.batch_s.append(got[1])
                done.extend((op, cls, q, hits) for (cls, q), hits in zip(batch, got[0]))
        return done

    def ingest_read(self) -> None:
        import numpy as np

        # no warm-up reads: they would run on the loaded engine, while every
        # timed read runs on an engine upsert() returned, through other code
        base = self.engine
        stream = gen.QueryStream(self.rows, self.seed)
        docid_of = self._docmeta(base)  # ext id -> docid, outside the clock
        self.mem.sample()
        rounds = []  # per round: what the gate needs
        t_phase, collect0 = time.perf_counter(), self.tracer.collect_s
        c = 0
        while c == 0 or self._measured(t_phase, collect0) < self.seconds:
            rng = np.random.default_rng([self.seed, 5, c])
            order = rng.permutation(len(self.rows))
            cur, prev_batch = base, []
            for r in range(ROUNDS_PER_CYCLE):
                picks = order[r * UPSERT_REPLACE:(r + 1) * UPSERT_REPLACE]
                keys = [self.rows[k][:3] for k in picks]
                if prev_batch:  # re-replace docs the previous round wrote
                    keys = keys[:UPSERT_REPLACE - UPSERT_CHAINED] + [
                        prev_batch[k][:3] for k in rng.choice(
                            len(prev_batch), UPSERT_CHAINED, replace=False)]
                batch = gen.upsert_batch(self.seed, c, r, keys, UPSERT_NEW,
                                         clustered=True)
                mk = gen.marker(c, r)
                want = {gen.external_id(x) for x in batch}
                new_df = self.spark.createDataFrame(batch, gen.CORPUS_SCHEMA)
                op = f"c{c}r{r}.write"
                got = self._do(op, lambda: self._upsert_visible(
                    cur, new_df, mk, want, op, f"r{r}"))
                if got is None:
                    break
                cur, marker_hits = got
                reads = []
                for k in range(READS_PER_ROUND):
                    cls, q = stream.next()
                    rop = f"c{c}r{r}.q{k}"
                    got = self._do(rop, lambda: self.point_read(
                        cur, q, cls, rop, "astexec"))
                    if got is not None:
                        self._record(got[1], 1)
                        reads.append((rop, cls, q, got[0]))
                rounds.append({"cycle": c, "round": r, "engine": cur,
                               "batch": batch, "marker": mk, "reads": reads,
                               "marker_hits": marker_hits,
                               "write_op": op})
                prev_batch = batch
            c += 1
        self.phase_s = time.perf_counter() - t_phase
        self.phase_collect_s = self.tracer.collect_s - collect0
        self.info["cycles"] = c
        self.mem.sample()
        self._gate_ingest(rounds, docid_of)

    def _upsert_visible(self, cur, new_df, mk: str, want: set, op: str,
                        rnd: str):
        """upsert(), then one search(marker), which must return exactly the
        batch.  The marker search is timed apart from the point reads
        (``visible_s``)."""
        span = self.tracer.span
        with span("write", op=op, group=False):
            t0 = time.perf_counter()
            with span("engine.upsert", op=op):
                nxt = cur.upsert(new_df)
            with span("lifecycle.visible", op=op, round=rnd):
                hits = nxt.search(mk, limit=len(want) + 16)
            self.visible_s.append(time.perf_counter() - t0)
        if len(hits) != len(want) or {h for h, _ in hits} != want:
            raise AssertionError(f"marker {mk} returned {len(hits)} hits, "
                                 f"not exactly the {len(want)} of the batch")
        return nxt, hits

    # --- correctness gate (outside the timed window) --------------------

    @staticmethod
    def _docmeta(eng) -> dict:
        """External id -> docid, read back from the index's docmeta."""
        rows = eng.index.docmeta.select("docid", *gen.KEY_COLS).collect()
        return {"/".join(str(r[c]) for c in gen.KEY_COLS): int(r["docid"])
                for r in rows}

    def _sample(self, done: list) -> list:
        import numpy as np

        rng = np.random.default_rng([self.seed, 6])
        idx = sorted(rng.permutation(len(done))[:GATE_SAMPLE])
        return [done[i] for i in idx]

    def _gate_loaded(self, points: list, batched: list) -> None:
        """Point answers carry external ids, and their docids come from
        search_docids(), which the snapshot cache answers without a Spark
        job; batch answers carry docids."""
        from frankensearch_spark.oracle import OracleIndex

        docid_of = self._docmeta(self.engine)
        ext_of = {d: e for e, d in docid_of.items()}
        oracle = OracleIndex([(d, self.text_of[e]) for e, d in docid_of.items()])
        checked = 0
        for done, is_point in ((points, True), (batched, False)):
            for op, _cls, _q, hits in done:
                bad = gate.malformed(hits, LIMIT, docid_of if is_point else ext_of)
                if bad:
                    self.ledger.fail(op, bad)
            for op, _cls, q, hits in self._sample(done):
                want = gate.oracle_answer(oracle, q, LIMIT)
                if is_point:
                    bad = gate.mismatch(want, self.engine.search_docids(q, limit=LIMIT),
                                        hits, ext_of)
                else:
                    bad = gate.mismatch(want, hits)
                if bad:
                    self.ledger.fail(op, f"{q!r}: {bad}")
                checked += 1
        self.info["oracle_checked"] = checked

    def _gate_ingest(self, rounds: list, docid_of: dict) -> None:
        """Marker answers are exactly the batch; no answer holds a
        superseded docid; in the first cycle, every round's marker and point
        answers match an oracle over every revision written so far,
        superseded ones deleted (they stay in the BM25 statistics, as in the
        engine)."""
        from frankensearch_spark.oracle import OracleIndex

        checked = 0
        for rd in rounds:
            if rd["round"] == 0:  # every cycle restarts from the loaded engine
                live = dict(docid_of)
                docs = {d: self.text_of[e] for e, d in docid_of.items()}
                dead: set[int] = set()
            eng, limit = rd["engine"], len(rd["batch"]) + 16
            hits = eng.search_docids(rd["marker"], limit=limit)
            new_of = {e: int(d) for (e, _), (d, _) in zip(rd["marker_hits"], hits)}
            for x in rd["batch"]:
                e = gen.external_id(x)
                if e in live:
                    dead.add(live[e])
                live[e] = new_of.get(e, -1)
                docs[live[e]] = x[4]
            if dead & {d for d, _ in hits}:
                self.ledger.fail(rd["write_op"], "marker answer holds a superseded docid")
            for op, _cls, q, ans in rd["reads"]:
                bad = gate.malformed(ans, LIMIT, live)
                if dead & {d for d, _ in eng.search_docids(q, limit=LIMIT)}:
                    bad = bad or "answer holds a superseded docid"
                if bad:
                    self.ledger.fail(op, bad)
            if rd["cycle"] > 0:
                continue
            oracle = OracleIndex(sorted(docs.items()))
            oracle.delete(dead)
            ext_of = {d: e for e, d in live.items()}
            checks = [(rd["write_op"], rd["marker"], limit, rd["marker_hits"])]
            checks += [(op, q, LIMIT, ans) for op, _cls, q, ans in rd["reads"]]
            for op, q, k, ans in checks:
                bad = gate.mismatch(gate.oracle_answer(oracle, q, k),
                                    eng.search_docids(q, limit=k), ans, ext_of)
                if bad:
                    self.ledger.fail(op, f"{q!r}: {bad}")
                checked += 1
        self.info["oracle_checked"] = checked

    # --- results --------------------------------------------------------

    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "read_p50_s": (quantile(self.read_s, 0.5), "s"),
            "read_qps": (self.answered / self.phase_s, "1/s"),
            "index_bytes_per_corpus_byte": (self.index_bytes / self.corpus_bytes, "ratio"),
            "peak_rss_mb": (self.mem.peak_mb(), "MB"),
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "frankensearch_spark", "engine.py")):
        print("perfbench: run from the root of a checkout that holds "
              "frankensearch_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    load_start = os.getloadavg()
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), root, work)
    try:
        run.prepare()
        run.setup()
        getattr(run, args.workload)()
        if args.trace:
            metrics = per_layer(run)
            out = os.path.join(root, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            run.tracer.write(os.path.join(
                out, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = run.end_to_end()
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    run.info.update(loadavg_start=load_start, loadavg_end=os.getloadavg(),
                    read_s=run.read_s, batch_s=run.batch_s,
                    visible_s=run.visible_s, phase_s=run.phase_s,
                    failures=run.ledger.reasons())
    print(json.dumps({"perfbench_run": run.info}))
    print(json.dumps({
        "correct": run.ledger.failed == 0,
        "attempted": run.ledger.attempted,
        "failed": run.ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
