"""Per-layer metrics of a traced run, named ``<module>.<metric>``.

Every traced run reports every name below; a layer the workload does not
enter reports 0 (for example ``batchexec.*`` on ingest_read).  Times are
medians over the spans of one layer unless the name says otherwise; counts
come from Spark's status store and repeat exactly from run to run.
"""

from __future__ import annotations

import gen

SAVE_CALLSITES = ("build", "merge", "manifest")


def quantile(values, q: float) -> float:
    """The q-quantile (0..1) of ``values``, linear between ranks; 0 if empty."""
    if not values:
        return 0.0
    v = sorted(values)
    x = q * (len(v) - 1)
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def _med(spans, key: str = "wall_s") -> float:
    return quantile([s[key] for s in spans], 0.5)


def _stage_block(prefix: str, spans, fields) -> dict:
    return {f"{prefix}{name}": (_med(spans, key), unit)
            for name, key, unit in fields}


def per_layer(run) -> dict:
    t = run.tracer
    m: dict = {"session.start_s": (run.session_s, "s")}

    m["build.plan_s"] = (_med(t.named("build.plan")), "s")
    # corpus docs / wall of build() + save(), the durable build
    m["build.docs_per_s"] = (len(run.rows) / run.durable_s, "docs/s")

    saves = t.named("manifest.save")
    m.update(_stage_block("manifest.save_", saves, (
        ("s", "wall_s", "s"), ("jobs", "jobs", "count"),
        ("stages", "stages", "count"), ("tasks", "tasks", "count"),
        ("task_cpu_s", "task_cpu_s", "s"), ("gc_s", "task_gc_s", "s"),
        ("shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
        ("spill_bytes", "spill_bytes", "bytes"),
    )))
    # task CPU of save, split by the file whose call started each stage
    for site in SAVE_CALLSITES + ("other",):
        vals = []
        for s in saves:
            by = s["task_cpu_s_by_callsite"]
            if site == "other":
                vals.append(sum(v for k, v in by.items()
                                if k not in {f"{c}.py" for c in SAVE_CALLSITES}))
            else:
                vals.append(by.get(f"{site}.py", 0.0))
        m[f"manifest.save_task_cpu_s.{site}"] = (quantile(vals, 0.5), "s")
    m["manifest.index_bytes"] = (run.index_bytes, "bytes")
    loads = t.named("manifest.load")
    m["manifest.load_s"] = (_med(loads), "s")
    m["manifest.load_jobs"] = (_med(loads, "jobs"), "count")

    warms = t.named("engine.warm")
    m["engine.warm_s"] = (_med(warms), "s")
    m["engine.warm_jobs"] = (_med(warms, "jobs"), "count")
    idmaps = [s for s in t.named("engine.idmap") if s.get("hits")]
    m["engine.idmap_s"] = (_med(idmaps), "s")
    m["engine.idmap_jobs"] = (_med(idmaps, "jobs"), "count")
    ups = t.named("engine.upsert")
    m["engine.upsert_call_s"] = (_med(ups), "s")
    m["engine.upsert_jobs"] = (_med(ups, "jobs"), "count")

    m["query_ast.parse_s"] = (
        quantile([s["wall_s"] / s["n"] for s in t.named("query_ast.parse")], 0.5), "s")

    srv = t.named("serving_exec.search")
    m["serving_exec.search_s_p50"] = (_med(srv), "s")
    m["serving_exec.search_s_p90"] = (quantile([s["wall_s"] for s in srv], 0.9), "s")
    m.update(_stage_block("serving_exec.", srv, (
        ("jobs_per_query", "jobs", "count"),
        ("stages_per_query", "stages", "count"),
        ("tasks_per_query", "tasks", "count"),
        ("driver_s", "driver_s", "s"), ("stage_s", "stage_s", "s"),
        ("task_cpu_s", "task_cpu_s", "s"), ("task_run_s", "task_run_s", "s"),
        ("task_gc_s", "task_gc_s", "s"), ("input_bytes", "input_bytes", "bytes"),
        ("result_bytes", "result_bytes", "bytes"),
    )))
    m["serving_exec.shuffle_bytes"] = (quantile(
        [s["shuffle_read_bytes"] + s["shuffle_write_bytes"] for s in srv], 0.5),
        "bytes")
    for cls in gen.QUERY_CLASSES:
        of = [s for s in srv if s["cls"] == cls]
        m[f"serving_exec.{cls}.search_s_p50"] = (_med(of), "s")
        m[f"serving_exec.{cls}.jobs_per_query"] = (_med(of, "jobs"), "count")
        m[f"serving_exec.{cls}.stages_per_query"] = (_med(of, "stages"), "count")

    bat = t.named("batchexec.batch")
    m.update(_stage_block("batchexec.", bat, (
        ("batch_s", "wall_s", "s"), ("jobs", "jobs", "count"),
        ("stages", "stages", "count"), ("tasks", "tasks", "count"),
        ("driver_s", "driver_s", "s"), ("task_cpu_s", "task_cpu_s", "s"),
    )))
    m["batchexec.shuffle_bytes"] = (quantile(
        [s["shuffle_read_bytes"] + s["shuffle_write_bytes"] for s in bat], 0.5),
        "bytes")

    # the marker search after each upsert
    vis = t.named("lifecycle.visible")
    m.update(_stage_block("lifecycle.", vis, (
        ("visible_s", "wall_s", "s"), ("visible_jobs", "jobs", "count"),
        ("visible_task_cpu_s", "task_cpu_s", "s"),
    )))
    m["lifecycle.visible_shuffle_bytes"] = (quantile(
        [s["shuffle_read_bytes"] + s["shuffle_write_bytes"] for s in vis], 0.5),
        "bytes")
    for r in range(run.rounds_per_cycle):
        m[f"lifecycle.visible_stages.r{r}"] = (
            _med([s for s in vis if s["round"] == f"r{r}"], "stages"), "count")

    ast = t.named("astexec.search")
    m.update(_stage_block("astexec.", ast, (
        ("search_s", "wall_s", "s"), ("jobs_per_query", "jobs", "count"),
        ("stages_per_query", "stages", "count"),
        ("task_cpu_s", "task_cpu_s", "s"), ("driver_s", "driver_s", "s"),
    )))

    # the traced run's own read latency and rate: minus the untraced run's
    # read_p50_s / read_qps, they give the tracing overhead
    m["trace.read_p50_s"] = (quantile(run.read_s, 0.5), "s")
    m["trace.read_qps"] = (run.answered / (run.phase_s - run.phase_collect_s), "1/s")
    m["trace.collect_s"] = (t.collect_s, "s")
    reads = t.named("read")  # point reads and search_batch() calls
    m["trace.read_self_s"] = (quantile([t.self_s(s) for s in reads], 0.5), "s")
    covers = [sum(t.self_s(c) for c in t.spans if c["parent"] == s["id"]) / s["wall_s"]
              for s in reads]
    m["trace.child_cover_min"] = (min(covers) if covers else 0.0, "ratio")
    return m
