"""Turns one run's operations and spans into the printed metrics."""

from __future__ import annotations

from perfbench import stats
from perfbench.spans import Tracer, covered

MB = 1e6

# span name → layer; spans are named after the program's modules
LAYER_OF = {
    "sources.scan": "sources",
    "sources.write": "sources",
    "operators.provider_specs": "provider_specs",
    "operators.normalize": "normalize",
    "operators.merge": "merge",
    "operators.popularity": "popularity",
    "streaming.loader.stage": "loader",
    "streaming.loader.start": "loader",
    "streaming.loader.run": "loader",
    "pipelines.cc_scrape": "cc_scrape",
    "functions.html": "html",
    "operators.cc_links": "cc_links",
}
LAYERS = ["session", "sources", "provider_specs", "normalize", "merge",
          "popularity", "loader", "cc_scrape", "html", "cc_links"]

# every per-layer metric a traced run prints; layers a workload does
# not exercise read 0
PER_LAYER = sorted(
    [f"{layer}.{m}" for layer in LAYERS if layer != "session"
     for m in ("self_s", "busy_share", "tasks")]
    + ["session.jvm_start_s", "session.worker_spawn_s", "session.busy_share",
       "session.tasks", "sources.scan_mb", "sources.write_s", "sources.write_mb",
       "normalize.clean_ratio", "merge.shuffle_write_mb", "merge.spill_mb",
       "merge.touched_ratio", "popularity.shuffle_write_mb",
       "loader.stream_start_s", "loader.add_batch_s", "loader.fixed_s",
       "loader.write_amplification", "loader.table_scan_mb",
       "cc_scrape.scan_amplification", "cc_scrape.yield_ratio",
       "trace.overhead_s", "trace.overhead_ratio", "trace.coverage"])

END_TO_END_UNITS = {"setup_s": "s", "op_cpu_s": "s", "ok_rate": "ratio"}


def _units(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix == "tasks":
        return "count"
    return "ratio"


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def op_layer_metrics(tracer: Tracer, op: int, n_cores: int,
                     expected: dict, progress: dict | None) -> dict[str, float]:
    """Per-layer metrics of one traced operation."""
    spans = [s for s in tracer.spans if s.op == op]
    m: dict[str, float] = {}
    agg = {layer: {"self_s": 0.0, "run_ms": 0.0, "tasks": 0, "shuffle": 0,
                   "spill": 0, "in_bytes": 0, "in_records": 0}
           for layer in LAYERS}
    for s in spans:
        layer = LAYER_OF.get(s.name)
        if layer is None:
            continue
        a = agg[layer]
        a["self_s"] += tracer.self_time(s)
        for st in tracer.self_stages(s).values():
            a["run_ms"] += st["executorRunTime"]
            a["tasks"] += st["numTasks"]
            a["shuffle"] += st["shuffleWriteBytes"]
            a["spill"] += st["diskBytesSpilled"]
            a["in_bytes"] += st["inputBytes"]
            a["in_records"] += st["inputRecords"]
    for layer, a in agg.items():
        if layer == "session":
            continue
        m[f"{layer}.self_s"] = a["self_s"]
        m[f"{layer}.busy_share"] = _ratio(a["run_ms"] / 1e3, a["self_s"] * n_cores)
        m[f"{layer}.tasks"] = a["tasks"]

    def named(name):
        return [s for s in spans if s.name == name]

    m["sources.scan_mb"] = sum(
        st["inputBytes"] for s in named("sources.scan")
        for st in tracer.self_stages(s).values()) / MB
    writes = named("sources.write")
    m["sources.write_s"] = sum(s.duration for s in writes)
    m["sources.write_mb"] = sum(s.counts.get("bytes", 0) for s in writes) / MB
    norm = named("operators.normalize")
    m["normalize.clean_ratio"] = _ratio(sum(s.counts.get("clean", 0) for s in norm),
                                        sum(s.counts.get("rows", 0) for s in norm))
    merge = named("operators.merge")
    m["merge.shuffle_write_mb"] = agg["merge"]["shuffle"] / MB
    m["merge.spill_mb"] = agg["merge"]["spill"] / MB
    m["merge.touched_ratio"] = _ratio(sum(s.counts.get("touched", 0) for s in merge),
                                      sum(s.counts.get("rows", 0) for s in merge))
    m["popularity.shuffle_write_mb"] = agg["popularity"]["shuffle"] / MB
    scrape = named("pipelines.cc_scrape")
    pages = expected.get("pages", 0)
    m["cc_scrape.scan_amplification"] = _ratio(agg["cc_scrape"]["in_records"], pages)
    m["cc_scrape.yield_ratio"] = _ratio(sum(s.counts.get("rows", 0) for s in scrape), pages)
    p = progress or {}
    m["loader.stream_start_s"] = p.get("stream_start_s", 0.0)
    m["loader.add_batch_s"] = p.get("add_batch_s", 0.0)
    m["loader.fixed_s"] = p.get("fixed_s", 0.0)
    m["loader.write_amplification"] = _ratio(
        sum(s.counts.get("table_bytes", 0) for s in merge), p.get("tsv_bytes", 0))
    m["loader.table_scan_mb"] = (agg["merge"]["in_bytes"] / MB) if progress else 0.0
    root = next(s for s in spans if s.parent is None)
    kids = [(c.start, c.end) for c in tracer.children(root)]
    m["trace.coverage"] = _ratio(covered(kids, root.start, root.end), root.duration)
    return m


def build(args, wl, ops: list[dict], tracer: Tracer, *, n_cores: int,
          setup_s: float, setup_wall_s: float, jvm_start_s: float,
          worker_spawn_s: float,
          session_stages: dict) -> dict:
    attempted = len(ops)
    failed = sum(o["failed"] for o in ops)
    plain = [o["seconds"] for o in ops if o["kind"] == "plain"]
    plain_cpu = [o["cpu_s"] for o in ops if o["kind"] == "plain"]
    traced = [o for o in ops if o["kind"] == "traced"]
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": n_cores, "input_rows_per_op": wl.input_rows(),
            "ops": [{k: o[k] for k in ("i", "kind", "seconds", "cpu_s", "failed")}
                    for o in ops]}
    if args.trace:
        per_op = [op_layer_metrics(tracer, o["i"], n_cores, wl.expected,
                                   getattr(wl, "progress", {}).get(o["i"]))
                  for o in traced if not o["failed"]]
        values = {n: stats.median_or_zero([m[n] for m in per_op])
                  for n in PER_LAYER if not n.startswith(("session.", "trace.o"))}
        run_ms = sum(st["executorRunTime"] for st in session_stages.values())
        values["session.jvm_start_s"] = jvm_start_s
        values["session.worker_spawn_s"] = worker_spawn_s
        values["session.busy_share"] = _ratio(
            run_ms / 1e3, (jvm_start_s + worker_spawn_s) * n_cores)
        values["session.tasks"] = sum(st["numTasks"] for st in session_stages.values())
        p50_plain = stats.median_or_zero(plain)
        p50_traced = stats.median_or_zero([o["seconds"] for o in traced])
        values["trace.overhead_s"] = p50_traced - p50_plain
        values["trace.overhead_ratio"] = _ratio(p50_traced - p50_plain, p50_plain)
        metrics = {n: {"value": values[n], "unit": _units(n)} for n in PER_LAYER}
    else:
        # the tail is printed only where the sample count supports one
        # above the median; a run of the benchmark's length never does
        info["samples"] = len(plain)
        info["op_p50_s"] = stats.median_or_zero(plain)
        info["rows_per_s"] = _ratio(wl.input_rows(), info["op_p50_s"])
        info["op_tail_s"], info["op_tail_percentile"] = stats.tail(plain) or (None, None)
        info["setup_wall_s"] = setup_wall_s
        values = {
            "setup_s": setup_s,
            "op_cpu_s": stats.median_or_zero(plain_cpu),
            "ok_rate": _ratio(attempted - failed, attempted),
        }
        metrics = {n: {"value": v, "unit": END_TO_END_UNITS[n]} for n, v in values.items()}
    return {"info": info,
            "result": {"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": metrics}}
