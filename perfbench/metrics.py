"""End-to-end and per-layer metrics, by name and unit.

Every workload prints every metric; a layer a workload does not exercise
reads 0 there.  Per-layer span metrics of the measured loop are totals
divided by its operation count (crawl epochs or frontier jobs); those of
the untimed passes after the loop (maintenance and TTL recrawl, headline
queries) are totals.
"""

from __future__ import annotations

import statistics

from spans import Tracer, inclusive


def end_to_end(run, setup_s: float, peak_rss_mb: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "op_wall_s.p50": (statistics.median(run.op_walls), "s"),
    }


_SPARK = ("wall_s", "jobs", "exec_cpu_s", "shuffle_mb")
_LOCAL = ("wall_s", "jobs")
# span name -> stats, aggregated over the measured loop per operation
SPAN_STATS = {
    "plans.epoch.run_epoch": _SPARK,
    "plans.epoch.self": _SPARK,
    **{f"tables.stage.{t}": _SPARK
       for t in ("crawl_log", "url_seen", "epoch_metrics", "seen_filter",
                 "retries", "politeness_budget", "frontier")},
    "tables.stage_pandas": _LOCAL,
    "tables.read": _LOCAL,
    "tables.commit": _LOCAL,
    "streaming.ingest.fold_batch": _SPARK,
    "bench.bench_frontier": _SPARK + ("gc_s", "tasks"),
}
# span name -> stats, totals over the passes after the loop
PASS_STATS = {
    "tables.compact": _SPARK,
    "tables.compact_bucketed": _SPARK,
    "tables.vacuum": _LOCAL,
    "plans.crawler.maintain_store": _SPARK,
    "operators.recrawl.recrawl_pass": _SPARK,
}
# run_epoch's direct children by kind: the epoch's split
EPOCH_SPLIT = ("tables.stage", "tables.stage_pandas", "tables.read",
               "tables.commit")
EXTRA = {
    "plans.epoch.run_epoch.tasks": "count",
    "plans.epoch.run_epoch.gc_s": "s",
    "plans.epoch.run_epoch.admitted": "count",
    "plans.epoch.run_epoch.terminal": "count",
    "operators.recrawl.recrawl_pass.readmitted": "count",
    "seen_filter.fpp_est": "ratio",
    "tables.files_total": "count",
    "tables.bytes_written_mb": "MB",
    "trace.overhead_s": "s",
}
UNITS = {"wall_s": "s", "jobs": "count", "exec_cpu_s": "s",
         "shuffle_mb": "MB", "gc_s": "s", "tasks": "count"}


def query_spans() -> list[str]:
    """Span name per headline query: ``<module>.<key>``."""
    import bench
    from crawlspark.queries import QUERIES

    return [f"{'queries' if k in QUERIES else 'textops'}.{k}"
            for k in bench.HEADLINE]


def per_layer_spec() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run prints, as (name, unit)."""
    out = [(f"plans.crawler.init_run.{s}", UNITS[s]) for s in _SPARK]
    for name, stats in (*SPAN_STATS.items(), *PASS_STATS.items()):
        out += [(f"{name}.{s}", UNITS[s]) for s in stats]
    for kind in EPOCH_SPLIT:
        out += [(f"plans.epoch.run_epoch.{kind}.wall_s", "s"),
                (f"plans.epoch.run_epoch.{kind}.jobs", "count")]
    for name in query_spans():
        out += [(f"{name}.{s}", UNITS[s]) for s in _LOCAL]
    return out + list(EXTRA.items())


def _total(spans, stat):
    key = stat if stat == "wall_s" else f"incl_{stat}"
    return sum(s[key] for s in spans)


def per_layer(run, spark, store, cfg, tracer: Tracer) -> dict:
    spans = inclusive(tracer.spans)
    setup = spans[:tracer.loop_start]
    loop = spans[tracer.loop_start:tracer.loop_end]
    passes = spans[tracer.loop_end:] if tracer.loop_end is not None else []
    vals = {f"plans.crawler.init_run.{stat}": _total(
        [s for s in setup if s["name"] == "plans.crawler.init_run"], stat)
        for stat in _SPARK}

    per_op = {}
    for name, stats in SPAN_STATS.items():
        chosen = [s for s in loop if s["name"] == name]
        for stat in stats:
            per_op[f"{name}.{stat}"] = _total(chosen, stat)
    epochs = [s for s in loop if s["name"] == "plans.epoch.run_epoch"]
    epoch_ids = {s["id"] for s in epochs}
    kids = [s for s in loop if s["parent"] in epoch_ids]
    # self = run_epoch minus its tables.* children: wall by subtraction,
    # Spark work as the jobs launched under run_epoch's own job group
    per_op["plans.epoch.self.wall_s"] = (_total(epochs, "wall_s")
                                         - _total(kids, "wall_s"))
    for stat in ("jobs", "exec_cpu_s", "shuffle_mb"):
        per_op[f"plans.epoch.self.{stat}"] = sum(s[stat] for s in epochs)
    for kind in EPOCH_SPLIT:
        chosen = [s for s in kids if s["name"] == kind
                  or (kind == "tables.stage"
                      and s["name"].startswith("tables.stage."))]
        for stat in _LOCAL:
            per_op[f"plans.epoch.run_epoch.{kind}.{stat}"] = _total(
                chosen, stat)
    per_op["plans.epoch.run_epoch.tasks"] = _total(epochs, "tasks")
    per_op["plans.epoch.run_epoch.gc_s"] = _total(epochs, "gc_s")
    per_op["plans.epoch.run_epoch.admitted"] = sum(
        r.n_admitted for r in run.results)
    per_op["plans.epoch.run_epoch.terminal"] = sum(
        r.n_terminal for r in run.results)
    per_op["tables.bytes_written_mb"] = tracer.loop_bytes / 2 ** 20
    per_op["trace.overhead_s"] = tracer.overhead_s
    n_ops = max(1, len(run.op_walls))
    vals.update({k: v / n_ops for k, v in per_op.items()})
    for name, stats in (*PASS_STATS.items(),
                        *((q, _LOCAL) for q in query_spans())):
        chosen = [s for s in passes if s["name"] == name]
        for stat in stats:
            vals[f"{name}.{stat}"] = _total(chosen, stat)
    vals["operators.recrawl.recrawl_pass.readmitted"] = sum(
        s.get("readmitted", 0) for s in passes
        if s["name"] == "operators.recrawl.recrawl_pass")

    vals["seen_filter.fpp_est"] = (seen_filter_fpp(spark, store, cfg)
                                   if store is not None else 0.0)
    vals["tables.files_total"] = (
        sum(len(v) for v in store.snapshot().tables.values())
        if store is not None else 0)
    return {name: (vals[name], unit) for name, unit in per_layer_spec()}


def seen_filter_fpp(spark, store, cfg) -> float:
    """Mean over buckets of the live seen filter's own estimate: bloom FPP
    (``bloom.fpp_estimate``) or cuckoo load (``cuckoo.load_estimate``)."""
    from crawlspark.operators import bloom, cuckoo

    flt = store.read(spark, "seen_filter")
    if flt is None:
        return 0.0
    if cfg.seen_filter_backend == "cuckoo":
        rows = (cuckoo.latest_filter(flt)
                .selectExpr("n_items", "length(slots)").collect())
        est = [cuckoo.load_estimate(int(n), int(b)) for n, b in rows]
    else:
        rows = (bloom.latest_filter(flt)
                .selectExpr("n_items", "length(bits) * 8").collect())
        est = [bloom.fpp_estimate(int(n), int(m), cfg.bloom_num_hashes)
               for n, m in rows]
    return statistics.fmean(est) if est else 0.0
