"""The benchmark's workloads: closed loops driven by one client (this thread).

A workload sets up (``setup_s``), runs operations back to back until
``seconds`` of loop wall have passed (the operation in flight completes),
then checks its outputs untimed.

* ``crawl_continuous`` -- a small datagen store crawled at batch 50.  Each
  operation folds a discovery batch into the store (``fold_batch``) and runs
  ``run_crawl(max_epochs=1)``.  A traced run then runs table maintenance
  and a TTL-recrawl pass once, untimed by the loop, and checks the pass.
* ``frontier_1m`` -- the repository's north-metric frontier job,
  ``bench.bench_frontier``, imported unchanged and run over 1M lazily
  generated URLs per operation.  A traced run then runs the headline
  queries once, untimed by the loop, and checks them against DuckDB.
"""

from __future__ import annotations

import functools
import os
import time
from dataclasses import dataclass, field

import pandas as pd

import gen
from spans import Tracer

TERMINAL = ("ok", "invalid_payload", "failed", "robots_denied")
# committed counter -> crawl_log status
COUNTER_STATUS = {"ok": "ok", "invalid": "invalid_payload", "retry": "retry",
                  "deferred": "deferred", "failed": "failed",
                  "denied": "robots_denied"}
CURSOR_TAG = "perfbench-discovery"

CONTINUOUS_CFG = dict(batch_size=50)
# the traced run's TTL pass: TTL 0 makes every URL crawled ok stale after
# the one epoch a run holds (see check_recrawl)
TTL_PASS_CFG = dict(recrawl_ttl_epochs=0, recrawl_topk=100)
FRONTIER_URLS = 1_000_000
FRONTIER_BATCH = 10_000
WARMUP_JOBS = 2


@dataclass
class Run:
    name: str
    seed: int
    seconds: float
    work: str          # per-run scratch dir (deleted afterwards)
    cache: str         # cross-run input cache
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    op_walls: list = field(default_factory=list)   # one per operation
    loop_wall: float = 0.0
    results: list = field(default_factory=list)    # EpochResult per epoch
    counters: list = field(default_factory=list)   # committed, per epoch
    fold_walls: list = field(default_factory=list)

    def op_failed(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)

    def check(self, ok: bool, msg: str) -> bool:
        """One correctness check: counts as attempted, and as failed unless
        ``ok``."""
        self.attempted += 1
        if not ok:
            self.op_failed(msg)
        return ok

    def timed(self, what: str, fn, *args, **kwargs):
        """Run one operation of the loop; None if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:   # the loop must report, not die
            self.op_failed(f"{what} raised {exc!r}")
            return None
        wall = time.perf_counter() - t0
        self.loop_wall += wall
        return out, wall


# -- crawl_continuous -----------------------------------------------------------

def crawl_config():
    from crawlspark.config import CrawlConfig

    return CrawlConfig(**CONTINUOUS_CFG)


def _fold_visible(spark, store, tracer, batch, batch_id):
    """fold_batch, returning the discovery cursor of the snapshot it left."""
    from crawlspark.streaming.ingest import fold_batch

    with tracer.span("streaming.ingest.fold_batch"):
        fold_batch(spark, store, batch, batch_id, cursor_tag=CURSOR_TAG)
    return store.snapshot().meta.get("discovery_cursors", {}).get(CURSOR_TAG)


def crawl_continuous(run: Run, spark, tracer: Tracer, t_session: float):
    """Returns (setup_s, store)."""
    from crawlspark.plans.crawler import init_run, run_crawl
    from crawlspark.tables import SnapshotStore

    paths = gen.fixtures(run.seed, run.cache)
    store = SnapshotStore(os.path.join(run.work, "store"))
    t0 = time.perf_counter()
    with tracer.span("plans.crawler.init_run"):
        init_run(spark, store, *(spark.read.parquet(paths[t])
                                 for t in ("frontier", "robots", "budgets")))
    setup_s = t_session + time.perf_counter() - t0

    cfg = crawl_config()
    images = spark.read.parquet(paths["image_caption"])
    known = pd.read_parquet(paths["frontier"], columns=["url"])["url"].tolist()
    tracer.mark_loop()
    while run.loop_wall < run.seconds:
        batch_id = len(run.fold_walls)
        batch = spark.createDataFrame(
            gen.discovery_batch(run.seed, batch_id, known))
        fold = run.timed("fold_batch", _fold_visible, spark, store, tracer,
                         batch, batch_id)
        if fold is None:
            break
        run.fold_walls.append(fold[1])
        run.check(fold[0] == batch_id, f"discovery batch {batch_id} not "
                                       f"visible after fold_batch")
        epoch = run.timed("run_crawl", run_crawl, spark, store, images, cfg,
                          max_epochs=1)
        if epoch is None:
            break
        results, wall = epoch
        if not run.check(len(results) == 1, "run_crawl(max_epochs=1) ran "
                                            f"{len(results)} epochs"):
            break
        res = results[0]
        run.op_walls.append(fold[1] + wall)
        run.results.append(res)
        run.counters.append(dict(store.snapshot().meta.get("counters", {})))
    tracer.end_loop()
    if tracer.enabled and run.results:
        maintenance_pass(spark, store, cfg, run.results[-1].epoch)
    tracer.uninstall()   # the checks below are not the program's work
    run.check(bool(run.results) and run.results[0].n_admitted > 0,
              "epoch 0 admitted no URL")
    check_crawl(run, spark, store, ttl_pass=tracer.enabled)
    return setup_s, store


def maintenance_pass(spark, store, cfg, epoch: int) -> None:
    """What ``run_crawl`` runs after an epoch when its ``compact_every`` and
    ``recrawl_every`` cadences fire: ``maintain_store``, then a TTL
    ``recrawl_pass`` (with ``TTL_PASS_CFG``).  Called through the crawler
    module, so a traced run opens their spans."""
    from dataclasses import replace

    from crawlspark.plans import crawler

    crawler.maintain_store(spark, store, cfg)
    crawler.recrawl_pass(spark, store, replace(cfg, **TTL_PASS_CFG), epoch)


def check_crawl(run: Run, spark, store, ttl_pass: bool) -> None:
    """Committed counters equal the crawl_log rows by status, url_seen keys
    are unique, no URL is terminal twice (no recrawl pass runs between
    epochs) and, after a TTL pass, ``check_recrawl`` holds."""
    log = store.read(spark, "crawl_log")
    if not run.check(log is not None, "no crawl_log after the loop"):
        return
    log = log.select("epoch", "status", "url_hash").toPandas()
    by_status = log.groupby(["epoch", "status"]).size().to_dict()
    for res, committed in zip(run.results, run.counters):
        logged = {k: int(by_status.get((res.epoch, s), 0))
                  for k, s in COUNTER_STATUS.items()}
        run.check(committed == logged,
                  f"epoch {res.epoch}: committed counters {committed} != "
                  f"crawl_log rows by status {logged}")
    seen = store.read(spark, "url_seen")
    keys = (seen.select("url_hash").toPandas()["url_hash"]
            if seen is not None else pd.Series(dtype="int64"))
    run.check(keys.is_unique, f"url_seen has {keys.duplicated().sum()} "
                              "duplicated url_hash keys")
    twice = log[log["status"].isin(TERMINAL)].groupby("url_hash").size()
    run.check(not (twice > 1).any(),
              f"{int((twice > 1).sum())} URLs terminal twice, e.g. "
              f"{twice[twice > 1].index[:3].tolist()}")
    if ttl_pass:
        check_recrawl(run, log, keys)


def check_recrawl(run: Run, log: pd.DataFrame, seen_keys: pd.Series) -> None:
    """The TTL pass forgot the ``recrawl_topk`` (or all) URLs crawled ok.

    With TTL 0 every URL with an ok/invalid_payload row is stale after the
    last epoch, and each was in ``url_seen`` before the pass: it was
    admitted, and no earlier pass forgot it."""
    stale = set(log.loc[log["status"].isin(("ok", "invalid_payload")),
                        "url_hash"])
    forgotten = len(stale - set(seen_keys))
    want = min(len(stale), TTL_PASS_CFG["recrawl_topk"])
    run.check(want > 0 and forgotten == want,
              f"TTL pass forgot {forgotten} of {len(stale)} stale URLs, "
              f"expected {want}")


# -- frontier_1m ------------------------------------------------------------------

def frontier(run: Run, spark, tracer: Tracer, t_session: float):
    """Returns (setup_s, None)."""
    import bench

    job = functools.partial(bench.bench_frontier, spark,
                            batch_size=FRONTIER_BATCH)
    # set-up = session + full-size warm-up jobs (JIT and codegen of the
    # job's plan): after one, timed jobs still got ~35% faster over the next
    # three, and the median moved with how many fitted in the loop
    t0 = time.perf_counter()
    for i in range(WARMUP_JOBS):
        job(FRONTIER_URLS, salt=-1 - run.seed * WARMUP_JOBS - i)
    setup_s = t_session + time.perf_counter() - t0

    def traced(salt):
        with tracer.span("bench.bench_frontier"):
            return job(FRONTIER_URLS, salt=salt)

    tracer.mark_loop()
    while run.loop_wall < run.seconds:
        # a fresh salt per job: new lineage, so no shuffle-file reuse
        out = run.timed("bench_frontier", traced,
                        run.seed * 1000 + len(run.op_walls))
        if out is None:
            break
        run.op_walls.append(out[1])
        # the admitted batch is counted after a dropDuplicates on url_hash,
        # so a full batch also proves the admitted keys are unique
        run.check(out[0]["n_admitted"] == FRONTIER_BATCH,
                  f"frontier job admitted {out[0]['n_admitted']} distinct "
                  f"URLs, expected {FRONTIER_BATCH}")
    tracer.end_loop()
    if tracer.enabled:
        headline_queries(run, spark, tracer)
    return setup_s, None


def headline_queries(run: Run, spark, tracer: Tracer) -> None:
    """Each ``bench.HEADLINE`` query once into a noop sink, under a span
    ``<module>.<key>`` (``queries`` or ``textops``), over seeded tables
    shaped like the sf0.01 test tables; then, untraced, its rows against
    the DuckDB ``oracle_sql()`` by ``tools/check_queries.value_hash``."""
    import duckdb

    import __spark_entry__ as entry
    import bench
    from metrics import query_spans
    from tools.check_queries import TABLES, value_hash

    sf = gen.query_tables(run.seed, run.cache)
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf, t + '.parquet')}'")
    for key, name in zip(bench.HEADLINE, query_spans()):
        try:
            with tracer.span(name):
                qs[key](spark, sf).write.format("noop").mode(
                    "overwrite").save()
            df = qs[key](spark, sf)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            res = con.execute(oracles[key]).fetch_arrow_table()
        except Exception as exc:
            run.attempted += 1
            run.op_failed(f"query {key} raised {exc!r}")
            continue
        want = ([tuple(v) for v in zip(*(c.to_pylist() for c in res.columns))]
                if res.num_rows else [])
        run.check(sorted(cols) == sorted(res.schema.names)
                  and value_hash(rows, cols) == value_hash(want,
                                                           res.schema.names),
                  f"query {key}: {len(rows)} Spark rows differ from the "
                  f"DuckDB oracle's {len(want)}")
    con.close()


WORKLOADS = {"crawl_continuous": crawl_continuous, "frontier_1m": frontier}
