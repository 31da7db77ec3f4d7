"""The benchmark's workloads. Each drives the engine through its public
calls, one client in a closed loop: the next step is submitted only after
the previous one returned.

- ``crawl``: ``CrawlEngine.bootstrap``, then ``run_round`` until the timed
  window is spent, then ``checkpoint(r, wait=True)`` (what ``run()`` does).
  Round 1 is the untimed warm-up (JIT/codegen, Python workers, tokenizer
  memo). Outputs are compared with the simulator.
- ``queries``: the 15 queries of ``bench.HEADLINE + bench_extra.EXTRA``
  through ``__spark_entry__.queries()`` on generated tables. One untimed
  cold pass collects every result (it is also the warm-up); timed passes
  write to the noop sink and each query counts at its fastest timed run.
  After timing, the collected results are compared with their DuckDB
  oracles.

A traced run (``--trace 1``) records spans around every timed step and adds
the per-layer measurements of ``layers.py``. Its own throughput is reported
as ``trace.items_per_s``: against the untraced runs' ``items_per_s`` it
gives the tracing overhead (spans, job-group tags and the event log).
"""

from __future__ import annotations

import dataclasses
import os
import random
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from crawlbench import checks, gen, layers
from crawlbench.trace import Tracer, job_stats, read_event_log

# A round costs 7-10 s on a 4-core box, so a run holds one warm-up round and
# at least MIN_ROUNDS timed rounds: 48 runs of both workloads must fit 3420 s.
# A third timed round did not narrow the spread over seeds: whole runs speed
# up and slow down together with the box, set-up included.
# The corpus keeps every batch full: the hub budget caps the hub's share, so
# the other hosts' pages must outnumber what the rounds schedule from them.
CRAWL = dict(n_pages=2000, n_seeds=512, batch_size=256, host_budget=32)
MIN_ROUNDS = 2
# recrawl cycle of the traced run: at most one batch and within the hub's
# host budget, so the re-crawl round fetches exactly the expired slice
RECRAWL_SLICE = 24
QUERY_DATA = dict(n_docs=200, n_events=4000, n_lineitem=10_000)
# Passes keep getting faster up to the fifth or so (the JIT compiles several
# seconds per pass) and a box slowdown can stretch any one pass, so a query
# counts at its fastest timed run. A pass costs ~12 s on 4 cores: three timed
# passes are what 48 runs within 3420 s allow.
MIN_QUERY_RUNS = 3
SAMPLE_PAGES, WARM_PAGES = 24, 8

E2E = ("setup_s", "items_per_s")


def query_names() -> list[str]:
    import bench
    import bench_extra

    return list(bench.HEADLINE) + list(bench_extra.EXTRA)


def per_layer_names() -> list[str]:
    return [
        "extract.ms_per_page", "tokenizer.ms_per_page",
        "tokenizer.new_piece_ratio", "chunking.ms_per_page",
        "chunking.chunks_per_page", "spans.ms_per_page",
        "crawl.run_round_self_s", "crawl.checkpoint_s",
        "crawl.jobs_per_round", "crawl.tasks_per_round", "crawl.expire_s",
        "crawl.sched_dedup_per_s",
        "select.select_batch_s", "select.calls",
        "filter.fill", "filter.layers", "filter.fp_ratio", "filter.probe_s",
        "filter.merge_s",
        "tables.append_s", "tables.overwrite_s", "tables.upsert_s",
        "tables.append_calls", "tables.overwrite_calls",
        "tables.upsert_calls", "tables.bytes_written",
        "tables.files_written", "tables.bytes_per_page",
        "spark.task_s", "spark.default_pool_task_s",
        "spark.state_pool_task_s", "spark.background_pool_task_s",
        "spark.cpu_util", "spark.shuffle_bytes", "spark.spill_bytes",
        "spark.failed_tasks", "peak_rss_mb",
    ] + [f"query.{q}_s" for q in query_names()] + ["trace.items_per_s"]


@dataclasses.dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    cores: int
    t_start: float  # perf_counter at process start
    tracer: Tracer
    event_dir: str | None
    failures: list = dataclasses.field(default_factory=list)

    def log(self, what: str) -> None:
        print(f"[{time.perf_counter() - self.t_start:7.2f}s] {what}",
              file=sys.stderr, flush=True)

    def fail(self, what: str) -> None:
        print(f"check failed: {what}", file=sys.stderr)
        self.failures.append(what)


def _spark_layer(ctx: Ctx, t0: float, t1: float, wall: float) -> tuple[dict, dict]:
    js = job_stats(read_event_log(ctx.event_dir), t0, t1)
    pools = js["pool_task_s"]
    return {
        "spark.task_s": js["task_s"],
        "spark.default_pool_task_s": pools.get("default", 0.0),
        "spark.state_pool_task_s": pools.get("state", 0.0),
        "spark.background_pool_task_s": pools.get("background", 0.0),
        "spark.cpu_util": js["task_s"] / (wall * ctx.cores),
        "spark.shuffle_bytes": js["shuffle_bytes"],
        "spark.spill_bytes": js["spill_bytes"],
        "spark.failed_tasks": js["failed_tasks"],
    }, js


# -- crawl ----------------------------------------------------------------------

def crawl(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig, CrawlEngine
    from louis_crawler_legacy_spark.simulator import simulate_crawl

    spark, seed, tr = ctx.spark, ctx.seed, ctx.tracer
    cfg = CrawlConfig(batch_size=CRAWL["batch_size"],
                      host_budget=CRAWL["host_budget"],
                      detailed_metrics=False, collect_batch_urls=False,
                      build_spans=True)
    n_pages = CRAWL["n_pages"]
    wh = os.path.join(ctx.work, "warehouse")
    corpus = gen.crawl_corpus(spark, seed, n_pages)
    eng = CrawlEngine(spark, corpus, wh, cfg)
    eng.corpus.count()
    ctx.log("corpus materialized")
    seeds = gen.seed_urls(CRAWL["n_seeds"])
    eng.bootstrap(seeds)
    stats = [eng.run_round(1)]
    setup_s = time.perf_counter() - ctx.t_start
    ctx.log("warm-up round done")

    walls = []
    tr.phase = "timed"
    tr.enabled = ctx.trace
    t0_epoch, t0 = time.time(), time.perf_counter()
    r = 2
    try:
        while True:
            ts = time.perf_counter()
            s = eng.run_round(r)
            if s is None:
                break
            walls.append(time.perf_counter() - ts)
            stats.append(s)
            r += 1
            if (time.perf_counter() - t0 >= ctx.seconds
                    and len(walls) >= MIN_ROUNDS):
                break
        tc = time.perf_counter()
        eng.checkpoint(r - 1, wait=True)
        checkpoint_s = time.perf_counter() - tc
    except Exception:
        traceback.print_exc()
        ctx.fail(f"round {r} raised")
        return {"attempted": len(walls) + 1, "metrics": {}}
    wall = time.perf_counter() - t0
    t1_epoch = time.time()
    tr.enabled = False
    tr.phase = "check"
    ctx.log(f"timed: {len(walls)} rounds {[round(x, 2) for x in walls]}, "
            f"batches {[s.n_batch for s in stats]}")

    skeleton = gen.crawl_corpus(spark, seed, n_pages, skeleton=True).collect()
    sim = simulate_crawl({row.url: row.asDict() for row in skeleton}, seeds,
                         max_depth=cfg.max_depth, batch_size=cfg.batch_size,
                         host_budget=cfg.host_budget, max_rounds=len(stats))
    observed = checks.observe_crawl(eng, stats)
    for m in checks.crawl_mismatches(observed,
                                     checks.expected_crawl(sim, len(stats))):
        ctx.fail(m)

    ctx.log("crawl checked")
    timed_stats = stats[1:]
    scheduled = sum(s.n_batch for s in timed_stats)
    out = {"setup_s": setup_s, "items_per_s": scheduled / wall}
    if not ctx.trace:
        return {"attempted": len(walls), "metrics": out, "rounds": len(walls)}

    # -- traced run: per-layer numbers ------------------------------------------
    n_rounds = len(walls)
    n_bytes, n_files = layers.warehouse_size(wh)
    lay = {
        "crawl.run_round_self_s": statistics.fmean(
            tr.self_times("crawl.run_round", "timed")),
        "crawl.checkpoint_s": checkpoint_s,
        "crawl.sched_dedup_per_s": (scheduled + sum(
            s.n_new_frontier for s in timed_stats)) / wall,
        "select.calls": len(tr.closed("select.select_batch", "timed")) / n_rounds,
        "select.select_batch_s": statistics.fmean(
            [s["end"] - s["start"]
             for s in tr.closed("select.select_batch", "timed")] or [0.0]),
        "tables.append_s": tr.total("tables.append", "timed") / n_rounds,
        "tables.overwrite_s": tr.total("tables.overwrite", "timed") / n_rounds,
        "tables.append_calls": len(tr.closed("tables.append", "timed")) / n_rounds,
        "tables.overwrite_calls": len(tr.closed("tables.overwrite", "timed")) / n_rounds,
        "tables.bytes_written": n_bytes,
        "tables.files_written": n_files,
        "tables.bytes_per_page": n_bytes / max(1, observed["pages"]),
        "trace.items_per_s": out["items_per_s"],
    }

    rng = random.Random(seed)
    seen_urls = sorted(observed["seen_urls"])
    seen_set = set(seen_urls)
    in_seen = rng.sample(seen_urls, min(500, len(seen_urls)))
    not_seen = [u for u in (gen.page_url(i)
                            for i in rng.sample(range(n_pages), 2000))
                if u not in seen_set][: len(in_seen)]
    filt = layers.filter_layer(spark, eng, in_seen, not_seen)
    if filt.pop("_filter_false_negatives"):
        ctx.fail("seen filter answered 'new' for a seen url")
    lay.update(filt)

    sample_urls = rng.sample(seen_urls, min(len(seen_urls),
                                            SAMPLE_PAGES + WARM_PAGES))
    rows = eng.corpus.filter(F.col("url").isin(sample_urls)).filter(
        F.col("status") < 400).select("url", "html").collect()
    pages = sorted(((r.url, r.html) for r in rows),
                   key=lambda p: sample_urls.index(p[0]))
    lay.update(layers.per_page(pages, min(WARM_PAGES, len(pages) // 3)))

    # one recrawl cycle: expire a seed-chosen slice of seen, re-crawl it with
    # unique_fetch=False (pages upsert); seen must come back unchanged
    tr.phase = "recrawl"
    tr.enabled = True
    slice_urls = rng.sample(seen_urls, RECRAWL_SLICE)
    te = time.perf_counter()
    n_expired = eng.expire_urls(slice_urls)
    lay["crawl.expire_s"] = time.perf_counter() - te
    if n_expired != len(slice_urls):
        ctx.fail(f"expire_urls expired {n_expired} of {len(slice_urls)}")
    eng2 = CrawlEngine(spark, eng.corpus, wh,
                       dataclasses.replace(cfg, unique_fetch=False))
    eng2.run(seeds=slice_urls, max_rounds=1)
    tr.enabled = False
    after = checks.observe_crawl(eng2, [])
    if after["seen"] != observed["seen"]:
        ctx.fail("recrawl: seen set changed")
    if after["distinct_page_urls"] != after["pages"]:
        ctx.fail("recrawl: duplicate page urls after upsert")
    lay["tables.upsert_s"] = tr.total("tables.upsert", "recrawl")
    lay["tables.upsert_calls"] = len(tr.closed("tables.upsert", "recrawl"))
    return {"attempted": len(walls) + 1, "metrics": out, "layers": lay,
            "window": (t0_epoch, t1_epoch, wall), "rounds": len(walls)}


# -- queries ----------------------------------------------------------------------

def queries(ctx: Ctx) -> dict:
    import duckdb

    import __spark_entry__ as entry

    spark, seed, tr = ctx.spark, ctx.seed, ctx.tracer
    data = os.path.join(ctx.work, "qdata")
    gen.query_tables(spark, seed, data, **QUERY_DATA)
    qs, oracles = entry.queries(), entry.oracle_sql()
    names = query_names()
    rng = random.Random(seed)
    ctx.log("tables generated")

    # untimed cold pass, the warm-up: its collected rows are checked after
    # the timed passes. It is set-up, so it runs a query per core at once
    # (a first run mostly waits on planning and codegen); the time it saves
    # buys the third timed pass.
    def cold(name):
        try:
            df = qs[name](spark, data)
            return name, (df.columns, df.collect())
        except Exception:
            traceback.print_exc()
            ctx.fail(f"{name} raised")
            return name, None

    with ThreadPoolExecutor(ctx.cores) as pool:
        results = {n: r for n, r in pool.map(cold, rng.sample(names, len(names)))
                   if r is not None}
    setup_s = time.perf_counter() - ctx.t_start
    ctx.log("cold pass done")

    # every query runs at least MIN_QUERY_RUNS times, in a fresh seeded
    # order per pass; its cost is the fastest of its runs, so a box slowdown
    # shows only if it hits every run of the query
    tr.phase = "timed"
    tr.enabled = ctx.trace
    walls = []
    q_walls: dict[str, list[float]] = {n: [] for n in names}
    executed = 0
    t0_epoch, t0 = time.time(), time.perf_counter()
    while True:
        tp = time.perf_counter()
        for name in rng.sample(names, len(names)):
            tq = time.perf_counter()
            try:
                with tr.span(f"query.{name}", job_group=True):
                    qs[name](spark, data).write.format("noop").mode(
                        "overwrite").save()
            except Exception:
                traceback.print_exc()
                ctx.fail(f"{name} raised in a timed pass")
            executed += 1
            q_walls[name].append(time.perf_counter() - tq)
        walls.append(time.perf_counter() - tp)
        if (time.perf_counter() - t0 >= ctx.seconds
                and len(walls) >= MIN_QUERY_RUNS):
            break
    wall = time.perf_counter() - t0
    t1_epoch = time.time()
    tr.enabled = False
    ctx.log(f"timed: {len(walls)} passes {[round(x, 2) for x in walls]}")
    ctx.log("query runs " + " ".join(
        f"{n}={'/'.join(f'{x:.2f}' for x in v)}" for n, v in q_walls.items()))

    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet/*.parquet')")
    planted = gen.planted_duplicates(spark, data)
    for name, (cols, rows) in results.items():
        if name in oracles:
            cur = con.execute(oracles[name])
            bad = checks.query_mismatch(
                cols, rows, [d[0] for d in cur.description], cur.fetchall())
        else:
            # rows-only query (engine hashes): every planted exact duplicate
            # must come out as a pair of similarity 1
            found = {(r.id_a, r.id_b) for r in rows if r.sim == 1.0}
            bad = (None if planted <= found
                   else f"missed planted pairs {sorted(planted - found)[:5]}")
        if bad:
            ctx.fail(f"{name}: {bad}")
    con.close()
    ctx.log("queries checked")

    fastest = {n: min(v) for n, v in q_walls.items()}
    out = {"setup_s": setup_s, "items_per_s": len(names) / sum(fastest.values())}
    res = {"attempted": executed + len(names), "metrics": out,
           "rounds": len(walls)}
    if not ctx.trace:
        return res

    # the per-page layers stay 0 here: queries never process crawl pages
    lay = {f"query.{n}_s": t for n, t in fastest.items()}
    lay["trace.items_per_s"] = out["items_per_s"]
    res.update(layers=lay, window=(t0_epoch, t1_epoch, wall))
    return res


WORKLOADS = {"crawl": crawl, "queries": queries}
