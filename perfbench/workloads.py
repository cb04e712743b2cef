"""The benchmark's workloads.

Each workload builds its inputs from the seed, warms the engine up, then
runs timed operations until the requested seconds have passed (one round
at least), and finally checks its outputs.

crawl_discovery builds its corpus through ``synth``'s functions; the seed
moves the shape passed to ``synth.gen_pages`` / ``synth.seed_urls`` a
little: the number of Zipf hosts (every URL's host, so the claim order and
the seed list) and the page count (the outlink graph). ``corpus_queries`` writes its tables with
``perfbench/tables.py`` from the seed. The amount of work stays about the
same.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from bench import CpuTracker
from crawling_infrastructure_spark.config import TaskConfig
from crawling_infrastructure_spark.operators.robots import RobotsCache
from crawling_infrastructure_spark.plans import epoch as epoch_mod
from crawling_infrastructure_spark.plans.epoch import CrawlJob
from crawling_infrastructure_spark.schema import FRONTIER_SCHEMA
from crawling_infrastructure_spark.sources.seeds import seeds_from_list
from crawling_infrastructure_spark.synth import (
    _zipf_cdf,
    fetch_outcome,
    gen_pages,
    page_html,
    seed_urls,
)
from perfbench import gates, tables

# corpus sizes; the self-test passes smaller ones
SIZES = {
    "crawl_discovery": {"pages": 6000},
    "corpus_queries": {},  # tables.SIZES
}
SETUP_REPEATS = 3

# a small robots.txt rule set on hosts every seed's corpus has
ROBOTS = {
    "host0001.example": [("disallow", "/p/1")],
    "host0003.example": [("disallow", "/p/"), ("allow", "/p/2")],
    "host0007.example": [("disallow", "/p/9")],
}

# the corpus_queries set: at least one query per read-only operator module
# (dedup, similarity, textstats, corpus, linkrank). The heavy group holds the
# pair and corpus operators, the light group the small leaves.
HEAVY_QUERIES = ["dedup_minhash_lsh", "ann_cosine_topk", "pack_sequences"]
LIGHT_QUERIES = ["host_pagerank", "lang_id", "pricing_summary"]


@dataclass
class Op:
    kind: str  # init | epoch | resume | finish_check | query
    wall: float
    cpu: float  # process-tree CPU seconds
    stats: object = None  # EpochStats of an epoch
    name: str = ""  # the query of a query


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    warm_epochs: list = field(default_factory=list)  # EpochStats of warm-up epochs
    setup_s: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    gates_s: float = 0.0
    failures: list[str] = field(default_factory=list)
    timed_from: float = 0.0  # perf_counter at the first timed operation
    untimed: list[tuple[float, float]] = field(default_factory=list)  # warm-up after it
    window_s: float = 0.0
    frontier_rows: int = 0
    admit_candidates: int = 0
    inputs: dict = field(default_factory=dict)

    def of(self, kind: str) -> list[Op]:
        return [o for o in self.ops if o.kind == kind]

    @property
    def epochs(self) -> list:
        return [o.stats for o in self.of("epoch")]


class Timer:
    """Runs one timed operation and records its wall and process-tree CPU;
    ``after_op(kind)`` runs after it, outside the timing."""

    def __init__(self, res: Result, after_op=None):
        self.res = res
        self.after_op = after_op

    def __call__(self, kind: str, fn, *args, name: str = ""):
        cpu0 = CpuTracker._proc_tree_stats()[0]
        t0 = time.perf_counter()
        out = fn(*args)
        wall = time.perf_counter() - t0
        cpu = CpuTracker._proc_tree_stats()[0] - cpu0
        self.res.ops.append(Op(kind, wall, cpu, out if kind == "epoch" else None, name))
        if self.after_op is not None:
            self.after_op(kind)
        return out


def _setup_corpus(spark, res: Result, n_pages: int, n_hosts: int):
    """Generate and cache the corpus SETUP_REPEATS times, keeping the last;
    each repeat's wall is one set-up sample."""
    corpus = None
    for _ in range(SETUP_REPEATS):
        if corpus is not None:
            corpus.unpersist(blocking=True)
        t0 = time.perf_counter()
        corpus = gen_pages(spark, n_pages, n_hosts).cache()
        corpus.count()
        res.setup_s.append(time.perf_counter() - t0)
    return corpus


def finish_check(job: CrawlJob) -> bool:
    """The frontier layer's task_finished on the job's frontier, as
    run_epoch calls it after an epoch that admitted nothing (the timed
    epochs all admit URLs, so it is called once by itself)."""
    return epoch_mod.task_finished(
        job.frontier_t.read(job.spark, FRONTIER_SCHEMA), job.cfg.retry_failed_items
    )


def crawl_discovery(spark, seed: int, seconds: float, work: str, after_op=None,
                    sizes: dict | None = None) -> Result:
    """BFS from the host roots over the 16-bucket frontier with the bloom
    seen set and robots rules on. Warm-up: init_task on a scratch catalog.
    Timed: init_task; then, after the untimed warm-up epoch 1 (it claims
    only the roots), a fresh CrawlJob that resumes the stopped task and
    epochs from 2 on (each claims the full budget) until ``seconds`` of
    timed operations have passed. The
    whole run, epoch 1 included, is replayed on the reference oracle
    afterwards, and the pages table is checked against the corpus."""
    sz = sizes or SIZES["crawl_discovery"]
    n, n_hosts = sz["pages"] + 13 * (seed % 50), 198 + seed % 5
    res = Result(inputs={"pages": n, "hosts": n_hosts})
    corpus = _setup_corpus(spark, res, n, n_hosts)
    seeds = seed_urls(n_hosts)
    robots = RobotsCache(ROBOTS)
    cfg = TaskConfig(
        task_id="disc",
        max_items_per_second=200.0,
        epoch_seconds=5.0,  # epoch budget 1000 URLs: binds from epoch 2 on
        max_items_per_host_per_epoch=100,
        retry_failed_items=2,
        frontier_buckets=16,
        snapshot_gc_epochs=2,
        snapshot_keep=4,
    )

    def new_job(root):
        return CrawlJob(spark, root, corpus, cfg, outcome_fn=fetch_outcome, robots=robots,
                        claim_snapshot=False)

    root = os.path.join(work, "disc")
    job = new_job(root)
    timer = Timer(res, after_op)
    try:
        w0 = time.perf_counter()
        new_job(os.path.join(work, "warm")).init_task(seeds_from_list(spark, seeds))
        res.warmup_s = time.perf_counter() - w0
        res.timed_from = time.perf_counter()
        timer("init", job.init_task, seeds_from_list(spark, seeds))
        w0 = time.perf_counter()
        res.warm_epochs.append(job.run_epoch(1))
        res.untimed.append((w0, time.perf_counter()))
        res.warmup_s += time.perf_counter() - w0
        job = new_job(root)
        last = timer("resume", job.resume)
        if last != 1:
            res.failures.append(f"resume returned epoch {last}, expected 1")
        epoch = 2
        while True:
            s = timer("epoch", job.run_epoch, epoch)
            epoch += 1
            if s.finished or sum(o.wall for o in res.ops) >= seconds:
                break
        timer("finish_check", finish_check, job)
    except Exception as e:  # an engine error fails the run, not the harness
        res.failures.append(f"discovery raised {e!r}")
    res.window_s = time.perf_counter() - res.timed_from - sum(b - a for a, b in res.untimed)

    t0 = time.perf_counter()
    cdf = _zipf_cdf(n_hosts)
    html = {u: h for u, h, _ in (page_html(i, n, n_hosts, cdf) for i in range(n))}
    oracle = gates.replay_oracle(html, cfg, robots, seeds)
    frontier = job.frontier_t.read(spark)
    rows = [(r["url"], r["status"], r["retries"]) for r in frontier.select("url", "status", "retries").collect()]
    res.failures += gates.discovery_gate(oracle, res.warm_epochs + res.epochs, rows)
    res.failures += gates.pages_gate(corpus, job.pages_t.read(spark), frontier)
    res.frontier_rows = len(rows)
    res.admit_candidates = oracle.candidates
    res.gates_s = time.perf_counter() - t0
    corpus.unpersist()
    return res


def run_query(spark, data: str, name: str) -> None:
    """One registry query, forced end to end into the noop sink. The traced
    run wraps this function, so it is looked up by module at call time."""
    from crawling_infrastructure_spark.plans.queries import QUERIES

    QUERIES[name](spark, data).write.format("noop").mode("overwrite").save()


def corpus_queries(spark, seed: int, seconds: float, work: str, after_op=None,
                   sizes: dict | None = None) -> Result:
    """The read-only text, vector and pair operators through the query
    registry, on tables written from the seed. The warm-up collects every
    query once (those results are checked against DuckDB afterwards) and
    runs one untimed pass; then passes over the query set, each query into
    the noop sink, repeat until ``seconds`` have passed."""
    from crawling_infrastructure_spark.operators.corpus import release_checkpoints
    from crawling_infrastructure_spark.plans.queries import QUERIES

    sz = {**tables.SIZES, **(sizes or SIZES["corpus_queries"])}
    res = Result(inputs={"tables": sz})
    data = os.path.join(work, "tables")
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        tables.write_tables(data, seed, sz)
        res.setup_s.append(time.perf_counter() - t0)

    names = HEAVY_QUERIES + LIGHT_QUERIES
    got = {}
    t0 = time.perf_counter()
    try:
        for q in names:
            got[q] = QUERIES[q](spark, data).toPandas()
            release_checkpoints()
        # the first noop pass still runs some plans cold
        for q in names:
            run_query(spark, data, q)
            release_checkpoints()
    except Exception as e:  # an engine error fails the run, not the harness
        res.failures.append(f"warm-up raised {e!r}")
    res.warmup_s = time.perf_counter() - t0

    timer = Timer(res, after_op)
    t0 = res.timed_from = time.perf_counter()
    try:
        while not res.ops or time.perf_counter() - t0 < seconds:
            for q in names:
                timer("query", lambda: run_query(spark, data, q), name=q)
                release_checkpoints()
    except Exception as e:
        res.failures.append(f"timed pass raised {e!r}")
    res.window_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    res.failures += gates.query_gate(data, got, names)
    res.gates_s = time.perf_counter() - t0
    return res


WORKLOADS = {
    "crawl_discovery": crawl_discovery,
    "corpus_queries": corpus_queries,
}


def end_to_end(workload: str, res: Result, session_s: float, rss_gb: float) -> dict:
    """The end-to-end metrics. An item is a completed page on
    crawl_discovery and a query run on corpus_queries; ``heavy_s`` is the
    median epoch wall or the heavy query group's summed median walls,
    ``light_s`` the init_task wall or the light group's."""
    setup = session_s + statistics.median(res.setup_s) + res.warmup_s
    if workload == "corpus_queries":
        ops = res.of("query")
        per_query = {q: statistics.median(o.wall for o in ops if o.name == q)
                     for q in HEAVY_QUERIES + LIGHT_QUERIES}
        items = len(ops)
        heavy = sum(per_query[q] for q in HEAVY_QUERIES)
        light = sum(per_query[q] for q in LIGHT_QUERIES)
    else:
        ops = res.of("epoch")
        items = sum(o.stats.completed for o in ops)
        heavy = statistics.median(o.wall for o in ops)
        light = statistics.median(o.wall for o in res.of("init"))
    return {
        "items_per_s": items / sum(o.wall for o in ops),
        "heavy_s": heavy,
        "light_s": light,
        "setup_s": setup,
        "cpu_ms_per_item": sum(o.cpu for o in ops) / items * 1000.0,
        "peak_rss_gb": rss_gb,
    }


def clean(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
