"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

Runs every workload on toy inputs, untraced and traced, and checks that
every metric named in BENCHMARK.json is emitted with its unit. Then checks
that each correctness gate passes on real output and fails once the output
is corrupted (a page row dropped, a page text changed, a frontier row
duplicated, an epoch count changed, a frontier row lost, a query count
or cosine changed). Exits 0 when every check holds.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench_run  # noqa: E402

TOY = {
    "crawl_discovery": {"pages": 300},
    "corpus_queries": {"documents": 60, "embeddings": 60, "events": 300, "orders": 200, "lineitem": 600},
}


def check_metrics(spec: dict, failures: list[str]) -> None:
    for workload in TOY:
        for trace in (0, 1):
            record = bench_run.run(workload, seed=3, seconds=0, trace=bool(trace), sizes=TOY[workload])
            line = json.loads(json.dumps(bench_run.result_line(record)))
            where = f"{workload} trace {trace}"
            if set(line) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{where}: result keys {sorted(line)}")
            if not line["correct"] or line["attempted"] < 1:
                failures.append(f"{where}: gates failed at toy size: {record['failures']}")
            want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            got = {k: m["unit"] for k, m in line["metrics"].items()}
            if got != want:
                failures.append(f"{where}: metrics/units {got} != BENCHMARK.json {want}")
            for k, m in line["metrics"].items():
                if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
                    failures.append(f"{where}: {k} = {m['value']!r}")


def check_gates(failures: list[str]) -> None:
    from perfbench import workloads

    work = os.path.abspath(os.path.join(".bench_work", f"selftest-{os.getpid()}"))
    spark, _ = bench_run.start_spark(work)
    try:
        # in a function of its own, so its DataFrames are released while
        # the JVM still runs
        _gate_checks(spark, work, failures)
    finally:
        bench_run.stop_spark(spark)
        workloads.clean(work)


def _gate_checks(spark, work: str, failures: list[str]) -> None:
    from pyspark.sql import functions as F

    from crawling_infrastructure_spark.config import TaskConfig
    from crawling_infrastructure_spark.operators.robots import RobotsCache
    from crawling_infrastructure_spark.plans.epoch import CrawlJob
    from crawling_infrastructure_spark.sources.seeds import seeds_from_list
    from crawling_infrastructure_spark.synth import (
        _zipf_cdf, fetch_outcome, gen_pages, page_html, seed_urls,
    )
    from perfbench import gates, workloads

    n, hosts = 150, 6
    corpus = gen_pages(spark, n, hosts).cache()
    cfg = TaskConfig(task_id="st", max_items_per_second=20.0, epoch_seconds=2.0,
                     max_items_per_host_per_epoch=10, frontier_buckets=4)
    robots = RobotsCache(workloads.ROBOTS)
    job = CrawlJob(spark, os.path.join(work, "cat"), corpus, cfg,
                   outcome_fn=fetch_outcome, robots=robots, claim_snapshot=False)
    seeds = seed_urls(hosts)
    job.init_task(seeds_from_list(spark, seeds))
    epochs = [job.run_epoch(e) for e in (1, 2)]
    pages, frontier = job.pages_t.read(spark).cache(), job.frontier_t.read(spark).cache()

    def expect(name: str, bad: list[str], should_fail: bool) -> None:
        if bool(bad) != should_fail:
            failures.append(f"gate {name}: {'passed' if not bad else bad} (should_fail={should_fail})")

    expect("pages clean", gates.pages_gate(corpus, pages, frontier), False)
    one = pages.limit(1).select("url")
    expect("pages row dropped",
           gates.pages_gate(corpus, pages.join(one, "url", "left_anti"), frontier), True)
    changed = pages.withColumn(
        "text", F.when(F.col("url").isin([one.first()["url"]]), F.concat("text", F.lit("x")))
        .otherwise(F.col("text")))
    expect("pages text changed", gates.pages_gate(corpus, changed, frontier), True)
    expect("pages frontier duplicate",
           gates.pages_gate(corpus, pages, frontier.unionByName(frontier.limit(1))), True)

    cdf = _zipf_cdf(hosts)
    html = {u: h for u, h, _ in (page_html(i, n, hosts, cdf) for i in range(n))}
    rows = [(r["url"], r["status"], r["retries"])
            for r in frontier.select("url", "status", "retries").collect()]

    def oracle():
        return gates.replay_oracle(html, cfg, robots, seeds)

    expect("discovery clean", gates.discovery_gate(oracle(), epochs, rows), False)
    bumped = [dataclasses.replace(epochs[0], completed=epochs[0].completed + 1), epochs[1]]
    expect("discovery epoch count changed", gates.discovery_gate(oracle(), bumped, rows), True)
    expect("discovery frontier row lost", gates.discovery_gate(oracle(), epochs, rows[1:]), True)

    from crawling_infrastructure_spark.plans.queries import QUERIES
    from perfbench import tables

    data = os.path.join(work, "tables")
    tables.write_tables(data, 3, TOY["corpus_queries"])
    names = ["domain_count", "ann_cosine_topk"]
    got = {q: QUERIES[q](spark, data).toPandas() for q in names}
    expect("queries clean", gates.query_gate(data, got, names), False)
    changed = got["domain_count"].copy()
    changed.iloc[0, -1] = changed.iloc[0, -1] + 1
    expect("queries count changed", gates.query_gate(data, {**got, "domain_count": changed}, names), True)
    changed = got["ann_cosine_topk"].copy()
    changed.loc[0, "cosine"] += 0.01
    expect("queries cosine changed", gates.query_gate(data, {**got, "ann_cosine_topk": changed}, names), True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures: list[str] = []
    check_gates(failures)
    check_metrics(spec, failures)
    for msg in failures:
        print(f"selftest: FAIL {msg}")
    print(f"selftest: {'FAILED' if failures else 'ok'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
