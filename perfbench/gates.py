"""Correctness gates of the benchmark. Each gate returns a list of mismatch
descriptions; an empty list means the output is correct."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawling_infrastructure_spark.schema import Status
from crawling_infrastructure_spark.synth import fetch_outcome
from tests.reference_oracle import OracleCrawl
from tools.check_oracle import TABLES, normalize

STAT_FIELDS = ("claimed", "completed", "failed", "blocked", "new_urls")


def pages_gate(corpus: DataFrame, pages: DataFrame, frontier: DataFrame) -> list[str]:
    """Pages text byte-identical to the corpus text, url_hash unique in the
    frontier, and pages rows equal to the completed frontier rows."""
    bad = []
    n_text = (
        pages.select("url", "text")
        .join(corpus.select("url", F.col("text").alias("expected")), "url", "left")
        .filter(~F.col("text").eqNullSafe(F.col("expected")))
        .count()
    )
    if n_text:
        bad.append(f"{n_text} pages rows whose text differs from the corpus")
    n, n_distinct = frontier.agg(F.count("*"), F.countDistinct("url_hash")).first()
    if n != n_distinct:
        bad.append(f"frontier holds {n} rows but {n_distinct} distinct url_hash")
    done = frontier.filter(F.col("status") == Status.COMPLETED).select("url")
    page_urls = pages.select("url")
    n_pages, n_done = page_urls.count(), done.count()
    if n_pages != n_done:
        bad.append(f"{n_pages} pages rows but {n_done} completed frontier rows")
    missing = done.join(page_urls, "url", "left_anti").count()
    extra = page_urls.join(done, "url", "left_anti").count()
    if missing or extra:
        bad.append(f"{missing} completed urls without a page, {extra} pages not completed")
    return bad


class CountingOracle(OracleCrawl):
    """The reference oracle, also counting the outlink candidates offered
    to the seen set (the denominator of the admit fraction)."""

    candidates: int = 0

    def _admit(self, items: list[str], epoch: int) -> int:
        if epoch > 0:
            self.candidates += len(items)
        return super()._admit(items, epoch)


def replay_oracle(corpus_html: dict[str, str], cfg, robots, seeds: list[str]) -> CountingOracle:
    def allowed(host: str, url: str) -> bool:
        path = url.split("://", 1)[-1][len(host):] or "/"
        return robots.allowed(host, path)

    o = CountingOracle(corpus=corpus_html, cfg=cfg, outcome_fn=fetch_outcome, robots_allowed=allowed)
    o.seed(seeds)
    return o


def discovery_gate(oracle: CountingOracle, epochs: list, frontier_rows: list) -> list[str]:
    """Replay the Spark epochs (same numbers, same order) on the oracle and
    compare every EpochStats field, then the final seen set and the final
    (status, retries) of every frontier row. ``epochs`` are EpochStats;
    ``frontier_rows`` are (url, status, retries) tuples."""
    bad = []
    for s in epochs:
        want = oracle.run_epoch(s.epoch)
        got = {f: getattr(s, f) for f in STAT_FIELDS}
        exp = {f: want.get(f, 0) for f in STAT_FIELDS}
        if got != exp:
            bad.append(f"epoch {s.epoch}: engine {got} != oracle {exp}")
    got_state = {u: (st, r) for u, st, r in frontier_rows}
    if set(got_state) != oracle.seen_set:
        bad.append(
            f"seen set differs: {len(set(got_state) - oracle.seen_set)} extra, "
            f"{len(oracle.seen_set - set(got_state))} missing"
        )
    want_state = {u: (r.status, r.retries) for u, r in oracle.frontier.items()}
    n_diff = sum(1 for u, v in got_state.items() if want_state.get(u, v) != v)
    if n_diff:
        bad.append(f"{n_diff} frontier rows differ from the oracle in status or retries")
    return bad


def frame_hash(df: pd.DataFrame) -> tuple:
    """Column names, row count and a hash of every row of a normalized
    result."""
    return tuple(df.columns), len(df), int(pd.util.hash_pandas_object(df, index=False).sum())


# The registry rounds its float outputs (cosine to 4 decimals); Spark and
# DuckDB evaluate the float arithmetic in different orders, so a value on a
# rounding boundary may land one unit apart (ann_cosine_topk: 0.3506 vs
# 0.3507). Non-integral numbers may differ by that much; everything else
# must be equal.
FLOAT_TOL = 1e-4 + 1e-9


def _close(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    exact = [c for c in a.columns
             if a[c].dtype == object or (a[c] == a[c].round()).all() and (b[c] == b[c].round()).all()]
    inexact = [c for c in a.columns if c not in exact]
    keys = exact + inexact
    a = a.sort_values(keys).reset_index(drop=True)
    b = b.sort_values(keys).reset_index(drop=True)
    return a[exact].equals(b[exact]) and all(
        np.allclose(a[c], b[c], rtol=0, atol=FLOAT_TOL, equal_nan=True) for c in inexact
    )


def query_gate(data: str, got: dict[str, pd.DataFrame], names: list[str]) -> list[str]:
    """Each query's Spark result (``got``, collected to pandas) must be
    hash-equal to its ORACLE_SQL run by DuckDB on the same parquet files
    under ``data``, after ``tools/check_oracle.normalize``; failing that,
    equal but for FLOAT_TOL in non-integral numbers."""
    import duckdb

    from crawling_infrastructure_spark.plans.queries import ORACLE_SQL

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    bad = []
    for q in names:
        if q not in got:
            bad.append(f"{q}: no Spark result")
            continue
        want = normalize(con.execute(ORACLE_SQL[q]).df())
        have = normalize(got[q])
        if frame_hash(have) != frame_hash(want) and not _close(have, want):
            bad.append(f"{q}: Spark {frame_hash(have)[:2]} != DuckDB {frame_hash(want)[:2]} or rows differ")
    con.close()
    return bad
