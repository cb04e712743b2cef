"""Round-5 pipeline additions: exact-substring dedup (Lee et al. 2022),
Gopher repetition stats, PII scrub, SemDedup. Each test pins semantics on a
hand-built corpus where the expected answer is computable by eye; the
driver oracle pins full-scale agreement with DuckDB separately."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from crawling_infrastructure_spark.operators.dedup import substring_dup_pairs
from crawling_infrastructure_spark.operators.textstats import (
    pii_scrub,
    repetition_stats,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_substring_dup_pairs_window_semantics(spark):
    run = "a b c d e f g h"  # exactly one 8-token window
    docs = _docs(
        spark,
        [
            f"x1 x2 {run} y1 y2",  # 0: contains the run
            f"z1 {run} z2 z3 z4",  # 1: contains the run
            "a b c d e f g q r s",  # 2: 7-token overlap only — NOT a pair
            "t u v w",  # 3: shorter than the window
        ],
    )
    rows = substring_dup_pairs(docs, window=8).collect()
    assert [(r.doc_a, r.doc_b, r.n_shared_windows) for r in rows] == [(0, 1, 1)]


def test_substring_dup_df_cap_drops_boilerplate(spark):
    boiler = "all rights reserved contact the site admin now"
    docs = _docs(spark, [f"{boiler} unique{i}" for i in range(4)])
    # every doc shares the boilerplate window -> 6 pairs uncapped, 0 capped
    assert substring_dup_pairs(docs, window=8).count() == 6
    assert substring_dup_pairs(docs, window=8, max_window_df=3).count() == 0


def test_repetition_stats_fractions(spark):
    docs = _docs(
        spark,
        [
            "spam spam spam spam",  # bigrams: 3x "spam spam"; trigrams: 2x
            "a b c d",  # no repetition
            "xy",  # shorter than any gram width -> zeros
        ],
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert got[0].top_bigram_frac == 1.0
    assert got[0].top_trigram_frac == 1.0
    assert got[0].dup_trigram_frac == 1.0
    assert got[1].top_bigram_frac == round(1 / 3, 4)
    assert got[1].dup_trigram_frac == 0.0
    assert got[2].top_bigram_frac == 0.0 and got[2].dup_trigram_frac == 0.0


def test_pii_scrub_counts_and_redaction(spark):
    docs = _docs(
        spark,
        [
            "mail bob.smith@corp.example.org and alice@x.io from 192.168.1.17 "
            "tel +1-415-555-0000 done",
            "no pii here at all",
        ],
    )
    got = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert (got[0].n_email, got[0].n_ipv4, got[0].n_phone) == (2, 1, 1)
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (0, 0, 0)
    # redaction is total: recompute the expected md5 of the scrubbed string
    import hashlib

    scrubbed = "mail <EMAIL> and <EMAIL> from <IP> tel <PHONE> done"
    assert got[0].redacted_md5 == hashlib.md5(scrubbed.encode()).hexdigest()


def test_semdedup_keep_lowest_id(spark):
    from crawling_infrastructure_spark.operators.similarity import semdedup

    # two tight groups on orthogonal axes + one singleton, k=2 cells
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.01, 0.99, 0.0]),  # near-dup of 2
        (4, [0.0, 0.0, 1.0]),  # singleton
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in semdedup(emb, k=2, iters=2, threshold=0.9).collect()}
    assert got[0].removed == 0 and got[2].removed == 0
    assert got[1].removed == 1 and got[1].dup_of == 0
    # 4 may land in either of the 2 cells; orthogonal to both groups ->
    # cosine ~0 either way, never removed
    assert got[4].removed == 0 and got[4].dup_of == -1
    # vec 3: removed iff it shares a cell with vec 2 (k=2 on 3 directions
    # must merge two groups; whichever way, the removal evidence is exact)
    if got[3].removed:
        assert got[3].dup_of in (0, 1, 2)


def test_new_queries_plan_has_no_cartesian(spark, tmp_path):
    """The new registry entries keep the no-CartesianProduct invariant
    (crossJoin against the 1-row codebook relation compiles to a broadcast
    nested-loop, which is O(n) and fine)."""
    from crawling_infrastructure_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    for name in ["dedup_substring", "repetition_stats", "pii_scrub", "semdedup"]:
        plan = QUERIES[name](spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name


def _pagerank_py(edges, iters=3, damping=0.85):
    """Independent pure-Python PageRank with the operator's exact rounding
    contract (half-up to 9 per iteration, 6 at the end)."""
    import math

    def r9(x):
        return math.floor(x * 1e9 + 0.5) / 1e9

    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    deg = {}
    for s, _ in e:
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    rank = {v: r9(1.0 / n) for v in nodes}
    for _ in range(iters):
        mass = {v: 0.0 for v in nodes}
        for s, d in e:
            mass[d] += rank[s] / deg[s]
        rank = {v: r9((1.0 - damping) / n + damping * mass[v]) for v in nodes}
    return {v: round(rank[v] * 1e6) / 1e6 for v in nodes}


def test_pagerank_matches_pure_python(spark):
    from crawling_infrastructure_spark.operators.linkrank import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 0), (0, 1)]  # dup edge collapses
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iters=3).collect()}
    assert got == _pagerank_py(edges, iters=3)
    # sink-heavy node 2 outranks the dangling-ish node 3
    assert got[2] > got[3]


def test_host_priorities_buckets(spark):
    from crawling_infrastructure_spark.operators.linkrank import host_priorities

    edges = [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a"), ("c", "b")]
    df = spark.createDataFrame(edges, "host string, outlink_host string")
    rows = host_priorities(df, iters=3, levels=5).collect()
    by_host = {r.host: r for r in rows}
    assert all(1 <= r.priority <= 5 for r in rows)
    assert by_host["hub"].priority == 5  # everyone links the hub
    assert by_host["hub"].rank == max(r.rank for r in rows)


@pytest.mark.parametrize(
    "edges", [[], [("a", "a"), ("b", "b")]], ids=["empty", "self_loops_only"]
)
def test_pagerank_no_nodes(spark, edges):
    """An edge set with no non-loop edge has no nodes: both operators
    return no rows instead of dividing by the zero node count."""
    from crawling_infrastructure_spark.operators.linkrank import (
        host_priorities,
        pagerank,
    )

    df = spark.createDataFrame(edges, "host string, outlink_host string")
    assert pagerank(df, src_col="host", dst_col="outlink_host").collect() == []
    assert host_priorities(df).collect() == []


def test_link_prioritize_single_host(spark, tmp_path):
    """One host owning the whole frontier: every outlink is same-host, so
    the host graph stays empty; the crawl runs and new rows keep the
    static cfg.priority."""
    from crawling_infrastructure_spark.config import TaskConfig
    from crawling_infrastructure_spark.plans.epoch import CrawlJob
    from crawling_infrastructure_spark.schema import FRONTIER_SCHEMA
    from crawling_infrastructure_spark.sources.seeds import seeds_from_list
    from crawling_infrastructure_spark.synth import fetch_outcome, gen_pages, seed_urls

    corpus = gen_pages(spark, 60, 1)
    cfg = TaskConfig(task_id="lp1", max_items_per_second=3, link_prioritize=True)
    job = CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg, outcome_fn=fetch_outcome)
    hist = job.run(seeds=seeds_from_list(spark, seed_urls(1)), max_epochs=2)
    assert len(hist) == 2 and hist[0].new_urls > 0
    f = job.frontier_t.read(spark, FRONTIER_SCHEMA)
    new = f.filter(f.epoch_added > 0).select("host", "priority").collect()
    assert new and {r.priority for r in new} == {cfg.priority}
    assert len({r.host for r in new}) == 1


def test_link_prioritize_epoch_loop(spark, corpus, tmp_path):
    """cfg.link_prioritize drives the OPIC loop: host graph accumulates,
    the rank table persists, and NEW frontier rows are stamped with the
    bucketed PageRank priority current at their enqueue epoch."""
    from crawling_infrastructure_spark.config import TaskConfig
    from crawling_infrastructure_spark.operators.linkrank import host_priorities
    from crawling_infrastructure_spark.plans.epoch import CrawlJob
    from crawling_infrastructure_spark.schema import FRONTIER_SCHEMA
    from crawling_infrastructure_spark.sources.seeds import seeds_from_list
    from crawling_infrastructure_spark.synth import fetch_outcome, seed_urls

    cfg = TaskConfig(
        task_id="lp", max_items_per_second=3, link_prioritize=True,
        link_rank_iters=2, link_rank_levels=5,
    )
    job = CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg, outcome_fn=fetch_outcome)
    hist = job.run(seeds=seeds_from_list(spark, seed_urls(6)), max_epochs=2)
    assert hist and hist[-1].new_urls > 0
    last_epoch = hist[-1].epoch

    ranks = {r.host: r.priority for r in job.hostrank_t.read(spark).collect()}
    assert ranks and all(1 <= p <= 5 for p in ranks.values())
    # the rank table IS the operator output over the accumulated graph
    expected = {
        r.host: r.priority
        for r in host_priorities(
            job.hostgraph_t.read(spark), iters=2, levels=5
        ).collect()
    }
    assert ranks == expected

    # rows enqueued in the final epoch carry the rank stamp of their host
    # (link_rank_every=1 -> the persisted table is that epoch's table);
    # unranked hosts keep the static cfg.priority
    f = job.frontier_t.read(spark, FRONTIER_SCHEMA)
    newest = f.filter(f.epoch_added == last_epoch).select("host", "priority").collect()
    assert newest
    for r in newest:
        assert r.priority == ranks.get(r.host, cfg.priority), r.host
    # prioritization actually engaged: not every stamp equals the default
    assert any(r.priority != cfg.priority for r in newest)


# --- decontamination (GPT-3 Appendix C rule) ---------------------------------


def test_contamination_counts_distinct_windows(spark):
    run1 = "a b c d e f g h"
    run2 = "p q r s t u v w"
    ev = _docs(spark, [f"{run1} junk1 junk2 {run2}"])
    train = spark.createDataFrame(
        [
            (10, f"x1 {run1} x2 {run1} x3"),  # run1 twice -> 1 DISTINCT window
            (11, f"{run1} mid {run2}"),  # both runs -> 2
            (12, "a b c d e f g q"),  # 7-token overlap only -> clean
        ],
        "doc_id long, text string",
    )
    from crawling_infrastructure_spark.operators.corpus import (
        contamination,
        decontaminate,
    )

    got = {r.doc_id: r.n_eval_windows for r in contamination(train, ev).collect()}
    assert got == {10: 1, 11: 2}
    kept = sorted(r.doc_id for r in decontaminate(train, ev).collect())
    assert kept == [12]


def test_contamination_broadcast_plan(spark):
    """The eval window set must reach the join as a broadcast so the
    training side never shuffles (the asymmetric 100 TB shape)."""
    from crawling_infrastructure_spark.operators.corpus import contamination

    ev = _docs(spark, ["a b c d e f g h i j"])
    train = _docs(spark, ["k l m n o p q r s t"])
    plan = contamination(train, ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# --- sequence packing ---------------------------------------------------------


def test_pack_sequences_layout(spark):
    """Two-level bucketized packing == the naive global-window layout,
    and documents straddle shard cuts by start position."""
    from crawling_infrastructure_spark.operators.corpus import pack_sequences
    from crawling_infrastructure_spark.operators.dedup import md5_prefix_hash_col

    toks = spark.createDataFrame(
        [(i, 7 + (i * 13) % 30) for i in range(200)],
        "doc_id long, n_bpe_tokens long",
    )
    got = {
        r.doc_id: (r.shard_id, r.shard_offset)
        for r in pack_sequences(toks, capacity=64).collect()
    }
    # naive reference layout: global cumsum in (md5-prefix hash, id) order
    order = {
        r.doc_id: r.h
        for r in toks.select(
            "doc_id", md5_prefix_hash_col(F.col("doc_id").cast("string"), None).alias("h")
        ).collect()
    }
    toks_l = sorted(
        [(i, 7 + (i * 13) % 30) for i in range(200)], key=lambda r: (order[r[0]], r[0])
    )
    start = 0
    for doc_id, n in toks_l:
        assert got[doc_id] == (start // 64, start % 64), doc_id
        start += n
    # every shard boundary is dense: offsets within a shard tile the stream
    assert start == sum(n for _, n in toks_l)


def test_pack_sequences_bucket_width_invariance(spark):
    """The layout must not depend on the bucket fan-out knob."""
    from crawling_infrastructure_spark.operators.corpus import pack_sequences

    toks = spark.createDataFrame(
        [(i, 5 + i % 11) for i in range(100)], "doc_id long, n_bpe_tokens long"
    )
    a = sorted(map(tuple, pack_sequences(toks, 32, bucket_bits=2).collect()))
    b = sorted(map(tuple, pack_sequences(toks, 32, bucket_bits=13).collect()))
    assert a == b


def test_funnel_decontam_gate(spark):
    """eval_docs adds decontamination as a funnel gate: the kept set is
    exactly the no-eval funnel minus contaminated doc ids.

    NOTE: that identity holds only because every fixture text is unique
    (u{i} suffixes) — with duplicate texts, removing a contaminated dup-
    group keeper would promote a different min-id survivor and the simple
    set-difference would not describe the correct output."""
    from crawling_infrastructure_spark.operators.corpus import (
        build_training_corpus,
        contamination,
        release_checkpoints,
    )

    base = (
        "the and for with this that from they have been "
        "more will home page about news search" 
    )
    run = "q1 q2 q3 q4 q5 q6 q7 q8"
    docs = spark.createDataFrame(
        [(i, f"{base} u{i}a u{i}b u{i}c " + (run if i % 3 == 0 else "")) for i in range(30)],
        "doc_id long, text string",
    )
    ev = _docs(spark, [f"{run} eval tail"])
    plain = {r.doc_id for r in build_training_corpus(docs, min_tokens=5).collect()}
    release_checkpoints()
    gated = {
        r.doc_id
        for r in build_training_corpus(docs, min_tokens=5, eval_docs=ev).collect()
    }
    release_checkpoints()
    dirty = {r.doc_id for r in contamination(docs, ev).collect()}
    assert dirty  # the gate had something to do
    assert gated == plain - dirty


def test_release_checkpoints_frees_every_operator_checkpoint(spark):
    """One registry serves every checkpointing operator: after semdedup
    (k-means and cell checkpoints), minhash_lsh_pairs and
    build_training_corpus, corpus.release_checkpoints() frees every RDD
    they persisted."""
    from crawling_infrastructure_spark.operators.corpus import (
        build_training_corpus,
        release_checkpoints,
    )
    from crawling_infrastructure_spark.operators.dedup import minhash_lsh_pairs
    from crawling_infrastructure_spark.operators.similarity import semdedup

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    release_checkpoints()
    start = persistent()
    base = "the and of for with this that from they have been more will home"
    docs = _docs(spark, [f"{base} u{i % 12} v{i % 5} w{i % 3}" for i in range(36)])
    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(36)],
        "vec_id long, embedding array<float>",
    )
    semdedup(emb, k=2, iters=1).collect()
    minhash_lsh_pairs(docs).collect()
    build_training_corpus(docs, min_tokens=5).collect()
    assert persistent() - start  # the operators did checkpoint
    assert release_checkpoints() > 0
    assert persistent() == start


def test_arrange_packed_contiguous_shards(spark):
    """Range arrangement keeps shard ids contiguous per output partition
    and offset-sorted within each shard."""
    from crawling_infrastructure_spark.operators.corpus import (
        arrange_packed,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, f"payload {i}") for i in range(200)], "doc_id long, text string"
    )
    toks = spark.createDataFrame(
        [(i, 7 + (i * 13) % 30) for i in range(200)], "doc_id long, n_bpe_tokens long"
    )
    layout = pack_sequences(toks, capacity=64)
    arranged = arrange_packed(docs, layout, num_files=4)
    parts = arranged.select("shard_id", "shard_offset").rdd.glom().collect()
    ranges = []
    for part in parts:
        if not part:
            continue
        keys = [(r.shard_id, r.shard_offset) for r in part]
        assert keys == sorted(keys)  # within-partition order
        ranges.append((keys[0][0], keys[-1][0]))
    ranges.sort()
    for (lo_a, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b  # shard ranges never interleave across files
    # nothing lost in the join/exchange
    assert arranged.count() == 200


def test_lm_score_hand_model(spark):
    """Pins the full LM pipeline on a corpus small enough to train by
    hand: vocab cap forces <unk>, context counts come from the bigram
    stream, add-one smoothing over V+1, and the rounding contract
    (9-decimal per-term half-up, 4-decimal average)."""
    import math

    from crawling_infrastructure_spark.operators.textstats import lm_score

    def half_up(x, n):
        s = -1.0 if x < 0 else 1.0
        return s * math.floor(abs(x) * 10**n + 0.5) / 10**n

    docs = _docs(spark, ["a b a b", "a b c", "z"])
    got = {r.doc_id: r for r in lm_score(docs, vocab_size=2).collect()}
    # vocab (top-2 by count desc, token asc) = {a, b}; c,z -> <unk>
    # model: (a,b):3 (b,a):1 (b,<unk>):1; ctx: a:3 b:2; V+1 = 3
    lp_ab = half_up(math.log((3 + 1.0) / (3 + 3.0)), 9)
    lp_ba = half_up(math.log((1 + 1.0) / (2 + 3.0)), 9)
    lp_bu = half_up(math.log((1 + 1.0) / (2 + 3.0)), 9)
    assert got[0].n_bigrams == 3
    assert got[0].avg_neg_logprob == half_up(-(2 * lp_ab + lp_ba) / 3, 4)
    assert got[1].n_bigrams == 2
    assert got[1].avg_neg_logprob == half_up(-(lp_ab + lp_bu) / 2, 4)
    assert 2 not in got  # single-token doc has no LM evidence
    # the repeated-pattern doc is MORE probable (lower neg-logprob)
    assert got[0].avg_neg_logprob < got[1].avg_neg_logprob
