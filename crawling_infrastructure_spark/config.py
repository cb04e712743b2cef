"""Task configuration — the Spark equivalent of the reference's crawl-task
document (/root/reference/master/src/models/crawltask.model.ts:189-258).

Fields keep the reference's names, defaults, and clamps
(master/src/constants/crawlTaskApi.constants.ts:2-6) so a reference user can
carry their task JSON over unchanged. Scheduling fields that only make sense
for lambda fan-out (regions, function_code eval, worker caps) are replaced by
the epoch/politeness parameters documented per-field.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# master/src/constants/crawlTaskApi.constants.ts:2-6
MAX_SPEED_CRAWLING = 200.0
MIN_SPEED_CRAWLING = 0.001
HARD_LIMIT_MAX_WORKERS = 500
MIN_AVG_IPS = 0.01

# crawltask.model.ts:35-47
PRIORITY_ABSOLUTE = "absolute"
PRIORITY_RELATIVE = "relative"


@dataclass
class TaskConfig:
    task_id: str = "task0"
    # politeness budget, items/s across the whole task —
    # crawltask.model.ts:380-388, clamped like the reference API does
    max_items_per_second: float = 1.0
    # retry_failed_items — crawltask.model.ts:395-403 (default 3)
    retry_failed_items: int = 3
    # max items a single "worker batch" (here: one host-group in one epoch)
    # may claim — scheduler.conf.json:6 (num_items_http=30)
    max_items_per_worker: int = 30
    # priority 1-10 — crawltask.model.ts:371-378
    priority: int = 1
    priority_policy: str = PRIORITY_ABSOLUTE
    # wall-clock seconds one epoch represents; dequeue budget per epoch =
    # max_items_per_second * epoch_seconds (token bucket). The reference's
    # daemon_heartbeat is 10s (scheduler.conf.json:2).
    epoch_seconds: float = 10.0
    # per-host cap within an epoch (politeness: never hammer one host even
    # when the global budget allows it). The reference had no per-host
    # politeness at all — this is the north_rule addition.
    max_items_per_host_per_epoch: int = 30
    # longliving tasks never terminate on queue-drained — crawltask.model.ts:193-196
    longliving: bool = False
    # F12/F13 adaptive feedback: derive each epoch's dequeue budget from the
    # metrics table's trailing avg_items_per_second instead of the static
    # token bucket (plans/adaptive.py; runner.ts:302-329 semantics)
    adaptive_budget: bool = False
    # whether to honor robots.txt rules (north_rule addition; reference has none)
    respect_robots: bool = True
    # F9 deterministic fingerprint rotation: attach ua/accept_language
    # columns (hash-keyed picks over the reference's pools,
    # functions/fingerprint.py) to every fetch batch for non-hermetic
    # fetchers to consume (helpers.ts:28-59 analogue)
    fingerprint_rotation: bool = False
    # store_browser_debug (config.ts:233-234, default false): failed fetch
    # rows carry {screen_b64, document} debug artifacts (handler.ts:178-180)
    # into a per-task debug table; worker-meta's items_browser_debug id list
    # is derivable from it (operators/metrics.items_browser_debug)
    store_browser_debug: bool = False
    # URL-seen dedup (reference permits duplicates — SURVEY.md S4/J3;
    # north_rule requires dedup, so default True)
    dedup: bool = True
    # content-level near-dup detection on admitted pages: each epoch's
    # completed pages fold into an incremental MinHash-LSH band store
    # (operators/neardup.NearDupStore) and detected (doc_a, doc_b, jaccard)
    # pairs append to a neardup_pairs table. Off by default — it is an
    # LLM-corpus concern, not reference crawl semantics.
    neardup_pages: bool = False
    neardup_num_perm: int = 32
    neardup_threshold: float = 0.8
    # benchmark-decontamination audit on admitted pages: when CrawlJob is
    # given an eval_docs frame, each epoch's completed pages are probed
    # against the (static, precomputed) eval window-hash set and flagged
    # rows append to a contam_{task} table (flag-only — the DROP decision
    # belongs to the downstream funnel, corpus.build_training_corpus).
    decontam_window: int = 8
    # Bloom filter sizing for the seen-set scale path
    seen_buckets: int = 32
    bloom_fpp: float = 0.001
    # tier-1 seen-set filter: 'bloom' (rebuild-on-touch) or 'cuckoo'
    # (incremental O(batch) folds + in-place deletion for retire/recrawl —
    # north_rule names both; see operators/seen.py)
    seen_prefilter: str = "bloom"
    # OPIC-style adaptive prioritization (operators/linkrank.py): accumulate
    # the (host -> outlink host) graph per epoch and stamp NEW frontier rows
    # with a PageRank-bucketed priority instead of the constant cfg.priority
    # (claim already orders by priority DESC, so well-linked hosts crawl
    # sooner). Rank recompute is O(host graph) — much smaller than the
    # frontier — every link_rank_every epochs; between recomputes the last
    # persisted rank table is reused (and restored on resume).
    link_prioritize: bool = False
    link_rank_iters: int = 2
    link_rank_levels: int = 5
    link_rank_every: int = 1
    # frontier table bucket(N, host_hash) partition count. Epoch write-back
    # rewrites only dirty buckets (catalog.BucketedTable.merge_buckets), so
    # cost per epoch ~ frontier_size * touched_buckets / frontier_buckets.
    # None (default) = sized at init_task by catalog.suggest_buckets from
    # the seed count: buckets ~= expected_frontier_rows / 1M, clamped to
    # [1, 16384] — a 10^10-row frontier gets ~10^4 buckets (one bucket
    # ~10^6 rows fits an executor task), while a 10^4-row sandbox frontier
    # gets 8 instead of paying 64 tiny files x 3 writes per epoch (the
    # round-2 fixed-cost regression). The chosen count is persisted in the
    # table manifest so resume reopens with the identical bucketing.
    frontier_buckets: int | None = None
    # bloom prefilter before the exact anti-join: pays off when the frontier
    # is much larger than executor-broadcastable (the 10^10 design point);
    # at sandbox scale the exact anti-join alone is cheaper — both paths are
    # exact, this only moves work (see operators/seen.py)
    bloom_prefilter: bool = True
    # snapshot GC: every K epochs expire all but the last `snapshot_keep`
    # versions of every task table (Iceberg expire_snapshots). Without it a
    # longliving crawl grows one manifest version + one dir-set per epoch
    # forever (the reference's Mongo updates were in place and had no such
    # growth, queue.model.ts:70-90). keep_last stays > the resume window
    # (the latest epoch-K tag is always in the kept suffix).
    snapshot_gc_epochs: int = 16
    snapshot_keep: int = 12
    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        # clamp exactly like master/src/services/lib.ts speed validation
        self.max_items_per_second = min(
            MAX_SPEED_CRAWLING, max(MIN_SPEED_CRAWLING, self.max_items_per_second)
        )
        self.priority = min(10, max(1, self.priority))
        if self.seen_prefilter not in ("bloom", "cuckoo"):
            raise ValueError("seen_prefilter must be 'bloom' or 'cuckoo'")
        if self.link_prioritize:
            # levels live inside the reference's 1-10 priority range
            self.link_rank_levels = min(10, max(1, self.link_rank_levels))
            self.link_rank_iters = max(1, self.link_rank_iters)
            self.link_rank_every = max(1, self.link_rank_every)

    @property
    def epoch_budget(self) -> int:
        """Global dequeue budget per epoch = rate x epoch length, >= 1."""
        return max(1, int(self.max_items_per_second * self.epoch_seconds))

    @property
    def uses_seen_set(self) -> bool:
        """Whether dedup runs through the seen table (bloom/cuckoo prefilter
        before the exact anti-join) rather than the plain frontier
        anti-join."""
        return self.dedup and self.bloom_prefilter


# ---------------------------------------------------------------------------
# P6: update-field whitelist (crawltask.service.ts:923-1000 updateCrawlTask).
# Once a task exists, only these properties may change. Keys outside the
# whitelist are silently DROPPED (the reference builds `update` from allowed
# keys only and never errors on extras).
ALLOWED_UPDATE_KEYS = frozenset({
    "status", "max_lost_workers", "retry_failed_items", "max_items_per_worker",
    "priority", "priority_policy", "function", "longliving", "max_workers",
    "max_items_per_second", "crawl_options", "whitelisted_proxies",
    "num_lost_workers", "log_ip_address", "num_workers_running",
    "function_code", "name",
})

# Fields with a direct TaskConfig analogue; everything else whitelisted but
# lambda-/REST-specific lands in cfg.extra so a reference task JSON
# round-trips unchanged.
_DIRECT_FIELDS = frozenset({
    "retry_failed_items", "max_items_per_worker", "priority",
    "priority_policy", "longliving", "max_items_per_second",
})


def update_task(cfg: TaskConfig, updates: dict) -> TaskConfig:
    """Apply a reference-shaped update payload to a task config.

    Returns a NEW TaskConfig; `cfg` is untouched (the reference mutates the
    Mongo document, but an immutable copy is the Spark-side idiom — the old
    config may still be referenced by a running epoch).

    Validation mirrors crawltask.service.ts:939-1000 exactly, including its
    operator quirks: `retry_failed_items` (ts:945-949),
    `num_workers_running` (ts:970-974) and `num_lost_workers` (ts:983-987)
    use `||` and genuinely enforce their ranges, while `max_lost_workers` /
    `max_workers` / `max_items_per_worker` / `priority` (ts:951-981) write
    `x < 0 && x > N` — an always-false conjunction — so for those only
    the typeof-number check can actually reject. `max_items_per_second`
    (ts:939-943) says "must be positive number" but tests only typeof.
    `name` (ts:989-993) must be a string of length <= 200.
    Replicating the quirk is deliberate: a payload the reference accepts
    must be accepted here, byte-for-byte semantics over intent.

    Falsy values (0, false, "") skip validation entirely in the reference
    (`if (update.x)`) — also replicated.

    Raises ValueError with the reference's error string on rejection.
    """
    update = {k: v for k, v in updates.items() if k in ALLOWED_UPDATE_KEYS}

    def _num(v) -> bool:
        return isinstance(v, (int, float)) and not isinstance(v, bool)

    if update.get("max_items_per_second"):
        if not _num(update["max_items_per_second"]):
            raise ValueError("max_items_per_second must be positive number")
    if update.get("retry_failed_items"):
        v = update["retry_failed_items"]
        if not _num(v) or v < 0 or v > 10:
            raise ValueError("retry_failed_items must be number in range [0,10]")
    if update.get("num_lost_workers"):
        v = update["num_lost_workers"]
        if not _num(v) or v < 0 or v > 1000:
            raise ValueError("num_lost_workers must be number in range [0,1000]")
    # the &&-quirk group: only typeof can reject (see docstring)
    for key, rng in (
        ("max_lost_workers", "[0,1000]"),
        ("max_workers", "[0,500]"),
        ("max_items_per_worker", "[0,500]"),
        ("priority", "[0,10]"),
    ):
        if update.get(key) and not _num(update[key]):
            raise ValueError(f"{key} must be number in range {rng}")
    if update.get("num_workers_running"):
        v = update["num_workers_running"]
        # genuine || in the reference (ts:970-974): negatives ARE rejected
        if not _num(v) or v < 0:
            raise ValueError("num_workers_running must be number larger 0")
    if update.get("name"):
        v = update["name"]
        if not isinstance(v, str) or len(v) > 200:
            raise ValueError("name must be a string of max length of 200")

    import dataclasses

    direct = {k: v for k, v in update.items() if k in _DIRECT_FIELDS}
    rest = {k: v for k, v in update.items() if k not in _DIRECT_FIELDS}
    new = dataclasses.replace(cfg, **direct)
    if rest:
        new.extra = {**cfg.extra, **rest}
    return new
