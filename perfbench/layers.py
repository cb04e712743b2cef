"""Which engine functions the traced run wraps, and how the spans fold into
the per-layer metrics. The layer names are the engine's module names."""

from __future__ import annotations

import os
import statistics

from crawling_infrastructure_spark import catalog
from crawling_infrastructure_spark.plans import epoch as epoch_mod
from perfbench import workloads
from perfbench.tracer import Span, Tracer

PER_LAYER_UNITS = {
    "epoch.jobs": "count",
    "epoch.stages": "count",
    "epoch.tasks": "count",
    "epoch.self_s": "s",
    "epoch.resume_s": "s",
    "epoch.cores": "cores",
    "epoch.shuffle_bytes": "bytes",
    "epoch.spill_bytes": "bytes",
    "claim.wall_s": "s",
    "claim.jobs": "count",
    "claim.rows": "rows",
    "claim.shuffle_bytes": "bytes",
    "fetch.wall_s": "s",
    "fetch.rows": "rows",
    "fetch.python_cpu_s": "CPU-s",
    "fetch.completed_frac": "ratio",
    "fetch.spill_bytes": "bytes",
    "catalog.pages_append_s": "s",
    "catalog.frontier_merge_s": "s",
    "catalog.gc_s": "s",
    "catalog.commits": "count",
    "catalog.files_written": "count",
    "catalog.bytes_written": "bytes",
    "frontier.finish_check_s": "s",
    "frontier.urls_per_s": "URLs/s",
    "frontier.rows": "rows",
    "frontier.dirty_bucket_frac": "ratio",
    "seen.fold_s": "s",
    "seen.build_s": "s",
    "seen.admitted": "count",
    "seen.admit_frac": "ratio",
    "session.start_s": "s",
}
for _q in workloads.HEAVY_QUERIES + workloads.LIGHT_QUERIES:
    PER_LAYER_UNITS[f"query.{_q}.wall_s"] = "s"
for _q in workloads.HEAVY_QUERIES:
    PER_LAYER_UNITS[f"query.{_q}.shuffle_bytes"] = "bytes"
    PER_LAYER_UNITS[f"query.{_q}.spill_bytes"] = "bytes"
    PER_LAYER_UNITS[f"query.{_q}.peak_mem_bytes"] = "bytes"


# which end-to-end metric each layer's metrics should move, and on which
# workload; a full metric name overrides its layer's entry
SHOULD_MOVE = {
    "epoch": ("heavy_s, items_per_s", "crawl_discovery"),
    "epoch.resume_s": ("none (a resume is a per-crash cost, not an end-to-end metric)",
                       "crawl_discovery (seen-set rebuild)"),
    "claim": ("heavy_s", "crawl_discovery"),
    "fetch": ("items_per_s, cpu_ms_per_item", "crawl_discovery (a small share of its epoch)"),
    "catalog": ("items_per_s, light_s", "crawl_discovery (pages append, frontier merge, GC)"),
    "frontier": ("heavy_s", "crawl_discovery"),
    "frontier.finish_check_s": ("heavy_s", "crawl_discovery (called once after the timed epochs)"),
    "frontier.urls_per_s": ("items_per_s", "crawl_discovery (claimed + admitted URLs per epoch second)"),
    "seen": ("items_per_s, light_s", "crawl_discovery"),
    "query": ("heavy_s (heavy group), light_s (light group)", "corpus_queries only"),
    "session": ("setup_s", "both"),
}


def _by_table(method: str, names: dict[str, str]):
    """Span name for a catalog write, chosen by the table's name prefix."""

    def name(table, *args, **kwargs):
        for prefix, span in names.items():
            if table.name.startswith(prefix):
                return span
        return f"catalog.{method}"

    return name


def _frontier_scope(sp: Span, args, kwargs, result) -> None:
    if sp.name == "catalog.frontier_merge":
        table, _df, dirty = args[:3]
        sp.attrs["dirty_frac"] = len(dirty) / table.n_buckets


def _claim_rows(sp: Span, args, kwargs, result) -> None:
    if isinstance(result, tuple):
        sp.attrs["rows"] = result[1]


def _epoch_stats(sp: Span, args, kwargs, result) -> None:
    sp.attrs.update(claimed=result.claimed, completed=result.completed, new_urls=result.new_urls)


def instrument(tracer: Tracer) -> None:
    """Wrap the layers' public functions. ``plans.epoch`` imported
    claim_batch and task_finished by name, so they are wrapped there."""
    job = epoch_mod.CrawlJob
    tracer.patch(job, "init_task", "init")
    tracer.patch(job, "resume", "resume")
    tracer.patch(job, "run_epoch", "epoch", cpu=True, after=_epoch_stats)
    tracer.patch(epoch_mod, "claim_batch", "claim", after=_claim_rows)
    tracer.patch(epoch_mod, "task_finished", "frontier.finish_check")
    tracer.patch(workloads, "run_query", lambda spark, data, name: f"query.{name}")
    plain = {"metrics_": "fetch", "pages_": "catalog.pages_append"}
    tracer.patch(catalog.Table, "append", _by_table("append", plain), cpu=True)
    tracer.patch(catalog.Table, "write_full", _by_table("write_full", {}))
    bucketed = catalog.BucketedTable
    tracer.patch(bucketed, "write_full", _by_table(
        "write_full", {"frontier_": "catalog.frontier_write", "seen_": "seen.build"}))
    tracer.patch(bucketed, "merge_buckets", _by_table(
        "merge_buckets", {"frontier_": "catalog.frontier_merge", "seen_": "seen.fold"}),
        after=_frontier_scope)
    tracer.patch(bucketed, "append_buckets", _by_table("append_buckets", {}))
    for cls in (catalog.Table, bucketed):
        tracer.patch(cls, "compact_small", "catalog.gc")
        tracer.patch(cls, "expire_snapshots", "catalog.gc")


class CatalogWatch:
    """Commits, files and bytes the catalogs gained during each timed
    operation, read from their manifests and data files after it (outside
    the timing). Used as the workload's ``after_op`` hook."""

    def __init__(self, root: str):
        self.root = root
        self.seen_files: set[str] = set()
        self.versions = self._versions()
        self.deltas: list[tuple[str, int, int, int]] = []

    def _versions(self) -> int:
        total = 0
        if os.path.isdir(self.root):
            for dirpath, _, files in os.walk(self.root):
                if "_manifest.json" in files:
                    total += catalog.Table(os.path.dirname(dirpath), os.path.basename(dirpath)).current_version()
        return total

    def __call__(self, kind: str) -> None:
        files = n_bytes = 0
        for dirpath, _, names in os.walk(self.root):
            for f in names:
                p = os.path.join(dirpath, f)
                if f.startswith(("_", ".")) or p in self.seen_files:
                    continue
                self.seen_files.add(p)
                files += 1
                try:
                    n_bytes += os.path.getsize(p)
                except OSError:  # expired by snapshot GC meanwhile
                    pass
        v = self._versions()
        self.deltas.append((kind, v - self.versions, files, n_bytes))
        self.versions = v


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tracer: Tracer, watch: CatalogWatch, session_s: float, res) -> dict[str, float]:
    """Fold the spans of the timed operations (warm-up spans are left out)
    into the per-layer metrics."""
    by = {}
    for sp in tracer.spans:
        if sp.start >= res.timed_from and not any(a <= sp.start < b for a, b in res.untimed):
            by.setdefault(sp.name, []).append(sp)
    epochs = by.get("epoch", [])
    in_epoch = {sp.id for sp in epochs}

    def under_epoch(name):
        return [s for s in by.get(name, []) if s.parent in in_epoch]

    fetch = under_epoch("fetch")
    writes = [d[1:] for d in watch.deltas if d[0] == "epoch"]
    claimed = sum(s.attrs.get("claimed", 0) for s in epochs)
    merges = under_epoch("catalog.frontier_merge")
    uses_seen = bool(by.get("seen.build"))
    admitted = sum(s.attrs.get("new_urls", 0) for s in epochs) if uses_seen else 0
    m = {
        "epoch.jobs": _median(s.attrs["jobs"] for s in epochs),
        "epoch.stages": _median(s.attrs["stages"] for s in epochs),
        "epoch.tasks": _median(s.attrs["tasks"] for s in epochs),
        "epoch.self_s": _median(tracer.self_time(s) for s in epochs),
        "epoch.resume_s": _median(s.wall for s in by.get("resume", [])),
        "epoch.cores": _median(s.attrs["cpu_s"] / s.wall for s in epochs),
        "epoch.shuffle_bytes": _median(s.attrs["shuffle_write"] for s in epochs),
        "epoch.spill_bytes": _median(s.attrs["disk_spill"] for s in epochs),
        "claim.wall_s": _median(s.wall for s in under_epoch("claim")),
        "claim.jobs": _median(s.attrs["jobs"] for s in under_epoch("claim")),
        "claim.rows": _median(s.attrs.get("rows", 0) for s in under_epoch("claim")),
        "claim.shuffle_bytes": _median(s.attrs["shuffle_write"] for s in under_epoch("claim")),
        "fetch.wall_s": _median(s.wall for s in fetch),
        "fetch.rows": _median(s.attrs.get("claimed", 0) for s in epochs),
        "fetch.python_cpu_s": _median(s.attrs["python_cpu_s"] for s in fetch),
        "fetch.completed_frac": sum(s.attrs.get("completed", 0) for s in epochs) / max(claimed, 1),
        "fetch.spill_bytes": _median(s.attrs["disk_spill"] for s in fetch),
        "catalog.pages_append_s": _median(s.wall for s in under_epoch("catalog.pages_append")),
        "catalog.frontier_merge_s": _median(s.wall for s in merges),
        "catalog.gc_s": sum(s.wall for s in under_epoch("catalog.gc")) / max(len(epochs), 1),
        "catalog.commits": _median(d[0] for d in writes),
        "catalog.files_written": _median(d[1] for d in writes),
        "catalog.bytes_written": _median(d[2] for d in writes),
        "frontier.finish_check_s": _median(s.wall for s in by.get("frontier.finish_check", [])),
        "frontier.urls_per_s": sum(s.attrs.get("claimed", 0) + s.attrs.get("new_urls", 0) for s in epochs)
        / max(sum(s.wall for s in epochs), 1e-9),
        "frontier.rows": float(res.frontier_rows),
        "frontier.dirty_bucket_frac": statistics.fmean(s.attrs["dirty_frac"] for s in merges) if merges else 0.0,
        "seen.fold_s": _median(s.wall for s in under_epoch("seen.fold")),
        "seen.build_s": _median(s.wall for s in by.get("seen.build", [])),
        "seen.admitted": float(admitted),
        "seen.admit_frac": admitted / res.admit_candidates if res.admit_candidates else 0.0,
        "session.start_s": session_s,
    }
    for q in workloads.HEAVY_QUERIES + workloads.LIGHT_QUERIES:
        spans = by.get(f"query.{q}", [])
        m[f"query.{q}.wall_s"] = _median(s.wall for s in spans)
        if q in workloads.HEAVY_QUERIES:
            m[f"query.{q}.shuffle_bytes"] = _median(s.attrs["shuffle_write"] for s in spans)
            m[f"query.{q}.spill_bytes"] = _median(s.attrs["disk_spill"] for s in spans)
            m[f"query.{q}.peak_mem_bytes"] = _median(s.attrs["peak_mem"] for s in spans)
    return m
