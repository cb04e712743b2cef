"""Per-layer table and tracing overhead from the run records.

    python3 perfbench/report.py [workload ...]

For each workload, reads the newest traced and untraced records in
``.bench_out/`` (written by perfbench/run.py), prints every per-layer metric
with the end-to-end metric it should move, and the tracing overhead: the
traced run's end-to-end numbers minus the untraced run's.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.layers import PER_LAYER_UNITS, SHOULD_MOVE  # noqa: E402
from perfbench.run import END_TO_END_UNITS  # noqa: E402


def newest(workload: str, trace: int) -> dict | None:
    paths = glob.glob(os.path.join(".bench_out", f"{workload}-seed*-trace{trace}.json"))
    if not paths:
        return None
    with open(max(paths, key=os.path.getmtime)) as f:
        return json.load(f)


def report(workload: str) -> None:
    traced, plain = newest(workload, 1), newest(workload, 0)
    if traced is None:
        print(f"{workload}: no traced record in .bench_out/")
        return
    print(f"## {workload} (traced seed {traced['seed']})\n")
    print("| metric | value | unit | should move | where |")
    print("|---|---|---|---|---|")
    for name, unit in PER_LAYER_UNITS.items():
        moves, where = SHOULD_MOVE.get(name) or SHOULD_MOVE[name.split(".")[0]]
        print(f"| {name} | {traced['per_layer'][name]:.6g} | {unit} | {moves} | {where} |")
    if plain is not None:
        print(f"\ntracing overhead (traced seed {traced['seed']} minus untraced seed {plain['seed']}):\n")
        for name, unit in END_TO_END_UNITS.items():
            t, u = traced["end_to_end"][name], plain["end_to_end"][name]
            print(f"- {name}: {t:.6g} - {u:.6g} = {t - u:+.6g} {unit} ({(t - u) / u:+.1%})")
    print()


if __name__ == "__main__":
    for w in sys.argv[1:] or ["crawl_discovery", "corpus_queries"]:
        report(w)
