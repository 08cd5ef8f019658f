"""Metric catalogue: unit of every metric and, for each per-layer metric,
the end-to-end metric (and workloads) it should move.

BENCHMARK.json lists the same names and units; ``python3 perfbench/layers.py``
checks that the two agree and prints the table.
"""

from __future__ import annotations

import json
import os
import sys

ALL = "tile_count, join_checkpoint, knn_sites"
PIP = "tile_count, join_checkpoint"

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "resume_s": "s",
    "peak_rss_mb": "MB",
}

# name → (unit, "end-to-end metric it moves: on which workloads")
PER_LAYER = {
    "session.start_s": ("s", f"setup_s: {ALL}"),
    "sources.gen_s": ("s", f"setup_s: {ALL}"),
    "sources.scan_s": ("s", "docs_per_s: tile_count"),
    "sources.input_bytes": ("bytes", "docs_per_s: tile_count"),
    "geocode.self_s": ("s", f"docs_per_s: {PIP}; none on knn_sites"),
    "geocode.hit_ratio": ("ratio", f"docs_per_s: {PIP}; none on knn_sites"),
    "cells.encode_mpts_s": ("Mpts/s", f"docs_per_s: {PIP}"),
    "kernels.pip_mpts_s": ("Mpts/s", f"docs_per_s: {PIP}"),
    "pip.index_build_s": ("s", "docs_per_s: tile_count"),
    "pip.probe_mpts_s": ("Mpts/s", "docs_per_s: tile_count"),
    "pip.self_s": ("s", "docs_per_s: tile_count"),
    "pip.cover_rows": ("count", "docs_per_s, resume_s: join_checkpoint"),
    "pip.pairs_per_point": ("ratio", "docs_per_s, resume_s: join_checkpoint"),
    "pip.refine_keep_ratio": ("ratio", "docs_per_s, resume_s: join_checkpoint"),
    "knn.grid_build_s": ("s", "docs_per_s: knn_sites"),
    "knn.query_mpts_s": ("Mpts/s", "docs_per_s: knn_sites"),
    "knn.self_s": ("s", "docs_per_s: knn_sites"),
    "checkpoint.stage_s.geo": ("s", "docs_per_s: join_checkpoint"),
    "checkpoint.stage_s.pairs": ("s", "docs_per_s, resume_s: join_checkpoint"),
    "checkpoint.stage_s.tiles": ("s", "docs_per_s, resume_s: join_checkpoint"),
    "checkpoint.bytes_written": ("bytes", "docs_per_s, resume_s: join_checkpoint"),
    "checkpoint.write_amp": ("ratio", "docs_per_s, resume_s: join_checkpoint"),
    "checkpoint.lineage_rows": ("count", "docs_per_s, resume_s: join_checkpoint"),
    "checkpoint.skipped_stages": ("count", "resume_s: join_checkpoint"),
    "spark.executor_run_s": ("s", f"docs_per_s: {ALL}"),
    "spark.executor_cpu_s": ("s", f"docs_per_s: {ALL}"),
    "spark.gc_s": ("s", f"docs_per_s, peak_rss_mb: {ALL}"),
    "spark.tasks": ("count", f"docs_per_s: {ALL}"),
    "spark.tasks_failed": ("count", f"docs_per_s: {ALL}"),
    "spark.shuffle_write_bytes": ("bytes", "docs_per_s, resume_s: join_checkpoint"),
    "spark.fetch_wait_s": ("s", "docs_per_s, resume_s: join_checkpoint"),
    "spark.spill_bytes": ("bytes", "docs_per_s, peak_rss_mb: join_checkpoint"),
    "spark.task_skew": ("ratio", "docs_per_s, resume_s: join_checkpoint"),
    "arrow.to_python_bytes": ("bytes", "docs_per_s: knn_sites, tile_count"),
    "arrow.from_python_bytes": ("bytes", "docs_per_s: knn_sites, tile_count"),
    "arrow.python_run_s": ("s", "docs_per_s: knn_sites, tile_count"),
    "trace.overhead": ("ratio", f"docs_per_s gap of the traced run: {ALL}"),
}


def check(benchmark_json: str) -> list[str]:
    """Differences between this catalogue and BENCHMARK.json."""
    with open(benchmark_json) as f:
        spec = json.load(f)
    problems = []
    for key, ours in (("end_to_end", END_TO_END),
                      ("per_layer", {k: u for k, (u, _m) in PER_LAYER.items()})):
        theirs = {m["name"]: m["unit"] for m in spec[key]}
        if theirs != ours:
            problems.append(f"{key}: BENCHMARK.json {theirs} != catalogue {ours}")
    return problems


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for name, (unit, moves) in PER_LAYER.items():
        print(f"{name:28s} {unit:8s} moves {moves}")
    problems = check(os.path.join(root, "BENCHMARK.json"))
    for p in problems:
        print(p, file=sys.stderr)
    sys.exit(1 if problems else 0)
