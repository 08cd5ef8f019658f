"""Checkpointed stage runner with per-partition lineage + metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics" (BASELINE.json).  The reference has no notion of
checkpoints (eager in-memory library); this is new engine surface.

Model
-----
A pipeline is an ordered list of :class:`Stage`\\ s.  Each stage's
output DataFrame is written as-is to ``<base>/<stage>/data`` parquet
(executors write nothing but Spark's committed output) with a
manifest JSON recording:

- ``input_fingerprint`` — sha256 over the parent manifests' outputs
  (chained, so any upstream change invalidates the suffix).  A root
  stage hashes ``(path, size, mtime)`` of every file its DataFrame
  reads, so a rewritten source reruns it;
- ``lineage`` — one row per result partition of the write
  (``partition_id, rows_out, wall_ms``), rebuilt on the driver from
  what Spark already keeps: ``rows_out`` from the parquet footers of
  the committed ``part-NNNNN-*`` files, ``wall_ms`` from the duration
  of the partition's successful task in the write's result stage
  (Spark's status store, found by a per-write job tag — the job group
  belongs to the caller and is never touched);
- ``complete`` flag written last (atomic rename), so a killed run
  leaves an incomplete stage that reruns.

``run()`` skips any prefix of stages whose manifests are complete and
fingerprint-matched — resuming mid-pipeline is just rerunning the
driver.  Byte-identity guard: each stage's manifest stores the output
row count and an order-insensitive content fingerprint of a caller-
chosen key column (e.g. sha256(text)) so stage-over-stage invariants
are checkable from the manifests alone.
"""

from __future__ import annotations

import hashlib
import json
import os
import posixpath
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable
from urllib.parse import unquote, urlparse

import pandas as pd
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession, functions as F


@dataclass
class Stage:
    name: str
    fn: Callable[..., DataFrame]  # fn(spark, *parent_dfs) -> DataFrame
    parents: list[str] = field(default_factory=list)
    # optional column whose order-insensitive fingerprint is recorded
    # (the text byte-identity invariant rides on this)
    invariant_col: str | None = None


def _manifest_path(root: str, name: str) -> str:
    return posixpath.join(root, name, "manifest.json")


def _read_manifest(fs: pafs.FileSystem, root: str, name: str) -> dict | None:
    p = _manifest_path(root, name)
    if fs.get_file_info(p).type == pafs.FileType.NotFound:
        return None
    with fs.open_input_stream(p) as f:
        return json.loads(f.read())


def _write_manifest(fs: pafs.FileSystem, root: str, name: str, m: dict) -> None:
    p = _manifest_path(root, name)
    tmp = p + ".tmp"
    with fs.open_output_stream(tmp) as f:
        f.write(json.dumps(m, indent=1, sort_keys=True).encode())
    fs.move(tmp, p)  # a rename: complete-flag appears all-or-nothing


def _fingerprint(parents: list[dict]) -> str:
    h = hashlib.sha256()
    for m in parents:
        h.update(m["output_fingerprint"].encode())
    return h.hexdigest()


def _source_fingerprint(df: DataFrame) -> str:
    """sha256 over ``(path, size, mtime)`` of every file ``df`` reads.
    A source with no files (a local relation) hashes like a stage with
    no parents."""
    h = hashlib.sha256()
    for uri in sorted(df.inputFiles()):
        st = os.stat(unquote(urlparse(uri).path))
        h.update(f"{uri}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def _content_fingerprint(df: DataFrame, col: str) -> str:
    """Order-insensitive fingerprint: xor-free sum of per-row sha256
    prefixes over ``col``."""
    s = df.select(
        F.sum(
            F.conv(F.substring(F.sha2(F.col(col).cast("string"), 256), 1, 15),
                   16, 10).cast("decimal(38,0)")
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return f"sum={s['s']},n={s['n']}"


def _write_lineage(sc: SparkContext, tag: str, fs: pafs.FileSystem,
                   ddir: str) -> dict[str, list[int]]:
    """Per-partition lineage of the write run under job tag ``tag``: one
    row per partition of its result stage (the highest stage id of the
    tagged jobs), ``wall_ms`` from that partition's successful task and
    ``rows_out`` from the footers of its committed files in ``ddir`` on
    ``fs`` (0 when it wrote none)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store trails the bus
    tracker = jsc.statusTracker()
    stage = max(s for j in tracker.getJobIdsForTag(tag)
                for s in tracker.getJobInfo(j).get().stageIds())
    wall: dict[int, int] = {}
    # a retried result stage reruns only the partitions still missing
    for att in range(tracker.getStageInfo(stage).get().currentAttemptId() + 1):
        tasks = jsc.statusStore().taskList(stage, att, 2**31 - 1)
        for i in range(tasks.size()):
            t = tasks.apply(i)
            if t.status() == "SUCCESS":
                wall.setdefault(t.partitionId(), t.duration().get())
    rows = dict.fromkeys(wall, 0)
    for f in fs.get_file_info(pafs.FileSelector(ddir)):
        if f.base_name.startswith("part-"):
            n = pq.read_metadata(f.path, filesystem=fs).num_rows
            rows[int(f.base_name.split("-")[1])] += n
    pids = sorted(wall)
    return {"partition_id": pids, "rows_out": [rows[p] for p in pids],
            "wall_ms": [wall[p] for p in pids]}


class CheckpointRunner:
    """Runs stages under ``base_dir``, a local path or a URI.  Spark
    writes the stage data; the manifests and the part-file footers go
    through the base's ``pyarrow.fs`` filesystem."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        self.fs, self.root = pafs.FileSystem.from_uri(
            base_dir if urlparse(base_dir).scheme else os.path.abspath(base_dir))
        self.fs.create_dir(self.root, recursive=True)

    # -- main entry ------------------------------------------------------
    def run(self, stages: list[Stage], verbose: bool = False) -> dict[str, DataFrame]:
        """Execute (or resume) the pipeline; returns name → DataFrame of
        every stage's materialized output."""
        sc = self.spark.sparkContext
        outputs: dict[str, DataFrame] = {}
        manifests: dict[str, dict] = {}
        self.skipped: set[str] = set()  # stages resumed from checkpoint
        for st in stages:
            ddir = os.path.join(self.base, st.name, "data")
            df = None
            if st.parents:
                fp = _fingerprint([manifests[p] for p in st.parents])
            else:  # a root stage is as fresh as the files it reads
                df = st.fn(self.spark)
                fp = _source_fingerprint(df)
            existing = _read_manifest(self.fs, self.root, st.name)
            if (
                existing is not None
                and existing.get("complete")
                and existing.get("input_fingerprint") == fp
            ):
                outputs[st.name] = self.spark.read.parquet(ddir)
                manifests[st.name] = existing
                self.skipped.add(st.name)
                if verbose:
                    print(f"[checkpoint] skip {st.name} (complete)")
                continue
            self.fs.create_dir(posixpath.join(self.root, st.name), recursive=True)
            t0 = time.time()
            if df is None:
                df = st.fn(self.spark, *[outputs[p] for p in st.parents])
            tag = f"spapy-checkpoint-{uuid.uuid4().hex}"
            sc.addJobTag(tag)
            try:
                df.write.mode("overwrite").parquet(ddir)
            finally:
                sc.removeJobTag(tag)
            lineage = _write_lineage(sc, tag, self.fs,
                                     posixpath.join(self.root, st.name, "data"))
            out = self.spark.read.parquet(ddir)
            outputs[st.name] = out
            m = {
                "stage": st.name,
                "parents": st.parents,
                "input_fingerprint": fp,
                "output_fingerprint": (
                    f"rows={sum(lineage['rows_out'])}" if st.invariant_col is None
                    else _content_fingerprint(out, st.invariant_col)
                ),
                "lineage": lineage,
                "wall_s": round(time.time() - t0, 3),
                "complete": True,
            }
            _write_manifest(self.fs, self.root, st.name, m)
            manifests[st.name] = m
            if verbose:
                print(f"[checkpoint] ran {st.name} in {m['wall_s']}s")
        return outputs

    def lineage(self, stage: str) -> pd.DataFrame:
        """Per-partition lineage (``partition_id, rows_out, wall_ms``) of
        the run that wrote the stage's checkpoint, read from its manifest:
        one row per result partition of the write.  ``rows_out`` counts
        the committed output only (footers of the part files, 0 for a
        partition that wrote none), so a failed or speculative attempt
        never shows; ``wall_ms`` is the partition's successful task
        duration."""
        return pd.DataFrame(self.manifest(stage)["lineage"])

    def manifest(self, stage: str) -> dict | None:
        return _read_manifest(self.fs, self.root, stage)
