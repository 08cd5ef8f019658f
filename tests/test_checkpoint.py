"""Checkpoint/resume + lineage tests (SURVEY.md §5.2 item 6)."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spapy_spark.operators import geocode, pip
from spapy_spark.plans.checkpoint import CheckpointRunner, Stage
from spapy_spark.sources import synth


def _stages():
    def s_docs(spark):
        return synth.webpages(spark, 2000, partitions=4)

    def s_geo(spark, docs):
        return geocode.geocode_coords(docs).where(F.col("lat").isNotNull())

    def s_pip(spark, geo):
        return pip.pip_join_broadcast(
            geo, synth.zones(spark), point_cols=["url", "text"]
        )

    return [
        Stage("docs", s_docs, invariant_col="text"),
        Stage("geo", s_geo, parents=["docs"], invariant_col="text"),
        Stage("pip", s_pip, parents=["geo"], invariant_col="text"),
    ]


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path / "ckpt")


def test_run_resume_and_lineage(spark, base):
    stages = _stages() + [
        # range(0, 12, 1, 6) puts two ids in each slice: only slice 0
        # keeps rows, slices 1-5 are empty and write no file
        Stage("sparse", lambda spark: spark.range(0, 12, 1, 6).where("id < 2")),
        # a tiny shuffle: AQE coalesces the 8 shuffle partitions
        Stage("langs", lambda spark, docs: docs.groupBy("lang").count(),
              parents=["docs"]),
    ]
    names = {st.name for st in stages}
    r1 = CheckpointRunner(spark, base)
    out1 = r1.run(stages)
    n_pip = out1["pip"].count()
    assert n_pip > 0

    # per-partition lineage was captured for every stage
    lin = r1.lineage("docs")
    assert list(lin.columns) == ["partition_id", "rows_out", "wall_ms"]
    assert set(lin["partition_id"]) == {0, 1, 2, 3}
    assert lin["rows_out"].sum() == 2000
    assert (lin["wall_ms"] >= 0).all()

    # empty result partitions are listed with rows_out 0
    sparse = r1.lineage("sparse")
    assert sparse["partition_id"].tolist() == [0, 1, 2, 3, 4, 5]
    assert sparse["rows_out"].tolist() == [2, 0, 0, 0, 0, 0]
    assert r1.manifest("sparse")["output_fingerprint"] == "rows=2"

    # a coalesced shuffle reports its result-stage partitions only
    langs = r1.lineage("langs")
    n_result = out1["docs"].groupBy("lang").count().rdd.getNumPartitions()
    assert n_result < int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert langs["partition_id"].tolist() == list(range(n_result))
    n_langs = out1["langs"].count()
    assert langs["rows_out"].sum() == n_langs
    assert r1.manifest("langs")["output_fingerprint"] == f"rows={n_langs}"

    # byte-identity invariant: text fingerprint propagates docs→geo→pip
    m_docs = r1.manifest("docs")
    assert m_docs["complete"] and m_docs["output_fingerprint"].startswith("sum=")

    # resume: fresh runner, same base — all stages skip, same output
    r2 = CheckpointRunner(spark, base)
    out2 = r2.run(stages)
    assert out2["pip"].count() == n_pip
    assert r2.skipped == names
    for s in names:
        assert r2.manifest(s)["complete"]
        # lineage describes the run that wrote the checkpoint
        pd.testing.assert_frame_equal(r2.lineage(s), r1.lineage(s))


def test_root_stage_reruns_on_changed_source(spark, base, tmp_path):
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)

    def stages():
        return [
            Stage("src", lambda spark: spark.read.parquet(src)),
            Stage("twice", lambda spark, s: s.select((F.col("id") * 2).alias("id")),
                  parents=["src"]),
        ]

    CheckpointRunner(spark, base).run(stages())
    r = CheckpointRunner(spark, base)
    r.run(stages())
    assert r.skipped == {"src", "twice"}  # unchanged source: resume

    spark.range(25).write.mode("overwrite").parquet(src)
    r = CheckpointRunner(spark, base)
    out = r.run(stages())
    assert r.skipped == set()
    assert out["src"].count() == 25 and out["twice"].count() == 25
    assert r.manifest("src")["output_fingerprint"] == "rows=25"


def test_stage_killed_mid_write_reruns(spark, base):
    r1 = CheckpointRunner(spark, base)
    n_pip = r1.run(_stages())["pip"].count()
    # a kill during pip's write: its data files and an uncommitted
    # attempt are on disk, but the manifest was never written
    ddir = os.path.join(base, "pip", "data")
    os.remove(os.path.join(base, "pip", "manifest.json"))
    attempt = os.path.join(ddir, "_temporary", "0", "_temporary", "attempt_0")
    os.makedirs(attempt)
    with open(os.path.join(attempt, "part-00000-dead.snappy.parquet"), "wb") as f:
        f.write(b"not parquet")

    r2 = CheckpointRunner(spark, base)
    out = r2.run(_stages())
    assert r2.skipped == {"docs", "geo"}
    assert r2.manifest("pip")["complete"]
    assert not os.path.exists(os.path.join(ddir, "_temporary"))
    n = out["pip"].count()
    assert n == n_pip
    assert r2.lineage("pip")["rows_out"].sum() == n


def test_runner_keeps_callers_job_group(spark, base):
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-caller", "outer")
    try:
        CheckpointRunner(spark, base).run(
            [Stage("ids", lambda spark: spark.range(0, 8, 1, 2))])
        assert sc.getLocalProperty("spark.jobGroup.id") == "ckpt-caller"
        assert len(sc.getJobTags()) == 0
        # the write ran inside the caller's group
        assert len(sc.statusTracker().getJobIdsForGroup("ckpt-caller")) > 0
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)


def test_upstream_invalidation(spark, base):
    r1 = CheckpointRunner(spark, base)
    r1.run(_stages())
    # tamper with the docs output fingerprint → geo + pip must rerun
    mp = os.path.join(base, "docs", "manifest.json")
    m = json.load(open(mp))
    m["output_fingerprint"] = "sum=0,n=0"
    json.dump(m, open(mp, "w"))
    r2 = CheckpointRunner(spark, base)
    r2.run(_stages())
    # docs itself skips (no parents); geo reruns on the fingerprint
    # mismatch; pip skips again because geo's recomputed output
    # fingerprint is unchanged (content-addressed chaining)
    assert r2.skipped == {"docs", "pip"}
    assert r2.manifest("geo")["complete"]


def test_incomplete_stage_reruns(spark, base):
    r1 = CheckpointRunner(spark, base)
    r1.run(_stages())
    # simulate a crash mid-stage: mark pip incomplete
    mp = os.path.join(base, "pip", "manifest.json")
    m = json.load(open(mp))
    m["complete"] = False
    json.dump(m, open(mp, "w"))
    r2 = CheckpointRunner(spark, base)
    out = r2.run(_stages())
    assert r2.skipped == {"docs", "geo"}  # only the crashed stage reruns
    assert r2.manifest("pip")["complete"]
    assert out["pip"].count() > 0


def test_file_uri_base(spark, tmp_path, monkeypatch):
    """A ``file://`` base holds the data, manifests and lineage under
    its path (no stray ``file:`` directory in the cwd), and a fresh
    runner on it resumes."""
    monkeypatch.chdir(tmp_path)
    base = (tmp_path / "ckpt").as_uri()
    assert base.startswith("file:///")

    def stages():
        return [Stage("a", lambda spark: spark.range(0, 10, 1, 2)),
                Stage("b", lambda spark, a: a.where("id < 4"), parents=["a"])]

    r1 = CheckpointRunner(spark, base)
    assert r1.run(stages())["b"].count() == 4
    assert os.listdir(tmp_path) == ["ckpt"]
    m = json.load(open(tmp_path / "ckpt" / "a" / "manifest.json"))
    assert m["complete"] and m["output_fingerprint"] == "rows=10"
    assert r1.lineage("a")["rows_out"].tolist() == [5, 5]
    assert r1.manifest("b")["output_fingerprint"] == "rows=4"

    r2 = CheckpointRunner(spark, base)
    assert r2.run(stages())["b"].count() == 4
    assert r2.skipped == {"a", "b"}
    pd.testing.assert_frame_equal(r2.lineage("a"), r1.lineage("a"))
