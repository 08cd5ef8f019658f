"""The benchmark's workloads: input generation, the timed operation, its
check against the oracle, and the extra measurements of the traced run.

Each workload is driven by one client in a closed loop: the next
operation starts when the previous one has returned and been checked.
Inputs are synthetic input_hint web pages (``synth.webpages_pdf``) over
ids offset by ``seed × n_docs`` (wrapped into ``ID_SPACE``), written to
parquet at set-up; the engine only ever reads that table.

The traced run's ``extras`` return the layer metrics of the layers the
workload's job runs; the driver-side kernel probes run on every
workload's own coordinates.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
from pyspark.sql import functions as F

from spapy_spark.operators import geocode, knn, pip
from spapy_spark.plans.checkpoint import CheckpointRunner, Stage
from spapy_spark.sources import synth

import oracles
import probes
import telemetry

K_NEAREST = 3
CELL_RES = 7
SALT = 4
# synth.webpages_pdf stamps page i at 2024-01-01 + 137·i s, which pandas
# holds only below id ~54.9M: every seed's ids are kept under this
ID_SPACE = 50_000_000


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path) for f in files
    )


def split_per_file(spark, path: str) -> None:
    """One scan split per generated file, so the scan runs as many tasks
    as generation did instead of packing small files into a few."""
    largest = max(os.path.getsize(os.path.join(path, f))
                  for f in os.listdir(path) if f.endswith(".parquet"))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(largest))


def first_id(seed: int, n_docs: int) -> int:
    """``seed × n_docs``, wrapped so that the seed's ids fit in ID_SPACE."""
    return seed * n_docs % (ID_SPACE - n_docs)


def generate_pages(spark, n_docs: int, start: int, path: str, parts: int) -> None:
    def gen(batches):
        for pdf in batches:
            yield synth.webpages_pdf(pdf["id"].to_numpy())

    spark.range(start, start + n_docs, numPartitions=parts).mapInPandas(
        gen, schema=synth.WEBPAGES_SCHEMA
    ).write.mode("overwrite").parquet(path)


def noop_scan(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared set-up: the pages table and the oracle's ground truth."""

    n_docs: int

    def __init__(self, spark, work: str, seed: int, cores: int, tracer):
        self.spark = spark
        self.work = work
        self.start = first_id(seed, self.n_docs)
        # one input file, hence one scan task, per core: at these sizes
        # smaller files make per-task fixed costs the bulk of every job
        self.parts = cores
        self.tracer = tracer
        self.pages = os.path.join(work, "pages")
        ids = np.arange(self.start, self.start + self.n_docs)
        has_geo, lat, lon = synth.doc_coords(ids)
        self.ids = ids
        self.lat, self.lon = lat[has_geo], lon[has_geo]
        self.zones_pdf = synth.zones_pdf()
        self.sites_pdf = synth.sites_pdf()

    def rebind(self, spark) -> None:
        """Point the workload at a restarted session (same inputs)."""
        self.spark = spark
        split_per_file(spark, self.input_path)

    @property
    def input_path(self) -> str:
        return self.pages

    def generate(self) -> None:
        generate_pages(self.spark, self.n_docs, self.start, self.pages, self.parts)
        split_per_file(self.spark, self.pages)

    def warm_up(self) -> None:
        self.op()

    # -- traced-run extras ---------------------------------------------------
    def _median_job(self, name: str, fn, reps: int = 2):
        """Median seconds of ``reps`` runs of ``fn`` and its last result."""
        for _ in range(reps):
            with self.tracer.span(name):
                out = fn()
        return self.tracer.median(name), out

    def scan_and_geocode(self) -> dict[str, float]:
        """scan → noop and scan+geocode → noop, both over every column;
        geocode's self time is their difference."""
        df = self.spark.read.parquet(self.pages)
        scan, _ = self._median_job("sources.scan", lambda: noop_scan(df))
        prefix, _ = self._median_job(
            "geocode", lambda: noop_scan(geocode.geocode_coords(df)))
        return {"sources.scan_s": scan, "geocode.self_s": max(prefix - scan, 0.0)}

    def geocoded(self, reps: int):
        """The geocoded points as the pip jobs take them: (seconds, count)."""
        geo = geocode.geocode_coords(self.spark.read.parquet(self.pages))
        return self._median_job(
            "geocode.points",
            lambda: geo.where(F.col("lat").isNotNull()).select("lat", "lon").count(),
            reps)

    def kernel_probes(self) -> dict[str, float]:
        zone_rows = list(zip(self.zones_pdf["zone_id"], self.zones_pdf["geometry"]))
        site_rows = list(zip(self.sites_pdf["site_id"], self.sites_pdf["x"],
                             self.sites_pdf["y"]))
        return probes.layer_probes(self.lat, self.lon, zone_rows, site_rows,
                                   self.tracer)


class TileCount(Workload):
    """scan → geocode → broadcast ZoneIndex probe → per-zone counts."""

    n_docs = 200_000

    def prepare(self) -> None:
        self.expected = oracles.zone_counts(self.lat, self.lon, self.zones_pdf)

    def job(self):
        geo = geocode.geocode_coords(self.spark.read.parquet(self.pages)).where(
            F.col("lat").isNotNull()).select("lat", "lon")
        return pip.pip_count_by_zone(geo, synth.zones(self.spark))

    def op(self) -> list[tuple[str, float, bool]]:
        sw = telemetry.Stopwatch()
        with self.tracer.span("tile_count.job"):
            rows = self.job().collect()
        dt = sw.elapsed()
        got = {int(r["zone_id"]): int(r["n_docs"]) for r in rows}
        return [("job", dt, got == self.expected)]

    def rows_in(self) -> int:
        return self.n_docs

    def extras(self, timings) -> dict[str, float]:
        out = self.scan_and_geocode()
        prefix, points = self.geocoded(reps=2)
        out["geocode.hit_ratio"] = points / self.n_docs
        # the job minus its own scan+geocode prefix
        out["pip.self_s"] = max(statistics.median(timings["job"]) - prefix, 0.0)
        return out


class JoinCheckpoint(Workload):
    """geo → pairs (cell join, salted) → tiles under CheckpointRunner, then
    a resume after the last two stages are lost."""

    n_docs = 20_000

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_op = 0
        self.stage_s: dict[str, list[float]] = {}

    def prepare(self) -> None:
        self.expected = oracles.zone_counts(self.lat, self.lon, self.zones_pdf)
        texts = synth.webpages_pdf(self.ids)["text"]
        self.text_fp = oracles.text_fingerprint(texts.tolist())

    def stages(self) -> list[Stage]:
        pages = self.pages
        return [
            Stage("geo", lambda spark: geocode.geocode_coords(
                spark.read.parquet(pages)), invariant_col="text"),
            Stage("pairs", lambda spark, geo: pip.pip_join_cells(
                geo.select("url", "lat", "lon"), synth.zones(spark),
                res=CELL_RES, salt=SALT, point_cols=["url"]), ["geo"]),
            Stage("tiles", lambda spark, pairs: pairs.groupBy("zone_id").agg(
                F.count(F.lit(1)).alias("n_docs")), ["pairs"]),
        ]

    def warm_up(self) -> None:
        """The full run alone: it runs every stage the resume runs."""
        base = os.path.join(self.work, "warm")
        shutil.rmtree(base, ignore_errors=True)  # else every stage is skipped
        CheckpointRunner(self.spark, base).run(self.stages())

    def _tiles(self, outputs) -> dict[int, int]:
        return {int(r["zone_id"]): int(r["n_docs"])
                for r in outputs["tiles"].collect()}

    def op(self) -> list[tuple[str, float, bool]]:
        if self.n_op:
            shutil.rmtree(self.base, ignore_errors=True)
        self.n_op += 1
        self.base = os.path.join(self.work, f"ckpt{self.n_op}")
        stages = self.stages()
        sw = telemetry.Stopwatch()
        with self.tracer.span("checkpoint.run"):
            runner = CheckpointRunner(self.spark, self.base)
            got = self._tiles(runner.run(stages))
        full = sw.elapsed()
        self.runner = runner
        for st in stages:
            self.stage_s.setdefault(st.name, []).append(
                runner.manifest(st.name)["wall_s"])
        ok_full = (got == self.expected and runner.manifest("geo")[
            "output_fingerprint"] == self.text_fp)
        # a kill mid-join: the last two stages never completed
        for name in ("pairs", "tiles"):
            os.remove(os.path.join(self.base, name, "manifest.json"))
        sw = telemetry.Stopwatch()
        with self.tracer.span("checkpoint.resume"):
            again = CheckpointRunner(self.spark, self.base)
            got = self._tiles(again.run(stages))
        resume = sw.elapsed()
        self.skipped = len(again.skipped)
        ok_resume = got == self.expected and again.skipped == {"geo"}
        return [("job", full, ok_full), ("resume", resume, ok_resume)]

    def rows_in(self) -> int:
        return self.n_docs

    def extras(self, timings) -> dict[str, float]:
        out = self.scan_and_geocode()
        _, points = self.geocoded(reps=1)
        out["geocode.hit_ratio"] = points / self.n_docs
        for name, walls in self.stage_s.items():
            out[f"checkpoint.stage_s.{name}"] = statistics.median(walls)
        # the cell join runs as the whole of the pairs stage
        out["pip.self_s"] = out["checkpoint.stage_s.pairs"]
        names = list(self.stage_s)
        written = dir_bytes(self.base)
        out["checkpoint.bytes_written"] = written
        out["checkpoint.write_amp"] = written / dir_bytes(self.pages)
        out["checkpoint.lineage_rows"] = sum(
            len(self.runner.lineage(n)) for n in names)
        out["checkpoint.skipped_stages"] = self.skipped
        # a stage without an invariant column fingerprints as "rows=<n>"
        pairs = int(self.runner.manifest("pairs")["output_fingerprint"].split("=")[1])
        with self.tracer.span("pip.cover"):
            cover = [r["cell"] for r in pip.zone_cell_covering(
                synth.zones(self.spark), CELL_RES).select("cell").collect()]
        out["pip.cover_rows"] = len(cover)
        cand = probes.cell_join_counts(self.lat, self.lon,
                                       np.array(cover, np.int64))
        out["pip.pairs_per_point"] = pairs / len(self.lat)
        out["pip.refine_keep_ratio"] = pairs / cand
        return out


class KnnSites(Workload):
    """k nearest sites of every geocoded point (ring-expansion grid),
    counted per site.  Geocode and pip do no work here."""

    n_docs = 80_000

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.points = os.path.join(self.work, "points")

    @property
    def input_path(self) -> str:
        return self.points

    def generate(self) -> None:
        super().generate()
        geocode.geocode_coords(self.spark.read.parquet(self.pages)).where(
            F.col("lat").isNotNull()).select("url", "lat", "lon").write.mode(
            "overwrite").parquet(self.points)
        split_per_file(self.spark, self.points)

    def prepare(self) -> None:
        self.expected = oracles.knn_site_counts(
            self.lat, self.lon, self.sites_pdf, K_NEAREST)

    def job(self):
        pts = self.spark.read.parquet(self.points)
        return knn.knn_join_cells(pts, synth.sites(self.spark), k=K_NEAREST,
                                  point_cols=["url"]).groupBy("site_id").count()

    def op(self) -> list[tuple[str, float, bool]]:
        sw = telemetry.Stopwatch()
        with self.tracer.span("knn_sites.job"):
            rows = self.job().collect()
        dt = sw.elapsed()
        got = {int(r["site_id"]): int(r["count"]) for r in rows}
        return [("job", dt, got == self.expected)]

    def rows_in(self) -> int:
        return len(self.lat)

    def extras(self, timings) -> dict[str, float]:
        df = self.spark.read.parquet(self.points)
        scan, _ = self._median_job("sources.scan", lambda: noop_scan(df))
        return {
            "sources.scan_s": scan,
            # geocode ran at set-up only, when the points table was made
            "geocode.hit_ratio": df.count() / self.n_docs,
            "knn.self_s": max(statistics.median(timings["job"]) - scan, 0.0),
        }


WORKLOADS = {
    "tile_count": TileCount,
    "join_checkpoint": JoinCheckpoint,
    "knn_sites": KnnSites,
}
