"""Geocoding documents from extracted text (north-rule stage 1).

Coordinate mentions like ``47.6097°N 122.3331°W`` are recovered with
Spark's built-in ``regexp_extract`` — the whole stage is JVM-side
Catalyst/codegen, zero Python (faster than any pandas UDF and keeps the
``text`` column untouched: byte-identity invariant).

An optional gazetteer path broadcast-joins place names to coordinates —
the classic small-dim broadcast join (SURVEY.md §2.10).

The reference has no geocoder; this stage is mandated by
BASELINE.json's north_star ("geocoding documents from extracted text").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# 12.3456°N 71.0000°W — the canonical mention format (sources/synth.py)
COORD_RE = r"(\d+\.\d{4})°([NS]) (\d+\.\d{4})°([EW])"


def geocode_coords(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``lat``/``lon`` doubles parsed from coordinate mentions.

    Rows without a mention (or with NULL text) get NULL lat/lon (callers
    filter or keep); the first mention wins.

    Hot-path shape: ONE regex evaluation per row, whatever the caller
    filters afterwards.  The whole mention is matched once
    (``regexp_substr``); ``lat``/``lon`` are cheap substring ops on that
    ~20-char match, and a NULL match yields NULL through them.  The match
    comes out of a one-element ``explode``, not a projection: Catalyst
    pushes a filter such as ``where(lat IS NOT NULL)`` through a
    projection by inlining its aliases, which re-runs the regex once per
    reference, but never pushes a filter on a generator's output below
    the generator.
    """
    m = F.col("__m")
    # m = "<lat>°<NS> <lon>°<EW>"
    lat_s = F.substring_index(m, "°", 1)
    ns = F.substring(F.substring_index(m, " ", 1), -1, 1)
    lon_s = F.substring_index(F.substring_index(m, " ", -1), "°", 1)
    ew = F.substring(m, -1, 1)
    match = F.regexp_substr(F.col(text_col), F.lit(COORD_RE))
    return (
        df.select("*", F.explode(F.array(match)).alias("__m"))
        .withColumn(
            "lat", lat_s.cast("double") * F.when(ns == "S", -1.0).otherwise(1.0))
        .withColumn(
            "lon", lon_s.cast("double") * F.when(ew == "W", -1.0).otherwise(1.0))
        .drop("__m")
    )


def geocode_gazetteer(
    df: DataFrame,
    gazetteer: DataFrame,
    text_col: str = "text",
    name_col: str = "place",
) -> DataFrame:
    """Broadcast-join place-name mentions to gazetteer coordinates.

    ``gazetteer`` is small (place, lat, lon); the join is a broadcast
    hash join — no shuffle of the (huge) document side.
    """
    toks = F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("__tok")
    cand = df.select("*", toks)
    g = F.broadcast(
        gazetteer.select(
            F.lower(F.col(name_col)).alias("__tok"),
            F.col("lat").alias("gaz_lat"),
            F.col("lon").alias("gaz_lon"),
        )
    )
    return cand.join(g, "__tok", "inner").drop("__tok")
