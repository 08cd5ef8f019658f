"""geocode_coords: exact parse against a Python ``re`` oracle, one regex
evaluation per row in the executed plan, and untouched ``text`` bytes."""

import re

import pytest
from pyspark.sql import functions as F

from spapy_spark.operators import geocode

TEXTS = [
    "south-west: 33.8688°S 151.2093°W today",
    "north-east 47.6097°N 122.3331°E then",
    "first 1.2500°N 2.5000°E wins over 3.7500°S 4.1250°W",
    "ends with a mention 0.0000°S 179.9999°W",
    "weather 30°C and 12.34°N 5.6°E are no match",
    "a 123.45678°N 1.0000°E is not four decimals",
    "北纬 31.2304°N 121.4737°E 上海",
    "line one\nline two 64.1466°N 21.9426°W\n",
    "no mention at all",
    "",
    None,
]


def oracle(text):
    """Python ``re.search`` (ASCII digits, as Java's ``\\d``)."""
    if text is None:
        return None, None
    m = re.search(geocode.COORD_RE, text, re.ASCII)
    if m is None:
        return None, None
    lat = float(m.group(1)) * (-1.0 if m.group(2) == "S" else 1.0)
    lon = float(m.group(3)) * (-1.0 if m.group(4) == "W" else 1.0)
    return lat, lon


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    # a parquet scan, as in production: a local relation would be
    # constant-folded by the optimizer and hide the executed plan
    path = str(tmp_path_factory.mktemp("geocode") / "docs.parquet")
    spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    ).write.parquet(path)
    return spark.read.parquet(path)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_geocode_matches_re_oracle(docs):
    got = {r["doc_id"]: (r["lat"], r["lon"])
           for r in geocode.geocode_coords(docs).collect()}
    assert got == {i: oracle(t) for i, t in enumerate(TEXTS)}
    # the cases cover every sign, a miss and a null
    hits = [v for v in got.values() if v[0] is not None]
    assert any(la < 0 and lo < 0 for la, lo in hits)
    assert any(la > 0 and lo > 0 for la, lo in hits)
    assert sum(v == (None, None) for v in got.values()) == 5


def test_geocode_filtered_shape_matches_oracle(docs):
    geo = geocode.geocode_coords(docs).where(F.col("lat").isNotNull())
    got = {r["doc_id"]: (r["lat"], r["lon"])
           for r in geo.select("doc_id", "lat", "lon").collect()}
    want = {i: oracle(t) for i, t in enumerate(TEXTS)}
    assert got == {i: v for i, v in want.items() if v[0] is not None}


def test_geocode_keeps_text_bytes(docs):
    before = {r["doc_id"]: r["h"]
              for r in docs.selectExpr("doc_id", "sha2(text, 256) AS h").collect()}
    after = {r["doc_id"]: r["h"] for r in geocode.geocode_coords(docs).selectExpr(
        "doc_id", "sha2(text, 256) AS h").collect()}
    assert after == before
    assert geocode.geocode_coords(docs).columns == docs.columns + ["lat", "lon"]


def test_geocode_one_regex_per_row_in_plan(docs):
    """The match is evaluated once per row, also when a filter on
    ``lat``/``lon`` follows (it used to be inlined up to 17 times)."""
    full = geocode.geocode_coords(docs)
    assert _plan(full).count("regexp_extract(") == 1
    filtered = full.where(F.col("lat").isNotNull()).select("lat", "lon")
    assert _plan(filtered).count("regexp_extract(") == 1
    both = filtered.where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
    assert _plan(both).count("regexp_extract(") == 1
    assert "Python" not in _plan(both)
