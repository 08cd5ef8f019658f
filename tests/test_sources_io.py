"""Round-5 source parity: read_any raster dispatch, the raster save
extension map, AAIGrid, GeoJSON and GeoPackage vector IO
(reference GetInput /root/reference/SpaBase.py:131-155 and the
Save maps SpaRasters.py:752-825 / SpaVectors.py:240-281)."""

import json
import sqlite3

import numpy as np
import pandas as pd
import pytest

from spapy_spark.geometry import wkb
from spapy_spark.sources import aaigrid, geojson, geopackage, geotiff, io


def _poly(x0, y0, s=1.0):
    return {
        "type": "Polygon",
        "coordinates": [[[x0, y0], [x0 + s, y0], [x0 + s, y0 + s],
                         [x0, y0 + s], [x0, y0]]],
    }


# ---------------------------------------------------------------------------
# AAIGrid
# ---------------------------------------------------------------------------


def test_asc_roundtrip_float(tmp_path):
    rng = np.random.default_rng(7)
    arr = rng.normal(10, 3, (13, 9))
    gt = (100.0, 2.0, 0.0, 50.0, 0.0, -2.0)
    p = str(tmp_path / "a.asc")
    aaigrid.write_asc(p, arr, geotransform=gt, nodata=-9999.0)
    back, gt2, nd = aaigrid.read_asc(p)
    np.testing.assert_array_equal(back, arr)  # repr() is exact
    assert gt2 == gt
    assert nd == -9999.0


def test_asc_roundtrip_int_and_center_header(tmp_path):
    arr = np.arange(12, dtype=np.int32).reshape(3, 4)
    p = str(tmp_path / "i.asc")
    aaigrid.write_asc(p, arr)
    back, gt, nd = aaigrid.read_asc(p)
    assert back.dtype.kind == "i"
    np.testing.assert_array_equal(back, arr)
    assert nd is None
    # GDAL also writes xllcenter variants — half-cell shift
    p2 = str(tmp_path / "c.asc")
    with open(p2, "w") as f:
        f.write("ncols 2\nnrows 2\nxllcenter 0.5\nyllcenter 0.5\n"
                "cellsize 1.0\n1 2\n3 4\n")
    back2, gt2, _ = aaigrid.read_asc(p2)
    assert gt2 == (0.0, 1.0, 0.0, 2.0, 0.0, -1.0)
    np.testing.assert_array_equal(back2, [[1, 2], [3, 4]])


def test_asc_int_grid_beyond_int32(tmp_path):
    p = str(tmp_path / "big.asc")
    with open(p, "w") as f:
        f.write("ncols 3\nnrows 1\nxllcorner 0\nyllcorner 0\n"
                "cellsize 1\n3000000000 -7 -3000000000\n")
    back, _, _ = aaigrid.read_asc(p)
    assert back.dtype == np.int64
    assert back.tolist() == [[3_000_000_000, -7, -3_000_000_000]]
    aaigrid.write_asc(p, np.array([[1, -2]], np.int32))
    assert aaigrid.read_asc(p)[0].dtype == np.int32


def test_asc_rejects_non_square_cells(tmp_path):
    with pytest.raises(ValueError, match="square"):
        aaigrid.write_asc(str(tmp_path / "x.asc"), np.zeros((2, 2)),
                          geotransform=(0, 1, 0, 0, 0, -2))


# ---------------------------------------------------------------------------
# write_raster extension map
# ---------------------------------------------------------------------------


def test_tiles_from_array_empty(spark):
    from spapy_spark.sources.synth import RASTER_SCHEMA

    for a in (np.zeros((0, 5)), np.zeros((2, 0, 0), np.float32)):
        df = io.tiles_from_array(spark, a, tile=4)
        assert df.count() == 0
        assert df.schema == spark.createDataFrame([], RASTER_SCHEMA).schema


def test_write_raster_ext_map(tmp_path):
    from spapy_spark.sources import bmp, png as pngmod, jpeg as jpegmod

    rng = np.random.default_rng(3)
    img = rng.integers(0, 255, (3, 20, 24), dtype=np.uint8)  # bands,h,w

    p = str(tmp_path / "r.png")
    io.write_raster(p, img)
    with open(p, "rb") as f:
        back = pngmod.decode_png(f.read())
    np.testing.assert_array_equal(back, np.transpose(img, (1, 2, 0)))

    p = str(tmp_path / "r.jpg")
    io.write_raster(p, img, quality=95)
    with open(p, "rb") as f:
        dec = jpegmod.decode_jpeg(f.read())
    assert dec.shape == (20, 24, 3)  # lossy: shape + rough value check
    assert abs(dec.astype(int).mean() - img.mean()) < 16

    p = str(tmp_path / "r.tif")
    io.write_raster(p, img, dtype="native")
    assert geotiff.read_info(p).samples_per_pixel == 3

    p = str(tmp_path / "r.asc")
    io.write_raster(p, img[0].astype(np.int32))
    back, _, _ = aaigrid.read_asc(p)
    np.testing.assert_array_equal(back, img[0])

    with pytest.raises(NotImplementedError, match="HFA"):
        io.write_raster(str(tmp_path / "r.img"), img)
    with pytest.raises(ValueError, match="extension"):
        io.write_raster(str(tmp_path / "r.xyz"), img)
    with pytest.raises(ValueError, match="uint8"):
        io.write_raster(str(tmp_path / "b.jpg"), img.astype(np.float32))


# ---------------------------------------------------------------------------
# read_any dispatch (the r4 VERDICT #1 parity gap)
# ---------------------------------------------------------------------------


def _tiles_to_array(rows, dtype=np.float32):
    """Reassemble a collected tile table into (bands, H, W)."""
    bands = sorted({r["band"] for r in rows})
    out = {}
    for b in bands:
        rs = [r for r in rows if r["band"] == b]
        n_ty = max(r["tile_y"] for r in rs) + 1
        n_tx = max(r["tile_x"] for r in rs) + 1
        grid = [[None] * n_tx for _ in range(n_ty)]
        for r in rs:
            grid[r["tile_y"]][r["tile_x"]] = np.frombuffer(
                r["pixels"], dtype=dtype
            ).reshape(r["height"], r["width"])
        out[b] = np.block(grid)
    return np.stack([out[b] for b in bands])


def test_read_any_dispatches_tif(spark, tmp_path):
    arr = np.arange(300, dtype=np.float32).reshape(15, 20)
    p = str(tmp_path / "d.tif")
    geotiff.write_geotiff(p, arr, geotransform=(0, 1, 0, 0, 0, -1))
    df = io.read_any(spark, p)
    got = _tiles_to_array(df.collect())
    np.testing.assert_array_equal(got[0], arr)


def test_read_any_dispatches_images_and_asc(spark, tmp_path):
    rng = np.random.default_rng(11)
    img = rng.integers(0, 255, (10, 12, 3), dtype=np.uint8)
    p = str(tmp_path / "i.png")
    io.write_raster(p, np.transpose(img, (2, 0, 1)))
    df = io.read_any(spark, p)
    got = _tiles_to_array(df.collect())
    np.testing.assert_array_equal(
        got, np.transpose(img, (2, 0, 1)).astype(np.float32)
    )
    a = str(tmp_path / "g.asc")
    aaigrid.write_asc(a, np.ones((4, 4), np.int32) * 7)
    got2 = _tiles_to_array(io.read_any(spark, a).collect())
    assert got2.shape == (1, 4, 4)
    assert (got2 == 7.0).all()


def test_read_any_unknown_ext_raises(spark):
    with pytest.raises(ValueError, match="unsupported input extension"):
        io.read_any(spark, "/tmp/whatever.xyz")


# ---------------------------------------------------------------------------
# GeoJSON
# ---------------------------------------------------------------------------


def test_geojson_roundtrip_driver(tmp_path):
    pdf = pd.DataFrame(
        {
            "name": ["a", "b", "c"],
            "pop": [1.5, 2.5, None],
            "geometry": [
                wkb.dumps(_poly(0, 0)),
                wkb.dumps({"type": "Point", "coordinates": [3.0, 4.0]}),
                None,
            ],
        }
    )
    p = str(tmp_path / "f.geojson")
    geojson.write_geojson(pdf, p)
    with open(p) as f:
        obj = json.load(f)
    assert obj["type"] == "FeatureCollection"
    assert obj["features"][1]["geometry"]["coordinates"] == [3.0, 4.0]
    back = geojson.read_geojson_pdf(p)
    assert list(back["name"]) == ["a", "b", "c"]
    assert back["geometry"][2] is None
    g = wkb.loads(back["geometry"][0])
    assert g["type"] == "Polygon"
    np.testing.assert_array_equal(
        g["coordinates"][0], wkb.loads(pdf["geometry"][0])["coordinates"][0]
    )


def test_geojson_spark_and_read_any(spark, tmp_path):
    pdf = pd.DataFrame(
        {"zid": [1, 2], "geometry": [wkb.dumps(_poly(0, 0)),
                                     wkb.dumps(_poly(5, 5, 2.0))]}
    )
    p = str(tmp_path / "z.geojson")
    geojson.write_geojson(pdf, p)
    df = io.read_any(spark, p)
    rows = {r["zid"]: r for r in df.collect()}
    assert wkb.loads(rows[2]["geometry"])["coordinates"][0][2][0] == 7.0


def test_geojson_seq_distributed(spark, tmp_path):
    p = str(tmp_path / "seq.geojsonl")
    with open(p, "w") as f:
        for i in range(200):
            f.write(json.dumps({
                "type": "Feature",
                "geometry": {"type": "Point",
                             "coordinates": [float(i), float(-i)]},
                "properties": {"fid": i, "w": i * 0.5},
            }) + "\n")
    df = geojson.read_geojson_seq(
        spark, p, "fid long, w double, geometry binary"
    )
    rows = sorted(df.collect(), key=lambda r: r["fid"])
    assert len(rows) == 200
    assert rows[7]["w"] == 3.5
    assert wkb.loads(rows[7]["geometry"])["coordinates"][0] == 7.0


def test_geojson_geometrycollection_roundtrip(tmp_path):
    gc = {
        "type": "GeometryCollection",
        "geometries": [
            {"type": "Point", "coordinates": [1.0, 2.0]},
            _poly(0, 0),
        ],
    }
    buf = geojson.geometry_to_wkb(gc)
    back = geojson.wkb_to_geometry(buf)
    assert back["type"] == "GeometryCollection"
    assert back["geometries"][0]["coordinates"] == [1.0, 2.0]


# ---------------------------------------------------------------------------
# GeoPackage
# ---------------------------------------------------------------------------


def _mk_pdf(n=40):
    return pd.DataFrame(
        {
            "name": [f"f{i}" for i in range(n)],
            "val": np.arange(n, dtype=np.float64) * 1.25,
            "cnt": np.arange(n, dtype=np.int64),
            "geometry": [wkb.dumps(_poly(i % 10, i // 10)) for i in
                         range(n)],
        }
    )


def test_gpkg_roundtrip_driver(tmp_path):
    pdf = _mk_pdf(12)
    p = str(tmp_path / "t.gpkg")
    geopackage.write_geopackage(pdf, p, table="zones")
    # the registry tables exist and are consistent
    con = sqlite3.connect(p)
    try:
        (app_id,) = con.execute("PRAGMA application_id").fetchone()
        assert app_id == 0x47504B47
        assert con.execute(
            "SELECT data_type FROM gpkg_contents"
        ).fetchone()[0] == "features"
        assert con.execute(
            "SELECT geometry_type_name FROM gpkg_geometry_columns"
        ).fetchone()[0] == "POLYGON"
    finally:
        con.close()
    back = geopackage.read_gpkg_pdf(p)
    assert list(back["name"]) == list(pdf["name"])
    np.testing.assert_array_equal(back["val"], pdf["val"])
    g = wkb.loads(back["geometry"][3])
    np.testing.assert_array_equal(
        g["coordinates"][0], wkb.loads(pdf["geometry"][3])["coordinates"][0]
    )


def test_gpkg_distributed_read_matches_driver(spark, tmp_path):
    pdf = _mk_pdf(300)
    p = str(tmp_path / "big.gpkg")
    geopackage.write_geopackage(pdf, p)
    df = geopackage.read_geopackage(spark, p, partitions=7)
    assert df.rdd.getNumPartitions() >= 2
    rows = sorted(df.collect(), key=lambda r: r["fid"])
    assert len(rows) == 300
    assert [r["name"] for r in rows] == list(pdf["name"])
    for i in (0, 150, 299):
        np.testing.assert_array_equal(
            wkb.loads(bytes(rows[i]["geometry"]))["coordinates"][0],
            wkb.loads(pdf["geometry"][i])["coordinates"][0],
        )


def test_gpkg_read_any_and_null_geometry(spark, tmp_path):
    pdf = _mk_pdf(5)
    pdf.loc[2, "geometry"] = None
    p = str(tmp_path / "n.gpkg")
    geopackage.write_geopackage(pdf, p)
    rows = sorted(io.read_any(spark, p).collect(), key=lambda r: r["fid"])
    assert rows[2]["geometry"] is None
    assert rows[4]["name"] == "f4"


def test_gpb_header_variants():
    w = wkb.dumps({"type": "Point", "coordinates": [1.0, 2.0]})
    # envelope indicator 1 (32-byte xy envelope)
    import struct as st

    blob = (b"GP" + bytes([0, 0x03]) + st.pack("<i", 4326)
            + st.pack("<4d", 1, 1, 2, 2) + w)
    assert geopackage.gpb_to_wkb(blob) == w
    assert geopackage.gpb_to_wkb(None) is None
    # empty-geometry flag (bit 4)
    blob_e = b"GP" + bytes([0, 0x11]) + st.pack("<i", 0) + w
    assert geopackage.gpb_to_wkb(blob_e) is None
    # extended-type flag (bit 5) is not the empty flag: refuse, don't
    # read the geometry as empty
    blob_x = b"GP" + bytes([0, 0x21]) + st.pack("<i", 4326) + w
    with pytest.raises(NotImplementedError, match="Extended"):
        geopackage.gpb_to_wkb(blob_x)
    with pytest.raises(ValueError, match="magic"):
        geopackage.gpb_to_wkb(b"XX" + blob[2:])


def test_write_vector_dispatch(tmp_path):
    pdf = _mk_pdf(6)
    for ext, reader in (
        (".shp", None), (".geojson", None), (".gpkg", None),
    ):
        p = str(tmp_path / f"v{ext}")
        io.write_vector(pdf, p)
        if ext == ".shp":
            from spapy_spark.sources import shapefile
            back = shapefile.read_pdf(p)
        elif ext == ".geojson":
            back = geojson.read_geojson_pdf(p)
        else:
            back = geopackage.read_gpkg_pdf(p)
        assert list(back["name"]) == list(pdf["name"])
        # shapefile re-orients rings CW (ESRI spec) — compare as sets
        got = {tuple(p) for p in np.asarray(
            wkb.loads(bytes(back["geometry"][2]))["coordinates"][0]
        )}
        exp = {tuple(p) for p in np.asarray(
            wkb.loads(pdf["geometry"][2])["coordinates"][0]
        )}
        assert got == exp
    with pytest.raises(ValueError, match="vector save extension"):
        io.write_vector(pdf, str(tmp_path / "v.xyz"))


def test_geojson_seq_write_read_distributed(spark, tmp_path):
    pdf = _mk_pdf(80)
    df = spark.createDataFrame(pdf).repartition(5)
    out = str(tmp_path / "seqdir")
    geojson.write_geojson_seq(df, out)
    back = geojson.read_geojson_seq(
        spark, out,
        "name string, val double, cnt long, geometry binary",
    )
    rows = sorted(back.collect(), key=lambda r: r["cnt"])
    assert len(rows) == 80
    assert rows[11]["name"] == "f11" and rows[11]["val"] == 11 * 1.25
    np.testing.assert_array_equal(
        wkb.loads(bytes(rows[7]["geometry"]))["coordinates"][0],
        wkb.loads(pdf["geometry"][7])["coordinates"][0],
    )


def test_gpkg_rtree_bbox_pushdown(spark, tmp_path):
    """bbox window queries push into the gpkg_rtree_index extension;
    results match the indexless exact filter and a pandas oracle."""
    pdf = _mk_pdf(200)  # boxes at (i%10, i//10)..+1
    p_idx = str(tmp_path / "idx.gpkg")
    p_plain = str(tmp_path / "plain.gpkg")
    geopackage.write_geopackage(pdf, p_idx, spatial_index=True)
    geopackage.write_geopackage(pdf, p_plain, spatial_index=False)
    con = sqlite3.connect(p_idx)
    try:
        assert con.execute(
            "SELECT count(*) FROM gpkg_extensions WHERE"
            " extension_name='gpkg_rtree_index'"
        ).fetchone()[0] == 1
        assert con.execute(
            "SELECT count(*) FROM rtree_features_geom"
        ).fetchone()[0] == 200
    finally:
        con.close()
    box = (2.5, 3.5, 5.5, 7.5)
    exp = set()
    for i in range(200):
        x0, y0 = i % 10, i // 10
        if (x0 + 1 >= box[0] and x0 <= box[2]
                and y0 + 1 >= box[1] and y0 <= box[3]):
            exp.add(f"f{i}")
    got_idx = {r["name"] for r in geopackage.read_geopackage(
        spark, p_idx, partitions=6, bbox=box).collect()}
    got_plain = {r["name"] for r in geopackage.read_geopackage(
        spark, p_plain, partitions=6, bbox=box).collect()}
    assert got_idx == exp
    assert got_plain == exp
    # no bbox → everything, index or not
    assert geopackage.read_geopackage(spark, p_idx).count() == 200


def test_gpkg_rtree_bbox_refines_float32_hits(spark, tmp_path):
    """The R*Tree stores float32 boxes rounded outward: a feature whose
    exact max x ends just left of the window is an index hit, and must
    be refined away as it is without the index."""
    edge = 10.0000001  # window min x: not a float32
    near = 10.00000005  # feature max x: below edge, rounds up past it
    assert float(np.float32(near)) < edge < float(np.nextafter(
        np.float32(near), np.float32(np.inf)))
    pdf = pd.DataFrame({
        "name": ["left", "inside", "far"],
        "geometry": [wkb.dumps(_poly(near - 1.0, 0.0)),
                     wkb.dumps(_poly(10.5, 0.5)),
                     wkb.dumps(_poly(50.0, 50.0))],
    })
    box = (edge, 0.0, 20.0, 20.0)
    got = {}
    for idx in (True, False):
        p = str(tmp_path / f"edge_{idx}.gpkg")
        geopackage.write_geopackage(pdf, p, spatial_index=idx)
        got[idx] = sorted(r["name"] for r in geopackage.read_geopackage(
            spark, p, partitions=2, bbox=box).collect())
    con = sqlite3.connect(str(tmp_path / "edge_True.gpkg"))
    try:  # the premise: the index does return the left feature
        assert con.execute(
            "SELECT count(*) FROM rtree_features_geom"
            " WHERE maxx >= ? AND minx <= ?", (edge, box[2])).fetchone()[0] == 2
    finally:
        con.close()
    assert got[True] == got[False] == ["inside"]


def test_gpkg_rtree_follows_geometry_column_name(spark, tmp_path):
    """The index table is named after the registered geometry column,
    not a fixed ``geom``: a file whose column is ``shape`` still reads
    its bbox through ``rtree_<table>_shape``."""
    pdf = _mk_pdf(20)
    p = str(tmp_path / "shape.gpkg")
    geopackage.write_geopackage(pdf, p, spatial_index=True)
    con = sqlite3.connect(p)
    try:
        con.execute('ALTER TABLE features RENAME COLUMN geom TO shape')
        con.execute("UPDATE gpkg_geometry_columns SET column_name='shape'")
        con.execute("ALTER TABLE rtree_features_geom"
                    " RENAME TO rtree_features_shape")
        # drop f3's index entry: only an index read can miss it
        fid3 = con.execute(
            "SELECT fid FROM features WHERE name='f3'").fetchone()[0]
        con.execute("DELETE FROM rtree_features_shape WHERE id=?", (fid3,))
        con.commit()
    finally:
        con.close()
    got = {r["name"] for r in geopackage.read_geopackage(
        spark, p, bbox=(2.5, -1.0, 4.5, 0.5)).collect()}
    assert got == {"f2", "f4"}


def test_read_any_dispatches_warc(spark, tmp_path):
    from spapy_spark.sources import warc as warcmod

    recs = [
        ("http://a.example/1", "2026-08-18T00:00:00Z",
         b"<html>one</html>"),
        ("http://a.example/2", "2026-08-18T00:00:01Z",
         b"<html>two</html>"),
    ]
    p = str(tmp_path / "crawl.warc.gz")
    with open(p, "wb") as f:
        f.write(warcmod.build_warc(recs, gzip_records=True))
    df = io.read_any(spark, p)
    assert df.count() == 2
