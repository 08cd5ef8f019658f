"""Polymorphic input/output dispatch — the reference's
``SpaBase.GetInput`` (/root/reference/SpaBase.py:131-155) and
``SpaDatasetRaster.Save`` extension map
(/root/reference/SpaRasters.py:752-825) as reader/writer registries
keyed by extension.  Everything lands as a DataFrame; geometry is WKB;
rasters land as the engine tile table (sources/synth.RASTER_SCHEMA).

The reference routes ``.shp`` to the vector loader and EVERY other
string to the raster loader (GDAL sniffs the format).  Without GDAL we
dispatch explicitly: known vector extensions → vector readers, known
raster/image extensions → the from-scratch codecs, and anything else
raises with the supported list (never silently misparse)."""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession

#: extensions read_any routes to the raster side (reference sends any
#: non-.shp path to SpaRasters.Load)
RASTER_EXTS = (".tif", ".tiff", ".asc", ".png", ".jpg", ".jpeg",
               ".gif", ".bmp", ".webp")
VECTOR_EXTS = (".shp", ".geojson", ".gpkg")


def tiles_from_array(
    spark: SparkSession,
    arr: np.ndarray,
    tile: int = 64,
    raster_id: str = "mem",
    nodata: float = -9999.0,
) -> DataFrame:
    """numpy (H,W) / (bands,H,W) → engine tile table (float32 pixels).

    Driver-side slicing: for in-memory images (the decode-dispatch
    path below) the array already fits on the driver; huge on-disk
    rasters go through geotiff_tiles' distributed seek path instead.
    """
    from .synth import RASTER_SCHEMA

    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[None, :, :]
    if a.ndim != 3:
        raise ValueError("expected (H,W) or (bands,H,W)")
    rows = []
    for b in range(a.shape[0]):
        band = a[b].astype("<f4")
        for ty in range(0, band.shape[0], tile):
            for tx in range(0, band.shape[1], tile):
                sub = np.ascontiguousarray(
                    band[ty : ty + tile, tx : tx + tile]
                )
                rows.append(
                    (raster_id, b + 1, ty // tile, tx // tile,
                     sub.shape[0], sub.shape[1], float(nodata),
                     sub.tobytes())
                )
    df = spark.createDataFrame(rows, schema=RASTER_SCHEMA)
    return df.repartition(
        max(1, min(len(rows), spark.sparkContext.defaultParallelism))
    )


def _image_to_bands(img: np.ndarray) -> np.ndarray:
    """Decoded (H,W[,C]) image → (bands,H,W) raster band stack, the
    GDAL layout the reference's rasters carry (SpaRasters.py TheBands)."""
    a = np.asarray(img)
    if a.ndim == 2:
        return a[None, :, :]
    return np.transpose(a, (2, 0, 1))


def read_any(spark: SparkSession, path: str, **kw) -> DataFrame:
    """str path → DataFrame, dispatched on extension (GetInput parity:
    ``.shp``→vector, raster extensions→tile table, anything unknown
    raises; /root/reference/SpaBase.py:143-153)."""
    low = path.lower()
    if low.endswith((".warc", ".warc.gz")):
        from . import warc

        return warc.read_warc(spark, path)
    ext = os.path.splitext(path)[1].lower()
    if ext == ".shp":
        from . import shapefile

        return shapefile.read_spark(spark, path)
    if ext == ".geojson":
        from . import geojson

        return geojson.read_geojson(spark, path, **kw)
    if ext == ".gpkg":
        from . import geopackage

        return geopackage.read_geopackage(spark, path, **kw)
    if ext in (".tif", ".tiff"):
        from . import geotiff

        return geotiff.geotiff_tiles(spark, path, **kw)
    if ext == ".asc":
        from . import aaigrid

        arr, _gt, nodata = aaigrid.read_asc(path)
        return tiles_from_array(
            spark, arr, raster_id=os.path.basename(path),
            nodata=-9999.0 if nodata is None else float(nodata), **kw
        )
    if ext in (".png", ".jpg", ".jpeg", ".gif", ".bmp", ".webp"):
        with open(path, "rb") as f:
            payload = f.read()
        if ext == ".png":
            from . import png

            img = png.decode_png(payload)
        elif ext == ".webp":
            from . import webp

            img = webp.decode_webp(payload)
        elif ext in (".jpg", ".jpeg"):
            from . import jpeg

            img = jpeg.decode_jpeg(payload)
        elif ext == ".gif":
            from . import gif

            img = gif.decode_gif(payload, limit=1)[1][0]
        else:
            from . import bmp

            img = bmp.decode_bmp(payload)
        return tiles_from_array(
            spark, _image_to_bands(img),
            raster_id=os.path.basename(path), **kw
        )
    if ext in ("", ".parquet"):
        return spark.read.parquet(path)
    if ext == ".csv":
        return spark.read.option("header", "true").option(
            "inferSchema", "true"
        ).csv(path)
    if ext == ".json":
        return spark.read.json(path)
    raise ValueError(f"unsupported input extension {ext!r} for {path}")


def write_vector(pdf, path: str, **kw) -> None:
    """Save a feature table (attrs + ``geometry`` WKB) by extension —
    the reference's fiona-driver-from-extension Save
    (/root/reference/SpaVectors.py:240-281): .shp → the from-scratch
    shapefile triplet, .geojson → FeatureCollection, .gpkg →
    GeoPackage."""
    ext = os.path.splitext(path)[1].lower()
    if ext == ".shp":
        from . import shapefile

        shapefile.write_pdf(pdf, path, **kw)
    elif ext == ".geojson":
        from . import geojson

        geojson.write_geojson(pdf, path, **kw)
    elif ext == ".gpkg":
        from . import geopackage

        geopackage.write_geopackage(pdf, path, **kw)
    elif ext == ".parquet":
        pdf.to_parquet(path)
    else:
        raise ValueError(f"unsupported vector save extension {ext!r}")


def write_raster(
    path: str,
    arr: np.ndarray,
    geotransform: tuple | None = None,
    nodata: float | None = None,
    **kw,
) -> None:
    """Save a band stack by extension — the reference's Save map
    (/root/reference/SpaRasters.py:769-777: .tif→GTiff, .png→PNG,
    .jpg→JPEG, .asc→AAIGrid, .img→HFA).

    PNG takes uint8/uint16 1/3/4-band, JPEG uint8 1/3-band, AAIGrid a
    single band — the same dtype/band constraints the GDAL drivers
    enforce.  HFA (.img, ERDAS Imagine) is a documented seam: the
    container is a full Ehfa object tree; nothing in this sandbox
    reads it, so we raise rather than emit an unverifiable file.
    """
    ext = os.path.splitext(path)[1].lower()
    a = np.asarray(arr)
    if ext in (".tif", ".tiff"):
        from . import geotiff

        geotiff.write_geotiff(path, a, geotransform=geotransform,
                              nodata=nodata, **kw)
        return
    if ext == ".asc":
        from . import aaigrid

        aaigrid.write_asc(path, a, geotransform=geotransform,
                          nodata=nodata)
        return
    if ext == ".png":
        from . import png

        if a.dtype not in (np.uint8, np.uint16):
            raise ValueError("PNG raster save needs uint8/uint16 bands")
        img = a if a.ndim == 2 else np.transpose(a, (1, 2, 0))
        data = png.encode_png(img, **kw)
    elif ext == ".webp":
        from . import webp

        if a.dtype != np.uint8:
            raise ValueError("WebP raster save needs uint8 bands")
        img = a[None] if a.ndim == 2 else a
        if img.shape[0] not in (3, 4):
            raise ValueError("WebP raster save needs 3 or 4 bands")
        data = webp.encode_webp_lossless(
            np.transpose(img, (1, 2, 0)), **kw
        )
    elif ext in (".jpg", ".jpeg"):
        from . import jpeg

        if a.dtype != np.uint8:
            raise ValueError("JPEG raster save needs uint8 bands")
        img = a if a.ndim == 2 else np.transpose(a, (1, 2, 0))
        data = jpeg.encode_jpeg(img, **kw)
    elif ext == ".img":
        raise NotImplementedError(
            "HFA (.img) writing is a documented seam — the ERDAS "
            "Imagine Ehfa tree has no from-scratch writer here; save "
            ".tif instead (reference map: SpaRasters.py:776)"
        )
    else:
        raise ValueError(f"unsupported raster save extension {ext!r}")
    with open(path, "wb") as f:
        f.write(data)
