"""GeoPackage (OGC 12-128r18) vector source/sink — stdlib sqlite3.

The reference reads/writes GPKG through fiona's OGR driver like any
other vector format (/root/reference/SpaVectors.py:195-281); here the
container is handled directly: a GeoPackage is a SQLite database with
``gpkg_contents`` / ``gpkg_geometry_columns`` registry tables and
feature tables whose geometry column holds GeoPackageBinary (GPB) —
an 8-byte-plus-envelope header in front of standard ISO WKB.

Read paths:

- ``read_gpkg_pdf`` — driver-side, whole table → pandas (attrs +
  ``geometry`` WKB), same contract as shapefile.read_pdf.
- ``read_geopackage`` — DISTRIBUTED: the driver reads only
  min/max(rowid), then ``n`` rowid ranges are fanned out and each
  executor opens the file read-only (SQLite supports any number of
  concurrent readers) and scans its range through the table b-tree.
  This is the JDBC-partitioned-read pattern: linear scale-out as long
  as the .gpkg sits on storage all executors can open (the same
  requirement geotiff_tiles has).

GPB header (spec §2.1.3): magic 'GP', version, flags
(bit0 endianness of the envelope/srs, bits1-3 envelope indicator →
0/32/48/48/64 bytes, bit4 empty geometry, bit5 extended type — not
supported), int32 srs_id, envelope, then WKB verbatim.
"""

from __future__ import annotations

import os
import sqlite3
import struct

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

__all__ = ["read_geopackage", "read_gpkg_pdf", "write_geopackage",
           "gpb_to_wkb", "wkb_to_gpb"]

_ENV_LEN = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}


def gpb_to_wkb(blob: bytes | None) -> bytes | None:
    """GeoPackageBinary → plain WKB (None and empty-geometry safe)."""
    if blob is None:
        return None
    if blob[:2] != b"GP":
        raise ValueError("not a GeoPackageBinary blob (bad magic)")
    flags = blob[3]
    if flags & 0x20:
        raise NotImplementedError("ExtendedGeoPackageBinary blobs are not supported")
    env = (flags >> 1) & 0x07
    if env not in _ENV_LEN:
        raise ValueError(f"invalid GPB envelope indicator {env}")
    if flags & 0x10:  # empty-geometry flag
        return None
    return blob[8 + _ENV_LEN[env]:]


def wkb_to_gpb(wkb_buf: bytes | None, srs_id: int = 4326) -> bytes | None:
    """Plain WKB → GPB with no envelope (indicator 0, little-endian)."""
    if wkb_buf is None:
        return None
    return b"GP" + bytes([0, 0x01]) + struct.pack("<i", srs_id) + bytes(
        wkb_buf
    )


def _feature_tables(con: sqlite3.Connection) -> list[tuple[str, str]]:
    """[(table, geometry_column)] from the GPKG registry."""
    rows = con.execute(
        "SELECT c.table_name, g.column_name FROM gpkg_contents c"
        " JOIN gpkg_geometry_columns g ON g.table_name = c.table_name"
        " WHERE c.data_type = 'features'"
    ).fetchall()
    if not rows:
        raise ValueError("GeoPackage has no feature tables")
    return [(str(t), str(g)) for t, g in rows]


def _resolve(con, table: str | None) -> tuple[str, str]:
    tabs = _feature_tables(con)
    if table is None:
        return tabs[0]
    for t, g in tabs:
        if t == table:
            return t, g
    raise ValueError(
        f"table {table!r} not in GeoPackage ({[t for t, _ in tabs]})"
    )


def _open_ro(path: str) -> sqlite3.Connection:
    return sqlite3.connect(
        f"file:{os.path.abspath(path)}?mode=ro", uri=True
    )


def _rows_to_pdf(cols: list[str], gcol: str, rows) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["geometry"] = [gpb_to_wkb(b) for b in pdf.pop(gcol)]
    return pdf


def read_gpkg_pdf(path: str, table: str | None = None) -> pd.DataFrame:
    con = _open_ro(path)
    try:
        t, gcol = _resolve(con, table)
        cols = [r[1] for r in con.execute(f'PRAGMA table_info("{t}")')]
        rows = con.execute(f'SELECT {", ".join(_q(c) for c in cols)}'
                           f' FROM "{t}"').fetchall()
    finally:
        con.close()
    return _rows_to_pdf(cols, gcol, rows)


def _q(c: str) -> str:
    return '"' + c.replace('"', '""') + '"'


def _rtree_name(con, table: str, gcol: str) -> str | None:
    """Name of the gpkg_rtree_index virtual table over ``table``'s
    geometry column ``gcol``, if any."""
    nm = f"rtree_{table}_{gcol}"
    row = con.execute(
        "SELECT name FROM sqlite_master WHERE name = ?", (nm,)
    ).fetchone()
    return nm if row else None


def read_geopackage(
    spark: SparkSession,
    path: str,
    table: str | None = None,
    partitions: int | None = None,
    bbox: tuple | None = None,
) -> DataFrame:
    """GeoPackage feature table → distributed Spark feature table
    (attrs + ``geometry`` WKB binary).

    ``bbox=(minx, miny, maxx, maxy)`` pushes the window into the
    container: when the file carries the gpkg_rtree_index extension
    (SQLite R*Tree — what GDAL writes by default), every task's query
    joins its rowid range against the index, so only intersecting
    features are ever materialized — predicate pushdown INTO the
    single-file store, the same property the parquet scans get from
    PushedFilters.  The index holds float32-rounded boxes, so its hits
    are candidates: each is refined by its exact geometry envelope,
    the same filter a file without an index gets after a plain scan.
    Both paths return the same rows."""
    con = _open_ro(path)
    try:
        t, gcol = _resolve(con, table)
        info = list(con.execute(f'PRAGMA table_info("{t}")'))
        cols = [r[1] for r in info]
        decls = {r[1]: (r[2] or "").upper() for r in info}
        lo_hi = con.execute(
            f'SELECT min(rowid), max(rowid) FROM "{t}"'
        ).fetchone()
        sample = con.execute(
            f'SELECT {", ".join(_q(c) for c in cols)} FROM "{t}" LIMIT 256'
        ).fetchall()
        rtree = _rtree_name(con, t, gcol) if bbox is not None else None
    finally:
        con.close()

    spdf = _rows_to_pdf(cols, gcol, sample)
    out_cols = list(spdf.columns)
    fields = []
    for c in out_cols:
        if c == "geometry":
            fields.append("geometry binary")
            continue
        d = decls.get(c, "")
        if "INT" in d:
            fields.append(f"{_q_spark(c)} long")
        elif any(k in d for k in ("REAL", "FLOA", "DOUB")):
            fields.append(f"{_q_spark(c)} double")
        elif "BLOB" in d:
            fields.append(f"{_q_spark(c)} binary")
        else:
            fields.append(f"{_q_spark(c)} string")
    schema = ", ".join(fields)

    if lo_hi[0] is None:  # empty table
        return spark.createDataFrame([], schema=schema)
    lo, hi = int(lo_hi[0]), int(lo_hi[1])
    n = partitions or min(
        spark.sparkContext.defaultParallelism, max(1, (hi - lo + 1) // 512)
    )
    n = max(1, n)
    step = (hi - lo + 1 + n - 1) // n
    ranges = [(lo + i * step, min(lo + (i + 1) * step - 1, hi))
              for i in range(n)]
    rdf = spark.createDataFrame(ranges, "r0 long, r1 long").repartition(n)
    sel = ", ".join(_q(c) for c in cols)
    abspath = os.path.abspath(path)
    box = tuple(float(v) for v in bbox) if bbox is not None else None

    def gen(batches):
        con_ = sqlite3.connect(f"file:{abspath}?mode=ro", uri=True)
        try:
            for pdf in batches:
                for r0, r1 in zip(pdf["r0"], pdf["r1"]):
                    if rtree is not None:
                        rows = con_.execute(
                            f'SELECT {sel} FROM "{t}"'
                            " WHERE rowid BETWEEN ? AND ?"
                            " AND rowid IN (SELECT id FROM"
                            f' "{rtree}" WHERE maxx >= ? AND minx <= ?'
                            " AND maxy >= ? AND miny <= ?)",
                            (int(r0), int(r1),
                             box[0], box[2], box[1], box[3]),
                        ).fetchall()
                    else:
                        rows = con_.execute(
                            f'SELECT {sel} FROM "{t}"'
                            f" WHERE rowid BETWEEN ? AND ?",
                            (int(r0), int(r1)),
                        ).fetchall()
                    if not rows:
                        continue
                    out = _rows_to_pdf(cols, gcol, rows)
                    if box is not None:
                        # exact bbox filter on decoded envelopes: the
                        # whole filter without an index, and the refine
                        # of its float32-rounded candidates with one
                        from ..geometry import kernels, wkb as _wkb

                        keep = []
                        for b in out["geometry"]:
                            if b is None:
                                keep.append(False)
                                continue
                            x0, y0, x1, y1 = kernels.geom_bounds(
                                _wkb.loads(bytes(b))
                            )
                            keep.append(x1 >= box[0] and x0 <= box[2]
                                        and y1 >= box[1]
                                        and y0 <= box[3])
                        out = out[keep]
                        if not len(out):
                            continue
                    yield out[out_cols]
        finally:
            con_.close()

    return rdf.mapInPandas(gen, schema=schema)


def _q_spark(c: str) -> str:
    return f"`{c}`"


_WKB_TYPE_NAMES = {1: "POINT", 2: "LINESTRING", 3: "POLYGON",
                   4: "MULTIPOINT", 5: "MULTILINESTRING",
                   6: "MULTIPOLYGON", 7: "GEOMETRYCOLLECTION"}


def write_geopackage(
    pdf: pd.DataFrame,
    path: str,
    table: str = "features",
    srs_id: int = 4326,
    spatial_index: bool = True,
) -> None:
    """Feature table (attrs + ``geometry`` WKB) → .gpkg with the
    required registry tables (spec §1.1.1-§2.1.6).  Driver-side
    export like the shapefile/GeoJSON writers.

    ``spatial_index=True`` (GDAL's default too) also writes the
    gpkg_rtree_index extension — an SQLite R*Tree over feature
    envelopes — which read_geopackage's ``bbox`` pushes window
    queries into."""
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.execute("PRAGMA application_id = 0x47504B47")  # 'GPKG'
        con.execute("PRAGMA user_version = 10300")
        con.execute(
            "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL,"
            " srs_id INTEGER PRIMARY KEY, organization TEXT NOT NULL,"
            " organization_coordsys_id INTEGER NOT NULL,"
            " definition TEXT NOT NULL, description TEXT)"
        )
        con.executemany(
            "INSERT INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
            [
                ("Undefined cartesian", -1, "NONE", -1, "undefined", None),
                ("Undefined geographic", 0, "NONE", 0, "undefined", None),
                ("WGS 84", 4326, "EPSG", 4326,
                 'GEOGCS["WGS 84",DATUM["WGS_1984",'
                 'SPHEROID["WGS 84",6378137,298.257223563]],'
                 'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]',
                 None),
            ],
        )
        con.execute(
            "CREATE TABLE gpkg_contents (table_name TEXT NOT NULL PRIMARY"
            " KEY, data_type TEXT NOT NULL, identifier TEXT UNIQUE,"
            " description TEXT DEFAULT '', last_change DATETIME NOT NULL"
            " DEFAULT (strftime('%Y-%m-%dT%H:%M:%fZ','now')),"
            " min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE,"
            " srs_id INTEGER)"
        )
        con.execute(
            "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL,"
            " column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL,"
            " srs_id INTEGER NOT NULL, z TINYINT NOT NULL,"
            " m TINYINT NOT NULL,"
            " CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name))"
        )
        attr_cols = [c for c in pdf.columns if c != "geometry"]
        defs = []
        for c in attr_cols:
            k = pdf[c].dtype.kind
            defs.append(
                _q(c) + (" INTEGER" if k in "iub" else
                         " REAL" if k == "f" else " TEXT")
            )
        con.execute(
            f'CREATE TABLE {_q(table)} (fid INTEGER PRIMARY KEY'
            " AUTOINCREMENT, geom BLOB"
            + ("".join(", " + d for d in defs))
            + ")"
        )
        gtype = "GEOMETRY"
        for b in pdf["geometry"]:
            if b is not None:
                code = struct.unpack_from(
                    "<I" if bytes(b)[0] == 1 else ">I", bytes(b), 1
                )[0] & 0xFF
                gtype = _WKB_TYPE_NAMES.get(code, "GEOMETRY")
                break
        rows = []
        for _, r in pdf.iterrows():
            vals = [wkb_to_gpb(
                None if r["geometry"] is None else bytes(r["geometry"]),
                srs_id,
            )]
            for c in attr_cols:
                v = r[c]
                if isinstance(v, (np.integer, np.bool_)):
                    v = int(v)
                elif isinstance(v, np.floating):
                    v = float(v)
                vals.append(v)
            rows.append(tuple(vals))
        con.executemany(
            f'INSERT INTO {_q(table)} (geom'
            + "".join(", " + _q(c) for c in attr_cols)
            + f') VALUES ({", ".join("?" * (1 + len(attr_cols)))})',
            rows,
        )
        con.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier,"
            " srs_id) VALUES (?, 'features', ?, ?)",
            (table, table, srs_id),
        )
        con.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?, 'geom', ?, ?,"
            " 0, 0)",
            (table, gtype, srs_id),
        )
        if spatial_index:
            from ..geometry import kernels, wkb as _wkb

            rt = f"rtree_{table}_geom"
            con.execute(
                f'CREATE VIRTUAL TABLE "{rt}" USING rtree(id, minx,'
                " maxx, miny, maxy)"
            )
            ent = []
            fids = con.execute(
                f'SELECT fid, geom FROM {_q(table)} ORDER BY fid'
            ).fetchall()
            for fid, blob in fids:
                w = gpb_to_wkb(blob)
                if w is None:
                    continue
                x0, y0, x1, y1 = kernels.geom_bounds(_wkb.loads(w))
                ent.append((fid, x0, x1, y0, y1))
            con.executemany(
                f'INSERT INTO "{rt}" VALUES (?,?,?,?,?)', ent
            )
            con.execute(
                "CREATE TABLE IF NOT EXISTS gpkg_extensions ("
                "table_name TEXT, column_name TEXT,"
                " extension_name TEXT NOT NULL, definition TEXT NOT"
                " NULL, scope TEXT NOT NULL)"
            )
            con.execute(
                "INSERT INTO gpkg_extensions VALUES (?, 'geom',"
                " 'gpkg_rtree_index',"
                " 'http://www.geopackage.org/spec120/#extension_rtree',"
                " 'write-only')",
                (table,),
            )
        con.commit()
    finally:
        con.close()
