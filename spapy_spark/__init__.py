"""spapy_spark — a brand-new PySpark-native spatial-join + tiling engine.

Re-expresses the operator surface of the reference library (mdl27/SpaPy,
an eager single-process shapely/GDAL wrapper) as lazy, distributed Spark
DataFrame plans:

- ``cells``      — from-scratch Z-order hierarchical cell index (the H3/S2
                   role): vectorized numpy point→cell encoding, polygon
                   covering, parents.  Integer cell ids are the
                   join/partition keys everywhere.
- ``geometry``   — pure-numpy WKB codec and geometry kernels (ray-cast
                   point-in-polygon, shoelace area, convex hull,
                   Douglas-Peucker simplify, Sutherland–Hodgman clip,
                   point/segment distance).  No GEOS/shapely dependency.
- ``operators``  — the Spark plans: geocoding, point-in-polygon join
                   (broadcast and cell-hash paths), kNN nearest-feature,
                   overlay, raster tile algebra + sampling, dedup,
                   text analysis, similarity search.
- ``plans``      — checkpoint/resume with per-partition lineage + metrics.
- ``sources``    — IO registry + deterministic synthetic generators
                   (web-pages table per BASELINE.json input_hint, zones,
                   sites, raster tiles).

Design rules (see SURVEY.md §7): DataFrame-first, Catalyst does the
relational optimization; geometry crosses into Python only through
Arrow-batched pandas UDFs operating on whole numpy arrays — never
per-row Python.
"""

__version__ = "0.1.0"
