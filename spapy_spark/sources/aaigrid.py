"""Esri ASCII grid (GDAL "AAIGrid", extension .asc) — stdlib+numpy.

One of the reference's raster save formats
(/root/reference/SpaRasters.py:769-777 maps ``.asc`` → the AAIGrid
GDAL driver); the reader gives `read_any` the same extension coverage
on the input side.  The format is a 5/6-line header followed by
whitespace-separated pixel values, row-major from the TOP row:

    ncols 4
    nrows 3
    xllcorner 0.0
    yllcorner -3.0
    cellsize 1.0
    NODATA_value -9999

Header keys are case-insensitive; ``xllcenter``/``yllcenter`` variants
place the corner half a cell in (GDAL semantics).  Cells are square by
definition (single ``cellsize``), so the geotransform is
(xll, cs, 0, yll + nrows*cs, 0, -cs).
"""

from __future__ import annotations

import numpy as np

__all__ = ["read_asc", "write_asc"]


def read_asc(path: str) -> tuple[np.ndarray, tuple, float | None]:
    """→ (array[h,w] float64 (or int if every token is integral),
    geotransform, nodata)."""
    with open(path, "rb") as f:
        raw = f.read()
    text = raw.decode("ascii")
    tokens = text.split()
    hdr: dict[str, float] = {}
    i = 0
    # header = leading (name, number) pairs; data starts at the first
    # token that is a bare number in name position
    while i + 1 < len(tokens):
        name = tokens[i].lower()
        if not name[:1].isalpha():  # data values start with digit/+-/.
            break
        hdr[name] = float(tokens[i + 1])
        i += 2
    for req in ("ncols", "nrows", "cellsize"):
        if req not in hdr:
            raise ValueError(f"AAIGrid header missing {req}")
    w, h = int(hdr["ncols"]), int(hdr["nrows"])
    cs = hdr["cellsize"]
    if "xllcorner" in hdr:
        xll = hdr["xllcorner"]
    elif "xllcenter" in hdr:
        xll = hdr["xllcenter"] - cs / 2.0
    else:
        raise ValueError("AAIGrid header missing xllcorner/xllcenter")
    if "yllcorner" in hdr:
        yll = hdr["yllcorner"]
    elif "yllcenter" in hdr:
        yll = hdr["yllcenter"] - cs / 2.0
    else:
        raise ValueError("AAIGrid header missing yllcorner/yllcenter")
    nodata = hdr.get("nodata_value")
    vals = tokens[i:]
    if len(vals) != w * h:
        raise ValueError(
            f"AAIGrid data has {len(vals)} values, expected {w * h}"
        )
    if all(v.lstrip("+-").isdigit() for v in vals):
        # exact integer parse; int32 (GDAL's Int32 band) when every
        # value fits, int64 otherwise
        arr = np.array(vals, dtype=np.int64).reshape(h, w)
        i32 = np.iinfo(np.int32)
        if arr.size == 0 or (arr.min() >= i32.min and arr.max() <= i32.max):
            arr = arr.astype(np.int32)
    else:
        arr = np.array(vals, dtype=np.float64).reshape(h, w)
    gt = (xll, cs, 0.0, yll + h * cs, 0.0, -cs)
    return arr, gt, nodata


def write_asc(
    path: str,
    arr: np.ndarray,
    geotransform: tuple | None = None,
    nodata: float | None = None,
) -> None:
    """Single-band array → .asc.  Requires square cells (AAIGrid has
    one ``cellsize``); raises otherwise, like GDAL's CreateCopy."""
    a = np.asarray(arr)
    if a.ndim == 3:
        if a.shape[0] != 1:
            raise ValueError("AAIGrid is single-band")
        a = a[0]
    if a.ndim != 2:
        raise ValueError("AAIGrid needs a 2-D array")
    h, w = a.shape
    gt = geotransform or (0.0, 1.0, 0.0, float(h), 0.0, -1.0)
    if gt[2] or gt[4] or abs(gt[1]) != abs(gt[5]):
        raise ValueError("AAIGrid requires square, axis-aligned cells")
    cs = abs(gt[1])
    xll = gt[0]
    yll = gt[3] + gt[5] * h  # bottom edge (gt[5] is negative)
    lines = [
        f"ncols {w}",
        f"nrows {h}",
        f"xllcorner {xll!r}",
        f"yllcorner {yll!r}",
        f"cellsize {cs!r}",
    ]
    if nodata is not None:
        nd = int(nodata) if float(nodata).is_integer() and a.dtype.kind in (
            "i", "u") else nodata
        lines.append(f"NODATA_value {nd}")
    if a.dtype.kind in ("i", "u"):
        body = "\n".join(" ".join(str(int(v)) for v in row) for row in a)
    else:
        body = "\n".join(" ".join(repr(float(v)) for v in row) for row in a)
    with open(path, "w", encoding="ascii") as f:
        f.write("\n".join(lines) + "\n" + body + "\n")
