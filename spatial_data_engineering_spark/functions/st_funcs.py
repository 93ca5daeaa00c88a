"""ST_* function surface as Arrow-vectorized pandas UDFs over WKB.

Covers the reference's scalar spatial surface (SURVEY.md §2 G1-G9):
constructors, codecs, area/centroid/envelope, type dispatch, CRS
transform, containment/intersection predicates, plus the grid-cell
bucketing UDF that powers the partitioned spatial join (§4).

All UDFs receive/return Arrow batches (pandas Series); per-row work is the
WKB codec + the pure-Python predicates in ``geometry``.  ``register_all``
exposes every function into Spark SQL (spark.udf.register) so SQL-form
queries can use them, mirroring how PostGIS exposes ST_ into SQL.
"""

from __future__ import annotations

from collections.abc import Iterable
from itertools import repeat

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import crs as _crs
from . import geometry as G

# Join refines evaluate predicates over candidate pairs where one side is
# a handful of distinct polygons repeated across millions of rows — cache
# the decode by WKB bytes (immutable), so each distinct geometry parses
# once per executor instead of once per row.
from functools import lru_cache


@lru_cache(maxsize=65536)
def _loads_lru(b: bytes):
    return G.wkb_loads(b)


def _loads_cached(b: bytes):
    # points (21-byte WKB) are cheaper to decode than to cache — millions
    # of distinct points would just thrash the LRU; polygons benefit
    if len(b) <= 64:
        return G.wkb_loads(b)
    return _loads_lru(b)


def _map(series: pd.Series, fn):
    return series.map(lambda v: None if v is None else fn(v))


# ----------------------------------------------------------- constructors

@F.pandas_udf(T.BinaryType())
def st_point(x: pd.Series, y: pd.Series) -> pd.Series:
    # Point WKB is a fixed 21-byte record (01 01000000 <x:f64le> <y:f64le>),
    # so a whole batch is one numpy byte-matrix assembly instead of a
    # per-row struct.pack through the generic writer — byte-identical
    # output (tests compare it with ``G.wkb_dumps``).  Arrow hands a null
    # coordinate to pandas as NaN or None; either one, or a NaN value,
    # makes the point null, never a NaN point.
    import numpy as np

    xs = np.ascontiguousarray(x.to_numpy(dtype="float64", na_value=np.nan))
    ys = np.ascontiguousarray(y.to_numpy(dtype="float64", na_value=np.nan))
    n = len(xs)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, 0] = 1          # little-endian flag
    buf[:, 1] = 1          # geometry type 1 = Point
    buf[:, 2:5] = 0
    buf[:, 5:13] = xs.view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = ys.view(np.uint8).reshape(n, 8)
    tb = buf.tobytes()
    ok = (~(np.isnan(xs) | np.isnan(ys))).tolist()
    return pd.Series([tb[i * 21:i * 21 + 21] if ok[i] else None
                      for i in range(n)])


@F.pandas_udf(T.BinaryType())
def st_geomfromtext(wkt: pd.Series) -> pd.Series:
    return _map(wkt, lambda s: G.wkb_dumps(G.wkt_loads(s)))


@F.pandas_udf(T.BinaryType())
def st_makebox(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series,
               ymax: pd.Series) -> pd.Series:
    return pd.Series(
        [None if a is None or b is None or c is None or d is None
         or a != a or b != b or c != c or d != d  # NaN guard
         else G.wkb_dumps(G.make_box(float(a), float(b), float(c), float(d)))
         for a, b, c, d in zip(xmin, ymin, xmax, ymax)]
    )


# ----------------------------------------------------------------- codecs

@F.pandas_udf(T.StringType())
def st_astext(wkb: pd.Series) -> pd.Series:
    return _map(wkb, lambda b: G.wkt_dumps(G.wkb_loads(bytes(b))))


@F.pandas_udf(T.StringType())
def st_geometrytype(wkb: pd.Series) -> pd.Series:
    # geometry-subtype dispatch (load_report.py:51-57)
    return _map(wkb, lambda b: G.geom_type(G.wkb_loads(bytes(b))))


@F.pandas_udf(T.IntegerType())
def st_num_geometries(wkb: pd.Series) -> pd.Series:
    """PostGIS ST_NumGeometries: parts of a MultiPolygon, 1 otherwise."""
    def n(b: bytes) -> int:
        g = G.wkb_loads(bytes(b))
        return len(g[1]) if g[0] == "MultiPolygon" else 1
    return _map(wkb, n)


# ------------------------------------------------------------ measurement

@F.pandas_udf(T.DoubleType())
def st_area(wkb: pd.Series) -> pd.Series:
    return _map(wkb, lambda b: G.area(G.wkb_loads(bytes(b))))


@F.pandas_udf(T.BinaryType())
def st_centroid(wkb: pd.Series) -> pd.Series:
    return _map(
        wkb,
        lambda b: G.wkb_dumps(("Point", G.centroid(G.wkb_loads(bytes(b))))),
    )


_BOUNDS_T = T.StructType([
    T.StructField("xmin", T.DoubleType()), T.StructField("ymin", T.DoubleType()),
    T.StructField("xmax", T.DoubleType()), T.StructField("ymax", T.DoubleType()),
])


@F.pandas_udf(_BOUNDS_T)
def st_envelope(wkb: pd.Series) -> pd.DataFrame:
    rows = []
    for b in wkb:
        if b is None:
            rows.append((None, None, None, None))
        else:
            rows.append(G.bounds(G.wkb_loads(bytes(b))))
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


def _point_coord(b: bytes, idx: int) -> float:
    g = G.wkb_loads(bytes(b))
    if g[0] != "Point":
        # subtype policy (module docstring): clean error, not an opaque
        # Arrow cast failure on a ring structure
        raise ValueError(f"ST_X/ST_Y require Point geometry, got {g[0]}")
    return g[1][idx]


@F.pandas_udf(T.DoubleType())
def st_x(wkb: pd.Series) -> pd.Series:
    return _map(wkb, lambda b: _point_coord(b, 0))


@F.pandas_udf(T.DoubleType())
def st_y(wkb: pd.Series) -> pd.Series:
    return _map(wkb, lambda b: _point_coord(b, 1))


# -------------------------------------------------------------- transform

@F.pandas_udf(T.BinaryType())
def st_transform(wkb: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
    """Reproject geometry coordinates (G1; pyproj-free — see crs module).

    src/dst are EPSG int columns (pass F.lit for constants); vectorization
    is per-ring numpy, batched by Arrow.
    """
    out = []
    for b, s, d in zip(wkb, src, dst):
        if b is None or s is None or d is None:
            out.append(None)
            continue
        out.append(G.wkb_dumps(_transform_geom(G.wkb_loads(bytes(b)), int(s), int(d))))
    return pd.Series(out)


def _transform_geom(geom, src: int, dst: int):
    kind, body = geom
    if kind == "Point":
        x, y = _crs.transform_xy([body[0]], [body[1]], src, dst)
        return ("Point", (float(x[0]), float(y[0])))
    if kind == "Polygon":
        return ("Polygon", _transform_rings(body, src, dst))
    return ("MultiPolygon", [_transform_rings(r, src, dst) for r in body])


def _transform_rings(rings, src: int, dst: int):
    out = []
    for ring in rings:
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        tx, ty = _crs.transform_xy(xs, ys, src, dst)
        out.append(list(zip(tx.tolist(), ty.tolist())))
    return out


# -------------------------------------------------------------- predicates

@F.pandas_udf(T.BooleanType())
def st_contains(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [None if x is None or y is None
         else G.contains(_loads_cached(bytes(x)), _loads_cached(bytes(y)))
         for x, y in zip(a, b)]
    )


@F.pandas_udf(T.BooleanType())
def st_intersects(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [None if x is None or y is None
         else G.intersects(_loads_cached(bytes(x)), _loads_cached(bytes(y)))
         for x, y in zip(a, b)]
    )


@F.pandas_udf(T.DoubleType())
def st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    """Minimum planar distance (PostGIS ST_Distance surface; the reference
    delegates distance predicates to PostGIS — SURVEY §4)."""
    return pd.Series(
        [None if x is None or y is None
         else G.distance(_loads_cached(bytes(x)), _loads_cached(bytes(y)))
         for x, y in zip(a, b)]
    )


@F.pandas_udf(T.BooleanType())
def st_dwithin(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
    """ST_DWithin with the expanded-bbox fast reject."""
    return pd.Series(
        [None if x is None or y is None
         else G.dwithin(_loads_cached(bytes(x)), _loads_cached(bytes(y)),
                        float(dd))
         for x, y, dd in zip(a, b, d)]
    )


@F.pandas_udf(T.BinaryType())
def st_simplify(wkb: pd.Series, tol: pd.Series) -> pd.Series:
    """Douglas-Peucker, validity-preserving (rings never collapse below
    a closed triangle — see geometry.simplify)."""
    return pd.Series(
        [None if b is None
         else G.wkb_dumps(G.simplify(G.wkb_loads(bytes(b)), float(t)))
         for b, t in zip(wkb, tol)]
    )


# ------------------------------------------------- grid bucketing (join) --

def _grid_cell_ids(wkb: pd.Series, cell: pd.Series,
                   pad: Iterable[float]) -> pd.Series:
    out = []
    for b, c, p in zip(wkb, cell, pad):
        if b is None:
            out.append(None)
            continue
        xmin, ymin, xmax, ymax = G.bounds(G.wkb_loads(bytes(b)))
        p = float(p)
        bb = (xmin - p, ymin - p, xmax + p, ymax + p)
        out.append([f"{ix}_{iy}" for ix, iy in G.grid_cells(bb, float(c))])
    return pd.Series(out)


@F.pandas_udf(T.ArrayType(T.StringType()))
def st_grid_cells(wkb: pd.Series, cell: pd.Series) -> pd.Series:
    """Grid-cell ids ("ix_iy") whose cell intersects the geometry's bbox —
    the §4 custom physical strategy: equi-join on these ids replaces the
    n^2 cross join; an exact predicate refines the candidates."""
    return _grid_cell_ids(wkb, cell, repeat(0.0))


@F.pandas_udf(T.ArrayType(T.StringType()))
def st_grid_cells_pad(wkb: pd.Series, cell: pd.Series,
                      pad: pd.Series) -> pd.Series:
    """Grid-cell ids for the geometry's bbox EXPANDED by ``pad`` on every
    side — the probe-side key generator for the distance join: two
    geometries within distance d have bbox gap <= d, so padding one
    side's bbox by d guarantees the pair shares a cell."""
    return _grid_cell_ids(wkb, cell, pad)


@F.pandas_udf(T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))))
def st_exterior_coords(wkb: pd.Series) -> pd.Series:
    """Exterior-ring coordinate lists (G7; convert_geom_to_gee
    load_report.py:52-55): one ring per polygon part, [[x, y], ...].
    Raises for non-polygonal input exactly like the reference (:56-57)."""
    return _map(
        wkb,
        lambda b: G.exterior_coords(G.wkb_loads(bytes(b))),
    )


_ALL = {
    "ST_Point": st_point,
    "ST_GeomFromText": st_geomfromtext,
    "ST_MakeBox": st_makebox,
    "ST_AsText": st_astext,
    "ST_GeometryType": st_geometrytype,
    "ST_Area": st_area,
    "ST_Centroid": st_centroid,
    "ST_Envelope": st_envelope,
    "ST_X": st_x,
    "ST_Y": st_y,
    "ST_Transform": st_transform,
    "ST_Contains": st_contains,
    "ST_Intersects": st_intersects,
    "ST_Distance": st_distance,
    "ST_DWithin": st_dwithin,
    "ST_Simplify": st_simplify,
    "ST_GridCells": st_grid_cells,
    "ST_ExteriorCoords": st_exterior_coords,
}


def register_all(spark: SparkSession) -> None:
    """Expose every ST_ function to Spark SQL (PostGIS-style)."""
    for name, udf in _ALL.items():
        spark.udf.register(name, udf)
