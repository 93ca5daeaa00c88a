"""Zonal/spatial queries with coordinate-arithmetic oracles.

The genuinely custom spatial machinery (WKB geometry column, ST_* pandas
UDFs, grid-bucketed spatial join, geometric-union UDAF) is exercised here
on synthetic geometry DERIVED DETERMINISTICALLY from the testdata tables,
so the DuckDB oracle can verify the results with plain coordinate
arithmetic — a real correctness gate for the spatial path, not just a
rows-only check.

Layout: a 5x5 grid of 20x20 rectangles over [0,100)^2, one per nation
(col = n_nationkey % 5, row = n_nationkey // 5).  Points derive from row
keys with +0.05 offsets so they never touch cell boundaries (containment
convention cannot diverge between engines).

Reference parity: q60 = D2/D3 spatial join + E2 zonal aggregate; q61 = the
full R zonal pipeline (r:50 terra::extract fun=mean -> r:63-65 width-20
left-closed histogram); q62 = E1 ST_Union dissolve + G3 ST_Area
(load_report.py:472,376-380).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.st_funcs import (st_area, st_makebox, st_num_geometries,
                                  st_point)
from ..queries_registry import registrar
from .common import davg, sql_davg
from .spatial_join import grid_spatial_join, union_agg

QUERIES, ORACLES, query = registrar()


# Grid pitch for joins whose build side is the _nation_boxes fixture:
# every box has extent _NATION_BOX_SIDE by construction (the 5x5 layout
# below), so adaptive_cell's p95-extent/2 is exactly SIDE/2 — deriving it
# here skips the per-query percentile job adaptive_cell runs (r16
# optimization: ~0.5 s/query at sf0.1; result sets are cell-invariant by
# the exact-refine contract, pinned by the invariance property test).
_NATION_BOX_SIDE = 20.0
_NATION_CELL = _NATION_BOX_SIDE / 2.0


def _nation_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey", "n_regionkey",
        st_makebox(
            (F.col("n_nationkey") % 5) * 20.0,
            F.floor(F.col("n_nationkey") / 5) * 20.0,
            (F.col("n_nationkey") % 5) * 20.0 + 20.0,
            F.floor(F.col("n_nationkey") / 5) * 20.0 + 20.0,
        ).alias("geom"),
    )


def _customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", "c_acctbal",
        st_point(
            ((F.col("c_custkey") * 37) % 1000) / 10.0 + 0.05,
            ((F.col("c_custkey") * 61) % 1000) / 10.0 + 0.05,
        ).alias("geom"),
    )


# --------------------------------------------------------------------------
# q60 — point-in-polygon spatial join (D2 shape): customers-as-points
# joined into nation rectangles via the grid-bucketed join, then zonal
# count + mean (E2).  Oracle assigns regions arithmetically.
# --------------------------------------------------------------------------
@query(
    "q60_point_in_polygon",
    f"""
    WITH pts AS (
        SELECT c_custkey, c_acctbal,
               ((c_custkey * 37) % 1000) / 10.0 + 0.05 AS x,
               ((c_custkey * 61) % 1000) / 10.0 + 0.05 AS y
        FROM customer
    )
    SELECT CAST(FLOOR(y / 20) * 5 + FLOOR(x / 20) AS INTEGER) AS n_nationkey,
           COUNT(*) AS n_points,
           {sql_davg('c_acctbal', 'avg_acctbal')}
    FROM pts GROUP BY 1
    """,
)
def q60_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _customer_points(spark, sf_dir)
    boxes = _nation_boxes(spark, sf_dir)
    joined = grid_spatial_join(
        pts, boxes, left_keys=["c_custkey"], right_keys=["n_nationkey"],
        predicate="contains", cell=_NATION_CELL,
    )
    return joined.groupBy("n_nationkey").agg(
        F.count(F.lit(1)).alias("n_points"), davg("c_acctbal", "avg_acctbal")
    )


# --------------------------------------------------------------------------
# q61 — the full zonal-statistics pipeline (r:20-135): raster cells as
# points -> zonal mean per region -> width-20 left-closed histogram of the
# means.  Elevation field is arithmetic in p_partkey so both engines
# reproduce it exactly.
# --------------------------------------------------------------------------
@query(
    "q61_zonal_histogram",
    """
    WITH cells AS (
        SELECT p_partkey,
               ((p_partkey * 13) % 1000) / 10.0 + 0.05 AS x,
               ((p_partkey * 29) % 1000) / 10.0 + 0.05 AS y,
               ((p_partkey * 7) % 700) + 0.5 AS elev
        FROM part
    ),
    zonal AS (
        SELECT CAST(FLOOR(y / 20) * 5 + FLOOR(x / 20) AS INTEGER) AS n_nationkey,
               CAST(SUM(CAST(elev AS DECIMAL(30,6))) AS DOUBLE) / COUNT(elev)
                   AS mean_elev
        FROM cells GROUP BY 1
    )
    SELECT CAST(FLOOR(mean_elev / 20) AS INTEGER) AS bin,
           COUNT(*) AS frequency
    FROM zonal GROUP BY 1
    """,
)
def q61_zonal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    cells = p.select(
        "p_partkey",
        st_point(
            ((F.col("p_partkey") * 13) % 1000) / 10.0 + 0.05,
            ((F.col("p_partkey") * 29) % 1000) / 10.0 + 0.05,
        ).alias("geom"),
        (((F.col("p_partkey") * 7) % 700) + 0.5).alias("elev"),
    )
    boxes = _nation_boxes(spark, sf_dir)
    joined = grid_spatial_join(
        cells, boxes, left_keys=["p_partkey"], right_keys=["n_nationkey"],
        predicate="contains", cell=_NATION_CELL,
    )
    zonal = joined.groupBy("n_nationkey").agg(davg("elev", "mean_elev"))
    return (
        zonal.groupBy(F.floor(F.col("mean_elev") / 20).cast("int").alias("bin"))
        .agg(F.count(F.lit(1)).alias("frequency"))
    )


# --------------------------------------------------------------------------
# q62 — geometric dissolve + area (E1 + G3): per-nation rectangles (inset
# by a key-dependent margin so areas differ) dissolved per region via the
# union UDAF, then ST_Area / 10^4 -> hectares (load_report.py:376-380).
# Disjoint shells -> collection union is exact; oracle sums (20-2d)^2.
# --------------------------------------------------------------------------
@query(
    "q62_dissolve_area",
    """
    WITH rects AS (
        SELECT n_regionkey,
               (20.0 - 2 * ((n_nationkey % 7) * 0.5)) AS side
        FROM nation
    )
    SELECT n_regionkey,
           CAST(SUM(CAST(side * side AS DECIMAL(30,6))) AS DOUBLE) / 10000.0
               AS area_ha,
           COUNT(*) AS n_parts
    FROM rects GROUP BY n_regionkey
    """,
)
def q62_dissolve_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    d = (F.col("n_nationkey") % 7) * 0.5
    rects = n.select(
        "n_nationkey", "n_regionkey",
        st_makebox(
            (F.col("n_nationkey") % 5) * 20.0 + d,
            F.floor(F.col("n_nationkey") / 5) * 20.0 + d,
            (F.col("n_nationkey") % 5) * 20.0 + 20.0 - d,
            F.floor(F.col("n_nationkey") / 5) * 20.0 + 20.0 - d,
        ).alias("geom"),
    )
    dissolved = union_agg(rects, ["n_regionkey"], geom_col="geom")
    counts = rects.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n_parts"))
    return (
        dissolved.select(
            "n_regionkey",
            # decimal-cast the exact per-region area for engine-stable sums
            (st_area(F.col("geom")).cast("decimal(30,6)").cast("double")
             / 10000.0).alias("area_ha"),
        )
        .join(counts, "n_regionkey")
        .select("n_regionkey", "area_ha", "n_parts")
    )


# --------------------------------------------------------------------------
# q67 — OVERLAPPING dissolve (the E1 case q62's disjoint data cannot
# reach): per-nation rectangles form per-region chains along x with a
# shared y-band, so boundaries genuinely overlap/touch and the union must
# re-node them.  Union area and part count have a closed form the oracle
# computes with classic gaps-and-islands interval merging — a hard check
# on the planar-subdivision union (area AND topology), not just rows.
# --------------------------------------------------------------------------
@query(
    "q67_overlap_dissolve",
    """
    WITH rects AS (
        SELECT n_regionkey,
               CAST((n_nationkey * 17) % 40 AS DOUBLE) AS x0,
               CAST((n_nationkey * 17) % 40 + 25 AS DOUBLE) AS x1
        FROM nation
    ),
    ord AS (
        SELECT n_regionkey, x0, x1,
               MAX(x1) OVER (PARTITION BY n_regionkey ORDER BY x0, x1
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev_max
        FROM rects
    ),
    grp AS (
        SELECT n_regionkey, x0, x1,
               SUM(CASE WHEN prev_max IS NULL OR x0 > prev_max
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY n_regionkey ORDER BY x0, x1) AS island
        FROM ord
    ),
    islands AS (
        SELECT n_regionkey, island, MAX(x1) - MIN(x0) AS len
        FROM grp GROUP BY n_regionkey, island
    )
    SELECT n_regionkey,
           ROUND(CAST(SUM(len) * (n_regionkey + 5) AS DOUBLE), 6)
               AS union_area,
           COUNT(*) AS n_islands
    FROM islands GROUP BY n_regionkey
    """,
)
def q67_overlap_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    x0 = ((F.col("n_nationkey") * 17) % 40).cast("double")
    y0 = F.col("n_regionkey") * 100.0
    h = F.col("n_regionkey").cast("double") + 5.0
    rects = n.select(
        "n_regionkey",
        st_makebox(x0, y0, x0 + 25.0, y0 + h).alias("geom"),
    )
    dissolved = union_agg(rects, ["n_regionkey"], geom_col="geom")
    # round(6) on BOTH engines: the two-phase union re-nodes at
    # batch-membership-dependent coordinates, so the raw double can wobble
    # ~1e-12 across partitionings (the invariance property test guarantees
    # 1e-9); the oracle's closed form is exact — rounding makes the driver's
    # exact-equality hash robust to that float noise (q44/q50 pattern).
    return dissolved.select(
        "n_regionkey",
        F.round(st_area(F.col("geom")), 6).alias("union_area"),
        st_num_geometries(F.col("geom")).cast("long").alias("n_islands"),
    )
