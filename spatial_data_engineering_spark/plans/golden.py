"""Golden pipeline — full replication of the reference's analytical report
on the `lu` fixture (SURVEY.md §5.2 "Golden-pipeline replication").

One Catalyst DAG reproduces what the reference does with PostGIS + 84
sequential Earth Engine REST calls + pandas (load_report.py:452-523):

  view (lu ⨝ lu_csv, lower-cased aliases)         view_linked_data.sql:1-13
  -> ILIKE '%mangrove%'                           load_report.py:474
  -> groupBy(keterangan) + geometric union        load_report.py:471-476 (E1)
  -> ST_Transform 32750->4326                     load_report.py:472 (G1)
     (run once, pulled into one local frame that the grid sizing, the
     location mask and the area all read)
  -> total area: ->3857, ST_Area/10^4 ha          load_report.py:376-380 (G3)
  -> location mask: distinct pixel locations,     reduceRegion's geometry
     ST_Contains against the dissolve             (D2/D3)
  -> NDVI=(B5-B4)/(B5+B4), null-masked            load_report.py:75,156 (C8)
  -> median composite per (month, location)       load_report.py:77 (E3)
  -> zonal mean: composite ⨝ mask on location,    load_report.py:78-80 (E2)
     mean per (keterangan, month)
  -> sample variance per category (ddof=1)        load_report.py:396 (E5)
  -> argmax + threshold CASE                      load_report.py:414,420-426 (E7,C10)
  -> Metric/Value report                          results/summary_report.csv:1-6

The order is Earth Engine's: ``.median()`` composites a month's scenes
pixel by pixel, then ``reduceRegion(mean, geometry)`` averages the
composite's pixels inside the region (load_report.py:77-80).  The region
mask is a property of the pixel grid, so it is tested once per pixel
location, not once per observation: containment of point(lon, lat) is a
pure function of the location and the polygon, and a location's month
median is the same for every category that contains it, so the median is
taken without categories and they are attached afterwards.  A scene
contributes one observation per location, as an image has one value per
pixel.

Divergences (documented, SURVEY.md §7 "hard" list): true calendar months
(not the reference's day-28/30 truncation); dissolve is collection-union
(fixture quads are disjoint in practice; overlaps keep both shells).
"""

from __future__ import annotations

import statistics

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.st_funcs import st_area, st_geomfromtext, st_point, st_transform
from ..operators.common import davg
from ..operators.spatial_join import grid_spatial_join, union_agg

EPSG_LU = 32750


def golden_report(spark: SparkSession, fixture_dir: str,
                  area_pattern: str = "%mangrove%") -> DataFrame:
    dissolved = mangrove_dissolve(spark, fixture_dir, area_pattern)
    pixels = spark.read.parquet(f"{fixture_dir}/landsat_pixels.parquet")
    return report(spark, monthly_ndvi(pixels, dissolved), dissolved)


def mangrove_dissolve(spark: SparkSession, fixture_dir: str,
                      area_pattern: str = "%mangrove%") -> DataFrame:
    """(keterangan, geom) in EPSG:4326, one row per matching category.

    ``union_agg`` runs once here and its rows come back as a local
    relation (built from an Arrow table, which is one whether or not the
    session enables Arrow for pandas), so every consumer reads the result
    instead of re-running the dissolve's Python stages.  A local relation's size
    estimate is its real size; a ``localCheckpoint`` keeps the estimate
    of the plan it pins, which is derived from the input scans (PySpark
    4.1.2, the seed-0 test fixtures: the 2-row dissolve reads 256 bytes
    as a local relation, 1,630,651 bytes plain and localCheckpointed
    eagerly or lazily)."""
    lu = spark.read.parquet(f"{fixture_dir}/lu.parquet")
    lu_csv = spark.read.parquet(f"{fixture_dir}/lu_csv.parquet")

    # --- the view: inner equi-join, lower-cased aliases (C1, D1) ---------
    view = (
        lu.join(F.broadcast(lu_csv), "TEMA")
        .select(
            F.col("fid").alias("id"), F.col("TEMA").alias("tema"),
            F.col("LUSE").alias("luse"), F.col("KETERANGAN").alias("keterangan"),
            F.col("JENIS").alias("jenis"), F.col("SUMBER").alias("sumber"),
            F.col("geom_wkt"),
        )
    )

    # --- filter + dissolve + reproject (C3, E1, G1) ----------------------
    filtered = view.filter(F.col("keterangan").ilike(area_pattern)).select(
        "keterangan",
        st_transform(
            st_geomfromtext("geom_wkt"), F.lit(EPSG_LU), F.lit(4326)
        ).alias("geom"),
    )
    dissolved = union_agg(filtered, ["keterangan"], geom_col="geom")
    return spark.createDataFrame(dissolved.toArrow(), dissolved.schema)


def monthly_ndvi(pixels: DataFrame, dissolved: DataFrame) -> DataFrame:
    """(keterangan, month, ndvi): the zonal mean of each month's median
    composite inside each category."""
    # --- location mask (D2/D3): the categories containing each location.
    # A null or NaN lon/lat has no point (st_point returns null for it);
    # dropping such rows here keeps them out of the distinct and the join
    locations = (pixels.select("lon", "lat").dropna().distinct()
                 .withColumn("geom", st_point("lon", "lat")))
    zones = grid_spatial_join(
        locations, dissolved,
        left_keys=["lon", "lat"], right_keys=["keterangan"],
        predicate="contains",  # cell: adaptive p95-extent default
    ).select("lon", "lat", "keterangan")

    # --- median composite per location and month (C8, E3); a scene holds
    # one observation per location, as an image has one value per pixel --
    month = F.date_format(F.date_trunc("month", "ts"), "yyyy-MM")
    composite = (
        pixels.dropDuplicates(["scene_id", "lon", "lat"])
        .select(
            month.alias("month"), "lon", "lat",
            F.when(F.col("sr_b5") + F.col("sr_b4") == 0, None)
            .otherwise((F.col("sr_b5") - F.col("sr_b4"))
                       / (F.col("sr_b5") + F.col("sr_b4"))).alias("ndvi"),
        )
        .filter(F.col("ndvi").isNotNull())
        .groupBy("month", "lon", "lat")
        .agg(F.median("ndvi").alias("ndvi_px"))
    )

    # --- zonal mean of the composite inside each category (E2) ----------
    return (composite.join(zones, ["lon", "lat"])
            .groupBy("keterangan", "month")
            .agg(davg("ndvi_px", "ndvi")))


def report(spark: SparkSession, monthly: DataFrame,
           dissolved: DataFrame) -> DataFrame:
    """The Metric/Value report from the monthly series and the dissolve."""
    # --- total area in EPSG:3857 semantics (G3 fidelity note) ------------
    area_ha = (
        dissolved.select(
            st_area(st_transform("geom", F.lit(4326), F.lit(3857))).alias("a")
        )
        .agg((F.sum(F.col("a").cast("decimal(30,4)")).cast("double") / 10000.0)
             .alias("total_ha"))
    )

    # --- variance -> argmax -> CASE (E5, E7, C10) ------------------------
    # No dense month spine here: the variance skips nulls exactly like the
    # reference's pandas .var over None-padded months (load_report.py:393
    # drops them), so a spine would be dead computation — the F3
    # empty-month semantics are exercised by relational.q07 and the
    # monthly frame consumers.  The variance is rounded once from exact
    # sums, so categories whose series are equal tie exactly and the
    # name decides, on any plan and core count.
    stats = monthly.groupBy("keterangan").agg(
        var_samp_exact("ndvi").alias("variance"))

    # collect the tiny top/area results ONCE (unionByName branches over
    # `top` would re-run the sort/limit and the spatial pipeline prefix
    # per report row — exchange reuse only covers shuffled subtrees)
    top_rows = (
        stats.filter(F.col("variance").isNotNull())
        .orderBy(F.desc("variance"), F.asc("keterangan"))
        .limit(1)
        .collect()
    )
    area_rows = area_ha.collect()

    # --- Metric/Value report (results/summary_report.csv shape) ----------
    total_ha = area_rows[0]["total_ha"] if area_rows else None
    rows = [
        ("Total Mangrove Area (Ha)",
         None if total_ha is None else f"{total_ha:,.2f}"),
        ("Report Generated By", "spatial_data_engineering_spark"),
    ]
    if top_rows:
        t = top_rows[0]
        # the reference's verbatim strings (load_report.py:422-426),
        # single-sourced with q75 so report and query cannot drift
        from ..operators.relational import INFER_HIGH, INFER_LOW, INFER_MID
        inference = (
            INFER_HIGH if t["variance"] > 0.5 else
            INFER_MID if t["variance"] > 0.2 else
            INFER_LOW
        )
        rows += [
            ("Area with Highest Variation", t["keterangan"]),
            ("Variance", str(t["variance"])),
            ("Inference", inference),
        ]
    # a local relation (from an Arrow table, in any session), not a
    # parallelized list, so collecting or writing the report runs no
    # Python-worker job
    metric, value = zip(*rows)
    return spark.createDataFrame(
        pa.table({"Metric": metric, "Value": value}),
        "Metric string, Value string")


@F.pandas_udf(T.DoubleType())
def var_samp_exact(x: pd.Series) -> float:
    """Sample variance (ddof=1) rounded once from exact rational sums, so
    it is the same double whatever the row order, partitioning or core
    count.  ``var_samp`` over doubles accumulates in arrival order and
    can move by an ulp between plans; ``common.dvar_samp`` is
    order-independent but rounds every value to 6 decimals first.  Nulls
    are skipped and fewer than two values give null, as ``var_samp``
    does."""
    x = x.dropna()
    return statistics.variance(x.tolist()) if len(x) > 1 else None
