"""Golden-pipeline replication test (SURVEY.md §5.2): the Spark DAG must
reproduce the summary_report semantics computed by an independent pandas
path over the same fixtures."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spatial_data_engineering_spark.fixtures import write_fixtures
from spatial_data_engineering_spark.functions import crs
from spatial_data_engineering_spark.functions import geometry as G


@pytest.fixture(scope="module", params=[42, 7])
def fixture_dir(tmp_path_factory, request):
    # two seeds: the argmax winner and variance change, the pandas
    # reference recomputes — the pipeline must match either way
    out = tmp_path_factory.mktemp(f"fixtures_{request.param}")
    write_fixtures(str(out), seed=request.param)
    return str(out)


def _reproject(g, fn):
    """MultiPolygon of ``g`` (Polygon or MultiPolygon) with every ring,
    holes included, mapped through ``fn(xs, ys) -> (xs', ys')``."""
    polys = []
    for poly in (g[1] if g[0] == "MultiPolygon" else [g[1]]):
        rings = []
        for ring in poly:
            xs, ys = zip(*ring)
            tx, ty = fn(np.array(xs), np.array(ys))
            rings.append(list(zip(tx.tolist(), ty.tolist())))
        polys.append(rings)
    return ("MultiPolygon", polys)


def _pandas_reference(fixture_dir: str):
    """Driver-side reimplementation of the report (the reference's own
    execution style) for cross-checking the distributed pipeline."""
    lu = pd.read_parquet(f"{fixture_dir}/lu.parquet")
    px = pd.read_parquet(f"{fixture_dir}/landsat_pixels.parquet")

    sel = lu[lu.KETERANGAN.str.lower().str.contains("mangrove")]
    cats = {}
    for keter, grp in sel.groupby("KETERANGAN"):
        geoms = [G.wkt_loads(w) for w in grp.geom_wkt]
        # reproject each to 4326
        g4326 = [_reproject(g, lambda xs, ys: crs.utm_to_lonlat(xs, ys, 32750))
                 for g in geoms]
        cats[keter] = G.union(g4326)

    # total area in 3857, the exterior and every hole a union left
    total = sum(G.area(_reproject(g, crs.lonlat_to_webmerc))
                for g in cats.values())
    total_ha = total / 10000.0

    # NDVI series
    px = px.copy()
    s = px.sr_b5 + px.sr_b4
    px["ndvi"] = np.where(s == 0, np.nan, (px.sr_b5 - px.sr_b4) / s)
    px["month"] = px.ts.dt.strftime("%Y-%m")

    months = pd.period_range("2018-01", "2023-12", freq="M").strftime("%Y-%m")
    variances = {}
    for keter, g in cats.items():
        bbox = G.bounds(g)
        m = ((px.lon >= bbox[0]) & (px.lon <= bbox[2])
             & (px.lat >= bbox[1]) & (px.lat <= bbox[3]))
        cand = px[m]
        inside = cand[[G.point_in_polygon(x, y, g)
                       for x, y in zip(cand.lon, cand.lat)]]
        inside = inside.dropna(subset=["ndvi"])
        med = (inside.groupby(["month", "lon", "lat"]).ndvi.median()
               .reset_index())
        monthly = med.groupby("month").ndvi.mean()
        series = monthly.reindex(months)
        variances[keter] = series.var(ddof=1)

    top = max(variances, key=lambda k: (variances[k], ))
    return total_ha, variances, top


def test_golden_report(spark, fixture_dir):
    from spatial_data_engineering_spark.plans.golden import golden_report

    report = {r["Metric"]: r["Value"]
              for r in golden_report(spark, fixture_dir).collect()}
    assert set(report) == {
        "Total Mangrove Area (Ha)", "Report Generated By",
        "Area with Highest Variation", "Variance", "Inference",
    }

    total_ha, variances, top = _pandas_reference(fixture_dir)

    # area string matches to the displayed precision (format_number adds
    # thousands separators exactly like the golden csv's 4.16 style)
    assert report["Total Mangrove Area (Ha)"] == f"{total_ha:,.2f}"

    assert report["Area with Highest Variation"] == top
    spark_var = float(report["Variance"])
    assert spark_var == pytest.approx(variances[top], rel=1e-6)

    expected_inference = (
        "High" if spark_var > 0.5 else "Moderate" if spark_var > 0.2 else "Low"
    )
    assert report["Inference"].startswith(expected_inference)


def test_zonal_histogram_fixture(spark, fixture_dir):
    """R pipeline replication (r:50,63-65): zonal mean per admin region,
    width-20 left-closed bins — Spark vs direct pandas on the fixture."""
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.functions.st_funcs import (
        st_geomfromtext, st_point)
    from spatial_data_engineering_spark.operators.spatial_join import (
        grid_spatial_join)

    cells = (
        spark.read.parquet(f"{fixture_dir}/elevation_cells.parquet")
        .filter(F.col("elevation_m").isNotNull())
        .withColumn("geom", st_point("lon", "lat"))
    )
    regions = (
        spark.read.parquet(f"{fixture_dir}/admin_regions.parquet")
        .withColumn("geom", st_geomfromtext("geom_wkt"))
    )
    joined = grid_spatial_join(
        cells, regions, left_keys=["cell_x", "cell_y"],
        right_keys=["region_id"], predicate="intersects", cell=100.0 / 6,
    )
    zonal = joined.groupBy("region_id").agg(F.avg("elevation_m").alias("m"))
    hist = (zonal.groupBy(F.floor(F.col("m") / 20).cast("int").alias("bin"))
            .count().toPandas().set_index("bin")["count"].to_dict())

    # pandas reference: boundary cells may belong to 2 regions (inclusive
    # boundary semantics) — mirror the engine by assigning via containment
    pdf = pd.read_parquet(f"{fixture_dir}/elevation_cells.parquet").dropna()
    reg = pd.read_parquet(f"{fixture_dir}/admin_regions.parquet")
    geoms = {r.region_id: G.wkt_loads(r.geom_wkt) for r in reg.itertuples()}
    sums: dict = {}
    for rid, g in geoms.items():
        b = G.bounds(g)
        m = ((pdf.lon >= b[0]) & (pdf.lon <= b[2])
             & (pdf.lat >= b[1]) & (pdf.lat <= b[3]))
        sub = pdf[m]
        mask = [G.point_in_polygon(x, y, g) for x, y in zip(sub.lon, sub.lat)]
        vals = sub[mask].elevation_m
        if len(vals):
            sums[rid] = vals.mean()
    expected_hist: dict = {}
    for rid, mean in sums.items():
        b = int(np.floor(mean / 20))
        expected_hist[b] = expected_hist.get(b, 0) + 1
    assert hist == expected_hist


# --------------------------------------------------------------------------
# golden_report tests each pixel LOCATION against the dissolve and takes
# one category-free median per (month, location).  The plan it replaced
# tested every pixel observation and took the median per category; it is
# kept here only as the differential reference.


def _per_observation_monthly(pixels, dissolved):
    """(keterangan, month, ndvi) by the per-observation plan: every pixel
    row joins the dissolve, one candidate per (scene, location, category),
    then a median per (category, month, location) and the zonal mean."""
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.functions.st_funcs import st_point
    from spatial_data_engineering_spark.operators.common import davg
    from spatial_data_engineering_spark.operators.spatial_join import (
        grid_spatial_join)

    # a null or NaN lon/lat has no point to match, so drop the row
    ndvi = pixels.dropna(subset=["lon", "lat"]).select(
        "scene_id", "ts", "lon", "lat",
        F.when(F.col("sr_b5") + F.col("sr_b4") == 0, None)
        .otherwise((F.col("sr_b5") - F.col("sr_b4"))
                   / (F.col("sr_b5") + F.col("sr_b4"))).alias("ndvi"),
        st_point("lon", "lat").alias("geom"),
    )
    joined = grid_spatial_join(
        ndvi, dissolved, left_keys=["scene_id", "lon", "lat"],
        right_keys=["keterangan"], predicate="contains")
    month = F.date_format(F.date_trunc("month", "ts"), "yyyy-MM")
    per_pixel_month = (
        joined.filter(F.col("ndvi").isNotNull())
        .groupBy("keterangan", month.alias("month"), "lon", "lat")
        .agg(F.median("ndvi").alias("ndvi_px")))
    return per_pixel_month.groupBy("keterangan", "month").agg(
        davg("ndvi_px", "ndvi"))


def _assert_matches_per_observation(spark, fixture_dir):
    from spatial_data_engineering_spark.plans import golden

    dissolved = golden.mangrove_dissolve(spark, fixture_dir)
    pixels = spark.read.parquet(f"{fixture_dir}/landsat_pixels.parquet")
    old = _per_observation_monthly(pixels, dissolved)
    new = golden.monthly_ndvi(pixels, dissolved)
    old_rows = sorted(tuple(r) for r in old.collect())
    assert old_rows, "fixture produced no monthly series"
    assert sorted(tuple(r) for r in new.collect()) == old_rows

    want = [tuple(r) for r in golden.report(spark, old, dissolved).collect()]
    got = [tuple(r) for r in golden.golden_report(spark, fixture_dir).collect()]
    assert got == want  # every report string byte-equal
    assert dict(got).get("Variance") is not None
    return dict(got)


def test_golden_matches_per_observation_plan(spark, fixture_dir):
    _assert_matches_per_observation(spark, fixture_dir)


# category A: four overlapping bars framing a void, so its dissolve has
# crossing vertices and a hole; B overlaps two of the bars
A_BOXES = [(476400.0, 9873300.0, 476600.0, 9874300.0),
           (477000.0, 9873300.0, 477200.0, 9874300.0),
           (476400.0, 9873300.0, 477200.0, 9873500.0),
           (476400.0, 9874100.0, 477200.0, 9874300.0)]
B_BOX = (476900.0, 9873200.0, 477300.0, 9873700.0)
OTHER_BOX = (476300.0, 9875000.0, 476700.0, 9875400.0)


def _lu_adversarial() -> pd.DataFrame:
    """Two overlapping mangrove categories and one feature the ILIKE
    filter drops."""
    def box(x0, y0, x1, y1):
        ring = f"{x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}"
        return f"MULTIPOLYGON ((({ring})))"

    feats = ([("Mangrove Alpha", b) for b in A_BOXES]
             + [("Mangrove Beta", B_BOX), ("Sungai Tengah", OTHER_BOX)])
    return pd.DataFrame([
        {"fid": i + 1, "geom_wkt": box(*b), "LUSE": "Kawasan Hutan Bakau",
         "KETERANGAN": k, "TEMA": "Hutan"}
        for i, (k, b) in enumerate(feats)])


def _shell(geom):
    """The exterior ring of the geometry's first polygon."""
    return (geom[1] if geom[0] == "MultiPolygon" else [geom[1]])[0][0]


@pytest.fixture(scope="module")
def adversarial_dir(spark, tmp_path_factory):
    """A small fixture with the cases the location-first plan must get
    right: null and NaN lon/lat rows, locations exactly on a dissolved
    vertex and edge, locations inside both categories, a location whose
    NDVI is null in every scene, and repeated pixel rows within one
    scene."""
    from spatial_data_engineering_spark.fixtures import make_lu_csv
    from spatial_data_engineering_spark.plans.golden import mangrove_dissolve

    out = str(tmp_path_factory.mktemp("fixtures_adversarial"))
    _lu_adversarial().to_parquet(f"{out}/lu.parquet", index=False)
    make_lu_csv().to_parquet(f"{out}/lu_csv.parquet", index=False)
    geoms = {r["keterangan"]: G.wkb_loads(bytes(r["geom"]))
             for r in mangrove_dissolve(spark, out).collect()}
    assert set(geoms) == {"Mangrove Alpha", "Mangrove Beta"}

    # a 100 m lon/lat grid over all features, plus the boundary points
    x0, y0, x1, y1 = G.bounds(geoms["Mangrove Alpha"])
    step = 100.0 / 111_320.0
    locs = [(float(x), float(y))
            for x in np.arange(x0 - 2 * step, x1 + 2 * step, step)
            for y in np.arange(y0 - 2 * step, y1 + 2 * step, step)]
    vertex = _shell(geoms["Mangrove Alpha"])[1]
    b_shell = _shell(geoms["Mangrove Beta"])
    (ax, ay), (bx, by) = b_shell[:2]
    edge = ((ax + bx) / 2, (ay + by) / 2)
    assert G.point_in_polygon(*vertex, geoms["Mangrove Alpha"])
    assert G._point_in_ring(*edge, b_shell) == 2  # on the boundary
    both = [p for p in locs if G.point_in_polygon(*p, geoms["Mangrove Alpha"])
            and G.point_in_polygon(*p, geoms["Mangrove Beta"])]
    assert both
    dead = both[len(both) // 2]  # NDVI null in every scene
    locs += [vertex, edge]

    rng = np.random.RandomState(11)
    frames = []
    scenes = [(1, "2019-01-03"), (2, "2019-01-19"), (3, "2019-02-11"),
              (4, "2019-03-03"), (5, "2019-03-19"), (6, "2019-03-29"),
              (7, "2019-05-11")]
    for sid, day in scenes:
        n = len(locs)
        b4 = rng.uniform(0.02, 0.2, n)
        b5 = b4 + rng.uniform(0.05, 0.6, n)
        i = locs.index(dead)
        b4[i] = b5[i] = 0.0
        # three rows per scene with no usable coordinate: null lon, null
        # lat, NaN lon
        lon = [p[0] for p in locs] + [None, locs[0][0], float("nan")]
        lat = [p[1] for p in locs] + [locs[0][1], None, locs[0][1]]
        frames.append(pd.DataFrame({
            "scene_id": sid, "ts": pd.Timestamp(day + " 02:00"),
            "lon": pd.Series(lon, dtype=object),
            "lat": pd.Series(lat, dtype=object),
            "sr_b4": np.append(b4, [0.1] * 3),
            "sr_b5": np.append(b5, [0.5] * 3),
        }))
    px = pd.concat(frames, ignore_index=True)
    # repeated rows within one scene (scene 1 shares January with scene
    # 2, so counting a repeat twice would move the median)
    repeat = px[(px.scene_id == 1)
                & px.lon.isin([p[0] for p in both[:5]] + [vertex[0]])]
    px = pd.concat([px, repeat], ignore_index=True)
    table = pa.Table.from_pandas(px.drop(columns=["lon", "lat"]),
                                 preserve_index=False)
    for c in ("lon", "lat"):  # keep None null and NaN a NaN
        table = table.append_column(c, pa.array(
            px[c].tolist(), type=pa.float64(), from_pandas=False))
    pq.write_table(table, f"{out}/landsat_pixels.parquet")
    return out


def test_golden_adversarial_matches_per_observation_plan(spark,
                                                         adversarial_dir):
    report = _assert_matches_per_observation(spark, adversarial_dir)
    # the area subtracts the hole the frame's union leaves
    total_ha = _pandas_reference(adversarial_dir)[0]
    assert report["Total Mangrove Area (Ha)"] == f"{total_ha:,.2f}"


def test_golden_dissolves_once(spark, adversarial_dir, monkeypatch):
    """One golden_report call runs union_agg once; the location join and
    the area read its local copy, so their plans hold none of the
    dissolve's pandas stages, and the report frame itself is local."""
    from spatial_data_engineering_spark.plans import golden

    calls, read = [], []
    union_agg, monthly_ndvi, report = (golden.union_agg, golden.monthly_ndvi,
                                       golden.report)

    def counted_union_agg(*a, **k):
        calls.append(1)
        return union_agg(*a, **k)

    def spied_monthly(pixels, dissolved):
        out = monthly_ndvi(pixels, dissolved)
        read.extend([dissolved, out])
        return out

    def spied_report(spark_, monthly, dissolved):
        read.append(dissolved)
        return report(spark_, monthly, dissolved)

    monkeypatch.setattr(golden, "union_agg", counted_union_agg)
    monkeypatch.setattr(golden, "monthly_ndvi", spied_monthly)
    monkeypatch.setattr(golden, "report", spied_report)
    out = golden.golden_report(spark, adversarial_dir)
    assert out.count() == 5
    assert len(calls) == 1
    assert len(read) == 3
    for df in read:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan
        assert "FlatMapGroupsInPandas" not in plan
    assert "LocalRelation" in out._jdf.queryExecution().optimizedPlan().toString()


def test_var_samp_exact_ignores_row_order(spark):
    """The report's variance is one rounding of the exact value, so the
    row order and partitioning of the monthly series cannot move it (the
    golden report's top category and variance string rest on that)."""
    import statistics

    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.plans.golden import var_samp_exact

    xs = np.random.RandomState(3).uniform(0.2, 0.8, 72).tolist()
    rows = ([("a", x) for x in xs] + [("b", 0.5)]
            + [("c", 0.1), ("c", None), ("c", 0.3)])
    df = spark.createDataFrame(rows, "g string, x double")
    want = {"a": statistics.variance(xs), "b": None,
            "c": statistics.variance([0.1, 0.3])}
    for parts, order in ((1, F.asc("x")), (3, F.desc("x")), (7, F.rand(1))):
        got = (df.repartition(parts).orderBy(order).groupBy("g")
               .agg(var_samp_exact("x").alias("v")).collect())
        assert {r["g"]: r["v"] for r in got} == want
