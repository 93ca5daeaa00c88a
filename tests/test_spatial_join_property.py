"""Property test: the grid-bucketed spatial join equals the brute-force
cross join + predicate, for random rectangles and points, across cell
sizes.  This is the invariant that makes the §4 physical strategy safe to
tune — cell size must never change results."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatial_data_engineering_spark.functions import geometry as G
from spatial_data_engineering_spark.functions.st_funcs import (
    st_contains, st_intersects, st_makebox)
from spatial_data_engineering_spark.operators.spatial_join import (
    grid_spatial_join)


def _random_frames(spark, seed: int, n_pts=300, n_boxes=25):
    rng = np.random.RandomState(seed)
    pts = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
        zip(rng.uniform(0, 100, n_pts), rng.uniform(0, 100, n_pts)))]
    boxes = []
    for j in range(n_boxes):
        x0, y0 = rng.uniform(0, 90, 2)
        w, h = rng.uniform(1, 25, 2)
        boxes.append((int(j), float(x0), float(y0), float(x0 + w), float(y0 + h)))
    pts_df = spark.createDataFrame(pts, ["pt_id", "x", "y"])
    box_df = spark.createDataFrame(boxes, ["box_id", "x0", "y0", "x1", "y1"])
    from spatial_data_engineering_spark.functions.st_funcs import (
        st_makebox, st_point)

    pts_df = pts_df.withColumn("geom", st_point("x", "y"))
    box_df = box_df.withColumn("geom", st_makebox("x0", "y0", "x1", "y1"))
    return pts_df, box_df


@pytest.mark.parametrize("seed,cell", [(0, 5.0), (1, 13.0), (2, 40.0)])
def test_grid_join_equals_bruteforce(spark, seed, cell):
    pts, boxes = _random_frames(spark, seed)

    got = (grid_spatial_join(pts, boxes, ["pt_id"], ["box_id"],
                             predicate="contains", cell=cell)
           .select("pt_id", "box_id"))

    brute = (pts.crossJoin(boxes.select("box_id",
                                        F.col("geom").alias("bgeom")))
             .filter(st_contains(F.col("bgeom"), F.col("geom")))
             .select("pt_id", "box_id"))

    g = {(r.pt_id, r.box_id) for r in got.collect()}
    b = {(r.pt_id, r.box_id) for r in brute.collect()}
    assert g == b and len(b) > 0


@pytest.mark.parametrize("cell", [5.0, None])
def test_null_or_nan_coordinates_drop_out(spark, cell):
    """A null lon or a NaN lat makes no point (st_point returns null), so
    the row drops out of the join instead of failing the grid with a NaN
    point it cannot place."""
    from spatial_data_engineering_spark.functions.st_funcs import st_point

    nan = float("nan")
    pts = spark.createDataFrame(
        [(0, 5.0, 5.0), (1, None, 5.0), (2, 5.0, nan), (3, None, nan),
         (4, 15.0, 15.0)],
        "pt_id int, x double, y double").withColumn(
        "geom", st_point("x", "y"))
    boxes = spark.createDataFrame(
        [(0, 0.0, 0.0, 10.0, 10.0), (1, 12.0, 12.0, 20.0, 20.0)],
        "box_id int, x0 double, y0 double, x1 double, y1 double").withColumn(
        "geom", st_makebox("x0", "y0", "x1", "y1"))

    geoms = {r.pt_id: r.geom for r in pts.select("pt_id", "geom").collect()}
    assert {i for i, g in geoms.items() if g is None} == {1, 2, 3}
    # the generic WKB writer is the reference for the vectorized bytes
    assert geoms[0] == G.wkb_dumps(("Point", (5.0, 5.0)))
    assert geoms[4] == G.wkb_dumps(("Point", (15.0, 15.0)))
    got = grid_spatial_join(pts, boxes, ["pt_id"], ["box_id"],
                            predicate="contains", cell=cell)
    assert {(r.pt_id, r.box_id) for r in got.collect()} == {(0, 0), (4, 1)}


def test_grid_join_cell_size_invariance(spark):
    """The result SET must not depend on the grid pitch: explicit cells
    spanning two orders of magnitude and the adaptive p95-extent default
    all agree (the exact refine decides membership; the grid only
    generates candidates)."""
    pts, boxes = _random_frames(spark, 3)

    def pairs(cell):
        df = grid_spatial_join(pts, boxes, ["pt_id"], ["box_id"],
                               predicate="contains", cell=cell)
        return {(r.pt_id, r.box_id) for r in df.select("pt_id", "box_id").collect()}

    base = pairs(0.7)
    assert base  # non-degenerate fixture
    for cell in (7.0, 70.0, None):  # None = adaptive
        assert pairs(cell) == base, cell


def test_grid_join_skew_bounded_duplication(spark):
    """Skew fixture: ONE polygon covering the whole domain among many
    small ones.  With the adaptive cell (p95 of build extents) the huge
    polygon spans many cells but each point lives in exactly one, so raw
    candidate duplication stays one-per-pair for it; total pre-dedup
    candidates stay within a small constant of the exact pair count."""
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.operators.spatial_join import (
        _grid_candidates, adaptive_cell)

    pts, boxes = _random_frames(spark, 11)
    huge = spark.createDataFrame([(999,)], "box_id int").select(
        "box_id", st_makebox(F.lit(-1000.0), F.lit(-1000.0),
                             F.lit(1000.0), F.lit(1000.0)).alias("geom"))
    build = boxes.select("box_id", "geom").unionByName(huge)

    cell = adaptive_cell(build)
    # p95 over {many small extents, one 2000-wide} stays small-sized
    assert cell < 100.0, cell

    n_pts = pts.count()
    n_pairs_exact = (grid_spatial_join(pts, build, ["pt_id"], ["box_id"],
                                       predicate="contains", cell=cell)
                     .count())
    n_cand = _grid_candidates(pts, build, cell, "geom", "geom").count()
    # every point matches the huge polygon, so exact pairs >= n_pts;
    # candidate duplication is bounded: each point is in ONE cell, so it
    # meets the huge polygon once and small polygons only via genuine
    # bbox overlap (at most 4 cells each)
    assert n_pairs_exact >= n_pts
    assert n_cand <= 4 * n_pairs_exact + 4 * n_pts, (n_cand, n_pairs_exact)


def test_grid_join_polygons_intersects_equals_bruteforce(spark):
    _, boxes_a = _random_frames(spark, 7, n_pts=1, n_boxes=20)
    _, boxes_b = _random_frames(spark, 8, n_pts=1, n_boxes=20)
    a = boxes_a.select(F.col("box_id").alias("a_id"), "geom")
    b = boxes_b.select(F.col("box_id").alias("b_id"), "geom")

    got = (grid_spatial_join(a, b, ["a_id"], ["b_id"],
                             predicate="intersects", cell=10.0)
           .select("a_id", "b_id"))
    brute = (a.crossJoin(b.select("b_id", F.col("geom").alias("g2")))
             .filter(st_intersects(F.col("g2"), F.col("geom")))
             .select("a_id", "b_id"))
    assert ({(r.a_id, r.b_id) for r in got.collect()}
            == {(r.a_id, r.b_id) for r in brute.collect()})


def test_union_agg_partitioning_invariant(spark):
    """Two-phase dissolve must be byte-identical however the input rows
    are partitioned (the canonical union makes partials order-free)."""
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.functions.st_funcs import st_makebox
    from spatial_data_engineering_spark.operators.spatial_join import union_agg

    base = (spark.range(300)
            .select((F.col("id") % 3).alias("grp"),
                    st_makebox((F.col("id") / 3).cast("long") * 0.6,
                               (F.col("id") % 3) * 10.0,
                               (F.col("id") / 3).cast("long") * 0.6 + 1.0,
                               (F.col("id") % 3) * 10.0 + 1.0).alias("geom")))

    def run(df):
        rows = union_agg(df, ["grp"], geom_col="geom").collect()
        return {r["grp"]: bytes(r["geom"]) for r in rows}

    # same partial membership, different row order -> byte-identical
    # (union sorts its input set canonically)
    a = run(base.repartition(1))
    a2 = run(base.orderBy(F.desc("id")).repartition(1))
    assert a == a2
    assert set(a) == {0, 1, 2}

    # different partial membership re-nodes at float-noise-different
    # coordinates: across partitionings the guarantee is area + topology
    from spatial_data_engineering_spark.functions import geometry as G
    for other in (run(base.repartition(13, "grp")),
                  run(base.orderBy(F.desc("id")).repartition(7))):
        for grp, wkb in other.items():
            ga, gb = G.wkb_loads(a[grp]), G.wkb_loads(wkb)
            assert ga[0] == gb[0]  # same Polygon/MultiPolygon structure
            assert abs(G.area(ga) - G.area(gb)) < 1e-9


def test_union_agg_combine_guard_passthrough():
    """Phase-1 combine must not blow up on one-group-per-row batches: the
    cardinality guard passes raw WKB through untouched (no per-row
    decode/canonicalize/re-encode), so partial count == row count with
    zero python geometry work."""
    import pandas as pd

    from spatial_data_engineering_spark.operators.spatial_join import (
        _combine_batch)

    # CW shell: a real dissolve would canonicalize to CCW and change the
    # bytes — byte-identity proves the passthrough path ran
    cw = G.wkb_dumps(("Polygon", [[(0.0, 0.0), (0.0, 1.0), (1.0, 1.0),
                                   (1.0, 0.0), (0.0, 0.0)]]))
    pdf = pd.DataFrame({"grp": list(range(64)), "geom": [cw] * 64})
    out = _combine_batch(pdf, ["grp"], "geom", "geom")
    assert len(out) == 64
    assert all(bytes(b) == bytes(cw) for b in out["geom"])

    # low-cardinality batch still combines to one partial per group
    pdf2 = pd.DataFrame({"grp": [0, 0, 1, 1] * 16, "geom": [cw] * 64})
    out2 = _combine_batch(pdf2, ["grp"], "geom", "geom")
    assert sorted(out2["grp"]) == [0, 1]
    assert all(bytes(b) != bytes(cw) for b in out2["geom"])  # canonicalized


def test_union_agg_tree_reduce_bounds_fanin(spark):
    """Depth bounding (SURVEY §7 hard-item #1): when one group's rows
    arrive from more partitions than tree_fanin, a salted intermediate
    dissolve must run so no single task unions all P partials; the
    result stays area-identical to the flat plan."""
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.functions.st_funcs import st_makebox
    from spatial_data_engineering_spark.operators.spatial_join import union_agg

    # ONE group, 300 disjoint unit boxes, spread over 100 partitions ->
    # up to 100 partials converge on a single phase-2 task in the flat
    # plan
    base = (spark.range(300)
            .select(F.lit(0).alias("grp"),
                    st_makebox(F.col("id") * 2.0, F.lit(0.0),
                               F.col("id") * 2.0 + 1.0, F.lit(1.0))
                    .alias("geom"))
            .repartition(100))

    treed = union_agg(base, ["grp"], geom_col="geom", tree_fanin=8)
    flat = union_agg(base, ["grp"], geom_col="geom", tree_fanin=None)

    # plan shape: the salted round adds a second grouped-map stage
    def n_grouped_map(df):
        return df._jdf.queryExecution().executedPlan().toString().count(
            "FlatMapGroupsInPandas")
    assert n_grouped_map(treed) == 2
    assert n_grouped_map(flat) == 1

    rt, rf = treed.collect(), flat.collect()
    assert len(rt) == len(rf) == 1
    at = G.area(G.wkb_loads(bytes(rt[0]["geom"])))
    af = G.area(G.wkb_loads(bytes(rf[0]["geom"])))
    assert abs(at - 300.0) < 1e-9 and abs(af - 300.0) < 1e-9

    # the salt genuinely splits the group: partials land in >1 bucket
    # (crc32 of distinct partial bytes mod ceil(sqrt(100)) = 10 buckets)
    import math

    buckets = int(math.ceil(math.sqrt(100)))
    keep = ["grp"]
    from spatial_data_engineering_spark.operators.spatial_join import (
        _combine_batch)
    partials = base.select("grp", "geom").mapInPandas(
        lambda it: (_combine_batch(pdf, keep, "geom", "geom")
                    for pdf in it if len(pdf)),
        schema="grp int, geom binary")
    n_buckets = (partials
                 .select(F.pmod(F.crc32("geom"), F.lit(buckets))
                         .alias("salt"))
                 .distinct().count())
    assert n_buckets > 1


def test_union_agg_high_cardinality_correct(spark):
    """End-to-end: a one-group-per-row dissolve (guard active in every
    batch) still yields the correct per-group union."""
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.functions.st_funcs import st_makebox
    from spatial_data_engineering_spark.operators.spatial_join import union_agg

    base = (spark.range(200)
            .select(F.col("id").alias("grp"),
                    st_makebox(F.col("id") * 2.0, F.lit(0.0),
                               F.col("id") * 2.0 + 1.0, F.lit(1.0))
                    .alias("geom")))
    rows = union_agg(base, ["grp"], geom_col="geom").collect()
    assert len(rows) == 200
    areas = {r["grp"]: G.area(G.wkb_loads(bytes(r["geom"]))) for r in rows}
    assert all(abs(a - 1.0) < 1e-12 for a in areas.values())


@pytest.mark.parametrize("seed,d,cell", [(0, 3.0, None), (1, 7.5, 4.0),
                                         (2, 0.5, 25.0)])
def test_distance_join_equals_bruteforce(spark, seed, d, cell):
    """distance_join must equal crossJoin + ST_DWithin for every pitch,
    including the adaptive default — the padded-cell candidate generation
    can only add candidates, never lose a within-d pair."""
    from spatial_data_engineering_spark.functions.st_funcs import st_dwithin
    from spatial_data_engineering_spark.operators.spatial_join import (
        distance_join)

    pts, boxes = _random_frames(spark, seed)
    got = (distance_join(pts, boxes, d, ["pt_id"], ["box_id"], cell=cell)
           .select("pt_id", "box_id"))
    brute = (pts.crossJoin(boxes.select("box_id",
                                        F.col("geom").alias("bgeom")))
             .filter(st_dwithin(F.col("geom"), F.col("bgeom"), F.lit(d)))
             .select("pt_id", "box_id"))
    g = {(r.pt_id, r.box_id) for r in got.collect()}
    b = {(r.pt_id, r.box_id) for r in brute.collect()}
    assert g == b and len(b) > 0


@pytest.mark.parametrize("seed,d", [(0, 10.0), (1, 25.0)])
def test_nearest_join_equals_bruteforce(spark, seed, d):
    """nearest_join must pick exactly the brute-force argmin (distance,
    box_id) for every point that has any box within d."""
    from spatial_data_engineering_spark.functions.st_funcs import st_distance
    from spatial_data_engineering_spark.operators.spatial_join import (
        nearest_join)

    pts, boxes = _random_frames(spark, seed)
    got = {(r.pt_id, r.box_id, round(r.nn_distance, 9))
           for r in nearest_join(pts, boxes, d, ["pt_id"], ["box_id"])
           .select("pt_id", "box_id", "nn_distance").collect()}

    brute = (pts.crossJoin(boxes.select("box_id",
                                        F.col("geom").alias("bgeom")))
             .withColumn("dist", st_distance(F.col("geom"), F.col("bgeom")))
             .filter(F.col("dist") <= d).collect())
    best: dict = {}
    for r in brute:
        k = (r.dist, r.box_id)
        if r.pt_id not in best or k < best[r.pt_id]:
            best[r.pt_id] = k
    exp = {(p, b, round(dist, 9)) for p, (dist, b) in best.items()}
    assert got == exp and len(exp) > 0
