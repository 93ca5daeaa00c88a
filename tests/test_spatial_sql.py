"""The SQL ST_ surface: every name ``st_funcs.register_all`` registers is
driven through ``spark.sql`` on a polygon with a hole, a multipolygon and
a point, and each result is compared with the ``geometry``-level function
on the same WKB (SURVEY.md §2 G1, G3-G9, plus the constructors and the
grid-cell bucketing the spatial join uses)."""

from __future__ import annotations

import pytest
from pyspark.errors import PythonException

from spatial_data_engineering_spark.functions import crs
from spatial_data_engineering_spark.functions import geometry as G
from spatial_data_engineering_spark.functions.st_funcs import (_ALL,
                                                               register_all)

SHAPES = {
    "hole": "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
    "multi": ("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)),"
              " ((2.5 2.5, 3.5 2.5, 3.5 3.5, 2.5 3.5, 2.5 2.5)))"),
    "point": "POINT (3 3)",
}


def _transformed(geom, src: int, dst: int):
    """geometry-level reprojection: crs.transform_xy per ring."""
    def rings(rs):
        out = []
        for ring in rs:
            tx, ty = crs.transform_xy([p[0] for p in ring],
                                      [p[1] for p in ring], src, dst)
            out.append(list(zip(tx.tolist(), ty.tolist())))
        return out

    kind, body = geom
    if kind == "Point":
        tx, ty = crs.transform_xy([body[0]], [body[1]], src, dst)
        return ("Point", (float(tx[0]), float(ty[0])))
    if kind == "Polygon":
        return ("Polygon", rings(body))
    return ("MultiPolygon", [rings(rs) for rs in body])


@pytest.fixture(scope="module")
def st_sql(spark):
    register_all(spark)
    spark.createDataFrame(list(SHAPES.items()), "name string, wkt string") \
        .createOrReplaceTempView("st_shapes")
    yield spark
    spark.catalog.dropTempView("st_shapes")


def test_sql_st_surface_matches_geometry(st_sql):
    driven = set()

    def sql(text, *names):
        driven.update(names)
        return st_sql.sql(text).collect()

    rows = sql("""
        SELECT name, wkt, g,
               ST_AsText(ST_GeomFromText(wkt)) AS txt,
               ST_GeometryType(g) AS typ,
               ST_Area(g) AS area,
               ST_Centroid(g) AS cen,
               ST_Envelope(g) AS env,
               ST_Transform(g, 4326, 3857) AS merc,
               ST_GridCells(g, CAST(2.0 AS DOUBLE)) AS cells
        FROM (SELECT name, wkt, ST_GeomFromText(wkt) AS g FROM st_shapes)
        """, "ST_GeomFromText", "ST_AsText", "ST_GeometryType", "ST_Area",
        "ST_Centroid", "ST_Envelope", "ST_Transform", "ST_GridCells")
    assert sorted(r["name"] for r in rows) == sorted(SHAPES)
    by_name = {}
    for r in rows:
        geom = G.wkb_loads(bytes(r["g"]))
        by_name[r["name"]] = geom
        assert geom == G.wkt_loads(r["wkt"])
        assert bytes(r["g"]) == G.wkb_dumps(G.wkt_loads(r["wkt"]))
        assert r["txt"] == G.wkt_dumps(G.wkt_loads(r["wkt"]))
        assert G.wkt_loads(r["txt"]) == geom
        assert r["typ"] == G.geom_type(geom)
        assert r["area"] == G.area(geom)
        assert G.wkb_loads(bytes(r["cen"])) == ("Point", G.centroid(geom))
        assert tuple(r["env"]) == G.bounds(geom)
        assert G.wkb_loads(bytes(r["merc"])) == _transformed(geom, 4326, 3857)
        assert r["cells"] == [f"{ix}_{iy}" for ix, iy
                              in G.grid_cells(G.bounds(geom), 2.0)]
    assert [r["typ"] for r in sorted(rows, key=lambda r: r["name"])] == [
        "Polygon", "MultiPolygon", "Point"]
    hole = next(r for r in rows if r["name"] == "hole")
    assert hole["area"] == 15.0 and len(hole["cells"]) == 9

    # exterior rings of the polygonal shapes (the Point case raises, below)
    for r in sql("""
            SELECT name, ST_ExteriorCoords(ST_GeomFromText(wkt)) AS ext
            FROM st_shapes WHERE name <> 'point'""", "ST_ExteriorCoords"):
        assert r["ext"] == G.exterior_coords(by_name[r["name"]])

    # predicates: each polygonal container against every shape
    pairs = sql("""
        SELECT a.name AS a, b.name AS b,
               ST_Contains(ST_GeomFromText(a.wkt),
                           ST_GeomFromText(b.wkt)) AS c,
               ST_Intersects(ST_GeomFromText(a.wkt),
                             ST_GeomFromText(b.wkt)) AS i
        FROM st_shapes a CROSS JOIN st_shapes b WHERE a.name <> 'point'
        """, "ST_Contains", "ST_Intersects")
    assert len(pairs) == 6
    for r in pairs:
        ga, gb = by_name[r["a"]], by_name[r["b"]]
        assert r["c"] == G.contains(ga, gb)
        assert r["i"] == G.intersects(ga, gb)
    got = {(r["a"], r["b"]): (r["c"], r["i"]) for r in pairs}
    assert got[("hole", "point")] == (True, True)
    assert got[("hole", "multi")] == (True, True)  # corner touch allowed
    assert got[("multi", "hole")] == (False, True)

    # constructors
    (r,) = sql("""
        SELECT ST_Point(CAST(3 AS DOUBLE), CAST(3 AS DOUBLE)) AS p,
               ST_MakeBox(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                          CAST(4 AS DOUBLE), CAST(4 AS DOUBLE)) AS box
        """, "ST_Point", "ST_MakeBox")
    assert bytes(r["p"]) == G.wkb_dumps(("Point", (3.0, 3.0)))
    assert G.wkb_loads(bytes(r["p"])) == by_name["point"]
    assert bytes(r["box"]) == G.wkb_dumps(G.make_box(0.0, 0.0, 4.0, 4.0))

    assert driven == set(_ALL)


def test_sql_exterior_coords_rejects_point(st_sql):
    with pytest.raises(PythonException,
                       match="Unsupported geometry type: Point"):
        st_sql.sql("SELECT ST_ExteriorCoords(ST_GeomFromText(wkt)) "
                   "FROM st_shapes WHERE name = 'point'").collect()
