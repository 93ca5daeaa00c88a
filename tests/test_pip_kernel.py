"""Differential tests for the broadcast join's point-in-polygon kernel:
``G.points_in_polygons`` must equal the scalar ``G.point_in_polygon``
for every (point, geometry) pair, and ``_match_probes`` must equal the
per-pair predicate (``G.contains`` / ``G.intersects``) for every probe
and build row — on vertices, edges, grid lines, concave rings, holes
and multipolygons, and for the probes the vectorized point decode does
not take."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from spatial_data_engineering_spark.functions import geometry as G
from spatial_data_engineering_spark.operators import spatial_join as SJ
from spatial_data_engineering_spark.operators.spatial_join import (
    _Build, _match_probes)

# a concave (notched) ring, a box with a clockwise hole and an island
# part inside that hole, and a triangle — laid out once near the origin
# and once at UTM-sized coordinates, where rounding differs
_NOTCH = [(0.0, 0.0), (6.0, 0.0), (6.0, 6.0), (4.0, 6.0), (3.0, 2.5),
          (2.0, 6.0), (0.0, 6.0), (0.0, 0.0)]
_FRAME = [(10.0, 0.0), (20.0, 0.0), (20.0, 10.0), (10.0, 10.0), (10.0, 0.0)]
_HOLE = [(12.0, 2.0), (12.0, 8.0), (18.0, 8.0), (18.0, 2.0), (12.0, 2.0)]
_ISLAND = [(14.0, 4.0), (16.0, 4.0), (16.0, 6.0), (14.0, 6.0), (14.0, 4.0)]
_TRI = [(22.0, 0.0), (30.0, 1.0), (25.0, 9.0), (22.0, 0.0)]


def _shift(ring, dx, dy):
    return [(x + dx, y + dy) for x, y in ring]


def _geoms(dx=0.0, dy=0.0):
    return [
        ("Polygon", [_shift(_NOTCH, dx, dy)]),
        ("Polygon", [_shift(_FRAME, dx, dy), _shift(_HOLE, dx, dy)]),
        ("MultiPolygon", [[_shift(_FRAME, dx, dy), _shift(_HOLE, dx, dy)],
                          [_shift(_ISLAND, dx, dy)],
                          [_shift(_TRI, dx, dy)]]),
        ("Polygon", [_shift(_TRI[:-1], dx, dy)]),  # unclosed ring
    ]


def _probe_points(geoms, seed):
    """Random points over the build extent, every vertex, points along
    every edge, points on the grid lines through the vertices, and
    points a hair off the vertices."""
    rng = np.random.RandomState(seed)
    b = np.array([G.bounds(g) for g in geoms])
    x0, y0, x1, y1 = b[:, 0].min(), b[:, 1].min(), b[:, 2].max(), b[:, 3].max()
    pts = list(zip(rng.uniform(x0 - 1, x1 + 1, 400),
                   rng.uniform(y0 - 1, y1 + 1, 400)))
    verts = {p for g in geoms for rings in G._iter_polys(g)
             for ring in rings for p in ring}
    pts += sorted(verts)
    for g in geoms:
        for rings in G._iter_polys(g):
            for (ax, ay), (bx, by) in G._segments(rings):
                pts += [(ax + t * (bx - ax), ay + t * (by - ay))
                        for t in (0.25, 1 / 3, 0.5)]
    for vx, vy in sorted(verts):
        pts += [(vx, float(v)) for v in rng.uniform(y0 - 1, y1 + 1, 3)]
        pts += [(float(u), vy) for u in rng.uniform(x0 - 1, x1 + 1, 3)]
        pts += [(vx + d, vy) for d in (1e-13, -1e-13, 1e-11, -1e-11)]
        pts += [(vx, vy + d) for d in (1e-13, -1e-13, 1e-11, -1e-11)]
    return [(float(x), float(y)) for x, y in pts]


def _pip(pts, which, geoms):
    xs = np.array([p[0] for p in pts], dtype=np.float64)
    ys = np.array([p[1] for p in pts], dtype=np.float64)
    return G.points_in_polygons(xs, ys, np.asarray(which, dtype=np.int64),
                                G.ring_table(geoms)).tolist()


@pytest.mark.parametrize("chunk", [1 << 19, 7])
@pytest.mark.parametrize("dx,dy", [(0.0, 0.0), (476400.0, 9873300.0)])
def test_points_in_polygons_equals_scalar(dx, dy, chunk, monkeypatch):
    monkeypatch.setattr(G, "_PIP_CHUNK", chunk)
    geoms = _geoms(dx, dy)
    pts = _probe_points(geoms, seed=int(dx) % 97)
    for j, g in enumerate(geoms):
        want = [G.point_in_polygon(x, y, g) for x, y in pts]
        assert _pip(pts, [j] * len(pts), geoms) == want
        assert any(want) and not all(want)
    # every pair at once, the geometries interleaved
    which = [k % len(geoms) for k in range(len(pts))]
    assert _pip(pts, which, geoms) == [
        G.point_in_polygon(x, y, geoms[j]) for (x, y), j in zip(pts, which)]


def _brute(wkbs, build, predicate):
    pred = G.contains if predicate == "contains" else G.intersects
    return [[] if w is None else
            [j for j, g in enumerate(build)
             if g is not None and pred(g, G.wkb_loads(w))]
            for w in wkbs]


@pytest.mark.parametrize("pair_chunk", [1 << 20, 5])
@pytest.mark.parametrize("predicate", ["contains", "intersects"])
@pytest.mark.parametrize("dx,dy", [(0.0, 0.0), (476400.0, 9873300.0)])
def test_match_probes_equals_per_pair_predicate(predicate, dx, dy,
                                                pair_chunk, monkeypatch):
    monkeypatch.setattr(SJ, "_PAIR_CHUNK", pair_chunk)
    geoms = _geoms(dx, dy)
    build = geoms + [None]  # a null build geometry matches nothing
    pts = _probe_points(geoms, seed=5)
    wkbs = [G.wkb_dumps(("Point", p)) for p in pts]
    # probes the vectorized decode does not take: a null, big-endian
    # points (one of them on a vertex) and polygons
    vx, vy = _NOTCH[4][0] + dx, _NOTCH[4][1] + dy
    wkbs += [None,
             struct.pack(">BIdd", 0, 1, vx, vy),
             struct.pack(">BIdd", 0, 1, 15.0 + dx, 5.0 + dy),
             G.wkb_dumps(G.make_box(14.5 + dx, 4.5 + dy, 15.5 + dx, 5.5 + dy)),
             G.wkb_dumps(G.make_box(1.0 + dx, 1.0 + dy, 2.0 + dx, 2.0 + dy)),
             G.wkb_dumps(G.make_box(-5.0 + dx, -5.0 + dy,
                                    40.0 + dx, 40.0 + dy))]
    want = _brute(wkbs, build, predicate)
    got = _match_probes(wkbs, _Build(
        [None if g is None else G.wkb_dumps(g) for g in build]), predicate)
    assert got == want
    assert sum(map(len, want[-6:])) > 0  # the slow-path probes match


@pytest.mark.parametrize("predicate", ["contains", "intersects"])
def test_match_probes_empty_build_and_all_null(predicate):
    pts = [G.wkb_dumps(("Point", (1.0, 2.0))),
           struct.pack(">BIdd", 0, 1, 1.0, 2.0), None,
           G.wkb_dumps(G.make_box(0.0, 0.0, 1.0, 1.0))]
    assert _match_probes(pts, _Build([]), predicate) == [[]] * 4
    build = _Build([G.wkb_dumps(G.make_box(0.0, 0.0, 5.0, 5.0))])
    assert _match_probes([None, None], build, predicate) == [[], []]
    assert _match_probes([], build, predicate) == []


coord = st.floats(min_value=-50, max_value=50, allow_nan=False,
                  allow_infinity=False)


ring = st.lists(st.tuples(coord, coord), min_size=3, max_size=9)


@settings(max_examples=60, deadline=None)
@given(parts=st.lists(st.lists(ring, min_size=1, max_size=3), min_size=1,
                      max_size=3),
       pts=st.lists(st.tuples(coord, coord), min_size=1, max_size=40))
def test_points_in_polygons_equals_scalar_random_rings(parts, pts):
    """Arbitrary (possibly self-intersecting, overlapping) shells and
    holes in one or more parts: the vectorized kernel decides rings and
    parts in the scalar one's order, so it agrees even where the
    geometry is invalid.  Every ring's own vertices are probed too."""
    g = ("MultiPolygon", [[r + [r[0]] for r in rings] for rings in parts])
    pts = pts + [p for rings in parts for r in rings for p in r]
    want = [G.point_in_polygon(x, y, g) for x, y in pts]
    assert _pip(pts, [0] * len(pts), [g]) == want
