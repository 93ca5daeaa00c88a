"""Pure-Python/numpy geometry kernel: WKB/WKT codec + planar predicates.

The engine's geometry convention (SURVEY.md §1.2): geometry travels as WKB
in a ``BinaryType`` column, CRS in column metadata.  This module is the
computational core behind the ST_* pandas UDFs — the container has no
shapely/GEOS, and nothing here needs it: the reference exercises only
Point/Polygon/MultiPolygon with planar predicates (SURVEY.md §2 G), all
implementable with the standard published algorithms (shoelace area, ray
casting, segment intersection).

Geometry in memory is a tagged tuple:
    ("Point", (x, y))
    ("Polygon", [ring, ...])           ring = [(x, y), ...] closed
    ("MultiPolygon", [[ring, ...], ...])

Geometry subtype policy mirrors the reference: Polygon / MultiPolygon
(+Point for the cells-as-points raster model); anything else raises
ValueError exactly like convert_geom_to_gee (load_report.py:51-57).
"""

from __future__ import annotations

import bisect
import math
import struct
from typing import NamedTuple

import numpy as np

_WKB_POINT = 1
_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6

_TYPE_BY_CODE = {_WKB_POINT: "Point", _WKB_POLYGON: "Polygon",
                 _WKB_MULTIPOLYGON: "MultiPolygon"}
_CODE_BY_TYPE = {v: k for k, v in _TYPE_BY_CODE.items()}


# ------------------------------------------------------------------ WKB --

def wkb_dumps(geom) -> bytes:
    """Little-endian ISO WKB."""
    kind, body = geom
    out = [b"\x01", struct.pack("<I", _CODE_BY_TYPE[kind])]
    if kind == "Point":
        out.append(struct.pack("<dd", *body))
    elif kind == "Polygon":
        out.append(_pack_rings(body))
    elif kind == "MultiPolygon":
        out.append(struct.pack("<I", len(body)))
        for rings in body:
            out.append(b"\x01")
            out.append(struct.pack("<I", _WKB_POLYGON))
            out.append(_pack_rings(rings))
    else:  # pragma: no cover - guarded by _CODE_BY_TYPE lookup
        raise ValueError(f"unsupported geometry type {kind!r}")
    return b"".join(out)


def _pack_rings(rings) -> bytes:
    out = [struct.pack("<I", len(rings))]
    for ring in rings:
        out.append(struct.pack("<I", len(ring)))
        for x, y in ring:
            out.append(struct.pack("<dd", x, y))
    return b"".join(out)


def wkb_loads(buf: bytes):
    geom, _ = _parse_geom(buf, 0)
    return geom


def _parse_geom(buf: bytes, off: int):
    little = buf[off] == 1
    fmt = "<" if little else ">"
    code = struct.unpack_from(fmt + "I", buf, off + 1)[0]
    off += 5
    # Full-code lookup, no flag masking: EWKB (SRID/Z/M flag bits set) and
    # corrupt input must fail loudly — masking with 0xFF silently accepted
    # EWKB and then read the SRID as a ring count, allocating gigabytes.
    kind = _TYPE_BY_CODE.get(code)
    if kind is None:
        if code & 0xE0000000 or code >= 1000:
            raise ValueError(
                f"unsupported WKB variant (code 0x{code:08x}); EWKB/Z/M "
                "geometries are not part of the engine's convention")
        raise ValueError(f"unsupported WKB geometry code {code}")
    if kind == "Point":
        x, y = struct.unpack_from(fmt + "dd", buf, off)
        return ("Point", (x, y)), off + 16
    if kind == "Polygon":
        rings, off = _parse_rings(buf, off, fmt)
        return ("Polygon", rings), off
    n = struct.unpack_from(fmt + "I", buf, off)[0]
    off += 4
    if n > (len(buf) - off) // 9:  # each member needs >= 9 bytes
        raise ValueError(f"corrupt WKB: {n} MultiPolygon members exceed buffer")
    polys = []
    for _ in range(n):
        (k2, rings), off = _parse_geom(buf, off)
        if k2 != "Polygon":
            raise ValueError("MultiPolygon member must be Polygon")
        polys.append(rings)
    return ("MultiPolygon", polys), off


def _parse_rings(buf: bytes, off: int, fmt: str):
    n_rings = struct.unpack_from(fmt + "I", buf, off)[0]
    off += 4
    if n_rings > (len(buf) - off) // 4:
        raise ValueError(f"corrupt WKB: {n_rings} rings exceed buffer")
    rings = []
    for _ in range(n_rings):
        n_pts = struct.unpack_from(fmt + "I", buf, off)[0]
        off += 4
        if 16 * n_pts > len(buf) - off:
            raise ValueError(f"corrupt WKB: {n_pts} points exceed buffer")
        coords = struct.unpack_from(fmt + "d" * (2 * n_pts), buf, off)
        off += 16 * n_pts
        rings.append(list(zip(coords[0::2], coords[1::2])))
    return rings, off


# ------------------------------------------------------------------ WKT --

def wkt_dumps(geom) -> str:
    kind, body = geom
    if kind == "Point":
        return f"POINT ({body[0]} {body[1]})"
    if kind == "Polygon":
        return f"POLYGON {_rings_wkt(body)}"
    if kind == "MultiPolygon":
        inner = ", ".join(_rings_wkt(rings) for rings in body)
        return f"MULTIPOLYGON ({inner})"
    raise ValueError(f"unsupported geometry type {kind!r}")


def _rings_wkt(rings) -> str:
    ring_strs = [
        "(" + ", ".join(f"{x} {y}" for x, y in ring) + ")" for ring in rings
    ]
    return "(" + ", ".join(ring_strs) + ")"


def wkt_loads(text: str):
    s = text.strip()
    upper = s.upper()
    if upper.startswith("MULTIPOLYGON"):
        body = s[s.index("(") :]
        polys = [_parse_ring_group(_strip_parens(g))
                 for g in _split_groups(_strip_parens(body))]
        return ("MultiPolygon", polys)
    if upper.startswith("POLYGON"):
        body = s[s.index("(") :]
        return ("Polygon", _parse_ring_group(_strip_parens(body)))
    if upper.startswith("POINT"):
        body = _strip_parens(s[s.index("(") :])
        x, y = body.split()
        return ("Point", (float(x), float(y)))
    raise ValueError(f"unsupported WKT: {text[:40]!r}")


def _strip_parens(s: str) -> str:
    s = s.strip()
    assert s[0] == "(" and s[-1] == ")", s[:30]
    return s[1:-1]


def _split_groups(s: str):
    """Split 'a),(b' style top-level comma-separated paren groups."""
    groups, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            groups.append(s[start:i].strip())
            start = i + 1
    groups.append(s[start:].strip())
    return [g for g in groups if g]


def _parse_ring_group(s: str):
    rings = []
    for ring_str in _split_groups(s):
        pts = []
        for pair in _strip_parens(ring_str).split(","):
            x, y = pair.split()
            pts.append((float(x), float(y)))
        rings.append(pts)
    return rings


# ----------------------------------------------------------- predicates --

def _iter_polys(geom):
    kind, body = geom
    if kind == "Polygon":
        yield body
    elif kind == "MultiPolygon":
        yield from body
    else:
        raise ValueError(f"expected polygonal geometry, got {kind}")


def _ring_area(ring) -> float:
    """Signed shoelace area, computed relative to the first vertex —
    translation invariance avoids the catastrophic cancellation of raw
    cross products for small rings far from the origin (UTM coordinates
    are ~1e7; hypothesis found 1e-6-relative errors without this)."""
    ox, oy = ring[0]
    a = 0.0
    n = len(ring)
    for i in range(n - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        a += (x1 - ox) * (y2 - oy) - (x2 - ox) * (y1 - oy)
    # tolerate unclosed rings
    if ring[0] != ring[-1]:
        x1, y1 = ring[-1]
        a += (x1 - ox) * (ring[0][1] - oy) - (ring[0][0] - ox) * (y1 - oy)
    return a / 2.0


def area(geom) -> float:
    """Planar area; interior rings (holes) subtract (PostGIS ST_Area)."""
    if geom[0] == "Point":
        return 0.0
    total = 0.0
    for rings in _iter_polys(geom):
        for i, ring in enumerate(rings):
            a = abs(_ring_area(ring))
            total += a if i == 0 else -a
    return total


def bounds(geom):
    kind, body = geom
    if kind == "Point":
        x, y = body
        return (x, y, x, y)
    xs, ys = [], []
    for rings in _iter_polys(geom):
        for x, y in rings[0]:
            xs.append(x)
            ys.append(y)
    return (min(xs), min(ys), max(xs), max(ys))


def centroid(geom):
    """Area-weighted centroid of polygonal geometry (shell rings minus
    holes); for Point returns the point.  Coordinates are translated to
    the first vertex before the cross products (same cancellation hygiene
    as _ring_area) and translated back at the end."""
    if geom[0] == "Point":
        return geom[1]
    ox, oy = next(_iter_polys(geom))[0][0]
    sa = sx = sy = 0.0
    for rings in _iter_polys(geom):
        for i, ring in enumerate(rings):
            r = [(x - ox, y - oy) for x, y in ring]
            if r[0] != r[-1]:
                r.append(r[0])
            a = cx = cy = 0.0
            for j in range(len(r) - 1):
                x1, y1 = r[j]
                x2, y2 = r[j + 1]
                cross = x1 * y2 - x2 * y1
                a += cross
                cx += (x1 + x2) * cross
                cy += (y1 + y2) * cross
            # normalize stored winding: shells contribute +|a|, holes
            # -|a|, with cx/cy flipped consistently — index-only sign
            # flipping ADDED standard CW-wound holes instead of
            # subtracting them
            want = 1.0 if i == 0 else -1.0
            flip = want if a >= 0 else -want
            sa += flip * a
            sx += flip * cx
            sy += flip * cy
    if sa == 0:  # degenerate: fall back to vertex mean of first shell
        ring = next(_iter_polys(geom))[0]
        return (sum(p[0] for p in ring) / len(ring),
                sum(p[1] for p in ring) / len(ring))
    return (sx / (3.0 * sa) + ox, sy / (3.0 * sa) + oy)


def point_in_polygon(x: float, y: float, geom) -> bool:
    """Even-odd ray casting; boundary points count as inside."""
    for rings in _iter_polys(geom):
        inside = False
        for i, ring in enumerate(rings):
            hit = _point_in_ring(x, y, ring)
            if hit == 2:  # on boundary of any ring -> inside the polygon
                return True
            if i == 0:
                if not hit:
                    break
                inside = True
            elif hit:
                inside = False  # inside a hole
                break
        if inside:
            return True
    return False


def _point_in_ring(x: float, y: float, ring) -> int:
    """0 outside, 1 inside, 2 on boundary."""
    r = list(ring)
    if r[0] != r[-1]:
        r.append(r[0])
    inside = False
    for i in range(len(r) - 1):
        x1, y1 = r[i]
        x2, y2 = r[i + 1]
        # boundary check: collinear + within segment bbox
        cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
        if (abs(cross) < 1e-12 * max(1.0, abs(x2 - x1) + abs(y2 - y1))
                and min(x1, x2) - 1e-12 <= x <= max(x1, x2) + 1e-12
                and min(y1, y2) - 1e-12 <= y <= max(y1, y2) + 1e-12):
            return 2
        if (y1 > y) != (y2 > y):
            xin = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
            if xin > x:
                inside = not inside
    return 1 if inside else 0


class RingTable(NamedTuple):
    """The rings of a list of geometries flattened for
    ``points_in_polygons``.  Geometry j owns rings
    ``geom_ring0[j]:geom_ring0[j + 1]`` and edges
    ``geom_edge0[j]:geom_edge0[j + 1]``, each part's shell before its
    holes, in the order ``point_in_polygon`` visits them; a point or a
    None owns none."""
    edges: np.ndarray       # (E, 4) x1, y1, x2, y2 of each closed ring
    edge_ylo: np.ndarray    # (E,) min(y1, y2) - 1e-12
    edge_yhi: np.ndarray    # (E,) max(y1, y2) + 1e-12
    edge_ring: np.ndarray   # (E,) ring of each edge
    ring_shell: np.ndarray  # (R,) the ring is its part's shell
    geom_edge0: np.ndarray  # (n + 1,) edge offsets
    geom_ring0: np.ndarray  # (n + 1,) ring offsets


def ring_table(geoms) -> RingTable:
    """The ``RingTable`` of a list of geometries (polygonal, points or
    None)."""
    edges, edge_ring, ring_shell = [], [], []
    geom_edge0, geom_ring0 = [0], [0]
    for g in geoms:
        if g is not None and g[0] != "Point":
            for rings in _iter_polys(g):
                for i, ring in enumerate(rings):
                    r = list(ring)
                    if r[0] != r[-1]:  # closed as _point_in_ring closes it
                        r.append(r[0])
                    edges += [(x1, y1, x2, y2)
                              for (x1, y1), (x2, y2) in zip(r, r[1:])]
                    edge_ring += [len(ring_shell)] * (len(r) - 1)
                    ring_shell.append(i == 0)
        geom_edge0.append(len(edges))
        geom_ring0.append(len(ring_shell))
    e = np.array(edges, dtype=np.float64).reshape(-1, 4)
    return RingTable(e, np.minimum(e[:, 1], e[:, 3]) - 1e-12,
                     np.maximum(e[:, 1], e[:, 3]) + 1e-12,
                     np.array(edge_ring, dtype=np.int64),
                     np.array(ring_shell, dtype=bool),
                     np.array(geom_edge0, dtype=np.int64),
                     np.array(geom_ring0, dtype=np.int64))


# (point, edge) rows ``points_in_polygons`` evaluates at once: ~40 MB of
# float64 temporaries per chunk
_PIP_CHUNK = 1 << 19


def points_in_polygons(xs, ys, which, table: RingTable):
    """``point_in_polygon(xs[k], ys[k], geoms[which[k]])`` for every k,
    with ``table = ring_table(geoms)``: each (point, edge) row is one
    element of one numpy pass, so the cost is the edges of the pairs
    asked about, not of the whole table.  Per row the same IEEE
    operations in the same order as ``_point_in_ring``, and rings and
    parts decided as ``point_in_polygon`` decides them, so each result
    equals the scalar one exactly."""
    which = np.asarray(which, dtype=np.int64)
    ne = table.geom_edge0[which + 1] - table.geom_edge0[which]
    ends = np.cumsum(ne)
    out = np.zeros(len(which), dtype=bool)
    k = 0
    while k < len(which):
        base = ends[k - 1] if k else 0
        stop = max(k + 1, int(np.searchsorted(ends, base + _PIP_CHUNK,
                                              side="right")))
        out[k:stop] = _pip_rows(xs[k:stop], ys[k:stop], which[k:stop],
                                table)
        k = stop
    return out


def _pip_rows(xs, ys, which, t: RingTable):
    n = len(which)
    e0 = t.geom_edge0[which]
    ne = t.geom_edge0[which + 1] - e0
    r0 = t.geom_ring0[which]
    nr = t.geom_ring0[which + 1] - r0
    pair = np.repeat(np.arange(n), ne)
    e = np.repeat(e0 - (np.cumsum(ne) - ne), ne) + np.arange(len(pair))
    # only an edge whose y span (with the boundary tolerance) holds the
    # point can have it on its boundary or cross its ray
    y = ys[pair]
    near = (t.edge_ylo[e] <= y) & (y <= t.edge_yhi[e])
    pair, e, y = pair[near], e[near], y[near]
    x = xs[pair]
    x1, y1, x2, y2 = t.edges[e].T
    cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
    on_edge = ((np.abs(cross) < 1e-12 * np.maximum(1.0, np.abs(x2 - x1)
                                                    + np.abs(y2 - y1)))
               & (np.minimum(x1, x2) - 1e-12 <= x)
               & (x <= np.maximum(x1, x2) + 1e-12))
    with np.errstate(all="ignore"):  # level edges: masked by the straddle
        xin = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
    flip = ((y1 > y) != (y2 > y)) & (xin > x)
    # one row per (point, ring): 2 on its boundary, else the ray parity
    rbase = np.cumsum(nr) - nr
    seg = (rbase - r0)[pair] + t.edge_ring[e]
    nseg = int(nr.sum())
    status = np.where(np.bincount(seg, on_edge, nseg) > 0, 2,
                      np.bincount(seg, flip, nseg).astype(np.int64) % 2)
    ring = np.repeat(r0 - rbase, nr) + np.arange(nseg)
    shell = t.ring_shell[ring]
    part = np.cumsum(shell) - 1
    # a part holds the point on its shell's boundary, or inside its shell
    # unless the first hole the point is not outside of has it inside
    hole = np.zeros(int(shell.sum()), dtype=np.int64)
    h = np.flatnonzero(~shell & (status != 0))
    first_part, first = np.unique(part[h], return_index=True)
    hole[first_part] = status[h[first]]
    s0 = status[shell]
    inside = (s0 == 2) | ((s0 == 1) & (hole != 1))
    out = np.zeros(n, dtype=bool)
    out[np.repeat(np.arange(n), nr)[shell][inside]] = True
    return out


def _segments(rings):
    for ring in rings:
        r = list(ring)
        if r[0] != r[-1]:
            r.append(r[0])
        for i in range(len(r) - 1):
            yield r[i], r[i + 1]


def _orient(a, b, c) -> int:
    """Sign of the turn a -> b -> c (0 within the 1e-12 tolerance)."""
    v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    if abs(v) < 1e-12:
        return 0
    return 1 if v > 0 else -1


def _seg_intersect(p1, p2, p3, p4) -> bool:
    def on_seg(a, b, c):
        return (min(a[0], b[0]) - 1e-12 <= c[0] <= max(a[0], b[0]) + 1e-12
                and min(a[1], b[1]) - 1e-12 <= c[1] <= max(a[1], b[1]) + 1e-12)

    o1, o2 = _orient(p1, p2, p3), _orient(p1, p2, p4)
    o3, o4 = _orient(p3, p4, p1), _orient(p3, p4, p2)
    if o1 != o2 and o3 != o4:
        return True
    if o1 == 0 and on_seg(p1, p2, p3):
        return True
    if o2 == 0 and on_seg(p1, p2, p4):
        return True
    if o3 == 0 and on_seg(p3, p4, p1):
        return True
    if o4 == 0 and on_seg(p3, p4, p2):
        return True
    return False


def intersects(ga, gb) -> bool:
    """Polygon/MultiPolygon/Point pairwise intersection test."""
    if ga[0] == "Point" and gb[0] == "Point":
        return ga[1] == gb[1]
    if ga[0] == "Point":
        return point_in_polygon(ga[1][0], ga[1][1], gb)
    if gb[0] == "Point":
        return point_in_polygon(gb[1][0], gb[1][1], ga)
    axmin, aymin, axmax, aymax = bounds(ga)
    bxmin, bymin, bxmax, bymax = bounds(gb)
    if axmax < bxmin or bxmax < axmin or aymax < bymin or bymax < aymin:
        return False
    # vertex containment either way
    for rings in _iter_polys(ga):
        x, y = rings[0][0]
        if point_in_polygon(x, y, gb):
            return True
    for rings in _iter_polys(gb):
        x, y = rings[0][0]
        if point_in_polygon(x, y, ga):
            return True
    # edge crossings
    segs_b = list(_segments([r for rings in _iter_polys(gb) for r in rings]))
    for sa in _segments([r for rings in _iter_polys(ga) for r in rings]):
        for sb in segs_b:
            if _seg_intersect(sa[0], sa[1], sb[0], sb[1]):
                return True
    return False


def _seg_cross_strict(p1, p2, p3, p4) -> bool:
    """True iff the OPEN segments properly cross (touching endpoints and
    collinear overlap do not count — boundary contact is allowed for
    containment)."""
    o1, o2 = _orient(p1, p2, p3), _orient(p1, p2, p4)
    o3, o4 = _orient(p3, p4, p1), _orient(p3, p4, p2)
    return o1 * o2 < 0 and o3 * o4 < 0


def contains(ga, gb) -> bool:
    """ga contains gb (boundary contact allowed).

    Point targets: boundary counts as contained.  Polygonal targets:
    (1) every shell vertex of gb inside ga, (2) no proper crossing between
    the boundaries, (3) no hole of ga strictly inside gb (a hole's region
    is outside ga).  Exact for simple polygons whose boundaries don't
    cross; holes-within-holes nesting beyond one level is out of scope of
    the engine's geometry convention.
    """
    if gb[0] == "Point":
        return point_in_polygon(gb[1][0], gb[1][1], ga)
    for rings in _iter_polys(gb):
        for x, y in rings[0]:
            if not point_in_polygon(x, y, ga):
                return False
    segs_a = list(_segments([r for rings in _iter_polys(ga) for r in rings]))
    for sb in _segments([rings[0] for rings in _iter_polys(gb)]):
        for sa in segs_a:
            if _seg_cross_strict(sb[0], sb[1], sa[0], sa[1]):
                return False
    # a hole of ga strictly inside gb leaves part of gb outside ga; probe
    # the hole's vertex mean (interior for convex holes — a hole VERTEX
    # lies on ga's boundary, which our pip counts as inside ga)
    for rings in _iter_polys(ga):
        for hole in rings[1:]:
            hx = sum(p[0] for p in hole) / len(hole)
            hy = sum(p[1] for p in hole) / len(hole)
            if point_in_polygon(hx, hy, gb) and not point_in_polygon(hx, hy, ga):
                return False
    return True


def union(geoms):
    """Geometric dissolve (ST_Union aggregate form, load_report.py:472).

    Pairwise-bbox-disjoint inputs (the reference's and fixtures' common
    case) dissolve to an exact MultiPolygon of all parts — no arrangement
    needed.  Anything else goes through the exact planar-subdivision union
    (``_union_exact``): boundaries are re-noded at every crossing, shared
    and overlapping edges are merged, and enclosed voids become holes —
    PostGIS ST_Union semantics for Polygon/MultiPolygon input.

    Output (for >1 input part) is canonicalized — parts/holes sorted,
    rings rotated to their minimum vertex, shells CCW / holes CW — so the
    result is independent of input order.  That makes the aggregate safe
    for two-phase (partial-then-final) execution in ``union_agg``.

    Near-degenerate crossings: segment pairs whose determinant falls
    under the parallel threshold (|cross| <= 1e-12*|a||b|) but whose
    cross-track distances change sign — a genuine crossing at an
    extremely shallow interior angle — are noded via the distance-ratio
    solve in ``_seg_pair_splits`` (both segments split at the same
    point), so shallow-angle input unions instead of raising.  The walk
    still raises ``ValueError("union boundary did not close")`` for
    inputs that defeat eps-snapping entirely rather than return a wrong
    area — loud failure over silent corruption.
    """
    polys = []
    for g in geoms:
        if g is None:
            continue
        for rings in _iter_polys(g):
            polys.append(rings)
    if not polys:
        return None
    if len(polys) == 1:
        return ("Polygon", polys[0])
    # canonical input order first: every later step (translation origin,
    # snap representatives, edge iteration) then depends only on the input
    # SET, so same-membership unions are byte-identical in any row order.
    # (Partials with different membership re-node at slightly different
    # coordinates — across groupings only area/topology are guaranteed.)
    polys.sort()
    if _bboxes_pairwise_disjoint(polys):
        return _canonical_parts([_normalize_winding(p) for p in polys])
    return _union_exact(polys)


# ------------------------------------------------------- exact union core --
#
# Standard planar-subdivision boolean union (the textbook arrangement
# approach, same family as Margalit-Knott / Weiler-Atherton generalized to
# N inputs):
#   1. split every boundary segment at every intersection with any other
#      segment (bbox sweep prune; collinear overlaps split at projected
#      endpoints), snapping vertices on an eps grid;
#   2. classify each unique undirected sub-edge by which side(s) the union
#      interior covers: a polygon that owns the edge covers the side its
#      winding points to (interior-on-left after normalization); any other
#      polygon covers both sides iff the (boundary-free) midpoint lies
#      inside it.  Edges with interior on exactly one side form the union
#      boundary, oriented interior-on-left;
#   3. stitch directed edges into rings with the sharpest-left-turn rule
#      (traces each face even at degree>2 pinch vertices), drop collinear
#      vertices introduced by noding, classify shells (CCW) vs holes (CW)
#      by signed area, and assign each hole to the smallest containing
#      shell.
#
# Pure Python on purpose: runs inside the union_agg pandas UDAF per group;
# cost is O(S^2) worst-case on segment count per *group partial*, bounded
# in practice by the bbox sweep and by union_agg's two-phase partials.


def _normalize_winding(rings):
    """Close rings and orient shell CCW / holes CW (interior on left)."""
    out = []
    for i, ring in enumerate(rings):
        r = list(ring)
        if r[0] != r[-1]:
            r.append(r[0])
        a = _ring_area(r)
        if a != 0 and (a > 0) != (i == 0):
            r = r[::-1]
        out.append(r)
    return out


def _bboxes_pairwise_disjoint(polys) -> bool:
    boxes = []
    for rings in polys:
        xs = [p[0] for p in rings[0]]
        ys = [p[1] for p in rings[0]]
        boxes.append((min(xs), min(ys), max(xs), max(ys)))
    boxes.sort()
    for i, (_, iymin, ixmax, iymax) in enumerate(boxes):
        for j in range(i + 1, len(boxes)):
            if boxes[j][0] > ixmax:
                break
            if not (boxes[j][3] < iymin or boxes[j][1] > iymax):
                return False
    return True


class _Snapper:
    """Eps-grid vertex merger keeping the first-seen representative; the
    3x3 neighborhood probe catches near-equal points straddling a cell.
    Cells hold ALL registered far-apart points (never evict): two vertices
    can share a cell at > eps distance, and evicting the first would make
    a later recomputation of the same crossing snap to a different
    representative — unclosed rings downstream."""

    def __init__(self, eps: float):
        self.eps = eps
        self._grid: dict = {}

    def __call__(self, p):
        eps = self.eps
        kx, ky = round(p[0] / eps), round(p[1] / eps)
        for dx in (0, -1, 1):
            for dy in (0, -1, 1):
                for q in self._grid.get((kx + dx, ky + dy), ()):
                    if abs(q[0] - p[0]) <= eps and abs(q[1] - p[1]) <= eps:
                        return q
        self._grid.setdefault((kx, ky), []).append(p)
        return p


def _seg_pair_splits(sa, sb, ta: set, tb: set, eps: float) -> None:
    """Record split parameters where segments sa/sb intersect (proper
    crossings, endpoint touches, collinear overlaps)."""
    (p1, p2, _), (p3, p4, _) = sa, sb
    d1 = (p2[0] - p1[0], p2[1] - p1[1])
    d2 = (p4[0] - p3[0], p4[1] - p3[1])
    l1 = math.hypot(*d1)
    l2 = math.hypot(*d2)
    if l1 == 0 or l2 == 0:
        return
    denom = d1[0] * d2[1] - d1[1] * d2[0]
    if abs(denom) > 1e-12 * l1 * l2:
        wx, wy = p3[0] - p1[0], p3[1] - p1[1]
        t = (wx * d2[1] - wy * d2[0]) / denom
        u = (wx * d1[1] - wy * d1[0]) / denom
        if (-eps / l1 <= t <= 1 + eps / l1
                and -eps / l2 <= u <= 1 + eps / l2):
            ta.add(min(1.0, max(0.0, t)))
            tb.add(min(1.0, max(0.0, u)))
        return
    # (near-)parallel: classify by cross-track signed distances of sb's
    # endpoints from line(p1, p2) — well-conditioned dot products where
    # the determinant above is not
    s3 = ((p3[0] - p1[0]) * d1[1] - (p3[1] - p1[1]) * d1[0]) / l1
    s4 = ((p4[0] - p1[0]) * d1[1] - (p4[1] - p1[1]) * d1[0]) / l1
    if abs(s3) <= eps and abs(s4) <= eps:
        # collinear overlap: split at projected endpoints
        for (px, py), tset, base, d, ln in (
                (p3, ta, p1, d1, l1), (p4, ta, p1, d1, l1),
                (p1, tb, p3, d2, l2), (p2, tb, p3, d2, l2)):
            t = ((px - base[0]) * d[0] + (py - base[1]) * d[1]) / (ln * ln)
            if 0.0 < t < 1.0:
                tset.add(t)
        return
    # Near-parallel but NOT collinear: a genuine crossing at an extremely
    # shallow interior angle (< ~1e-12 rad) reaches here — the determinant
    # test cannot see it, but the cross-track distance changes sign where
    # sb crosses line(sa).  Solve on the distances (u* = s3/(s3-s4), exact
    # to ~1 ulp), take the ONE crossing point X on sb, and split BOTH
    # segments at X (sa at X's projection) so the split vertices land
    # within snap-eps of each other and the ring walk stays closed.
    # Previously this pair went un-noded and union() raised
    # ``ValueError("union boundary did not close")`` (round-3 advice).
    if s3 * s4 < 0:
        u_star = s3 / (s3 - s4)
        xx = p3[0] + u_star * d2[0]
        xy = p3[1] + u_star * d2[1]
        t_star = ((xx - p1[0]) * d1[0] + (xy - p1[1]) * d1[1]) / (l1 * l1)
        if -eps / l1 <= t_star <= 1 + eps / l1:
            ta.add(min(1.0, max(0.0, t_star)))
            tb.add(min(1.0, max(0.0, u_star)))


def _split_all(segs, eps: float):
    """Split parameters per segment; candidate pairs pruned by a sort-by-
    xmin bbox sweep (O(S log S + K pairs) instead of all S^2)."""
    n = len(segs)
    boxes = []
    for p, q, _ in segs:
        boxes.append((min(p[0], q[0]), min(p[1], q[1]),
                      max(p[0], q[0]), max(p[1], q[1])))
    order = sorted(range(n), key=lambda i: boxes[i][0])
    ts: list[set] = [set() for _ in range(n)]
    for a_pos, i in enumerate(order):
        bi = boxes[i]
        for b_pos in range(a_pos + 1, n):
            j = order[b_pos]
            bj = boxes[j]
            if bj[0] > bi[2] + eps:
                break
            if bj[1] > bi[3] + eps or bj[3] < bi[1] - eps:
                continue
            _seg_pair_splits(segs[i], segs[j], ts[i], ts[j], eps)
    return ts


def _node_at_vertices(segs, seg_pts, ts, snap, eps: float) -> None:
    """Split segments at foreign vertices lying within eps of their
    interior (in place, refreshing ``seg_pts``) — the closure step that
    makes the arrangement consistent under eps-snapping.  Candidate
    vertices come from a sort-by-x sweep, so cost is O(S log V + hits),
    the same shape as ``_split_all``'s pair sweep."""
    verts = sorted({v for pts in seg_pts for v in pts})
    xs = [v[0] for v in verts]
    for i, (p, q, _pi) in enumerate(segs):
        dx, dy = q[0] - p[0], q[1] - p[1]
        ll = dx * dx + dy * dy
        if ll == 0:
            continue
        ln = math.sqrt(ll)
        lo = bisect.bisect_left(xs, min(p[0], q[0]) - eps)
        hi = bisect.bisect_right(xs, max(p[0], q[0]) + eps)
        ymin = min(p[1], q[1]) - eps
        ymax = max(p[1], q[1]) + eps
        added = False
        for w in verts[lo:hi]:
            if w[1] < ymin or w[1] > ymax:
                continue
            t = ((w[0] - p[0]) * dx + (w[1] - p[1]) * dy) / ll
            # interior only: a split within eps of an endpoint would
            # re-create the same vertex, not refine the noding
            if t * ln <= eps or (1.0 - t) * ln <= eps:
                continue
            px, py = p[0] + t * dx, p[1] + t * dy
            if abs(px - w[0]) <= eps and abs(py - w[1]) <= eps:
                if t not in ts[i]:
                    ts[i].add(t)
                    added = True
        if added:
            seg_pts[i] = [snap((p[0] + t * dx, p[1] + t * dy))
                          for t in sorted(ts[i] | {0.0, 1.0})]


def _union_exact(polys):
    # local frame: translation hygiene, same reason as _ring_area
    ox, oy = polys[0][0][0]
    tpolys = [
        [[(x - ox, y - oy) for x, y in ring] for ring in rings]
        for rings in (_normalize_winding(p) for p in polys)
    ]
    span = 1.0
    for rings in tpolys:
        for ring in rings:
            for x, y in ring:
                span = max(span, abs(x), abs(y))
    eps = span * 1e-9

    segs = []  # directed (p, q, poly_idx), interior on left
    for pi, rings in enumerate(tpolys):
        for ring in rings:
            for k in range(len(ring) - 1):
                if ring[k] != ring[k + 1]:
                    segs.append((ring[k], ring[k + 1], pi))

    ts = _split_all(segs, eps)
    snap = _Snapper(eps)
    # First snapping pass: materialize every split vertex so the closure
    # pass below sees the full vertex set.
    seg_pts: list[list] = []
    for i, (p, q, _pi) in enumerate(segs):
        seg_pts.append([snap((p[0] + t * (q[0] - p[0]),
                              p[1] + t * (q[1] - p[1])))
                        for t in sorted(ts[i] | {0.0, 1.0})])
    # Noding CLOSURE (snap-rounding's vertex-on-edge rule): a split vertex
    # introduced by one segment pair can land within eps of a THIRD
    # segment that no pair test split — three near-coincident boundaries
    # (e.g. sub-eps-offset copies crossing at shallow angles) leave that
    # third edge unsplit, its midpoint sits ON the others' rim, the side
    # probe is undefined, and the walk raises "union boundary did not
    # close" (round-3 advice).  Split every segment at every foreign
    # vertex within eps of its interior; the new split points snap back
    # to the EXISTING vertex (it is registered in the snapper), so the
    # vertex set does not grow and one pass reaches the fixpoint.
    _node_at_vertices(segs, seg_pts, ts, snap, eps)
    # undirected sub-edge -> {poly_idx: net direction along key order}
    edges: dict = {}
    for i, (p, q, pi) in enumerate(segs):
        pts = seg_pts[i]
        for a, b in zip(pts, pts[1:]):
            if a == b:
                continue
            key, dirn = ((a, b), 1) if a <= b else ((b, a), -1)
            per = edges.setdefault(key, {})
            per[pi] = per.get(pi, 0) + dirn

    pgeoms = [("Polygon", rings) for rings in tpolys]
    pboxes = [bounds(g) for g in pgeoms]
    probe_off = 64 * eps  # clear of snap noise, tiny vs features

    kept = []  # directed edges with union interior on the LEFT
    for (u, v), per_poly in edges.items():
        mx, my = (u[0] + v[0]) / 2.0, (u[1] + v[1]) / 2.0
        left = right = False
        for pi, g in enumerate(pgeoms):
            if left and right:
                break
            net = per_poly.get(pi)
            if net == 1:
                left = True
            elif net == -1:
                right = True
            elif net is not None:
                # degenerate (shell+hole sharing an edge, doubled edge):
                # settle by probing just off each side
                dx, dy = v[0] - u[0], v[1] - u[1]
                ln = math.hypot(dx, dy)
                nx, ny = -dy / ln, dx / ln
                if point_in_polygon(mx + nx * probe_off,
                                    my + ny * probe_off, g):
                    left = True
                if point_in_polygon(mx - nx * probe_off,
                                    my - ny * probe_off, g):
                    right = True
            else:
                # not on this polygon's boundary: midpoint decides both
                # sides (edges were noded, so mid cannot sit on g's rim)
                bb = pboxes[pi]
                if (bb[0] - eps <= mx <= bb[2] + eps
                        and bb[1] - eps <= my <= bb[3] + eps
                        and point_in_polygon(mx, my, g)):
                    left = right = True
        if left != right:
            kept.append((u, v) if left else (v, u))

    rings_out = _stitch_rings(kept)

    shells, holes = [], []
    for ring in rings_out:
        ring = _drop_collinear(ring, eps)
        if ring is None:
            continue
        a = _ring_area(ring)
        if abs(a) <= eps * eps:
            continue
        (shells if a > 0 else holes).append(ring)
    if not shells:
        # all-degenerate input (zero-area slivers, point-extent boxes)
        # dissolves to its canonical collection — a data quirk must not
        # abort the executor task.  Non-trivial input area reaching this
        # branch means the stitcher lost rings: stay loud for that.
        inp_area = sum(abs(_ring_area(rings[0])) for rings in tpolys)
        if inp_area > 1e3 * eps * eps:
            raise ValueError("union produced no area from non-degenerate "
                             "input: stitching bug")
        return _canonical_parts(
            [[[(x + ox, y + oy) for x, y in ring] for ring in rings]
             for rings in tpolys])

    # holes attach to the smallest shell containing an interior probe
    assigned: list[list] = [[s] for s in shells]
    order = sorted(range(len(shells)),
                   key=lambda i: abs(_ring_area(shells[i])))
    for hole in holes:
        hx, hy = _ring_interior_point(hole)
        for i in order:
            if point_in_polygon(hx, hy, ("Polygon", [shells[i]])):
                assigned[i].append(hole)
                break
        else:
            raise ValueError("union hole outside every shell")

    back = [
        [[(x + ox, y + oy) for x, y in ring] for ring in rings]
        for rings in assigned
    ]
    return _canonical_parts(back)


def _stitch_rings(kept):
    """Assemble directed interior-on-left edges into closed rings.  At
    each vertex take the sharpest LEFT turn — the rule that keeps the
    traced face on the left through degree>2 pinch vertices."""
    out_edges: dict = {}
    for u, v in kept:
        out_edges.setdefault(u, []).append(v)
    unused = set(kept)
    rings = []
    for e0 in kept:
        if e0 not in unused:
            continue
        unused.discard(e0)
        ring = [e0[0], e0[1]]
        cur = e0
        while True:
            u, v = cur
            din = math.atan2(v[1] - u[1], v[0] - u[0])
            best, best_cw = None, None
            for w in out_edges.get(v, ()):
                nxt = (v, w)
                if nxt != e0 and nxt not in unused:
                    continue
                th = math.atan2(w[1] - v[1], w[0] - v[0])
                cw = (din + math.pi - th) % (2.0 * math.pi)
                if best is None or cw < best_cw:
                    best, best_cw = nxt, cw
            if best is None:
                raise ValueError("union boundary did not close")
            if best == e0:
                break
            unused.discard(best)
            ring.append(best[1])
            cur = best
        rings.append(ring)
    return rings


def _drop_collinear(ring, eps: float):
    """Remove noding artifacts: vertices within eps of the line through
    their neighbors.  Returns a closed ring or None if degenerate."""
    pts = ring[:-1] if ring[0] == ring[-1] else list(ring)
    changed = True
    while changed and len(pts) >= 3:
        changed = False
        out = []
        n = len(pts)
        for i in range(n):
            a, b, c = pts[i - 1], pts[i], pts[(i + 1) % n]
            lac = math.hypot(c[0] - a[0], c[1] - a[1])
            cross = ((c[0] - a[0]) * (b[1] - a[1])
                     - (c[1] - a[1]) * (b[0] - a[0]))
            if lac > 0 and abs(cross) / lac <= eps:
                changed = True
                continue
            out.append(b)
        pts = out
    if len(pts) < 3:
        return None
    return pts + [pts[0]]


def _ring_interior_point(ring):
    """A point strictly inside a simple ring: centroid of the ear at the
    lowest-leftmost (necessarily convex) vertex, verified; falls back to
    the vertex mean."""
    pts = ring[:-1] if ring[0] == ring[-1] else list(ring)
    i = min(range(len(pts)), key=lambda k: pts[k])
    a, b, c = pts[i - 1], pts[i], pts[(i + 1) % len(pts)]
    for cand in (((a[0] + b[0] + c[0]) / 3.0, (a[1] + b[1] + c[1]) / 3.0),
                 (sum(p[0] for p in pts) / len(pts),
                  sum(p[1] for p in pts) / len(pts))):
        if _point_in_ring(cand[0], cand[1], pts + [pts[0]]) == 1:
            return cand
    return b


def _canonical_parts(parts):
    """Canonical Polygon/MultiPolygon from [[shell, hole...], ...]: rings
    rotated to their minimum vertex, holes sorted within a part, parts
    sorted by shell key — input-order independence for the aggregate."""
    canon = []
    for rings in parts:
        shell = _rotate_min(rings[0])
        hs = sorted((_rotate_min(h) for h in rings[1:]), key=lambda r: r[0])
        canon.append([shell] + hs)
    canon.sort(key=lambda rings: rings[0][0])
    if len(canon) == 1:
        return ("Polygon", canon[0])
    return ("MultiPolygon", canon)


def _rotate_min(ring):
    pts = ring[:-1] if ring[0] == ring[-1] else list(ring)
    i = min(range(len(pts)), key=lambda k: pts[k])
    pts = pts[i:] + pts[:i]
    return pts + [pts[0]]


def geom_type(geom) -> str:
    return geom[0]


def exterior_coords(geom):
    """Exterior-ring coordinate lists (convert_geom_to_gee,
    load_report.py:52-55): Polygon -> [ring]; MultiPolygon -> rings."""
    if geom[0] == "Point":
        raise ValueError("Unsupported geometry type: Point")
    return [[list(pt) for pt in rings[0]] for rings in _iter_polys(geom)]


def union_area(geoms) -> float:
    """Area of the dissolved union (exact for arbitrary overlaps — the
    pre-r2 convex inclusion-exclusion limitation is gone)."""
    u = union(geoms)
    return 0.0 if u is None else area(u)


def make_box(xmin, ymin, xmax, ymax):
    return ("Polygon", [[(xmin, ymin), (xmax, ymin), (xmax, ymax),
                         (xmin, ymax), (xmin, ymin)]])


def grid_cells(geom_bounds, cell: float):
    """Grid-cell ids (ix, iy) whose cell bbox intersects the given bounds —
    the bucketing primitive for the grid-partitioned spatial join (§4)."""
    xmin, ymin, xmax, ymax = geom_bounds
    ix0, ix1 = math.floor(xmin / cell), math.floor(xmax / cell)
    iy0, iy1 = math.floor(ymin / cell), math.floor(ymax / cell)
    return [(ix, iy) for ix in range(ix0, ix1 + 1) for iy in range(iy0, iy1 + 1)]

