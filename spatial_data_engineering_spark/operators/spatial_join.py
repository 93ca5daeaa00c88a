"""Spatial join + geometric-union UDAF — the two genuinely custom
operators (SURVEY.md §4 "custom vs built-in summary").

``grid_spatial_join`` implements D2/D3 (zonal-stats join, intersection
join) with the reference's two spatial predicates (ST_Contains /
ST_Intersects).  It picks its path by Spark's own broadcast rule:

* **broadcast** (build side's optimizer size estimate within
  ``spark.sql.autoBroadcastJoinThreshold``): the build rows are
  collected once, and one scalar pandas UDF tests each probe batch
  against them — point WKB decoded by ``np.frombuffer``, (point, build
  row) bbox candidates by binary search on the x-sorted points, and all
  candidates' exact tests in one numpy pass over their polygons' edges
  (``G.points_in_polygons``) — then the matches join the build rows back
  by ordinal.  Only the probe WKB crosses Arrow; there is no per-row
  cell UDF and no per-candidate Python refine, and a batch's cost
  follows its candidates' edges, not the build size.  The probe side is
  hash-partitioned by its keys and deduplicated on them in that one
  exchange (one probe row per left key).
* **grid** (a build side over the threshold): each side emits the grid
  cells its bbox overlaps, candidates come from an **equi-join on the
  cell id** (``_grid_candidates``, shuffle-friendly integer-grid keys),
  duplicate candidate pairs from multi-cell spans are dropped (one
  candidate per key pair), and the exact predicate pandas UDF refines
  them.

The threshold is the rule Spark uses to broadcast a hash-join side, so
the broadcast path collects nothing Spark would not broadcast itself.
Measured on 4 cores (SCALE_NOTES.md, "Broadcast point-in-polygon
kernel"): 1M points against 1,000 to 80,000 star polygons of 32
vertices, the broadcast path took 4.7-11.3 s and the grid path
23.2-28.6 s; 80,000 such polygons are a 9.3 MB estimate, just under the
10 MB default.

Scale notes (100 TB): the broadcast path scales with the probe side
alone (no shuffle beyond the probe's dedupe exchange, whose partition
count AQE sizes from the probe).  On the grid path cell size trades
shuffle fan-out (small cells -> more duplicate candidates) against
refine selectivity (big cells -> more false candidates); skew from one
huge polygon overlapping many cells is bounded by the explode (its
candidates spread across many cell-partitions — the opposite of key
skew).

``union_agg`` implements E1 (ST_Union aggregate, load_report.py:472) in
two phases, exactly like a built-in aggregate with a map-side combiner:
a mapInPandas partial dissolve per Arrow batch (no shuffle of raw
geometries — only one merged geometry per group per batch crosses the
wire), then a grouped-map final dissolve.  geometry.union is canonical
and associative, so the partial/final split cannot change the result;
no single pandas group ever materializes a whole 100 TB group's rows.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geometry as G
from ..functions.st_funcs import (st_contains, st_envelope, st_grid_cells,
                                  st_intersects)


def _grid_candidates(left: DataFrame, right: DataFrame, cell: float,
                     left_geom: str, right_geom: str) -> DataFrame:
    """Candidate pairs from the cell-id equi-join, PRE-dedup — factored
    out so the skew test can measure raw candidate duplication directly
    (``grid_spatial_join`` dedupes and refines on top of this)."""
    lg, rg = "__lg", "__rg"
    l = left.withColumnRenamed(left_geom, lg)
    r = right.withColumnRenamed(right_geom, rg)
    l = l.withColumn("__cell", F.explode(st_grid_cells(F.col(lg), F.lit(cell))))
    r = r.withColumn("__cell", F.explode(st_grid_cells(F.col(rg), F.lit(cell))))
    return l.join(r, "__cell").drop("__cell")


def adaptive_cell(build: DataFrame, geom_col: str = "geom",
                  q: float = 0.95) -> float:
    """Grid cell size from the build side's bbox-extent distribution.

    cell = HALF the q-quantile (default p95) of per-geometry bbox
    extents.  For an extent-E build geometry and cell c, the bbox's cell
    cover approximates area (E+c)^2 — a false-candidate factor of
    (1+c/E)^2 for point probes — while the geometry duplicates into
    (E/c+1)^2 cells.  c=E/2 sits at 2.25x false candidates and ~9 cells
    per build row: probes usually outnumber build rows by orders of
    magnitude, so false-candidate cost dominates and a sub-extent cell
    wins (it also reproduces the previously hand-tuned pitch on the
    zonal fixtures, where extents are 20 and the tuned cell was 10).
    The constant now tracks the DATA's units instead of assuming them
    (degrees vs meters broke any fixed value).

    Point-only build sides (extent 0) fall back to 1/64 of the data's
    overall span, and a degenerate single-point domain to 1.0.  Cost:
    one tiny aggregate over the build side (a 1-row driver pull,
    dimension-sized); result SETS are cell-size-invariant by
    construction (the exact predicate refine decides membership),
    pinned by the invariance property test.
    """
    row = (build.select(st_envelope(F.col(geom_col)).alias("e"))
           .agg(F.expr(f"percentile_approx(greatest(e.xmax - e.xmin,"
                       f" e.ymax - e.ymin), {q})").alias("p"),
                F.expr("greatest(max(e.xmax) - min(e.xmin),"
                       " max(e.ymax) - min(e.ymin))").alias("span"))
           .collect()[0])
    p95, span = row["p"], row["span"]
    if p95 is not None and p95 > 0:
        return float(p95) / 2.0
    if span is not None and span > 0:
        return float(span) / 64.0
    return 1.0


def grid_spatial_join(
    left: DataFrame,
    right: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
    predicate: str = "intersects",
    cell: float | None = None,
    left_geom: str = "geom",
    right_geom: str = "geom",
) -> DataFrame:
    """Inner spatial join: rows of ``left`` x ``right`` where
    predicate(right_geom, left_geom) holds ("contains": right contains
    left — the cells-in-polygon zonal shape).

    Two paths, one result set:

    * **broadcast** — when the right (build) side's optimizer size
      estimate is within ``spark.sql.autoBroadcastJoinThreshold`` (the
      rule Spark uses to broadcast a join side), the build rows are
      collected once and each probe batch is tested against them in one
      vectorized pass (``_broadcast_join``).  This path is eager:
      building the join runs the build side's plan once;
    * **grid** — otherwise (or with the threshold set to -1), both sides
      emit the grid cells their bboxes overlap, candidates come from the
      cell-id equi-join, and the exact predicate refines them.  Lazy.

    left_keys/right_keys must uniquely identify rows on their side; the
    output holds at most one row per (left key, right key) pair: the
    broadcast path keeps one probe row per left key, the grid path one
    candidate per key pair.  All non-conflicting columns survive; when
    both sides use the same geometry column name, the left geometry
    keeps the name and the right geometry comes back as
    ``{right_geom}_right``.

    ``cell`` only steers the grid path.  ``cell=None`` (default) derives
    the grid pitch from the build side's p95 bbox extent — see
    ``adaptive_cell``; pass an explicit cell to pin it (results are
    invariant either way, only candidate counts move).
    """
    if predicate not in ("contains", "intersects"):
        raise ValueError(f"unknown predicate {predicate!r}")
    right_out = (f"{right_geom}_right" if left_geom == right_geom
                 else right_geom)
    if _broadcastable(right):
        return _broadcast_join(left, right, left_keys, predicate, left_geom,
                               right_geom, right_out)

    if cell is None:
        cell = adaptive_cell(right, right_geom)
    lg, rg = "__lg", "__rg"
    cand = _grid_candidates(left, right, cell, left_geom, right_geom)
    # one candidate per key pair before the (expensive) exact refine
    cand = cand.dropDuplicates(left_keys + right_keys)
    pred = st_contains if predicate == "contains" else st_intersects
    out = (cand.filter(pred(F.col(rg), F.col(lg)))
           .withColumnRenamed(lg, left_geom))
    return out.withColumnRenamed(rg, right_out)


def _broadcastable(right: DataFrame) -> bool:
    """Spark's own test for broadcasting a join side: the optimizer's
    size estimate is within ``spark.sql.autoBroadcastJoinThreshold``
    (a negative threshold turns broadcasting off)."""
    limit = (right.sparkSession._jsparkSession.sessionState().conf()
             .autoBroadcastJoinThreshold())
    size = int(right._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    return 0 <= size <= limit


def _broadcast_join(left: DataFrame, right: DataFrame, left_keys: list[str],
                    predicate: str, left_geom: str, right_geom: str,
                    right_out: str) -> DataFrame:
    """The broadcast path of ``grid_spatial_join``.

    Eager: building it runs the build side's plan once, to collect its
    rows through Arrow (``toArrow``, which keeps nulls of every type).
    Their index (``_Build``) rides in the closure of one scalar pandas
    UDF, which maps each probe WKB to the ordinals of the build rows it
    matches (``_match_probes``); only the probe WKB crosses Arrow.  The
    matches are exploded and joined back to the build rows, a local
    relation keyed by ordinal, by a broadcast hash join.  The probe side
    is hash-partitioned by ``left_keys`` (no fixed count:
    ``spark.sql.shuffle.partitions``, which AQE coalesces) and
    deduplicated on them in that one exchange, which also spreads a
    one-file probe over the cores.
    """
    spark = right.sparkSession
    table = right.toArrow()
    build = _Build(table.column(right_geom).to_pylist())
    fields = [T.StructField(right_out, f.dataType, f.nullable)
              if f.name == right_geom else f for f in right.schema.fields]
    bid = pa.array(np.arange(table.num_rows, dtype=np.int32))
    # an Arrow local relation, as golden's dissolve is: a parallelized
    # list of rows would cost a cold broadcast job of its own
    rows = spark.createDataFrame(
        table.rename_columns([f.name for f in fields])
        .append_column(pa.field("__bid", pa.int32(), False), bid),
        T.StructType(fields + [T.StructField("__bid", T.IntegerType(),
                                             False)]))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def matches(wkb: pd.Series) -> pd.Series:
        return pd.Series(_match_probes(wkb.tolist(), build, predicate))

    # the exchange under the dedupe also keeps it from merging with an
    # aggregate on the same keys below it (golden's distinct locations),
    # which would evaluate the probe's geometry on the pre-distinct rows
    hits = (left.repartition(*left_keys).dropDuplicates(left_keys)
            .withColumn("__bid", F.explode(matches(F.col(left_geom)))))
    return hits.join(F.broadcast(rows), "__bid").drop("__bid")


# Relative widening of each build bbox.  It is far wider than the
# predicates' 1e-12 boundary tolerance and the rounding of the ray-cast
# intercept, so the bbox prefilter never drops a pair the exact test
# would keep; a wider box only adds exact tests.
_BBOX_PAD = 1e-9
_POINT_WKB_HEAD = np.frombuffer(b"\x01\x01\x00\x00\x00", dtype=np.uint8)
# (probe, build) bbox candidates ``_bbox_pairs`` expands at once
_PAIR_CHUNK = 1 << 20


class _Build:
    """The collected build side as ``_match_probes`` reads it: its WKB,
    padded bboxes (an (n, 4) xmin/ymin/xmax/ymax array, NaN rows for
    nulls) and ``G.ring_table``.  The parsed geometries serve only the
    per-pair fallback (point build rows, probes that are not little-endian
    points); pickling drops them, so the UDF closure ships numpy arrays
    and bytes, and a worker parses them again only if it needs them."""

    def __init__(self, wkbs: list):
        self.wkbs = [None if b is None else bytes(b) for b in wkbs]
        boxes = np.full((len(wkbs), 4), np.nan)
        for j, g in enumerate(self.geoms):
            if g is not None:
                boxes[j] = G.bounds(g)
        pad = _BBOX_PAD * (1.0 + np.abs(boxes).max(axis=1, initial=0.0))
        self.boxes = boxes + pad[:, None] * np.array([-1.0, -1.0, 1.0, 1.0])
        self.rings = G.ring_table(self.geoms)
        self.is_point = np.array([g is not None and g[0] == "Point"
                                  for g in self.geoms], dtype=bool)

    @functools.cached_property
    def geoms(self) -> list:
        return [None if b is None else G.wkb_loads(b) for b in self.wkbs]

    def __getstate__(self):
        return {k: v for k, v in self.__dict__.items() if k != "geoms"}


def _match_probes(wkbs: list, build: _Build, predicate: str) -> list:
    """For each probe WKB (or None), the ordinals j, ascending, of the
    build geometries with predicate(geoms[j], probe) — ``G.contains`` or
    ``G.intersects`` exactly.

    Little-endian point WKB (21 bytes, ``01 01000000``) is decoded for
    the whole batch in one ``np.frombuffer``; ``_bbox_pairs`` finds the
    (point, build row) bbox candidates, and ``G.points_in_polygons``
    decides those with a polygonal build row in one pass over their
    edges (for a point probe, contains and intersects are both
    point-in-polygon), so the cost follows the candidates, not the build
    size.  Point build rows, and every other probe (polygons, big-endian
    WKB), are tested pair by pair with the predicate after the same bbox
    test; null probes match nothing."""
    pred = G.contains if predicate == "contains" else G.intersects
    n = len(wkbs)
    point = np.fromiter((b is not None and len(b) == 21 for b in wkbs),
                        dtype=bool, count=n)
    idx = np.flatnonzero(point)
    rec = np.frombuffer(b"".join([bytes(wkbs[i]) for i in idx]),
                        dtype=np.uint8).reshape(-1, 21)
    head = (rec[:, :5] == _POINT_WKB_HEAD).all(axis=1)
    point[idx[~head]] = False
    idx = idx[head]
    xy = np.ascontiguousarray(rec[head, 5:]).view("<f8")
    x, y = xy[:, 0], xy[:, 1]
    i, j = _bbox_pairs(x, y, build.boxes)
    poly = ~build.is_point[j]
    hit = np.zeros(len(i), dtype=bool)
    hit[poly] = G.points_in_polygons(x[i[poly]], y[i[poly]], j[poly],
                                     build.rings)
    for k in np.flatnonzero(~poly).tolist():
        hit[k] = pred(build.geoms[j[k]],
                      ("Point", (float(x[i[k]]), float(y[i[k]]))))
    out = [[] for _ in range(n)]
    for p, b in zip(idx[i[hit]].tolist(), j[hit].tolist()):
        out[p].append(b)

    boxes = build.boxes
    for p in np.flatnonzero(~point).tolist():
        if wkbs[p] is None:
            continue
        g = G.wkb_loads(bytes(wkbs[p]))
        x0, y0, x1, y1 = G.bounds(g)
        near = ((boxes[:, 0] <= x1) & (boxes[:, 2] >= x0)
                & (boxes[:, 1] <= y1) & (boxes[:, 3] >= y0))
        out[p] = [b for b in np.flatnonzero(near).tolist()
                  if pred(build.geoms[b], g)]
    return out


def _bbox_pairs(x, y, boxes):
    """(point, box) index pairs with the point inside the box, ordered by
    box: the points are sorted by x once, each box takes its x range by
    two binary searches, and a y test keeps the pairs inside it.  The
    x-range pairs are expanded ``_PAIR_CHUNK`` at a time."""
    order = np.argsort(x, kind="stable")
    xs = x[order]
    lo = np.searchsorted(xs, boxes[:, 0], side="left")
    cnt = np.maximum(np.searchsorted(xs, boxes[:, 2], side="right") - lo, 0)
    ends = np.cumsum(cnt)
    pi, pj = [np.zeros(0, dtype=np.int64)], [np.zeros(0, dtype=np.int64)]
    a = 0
    while a < len(boxes):
        base = ends[a - 1] if a else 0
        b = max(a + 1, int(np.searchsorted(ends, base + _PAIR_CHUNK,
                                           side="right")))
        c = cnt[a:b]
        j = np.repeat(np.arange(a, b), c)
        i = order[np.repeat(lo[a:b] - (np.cumsum(c) - c), c)
                  + np.arange(len(j))]
        keep = (y[i] >= boxes[j, 1]) & (y[i] <= boxes[j, 3])
        pi.append(i[keep])
        pj.append(j[keep])
        a = b
    return np.concatenate(pi), np.concatenate(pj)


# Phase-1 combine pays one python-side union per (group, batch); when a
# batch is nearly one-group-per-row the combine shuffles ~as many rows as
# it received while paying a per-row decode/canonicalize/encode — worse
# than shuffling the raw WKB.  Combine only when it at least halves the
# batch's row count.
_COMBINE_MAX_GROUP_RATIO = 0.5
_TREE_FANIN = 64  # upstream partitions above which union_agg adds a salted round


def _dissolve_group_rows(pdf, keep: list[str], in_col: str, out_col: str):
    """Union one group's WKB rows into a single-row frame (helper shared
    by the phase-1 combiner and the phase-2 final dissolve)."""
    import pandas as pd

    geoms = [G.wkb_loads(bytes(b)) for b in pdf[in_col] if b is not None]
    u = G.union(geoms)
    row = {c: [pdf[c].iloc[0]] for c in keep}
    row[out_col] = [None if u is None else G.wkb_dumps(u)]
    return pd.DataFrame(row)


def _combine_batch(pdf, keep: list[str], geom_col: str, out_col: str):
    """Map-side combine for one Arrow batch, with a cardinality guard:
    high-cardinality batches (groups > ratio*rows) pass through unchanged
    so the partial count cannot approach the row count."""
    import pandas as pd

    gb = pdf.groupby(keep, dropna=False, sort=False)
    if gb.ngroups > _COMBINE_MAX_GROUP_RATIO * len(pdf):
        out = pdf[keep].copy()
        out[out_col] = pdf[geom_col]
        return out
    parts = [_dissolve_group_rows(grp, keep, geom_col, out_col)
             for _, grp in gb]
    return pd.concat(parts, ignore_index=True)


def union_agg(df: DataFrame, group_cols: list[str], geom_col: str = "geom",
              out_col: str = "geom") -> DataFrame:
    """GROUP BY group_cols with geometric union of geom_col (E1).

    Two-phase tree aggregation (legal because geometry.union is
    associative and canonical): phase 1 dissolves each group's rows
    WITHIN each Arrow batch via mapInPandas — the map-side combine, so
    only one partial geometry per (group, batch) is shuffled; phase 2 is
    the grouped-map final dissolve over those partials.  Batches whose
    group count approaches their row count skip the combine (see
    ``_combine_batch``) — the guard makes the operator safe on
    high-cardinality keys, where phase 1 would otherwise emit one
    re-encoded partial per row for no shuffle savings.

    Depth bounding (SURVEY §7 hard-item #1): one group's partial count is
    bounded by the upstream partition count P, and the phase-2 task for
    that group dissolves all P partials serially — fine at local scale,
    a single-executor bottleneck for a continental dissolve at 100 TB.
    When P exceeds ``_TREE_FANIN``, an intermediate dissolve keyed by
    (group, salt) with ceil(sqrt(P)) salt buckets runs first, capping
    per-task partial counts at ~sqrt(P) in both rounds (P=10^6 partials
    -> ~1000 unions per task).  The salt is a pure function of the
    partial's bytes (crc32 mod buckets), so the plan stays deterministic;
    associativity + canonical output make the extra round semantically
    free.  At local[32] partition counts sit under the default fan-in and
    the round never fires — no bench-scale cost.
    """
    keep = [f.name for f in df.schema.fields if f.name in group_cols]
    schema_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name in group_cols
    )
    out_schema = f"{schema_fields}, `{out_col}` binary"

    def partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield _combine_batch(pdf, keep, geom_col, out_col)

    partials = df.select(*keep, geom_col).mapInPandas(partial,
                                                      schema=out_schema)

    def final(pdf):
        return _dissolve_group_rows(pdf, keep, out_col, out_col)

    nparts = df.rdd.getNumPartitions()
    if nparts > _TREE_FANIN:
        import math

        buckets = int(math.ceil(math.sqrt(nparts)))
        salted = partials.withColumn(
            "__salt", F.pmod(F.crc32(F.col(out_col)), F.lit(buckets)))
        partials = salted.groupBy(*group_cols, "__salt").applyInPandas(
            final, schema=out_schema)

    return partials.groupBy(*group_cols).applyInPandas(final, schema=out_schema)

