"""Grid-bucketed spatial join + geometric-union UDAF — the two genuinely
custom operators (SURVEY.md §4 "custom vs built-in summary").

``grid_spatial_join`` implements D2/D3 (zonal-stats join, intersection
join): each side emits the grid cells its bbox overlaps, candidates come
from an **equi-join on the cell id** (shuffle-friendly, uniform md5-free
integer-grid keys), duplicate candidate pairs from multi-cell spans are
dropped before the exact predicate refine (ST_Contains / ST_Intersects
pandas UDF) runs — so the expensive Python predicate only sees each
candidate once.

Scale notes (100 TB): cell size trades shuffle fan-out (small cells -> more
duplicate candidates) against refine selectivity (big cells -> more false
candidates).  Skew from one huge polygon overlapping many cells is bounded
by the explode (its candidates spread across many cell-partitions — the
opposite of key skew).  Points land in exactly one cell, so the dedupe is
a no-op for point-in-polygon workloads and Catalyst's AQE handles residual
imbalance.

``union_agg`` implements E1 (ST_Union aggregate, load_report.py:472) in
two phases, exactly like a built-in aggregate with a map-side combiner:
a mapInPandas partial dissolve per Arrow batch (no shuffle of raw
geometries — only one merged geometry per group per batch crosses the
wire), then a grouped-map final dissolve.  geometry.union is canonical
and associative, so the partial/final split cannot change the result;
no single pandas group ever materializes a whole 100 TB group's rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geometry as G
from ..functions.st_funcs import (st_contains, st_envelope, st_grid_cells,
                                  st_grid_cells_pad, st_intersects)


def _grid_candidates(left: DataFrame, right: DataFrame, cell: float,
                     left_geom: str, right_geom: str,
                     pad: float = 0.0) -> DataFrame:
    """Candidate pairs from the cell-id equi-join, PRE-dedup — factored
    out so the skew test can measure raw candidate duplication directly
    (the public joins dedupe and refine on top of this).  ``pad`` expands
    the left side's bbox on every side before it is bucketed."""
    lg, rg = "__lg", "__rg"
    l = left.withColumnRenamed(left_geom, lg)
    r = right.withColumnRenamed(right_geom, rg)
    lcells = (st_grid_cells_pad(F.col(lg), F.lit(cell), F.lit(float(pad)))
              if pad else st_grid_cells(F.col(lg), F.lit(cell)))
    l = l.withColumn("__cell", F.explode(lcells))
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

    left_keys/right_keys must uniquely identify rows on their side; they
    key the candidate dedupe.  All non-conflicting columns survive; when
    both sides use the same geometry column name, the left geometry keeps
    the name and the right geometry comes back as ``{right_geom}_right``.

    ``cell=None`` (default) derives the grid pitch from the RIGHT (build)
    side's p95 bbox extent — see ``adaptive_cell``; pass an explicit cell
    to pin it (results are invariant either way, only candidate counts
    move).
    """
    if cell is None:
        cell = adaptive_cell(right, right_geom)
    lg, rg = "__lg", "__rg"
    cand = _grid_candidates(left, right, cell, left_geom, right_geom)
    # one candidate per key pair before the (expensive) exact refine
    cand = cand.dropDuplicates(left_keys + right_keys)

    if predicate == "contains":
        keep = st_contains(F.col(rg), F.col(lg))
    elif predicate == "intersects":
        keep = st_intersects(F.col(rg), F.col(lg))
    else:
        raise ValueError(f"unknown predicate {predicate!r}")
    out = cand.filter(keep).withColumnRenamed(lg, left_geom)
    right_out = (f"{right_geom}_right" if left_geom == right_geom
                 else right_geom)
    return out.withColumnRenamed(rg, right_out)


# Phase-1 combine pays one python-side union per (group, batch); when a
# batch is nearly one-group-per-row the combine shuffles ~as many rows as
# it received while paying a per-row decode/canonicalize/encode — worse
# than shuffling the raw WKB.  Combine only when it at least halves the
# batch's row count.
_COMBINE_MAX_GROUP_RATIO = 0.5


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
              out_col: str = "geom", tree_fanin: int | None = 64) -> DataFrame:
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
    When P exceeds ``tree_fanin``, an intermediate dissolve keyed by
    (group, salt) with ceil(sqrt(P)) salt buckets runs first, capping
    per-task partial counts at ~sqrt(P) in both rounds (P=10^6 partials
    -> ~1000 unions per task).  The salt is a pure function of the
    partial's bytes (crc32 mod buckets), so the plan stays deterministic;
    associativity + canonical output make the extra round semantically
    free.  At local[32] partition counts sit under the default fan-in and
    the round never fires — no bench-scale cost.  Pass tree_fanin=None
    to force the flat two-phase plan.
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
    if tree_fanin is not None and nparts > tree_fanin:
        import math

        buckets = int(math.ceil(math.sqrt(nparts)))
        salted = partials.withColumn(
            "__salt", F.pmod(F.crc32(F.col(out_col)), F.lit(buckets)))
        partials = salted.groupBy(*group_cols, "__salt").applyInPandas(
            final, schema=out_schema)

    return partials.groupBy(*group_cols).applyInPandas(final, schema=out_schema)


def distance_join(
    left: DataFrame,
    right: DataFrame,
    d: float,
    left_keys: list[str],
    right_keys: list[str],
    cell: float | None = None,
    left_geom: str = "geom",
    right_geom: str = "geom",
) -> DataFrame:
    """Inner distance join (ST_DWithin join): pairs whose minimum planar
    distance is <= d.

    Same grid-bucket physical strategy as ``grid_spatial_join`` with one
    twist: the LEFT side emits cells for its bbox expanded by d, so any
    pair within distance d (bbox gap <= d) is guaranteed to share a cell;
    the exact ST_DWithin refine (expanded-bbox reject + vertex-segment
    minimum) then decides.  Cell pitch defaults to the build side's
    adaptive pitch, floored at d so the padding adds at most one ring of
    cells per side rather than d/cell of them.

    Scale: identical shuffle shape to the spatial join — equi-join on
    uniform integer-grid keys, dedupe before the Python refine.  The
    padding multiplies build-side duplication by ((E+2d)/(E))-ish, which
    is the inherent candidate cost of a distance predicate.
    """
    from ..functions.st_funcs import st_dwithin

    if cell is None:
        cell = max(adaptive_cell(right, right_geom), float(d))
    lg, rg = "__lg", "__rg"
    cand = _grid_candidates(left, right, cell, left_geom, right_geom, pad=d)
    cand = cand.dropDuplicates(left_keys + right_keys)
    out = cand.filter(st_dwithin(F.col(lg), F.col(rg), F.lit(float(d))))
    out = out.withColumnRenamed(lg, left_geom)
    name = right_geom if right_geom != left_geom else f"{right_geom}_right"
    return out.withColumnRenamed(rg, name)


def nearest_join(
    left: DataFrame,
    right: DataFrame,
    d_max: float,
    left_keys: list[str],
    right_keys: list[str],
    cell: float | None = None,
    left_geom: str = "geom",
    right_geom: str = "geom",
) -> DataFrame:
    """Nearest-neighbor spatial join (PostGIS `<->` KNN, distributed
    form): for each left row, the single closest right row within
    ``d_max``, with the exact distance as ``nn_distance``.

    The radius cutoff is what makes KNN distributable: candidates come
    from the padded-grid distance join (every within-d_max pair shares a
    cell), then a per-left-key rank by (exact distance, right key) keeps
    the closest.  Left rows with no right geometry within d_max drop out
    (inner semantics) — an unbounded global KNN would need an all-pairs
    fallback for isolated rows, which is exactly the plan shape that
    dies at scale; widen d_max instead.  Ties at equal distance break by
    the right key, so results are deterministic.
    """
    from pyspark.sql.window import Window as W

    from ..functions.st_funcs import st_distance

    cand = distance_join(left, right, d_max, left_keys, right_keys,
                         cell=cell, left_geom=left_geom,
                         right_geom=right_geom)
    rname = right_geom if right_geom != left_geom else f"{right_geom}_right"
    scored = cand.withColumn(
        "nn_distance", st_distance(F.col(left_geom), F.col(rname)))
    w = (W.partitionBy(*left_keys)
         .orderBy(F.col("nn_distance"), *[F.col(k) for k in right_keys]))
    return (scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1).drop("__rk"))
