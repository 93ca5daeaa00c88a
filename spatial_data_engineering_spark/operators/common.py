"""Shared helpers for oracle-parity-safe aggregation and assignment.

The driver compares Spark output against a DuckDB oracle with an
order-insensitive value hash (BASELINE.md "t2").  Floating-point SUM/AVG is
order-dependent, and Spark and DuckDB aggregate in different orders — so any
reduction over doubles must be made order-independent.  The trick: per-row
arithmetic in IEEE double is deterministic and identical across engines, so
we cast each row's value to an exact DECIMAL right before the SUM (decimal
addition is exact, hence order-independent) and cast the exact total back to
DOUBLE.  Ties in the double->decimal rounding cannot occur at scale 6
(binary doubles are never exactly x.0000005), so rounding mode differences
between engines are moot.

This is not just an oracle hack: at 100 TB the same property makes results
reproducible across partitionings and AQE re-plans.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# DECIMAL(30,6): 24 integer digits — sums of 1e12 rows of 1e9-sized values
# still fit; scale 6 captures the cent-level synthetic data exactly.
DEC = "decimal(30,6)"


def dsum(expr: Column | str, alias: str) -> Column:
    """Order-independent SUM over doubles (exact decimal accumulation)."""
    c = F.col(expr) if isinstance(expr, str) else expr
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(expr: Column | str, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum / count, divided in double."""
    c = F.col(expr) if isinstance(expr, str) else expr
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def sql_dsum_expr(expr: str) -> str:
    """Alias-free order-independent SUM expression (for composition)."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE)"


def sql_dsum(expr: str, alias: str) -> str:
    return f"{sql_dsum_expr(expr)} AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (f"(CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE)"
            f" / COUNT({expr})) AS {alias}")


def _dmoments(col: str) -> tuple[Column, Column, Column]:
    """(n, Σx, Σx²) with exact decimal accumulation — the closed-form
    building blocks for order-independent variance/CV."""
    ds = lambda c: F.sum(c.cast(DEC)).cast("double")  # noqa: E731
    c = F.col(col)
    return F.count(F.lit(1)), ds(c), ds(c * c)


def dvar_samp(col: str) -> Column:
    """Order-independent sample variance (ddof=1), closed form: exact
    decimal sums of x and x², combined in double — identical IEEE
    arithmetic on both engines (the q08/q75 contract).  stddev_samp/var
    over raw doubles would accumulate in engine-specific order."""
    n, s1, s2 = _dmoments(col)
    return F.greatest(s2 - s1 * s1 / n, F.lit(0)) / (n - 1)


def dcv(col: str) -> Column:
    """Order-independent coefficient of variation: sqrt(var_samp)/mean."""
    n, s1, _ = _dmoments(col)
    return F.sqrt(dvar_samp(col)) / (s1 / n)


def sql_dvar_expr(expr: str) -> str:
    """DuckDB twin of dvar_samp (alias-free, for composition)."""
    s1 = sql_dsum_expr(expr)
    s2 = sql_dsum_expr(f"{expr} * {expr}")
    return (f"(greatest({s2} - {s1} * {s1} / COUNT(*), 0)"
            f" / (COUNT(*) - 1))")


def sql_dcv_expr(expr: str) -> str:
    """DuckDB twin of dcv."""
    return f"(sqrt({sql_dvar_expr(expr)}) / ({sql_dsum_expr(expr)} / COUNT(*)))"


def fround6(col: Column) -> Column:
    """Engine-neutral 6-decimal rounding device (Spark side).

    ``floor(x*1e6 + 0.5)/1e6`` — plain IEEE ops, so both engines share
    halfway semantics on the exact binary value.  Spark's ROUND rounds
    the double's SHORTEST decimal repr (BigDecimal.valueOf) where DuckDB
    rounds the binary value; a value exactly on a .5e-6 boundary splits
    the engines by 1e-6 (first observed on the q44 quality score at sf1,
    round 11; same failure mode for any interpolated percentile output —
    ADVICE r11).

    Sign domain: the device is engine-IDENTICAL for any sign (that is
    its whole job), but on negative halfway inputs it rounds half-UP
    (-3.0000005 -> -3.0) where ROUND's display convention is
    half-away-from-zero (-3.000001).  Callers that must match ROUND's
    decimal convention guarantee x >= 0 (quality scores, percentiles of
    non-negative quantities); callers that only need cross-engine
    agreement (q216's signed log-ratios) may pass any sign.
    """
    return F.floor(col * 1000000.0 + 0.5) / 1000000.0


def sql_fround6(expr: str) -> str:
    """DuckDB twin of fround6 (alias-free, for composition)."""
    return f"(floor(({expr}) * 1000000.0 + 0.5) / 1000000.0)"


def np_fround6(x):
    """numpy twin of fround6, for driver/executor-side kernels.

    Same IEEE sequence (``floor(x*1e6 + 0.5)/1e6``) so a numpy-side
    rounding is bit-identical to the Spark/DuckDB device on the same
    binary value — np.round's half-to-even vs SQL ROUND's
    half-away-from-zero is exactly the halfway split the device exists
    to eliminate (ADVICE r12 on q52).
    """
    import numpy as np

    return np.floor(np.asarray(x, dtype=np.float64) * 1000000.0
                    + 0.5) / 1000000.0


def np_nearest(x, c):
    """Nearest-centroid assignment: ``(cluster, d2)`` for rows ``x`` (n,
    dim) against centroids ``c`` (k, dim), both float64.

    d2 is the ordered left fold ``(x0-c0)^2 + (x1-c1)^2 + ...`` in index
    order — the exact IEEE sequence of the DuckDB twins ``_km_d2_sql``
    and ``_pq_d2_sql`` (no BLAS expansion, no numpy pairwise sum), so d2
    is bit-identical across engines.  The assignment is the argmin of
    np_fround6(d2); argmin returns the first minimum, so ties go to the
    lowest centroid id, as the twins' ``ORDER BY fround6(d2), cid``.
    """
    acc = (x[:, None, 0] - c[None, :, 0]) ** 2
    for p in range(1, x.shape[1]):
        acc = acc + (x[:, None, p] - c[None, :, p]) ** 2
    return np_fround6(acc).argmin(axis=1), acc


def sql_spark_pct(rel: str, val: str, probs, part=None,
                  prefix: str = "pct",
                  keep_null_groups: bool = False) -> str:
    """DuckDB CTE chain replicating Spark's EXACT percentile bit for bit.

    Returns text for three chained CTEs; the final relation ``{prefix}``
    has the ``part`` columns plus one column per ``(prob, alias)`` in
    ``probs``.  Splice into an oracle's WITH list and join/select from
    ``{prefix}`` (single row when ``part`` is None).

    Why not quantile_cont: Spark's Percentile computes
    ``(ceil(pos) - pos) * lo + (pos - floor(pos)) * hi`` with
    ``pos = p * (n - 1)`` over DOUBLE-cast values and SHORT-CIRCUITS to
    ``lo`` when the endpoint VALUES are equal; quantile_cont lerps
    blindly and ``k*(1-f) + k*f != k`` in FP, so with duplicate runs at
    the interpolation index the engines can split by 1 ulp — observed at
    sf1 on q176 (round 11, scripts/sf1_parity.py) and pinned by
    tests/test_cross_engine_float.py.  A bare prob literal is DECIMAL in
    DuckDB, hence the CAST AS DOUBLE.

    NULL semantics (ADVICE r11): Spark's percentile() IGNORES NULLs, so
    the ranked CTE filters them out before numbering — without the
    filter, COUNT(*) OVER and ROW_NUMBER (ordered NULLS LAST in DuckDB)
    would count NULL rows and shift every position.  All call sites to
    date are non-null by construction; the filter makes the helper match
    Spark on any column with at least one non-null value per group
    (tests/test_cross_engine_float.py pins it on a nullable column).

    ALL-null groups (ADVICE r12): the default mode drops such a group
    where Spark's groupBy emits it with a NULL percentile — a HARD
    CONTRACT on callers: every group must carry at least one non-null
    value (true by construction at every current call site; pinned
    executable in test_cross_engine_float.py).  ``keep_null_groups=True``
    closes the gap for callers that cannot guarantee it: NULL rows stay
    in the ranked relation but are ordered last and numbered past every
    non-null row (__n counts non-null only), so positions are unchanged
    for real data while an all-NULL group survives with a NULL output —
    exactly Spark.  Opt-in rather than default because flipping the
    generated text would change 13 shipped oracle strings at once
    (rule-2 forces) with zero value change on their non-null inputs.
    """
    part = list(part or [])
    pby = ("PARTITION BY " + ", ".join(part) + " ") if part else ""
    psel = (", ".join(part) + ", ") if part else ""
    gby = ("GROUP BY " + ", ".join(part)) if part else ""
    sel, out = [], []
    for p, alias in probs:
        pos_r = f"(CAST({p} AS DOUBLE) * (__n - 1))"
        sel.append(f"MAX(CASE WHEN __r = CAST(FLOOR({pos_r}) AS BIGINT) "
                   f"THEN __v END) AS __lo_{alias}")
        sel.append(f"MAX(CASE WHEN __r = CAST(CEIL({pos_r}) AS BIGINT) "
                   f"THEN __v END) AS __hi_{alias}")
        pos = f"(CAST({p} AS DOUBLE) * (__gn - 1))"
        out.append(f"CASE WHEN __hi_{alias} = __lo_{alias} "
                   f"THEN __lo_{alias} "
                   f"ELSE (CEIL({pos}) - {pos}) * __lo_{alias} "
                   f"+ ({pos} - FLOOR({pos})) * __hi_{alias} END AS {alias}")
    if keep_null_groups:
        # NULLs ordered strictly last (explicit key — never rely on a
        # dialect default), numbered past every non-null row; __n counts
        # non-null only, so no FLOOR/CEIL position can reach a NULL row
        # (CEIL(p*(n-1)) <= n-1 < first NULL rank).  An all-NULL group
        # keeps its rows, matches no position, and emits NULL.
        ranked = f"""{prefix}_ranked AS (
        SELECT {psel}CAST({val} AS DOUBLE) AS __v,
               ROW_NUMBER() OVER ({pby}ORDER BY
                   (CAST({val} AS DOUBLE) IS NULL),
                   CAST({val} AS DOUBLE)) - 1 AS __r,
               COUNT(CAST({val} AS DOUBLE)) OVER ({pby.strip() or ''})
                   AS __n
        FROM {rel}
    ),"""
    else:
        ranked = f"""{prefix}_ranked AS (
        SELECT {psel}CAST({val} AS DOUBLE) AS __v,
               ROW_NUMBER() OVER ({pby}ORDER BY CAST({val} AS DOUBLE)) - 1
                   AS __r,
               COUNT(*) OVER ({pby.strip() or ''}) AS __n
        FROM {rel} WHERE ({val}) IS NOT NULL
    ),"""
    return f"""{ranked}
    {prefix}_sel AS (
        SELECT {psel}MAX(__n) AS __gn,
               {", ".join(sel)}
        FROM {prefix}_ranked {gby}
    ),
    {prefix} AS (
        SELECT {psel}{", ".join(out)}
        FROM {prefix}_sel
    )"""
