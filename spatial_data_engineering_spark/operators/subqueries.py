"""Decorrelated-subquery join patterns (TPC-H Q13/Q18/Q21/Q17/Q11
shapes), an explicit bloom-filter runtime-pruned semi-join, and
incremental aggregate maintenance (the IVM merge).

The reference's SQL surface (query/view_linked_data.sql, load_report.py
inline SQL) stays at single-level joins; these queries add the classic
nested-subquery shapes a relational engine must decorrelate well, written
so Catalyst gets flat join/aggregate plans instead of per-row correlated
execution:

- Q13 shape: outer-join-preserving count distribution (a LEFT JOIN whose
  pre-join predicate must stay in the ON clause, not WHERE).
- Q18 shape: HAVING-aggregate subquery as a join input.
- Q21 shape: EXISTS + NOT EXISTS double correlation, decorrelated into one
  order-level aggregate — two correlated scans collapse into one groupBy.
- Bloom semi-join: the runtime-filter pattern (build a compact bit set
  from the selective side, prune the big side map-side BEFORE its shuffle,
  then exact-join the survivors).  Spark ships this as
  spark.sql.optimizer.runtime.bloomFilter.enabled for adaptive plans; the
  explicit form here is the portable version with a controllable bit
  budget, and keeps the result EXACT (the bloom only prunes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..queries_registry import registrar
from .common import davg, dsum, sql_davg, sql_dsum

QUERIES, ORACLES, query = registrar()


# --------------------------------------------------------------------------
# q103 — customer order-count distribution (TPC-H Q13 shape).  The
# o_orderpriority predicate is a JOIN-side condition: customers whose only
# orders are urgent must surface with c_count = 0, so pushing it to a WHERE
# after the join would be wrong.  Catalyst keeps it in the LEFT JOIN's ON.
#
# Scale: join shuffles on custkey (uniform); first agg is co-partitioned on
# the join key (no extra exchange), second agg is a low-card count
# histogram with map-side partials.  The 0-count bucket exists purely via
# outer-join preservation — no driver-side patching.
# --------------------------------------------------------------------------
@query(
    "q103_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS n_customers
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority NOT ILIKE '%urgent%'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q103_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey)
        & ~o.o_orderpriority.ilike("%urgent%"),
        "left",
    )
    per_cust = joined.groupBy(c.c_custkey).agg(
        F.count(o.o_orderkey).alias("c_count"))
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("n_customers"))


# --------------------------------------------------------------------------
# q104 — large-volume orders (TPC-H Q18 shape).  The HAVING-aggregate
# subquery (orders whose total quantity exceeds 150) becomes a join input;
# Catalyst plans it as agg -> join rather than a correlated per-order scan.
#
# Scale: lineitem aggregates on l_orderkey (its natural key — map-side
# partials do most of the work), the survivor set is small (selective
# HAVING) and joins orders on the same key; customer is a broadcast dim.
# --------------------------------------------------------------------------
@query(
    "q104_large_volume_orders",
    f"""
    SELECT c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_totalprice, t.sum_qty
    FROM orders o
    JOIN (
        SELECT l_orderkey, {sql_dsum('l_quantity', 'sum_qty')}
        FROM lineitem GROUP BY l_orderkey
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) > 150
    ) t ON o.o_orderkey = t.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q104_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(dsum("l_quantity", "sum_qty"))
           .filter(F.col("sum_qty") > 150))
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice", "sum_qty",
        )
    )


# --------------------------------------------------------------------------
# q105 — lone-returner suppliers (TPC-H Q21 shape).  A supplier counts for
# an order if they shipped a returned item ('R') in a multi-supplier order
# where NO OTHER supplier had a return: EXISTS(other supplier) AND
# NOT EXISTS(other supplier with 'R').
#
# The oracle keeps the correlated EXISTS/NOT EXISTS form; the Spark plan
# decorrelates BOTH subqueries into one order-level aggregate —
# n_suppliers and n_return_suppliers per order — then a supplier s
# qualifies iff s returned in o, n_suppliers >= 2 and n_return_suppliers
# = 1 (necessarily s).  Two correlated rescans of lineitem collapse into
# one groupBy(l_orderkey) that AQE co-partitions with the join.
# --------------------------------------------------------------------------
@query(
    "q105_lone_returner",
    """
    SELECT l1.l_suppkey, COUNT(DISTINCT l1.l_orderkey) AS n_orders
    FROM lineitem l1
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY l1.l_suppkey
    """,
)
def q105_lone_returner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # two-level exact aggregation instead of two filtered countDistincts:
    # the distinct-agg rewrite EXPANDs every row once per distinct clause
    # (2x the shuffle here); deduping (orderkey, suppkey) first with an
    # any-R flag needs one shuffle of the same key prefix and the
    # per-order rollup rides its partials
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .alias("has_r"))
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("has_r").alias("n_return_suppliers"))
    qualifying = per_order.filter(
        (F.col("n_suppliers") >= 2) & (F.col("n_return_suppliers") == 1))
    # the returning suppliers of a qualifying order are exactly its
    # has_r = 1 rows in per_supp, and per_supp is unique per
    # (l_orderkey, l_suppkey) — so COUNT(*) of joined rows per supplier
    # IS COUNT(DISTINCT l_orderkey).  Reusing per_supp replaces the old
    # third stage (re-scan lineitem, re-shuffle the R rows on
    # l_orderkey, then a two-phase distinct-agg) with a join of two
    # already-deduplicated order-keyed tables and a plain count (r17,
    # guide §2.3: shuffle the deduped pairs, not the raw rows; the
    # distinct-agg EXPAND is gone with the duplicates).
    return (
        per_supp.filter(F.col("has_r") == 1)
        .join(qualifying, "l_orderkey")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --------------------------------------------------------------------------
# q106 — bloom-filter runtime-pruned semi-join.  Lineitems of urgent
# high-value orders: the selective order set (~14% of orders) is folded
# into an m-bit bloom (k=3, double hashing from two xxhash64 words),
# built DISTRIBUTED — per key, each of the k bit positions becomes a
# (word_idx, mask) contribution, bit_or-aggregated into m/64 longs — and
# only the finished 2 KiB-per-128Kbits bitmap is collected and rebroadcast
# as a literal array.  The big side tests membership entirely inside
# whole-stage codegen (element_at + bitwise AND on the literal), so
# non-members are dropped BEFORE the semi-join shuffle; the exact
# left-semi join on survivors keeps the result free of false positives.
#
# Scale: the bitmap is O(m) regardless of build-side row count; m is the
# knob (1e-2 FPR at m/n ~ 10 bits/key with k=3).  This is the portable
# form of spark.sql.optimizer.runtime.bloomFilter.enabled, with the build
# threshold under user control instead of the planner's.
# --------------------------------------------------------------------------
_BLOOM_M = 1 << 17  # bits; 2048 longs = 16 KiB broadcast literal

@query(
    "q106_bloom_semi_join",
    f"""
    SELECT l.l_returnflag, COUNT(*) AS n_items,
           {sql_dsum('l.l_extendedprice', 'sum_price')}
    FROM lineitem l
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_orderkey = l.l_orderkey
          AND o.o_orderpriority ILIKE '%urgent%'
          AND o.o_totalprice > 150000
    )
    GROUP BY l.l_returnflag
    """,
)
def q106_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    keep = (o.filter(o.o_orderpriority.ilike("%urgent%")
                     & (o.o_totalprice > 150000))
            .select("o_orderkey"))

    m = _BLOOM_M
    h1 = F.pmod(F.xxhash64("o_orderkey"), F.lit(m))
    h2 = (F.pmod(F.xxhash64("o_orderkey", F.lit(1)), F.lit(m - 1)) + 1)
    # k=3 double-hashed positions, exploded to (word, mask) contributions.
    pos = F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(3)])
    # SQL-form shiftleft: the Python F.shiftleft only takes a constant
    # shift amount, the SQL function shifts by a column.
    contrib = (keep.select(F.explode(pos).alias("bit"))
               .select((F.col("bit") / 64).cast("int").alias("word"),
                       F.expr("shiftleft(1L, cast(bit % 64 as int))")
                        .alias("mask"))
               .groupBy("word").agg(F.bit_or("mask").alias("bits")))
    # BOUNDED collect: exactly m/64 = 2048 rows of (int, long) — the
    # finished bitmap, not the keys.  At 100 TB this stays 16 KiB.
    bitmap = [0] * (m // 64)
    for row in contrib.collect():
        bitmap[row["word"]] = row["bits"]
    # ONE array literal in ONE py4j round trip: F.lit(list) converts the
    # Python list to a java.util.ArrayList element-by-element over the
    # py4j socket — 2048 round trips, measured 1.3-2.6 s of pure driver
    # overhead per construction.  A SQL array literal ships as one ~20 KB
    # string and parses JVM-side in ~5 ms; the L suffix pins each element
    # to BIGINT so the schema (array<bigint>) and values are identical
    # (A/B-checked) and the shiftleft membership test below is unchanged.
    bits_lit = F.expr("array(" + ",".join(f"{w}L" for w in bitmap) + ")")

    lh1 = F.pmod(F.xxhash64("l_orderkey"), F.lit(m))
    lh2 = (F.pmod(F.xxhash64("l_orderkey", F.lit(1)), F.lit(m - 1)) + 1)
    probe = li.withColumn("_bits", bits_lit)
    for i in range(3):
        probe = probe.withColumn(
            f"_p{i}", F.pmod(lh1 + F.lit(i) * lh2, F.lit(m)))
    member = F.lit(True)
    for i in range(3):
        member = member & F.expr(
            f"(element_at(_bits, cast(_p{i} / 64 as int) + 1)"
            f" & shiftleft(1L, cast(_p{i} % 64 as int))) != 0")
    # map-side, pre-shuffle, superset of the exact result
    pruned = probe.filter(member).drop(
        "_bits", *[f"_p{i}" for i in range(3)])
    exact = pruned.join(keep, pruned.l_orderkey == keep.o_orderkey,
                        "left_semi")
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_extendedprice", "sum_price"),
    )


# --------------------------------------------------------------------------
# q124 — incremental aggregate maintenance (the IVM merge pattern): a
# standing per-customer revenue aggregate is REFRESHED with a delta batch
# (orders arriving today, o_orderkey % 10 = 9) by merging partial states
# — never re-scanning the base.  Correctness statement: merged state ==
# full recompute, which is exactly what the oracle computes; the Spark
# plan is base-agg ∪ delta-agg -> re-agg (sum/sum, count/count merge),
# the same shape a materialized-view refresh runs at 100 TB where the
# base aggregate is a stored table and only the delta touches raw data.
# --------------------------------------------------------------------------
@query(
    "q124_incremental_agg_merge",
    f"""
    SELECT o_custkey, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders GROUP BY o_custkey
    """,
)
def q124_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    is_delta = F.col("o_orderkey") % 10 == 9
    # standing aggregate state (in production: a stored MV table)
    base = (o.filter(~is_delta).groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
                 .alias("sum_dec")))
    # today's delta batch: the only part that touches raw rows on refresh
    delta = (o.filter(is_delta).groupBy("o_custkey")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
                  .alias("sum_dec")))
    # merge: partial states are (count, exact decimal sum) — associative,
    # so union + re-agg is the refresh
    return (base.unionByName(delta)
            .groupBy("o_custkey")
            .agg(F.sum("n_orders").alias("n_orders"),
                 F.sum("sum_dec").cast("double").alias("sum_price")))


# --------------------------------------------------------------------------
# q125 — correlated scalar-aggregate subquery (TPC-H Q17 shape): revenue
# of small-quantity line items, "small" defined per part as
# quantity < 0.5 * avg(quantity of that part).  The correlated
# avg-subquery decorrelates into one per-part aggregate joined back —
# Catalyst's standard rewrite, made explicit so the plan is one groupBy +
# one join instead of a per-row rescan.  The 0.5*avg threshold is exact
# decimal-avg cast to double — per-row IEEE compare, no boundary drift.
#
# Scale: per-part avg has map-side partials on the join key itself;
# at |parts| << |lineitem| the avg frame broadcasts.
# --------------------------------------------------------------------------
@query(
    "q125_small_quantity_revenue",
    f"""
    SELECT l.l_partkey, COUNT(*) AS n_small,
           {sql_dsum('l.l_extendedprice', 'sum_price')}
    FROM lineitem l
    WHERE l.l_quantity < (
        SELECT 0.5 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(30,6)))
                           AS DOUBLE) / COUNT(l2.l_quantity))
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
    )
    GROUP BY l.l_partkey
    """,
)
def q125_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        davg("l_quantity", "avg_qty"))
    return (
        li.join(F.broadcast(per_part), li.l_partkey == per_part.pk)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_small"),
             dsum("l_extendedprice", "sum_price"))
    )


# --------------------------------------------------------------------------
# q126 — global-scalar HAVING subquery (TPC-H Q11 shape): supplier
# revenue shares, keeping suppliers whose revenue exceeds 0.1% of the
# GLOBAL total.  The scalar total joins back as a broadcast 1-row frame;
# the share and the cut use the same exact-decimal total on both
# engines, so the 0.001 threshold cannot flip.
# --------------------------------------------------------------------------
@query(
    "q126_revenue_share",
    f"""
    WITH per_supp AS (
        SELECT l_suppkey, {sql_dsum('l_extendedprice * (1 - l_discount)',
                                    'revenue')}
        FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT {sql_dsum('revenue', 'total')} FROM per_supp)
    SELECT p.l_suppkey, p.revenue,
           ROUND(p.revenue / t.total, 9) AS share
    FROM per_supp p CROSS JOIN tot t
    WHERE p.revenue > 0.001 * t.total
    """,
)
def q126_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_supp = li.groupBy("l_suppkey").agg(dsum(rev, "revenue"))
    tot = per_supp.agg(dsum("revenue", "total"))
    return (per_supp.crossJoin(F.broadcast(tot))  # 1-row scalar
            .filter(F.col("revenue") > 0.001 * F.col("total"))
            .select("l_suppkey", "revenue",
                    F.round(F.col("revenue") / F.col("total"), 9)
                    .alias("share")))
