"""Event-stream analytics operators — funnel, cohort retention, anomaly
scoring (z-score and robust MAD), time-weighted aggregation, gap-fill
interpolation, deterministic per-key sampling, SCD2 interval
construction, rolling medians, forward as-of joins, weighted medians and
per-group OLS trends.

The reference's workload is batch geospatial reporting, but its `events`
ingestion path (SURVEY.md A2/C4: load_data.py timestamped loads) implies the
product-analytics queries any engine over an event table must answer.  These
are the canonical ones — every implementation is pure Catalyst (window
functions + aggregation), no Python in the hot path.

Scale notes (100 TB):
- Every operator shuffles at most once on `user_id` (uniform, high-card) or
  on a low-cardinality group key with map-side partial aggregation.
- Stage outputs that join back to the event stream are per-user aggregates —
  orders of magnitude smaller than the input; at sf0.1 they broadcast, at
  100 TB they hash-join co-partitioned on the same key the groupBy just
  shuffled on, so AQE reuses the exchange.
- All timestamp arithmetic is exact integer epoch-microseconds; all double
  reductions use the order-independent decimal accumulation from common.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load
from ..queries_registry import registrar
from .common import (davg, dsum, dvar_samp, fround6, sql_davg, sql_dsum,
                     sql_dsum_expr, sql_dvar_expr, sql_fround6,
                     sql_spark_pct)

QUERIES, ORACLES, query = registrar()


# --------------------------------------------------------------------------
# q97 — ordered conversion funnel: view -> click -> purchase.
# A user reaches stage k only with an event at stage k AT OR AFTER their
# first stage-(k-1) event.  One row out: users entering each stage.
#
# Shape: three per-user min-aggregations chained by joins.  Each stage input
# is already a per-user singleton (<= n_users rows), so stages 2-3 join
# aggregate-to-aggregate; only stage 1 and the stage-filtered event scans
# touch the raw stream, each a single groupBy(user_id) with map-side
# partials.  At 100 TB all four shuffles hash on user_id — AQE coalesces,
# and the per-stage frames shrink monotonically (funnel property).
# --------------------------------------------------------------------------
@query(
    "q97_funnel",
    """
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts >= v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase
    """,
)
def q97_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    c = (e.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter(F.col("ts") >= F.col("t_view"))
         .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ts") >= F.col("t_click"))
         .groupBy("user_id").agg(F.min("ts").alias("t_purchase")))
    counts = [df.agg(F.count(F.lit(1)).alias(a))
              for df, a in ((v, "n_view"), (c, "n_click"), (p, "n_purchase"))]
    # 1-row x 1-row joins of the three stage counts (broadcast, no shuffle).
    out = counts[0].crossJoin(counts[1]).crossJoin(counts[2])
    return out


# --------------------------------------------------------------------------
# q98 — weekly cohort retention.  Cohort = ISO week of a user's first
# event; a cohort retains a user at offset k if they have any event k
# weeks after their cohort week (calendar-week difference, not 7-day
# buckets, so both engines use the same date_trunc('week') floor).
#
# Shape: per-user min-agg (shuffle 1 on user_id), join back to the stream
# (co-partitioned on user_id), then a (cohort_week, offset) count-distinct
# (shuffle 2 on a low-card composite).  The join's build side is per-user
# singletons — broadcast locally, co-located hash at scale.
# --------------------------------------------------------------------------
@query(
    "q98_cohort_retention",
    """
    WITH first_seen AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    )
    SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(datediff('week', f.cohort_week,
                         date_trunc('week', e.ts)) AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY f.cohort_week, week_offset
    """,
)
def q98_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    first_seen = (e.groupBy("user_id")
                  .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week")))
    ev_week = F.date_trunc("week", F.col("ts"))
    offset = (F.datediff(ev_week, F.col("cohort_week")) / 7).cast("bigint")
    return (
        e.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# --------------------------------------------------------------------------
# q99 — z-score anomaly detection: events whose value deviates > 2 sample
# standard deviations from their event_type mean.  Moments come from the
# order-independent decimal accumulators (common.py), so mean/std — and
# therefore the >2σ cut itself — are bit-identical across engines and
# across partitionings/AQE re-plans; a naive stddev_samp could flip a
# borderline row in or out between runs.
#
# Shape: one low-cardinality groupBy (5 types, map-side partials), then the
# tiny stats frame broadcasts back onto the stream — zero shuffle of the
# events themselves.  This is the canonical scale pattern for global-stat
# filters.
# --------------------------------------------------------------------------
@query(
    "q99_zscore_anomaly",
    f"""
    WITH stats AS (
        SELECT event_type,
               {sql_davg('value', 'mu')},
               SQRT({sql_dvar_expr('value')}) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_type, COUNT(*) AS n_outliers,
           {sql_dsum('ABS((e.value - s.mu) / s.sigma)', 'sum_abs_z')}
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE ABS((e.value - s.mu) / s.sigma) > 2.0
    GROUP BY e.event_type
    """,
)
def q99_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        davg("value", "mu"),
        F.sqrt(dvar_samp("value")).alias("sigma"),
    )
    z = F.abs((F.col("value") - F.col("mu")) / F.col("sigma"))
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(z > 2.0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"),
             dsum(F.abs((F.col("value") - F.col("mu")) / F.col("sigma")),
                  "sum_abs_z"))
    )


# --------------------------------------------------------------------------
# q100 — time-weighted average value per user: each event's value holds
# until the next event (step interpolation), weighted by exact integer
# epoch-microsecond durations.  Users with a single event have zero span
# and are excluded (HAVING span > 0) rather than emitting NULL/NaN.
#
# Shape: one window pass partitioned by user_id (shuffle 1), then a
# per-user sum (same key — Catalyst reuses the partitioning; no second
# exchange).  value*duration is per-row IEEE double (deterministic), the
# reduction is decimal-exact.
#
# Output is quantized to 1e-6: the value*micros numerator sums to ~1e14,
# and DuckDB's DECIMAL->DOUBLE cast is not correctly rounded at that
# magnitude (measured: 99980337641065.129056 -> ...065.14, one ulp above
# the nearest double ...065.125), so the exact-decimal trick alone cannot
# make the quotient bit-identical here.  ROUND(x, 6) absorbs the ulp.
# --------------------------------------------------------------------------
@query(
    "q100_time_weighted_avg",
    f"""
    WITH stepped AS (
        SELECT user_id,
               value * (LEAD(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                        - epoch_us(ts)) AS vdur,
               LEAD(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)
                   - epoch_us(ts) AS dur
        FROM events
    )
    SELECT user_id,
           ROUND({sql_dsum_expr('vdur')} / SUM(dur), 6) AS twa_value
    FROM stepped WHERE dur IS NOT NULL
    GROUP BY user_id HAVING SUM(dur) > 0
    """,
)
def q100_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    dur = F.lead(us).over(w) - us
    stepped = (e.select("user_id", "value", dur.alias("dur"))
               .withColumn("vdur", F.col("value") * F.col("dur"))
               .filter(F.col("dur").isNotNull()))
    return (
        stepped.groupBy("user_id")
        .agg(F.round(F.sum(F.col("vdur").cast("decimal(30,6)")).cast("double")
                     / F.sum("dur"), 6).alias("twa_value"),
             F.sum("dur").alias("_span"))
        .filter(F.col("_span") > 0)
        .drop("_span")
    )


# --------------------------------------------------------------------------
# q101 — gap-fill with linear interpolation.  Daily mean purchase value per
# user has missing days (purchases are sparse per user); build the dense
# day spine over each user's [first,last] purchase day and lerp interior
# gaps from the bracketing observed days.  Exactly the time-series
# `interpolate` every hypertable engine ships.
#
# Interpolated value = prev + (next-prev) * (day-prev_day)/(next_day-prev_day)
# — per-row IEEE double, identical across engines.  Edge days are observed
# by construction, so no extrapolation case exists.
#
# Shape: per-(user, day) agg (shuffle 1), per-user spine via sequence()
# (no shuffle — generated from a 2-column per-user aggregate), left join
# spine<-observed co-partitioned on user_id, one window pass for the
# bracketing values (last/first with ignorenulls).  At 100 TB the spine is
# |users| x |days| rows of 3 columns — far smaller than the event stream.
# --------------------------------------------------------------------------
@query(
    "q101_gap_fill_interpolate",
    f"""
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               {sql_davg('value', 'v')}
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, day
    ),
    spine AS (
        SELECT user_id, UNNEST(generate_series(MIN(day), MAX(day),
                                               INTERVAL 1 DAY))::DATE AS day
        FROM daily GROUP BY user_id
    ),
    joined AS (
        SELECT s.user_id, s.day, d.v,
               LAST_VALUE(d.v IGNORE NULLS) OVER
                   (PARTITION BY s.user_id ORDER BY s.day
                    ROWS UNBOUNDED PRECEDING) AS pv,
               LAST_VALUE(CASE WHEN d.v IS NOT NULL THEN s.day END
                          IGNORE NULLS) OVER
                   (PARTITION BY s.user_id ORDER BY s.day
                    ROWS UNBOUNDED PRECEDING) AS pd,
               FIRST_VALUE(d.v IGNORE NULLS) OVER
                   (PARTITION BY s.user_id ORDER BY s.day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               FIRST_VALUE(CASE WHEN d.v IS NOT NULL THEN s.day END
                           IGNORE NULLS) OVER
                   (PARTITION BY s.user_id ORDER BY s.day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        FROM spine s LEFT JOIN daily d USING (user_id, day)
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           CASE WHEN v IS NOT NULL THEN v
                ELSE pv + (nv - pv) * CAST(datediff('day', pd, day) AS DOUBLE)
                                      / CAST(datediff('day', pd, nd) AS DOUBLE)
           END AS value_filled,
           (v IS NULL) AS interpolated
    FROM joined
    """,
)
def q101_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = (e.filter(F.col("event_type") == "purchase")
             .groupBy("user_id",
                      F.date_trunc("day", "ts").cast("date").alias("day"))
             .agg(davg("value", "v")))
    spine = (daily.groupBy("user_id")
             .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
             .select("user_id",
                     F.explode(F.sequence("d0", "d1")).alias("day")))
    wp = (W.partitionBy("user_id").orderBy("day")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    wn = (W.partitionBy("user_id").orderBy("day")
          .rowsBetween(W.currentRow, W.unboundedFollowing))
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    j = (spine.join(daily, ["user_id", "day"], "left")
         .withColumn("pv", F.last("v", ignorenulls=True).over(wp))
         .withColumn("pd", F.last(obs_day, ignorenulls=True).over(wp))
         .withColumn("nv", F.first("v", ignorenulls=True).over(wn))
         .withColumn("nd", F.first(obs_day, ignorenulls=True).over(wn)))
    lerp = (F.col("pv") + (F.col("nv") - F.col("pv"))
            * F.datediff("day", "pd").cast("double")
            / F.datediff("nd", "pd").cast("double"))
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.when(F.col("v").isNotNull(), F.col("v")).otherwise(lerp)
         .alias("value_filled"),
        F.col("v").isNull().alias("interpolated"),
    )


# --------------------------------------------------------------------------
# q102 — deterministic bottom-k-by-hash sample per key (the distributed
# stand-in for per-stratum reservoir sampling).  Hash order is a pure
# function of doc_id, so the sample is reproducible across runs, engines,
# partitionings and — unlike rand()-based sampling — across retried tasks.
# Bottom-k union-merges under re-partitioning, which true reservoirs don't.
#
# Shape: one window pass partitioned by the stratum key.  At 100 TB this
# is a single shuffle on `source`; for heavy strata the two-phase variant
# (per-partition bottom-k, then merge) from textops.two_phase_topk applies
# unchanged — documented there, same contract.
# --------------------------------------------------------------------------
@query(
    "q102_bottomk_sample",
    """
    SELECT source, doc_id
    FROM (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rk
        FROM documents
    ) WHERE rk <= 4
    """,
)
def q102_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = (W.partitionBy("source")
         .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
    return (d.select("source", "doc_id",
                     F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= 4)
            .drop("rk"))


# --------------------------------------------------------------------------
# q112 — SCD2 interval construction (gaps-and-islands): collapse each
# user's consecutive runs of equal event_type into versioned dimension
# rows [valid_from, valid_to) with valid_to = next run's start and NULL
# for the current (open) version — the warehouse slowly-changing-dimension
# shape, built from an append-only event log.
#
# Exact integer epoch-micros throughout.  Shape: two window passes and one
# groupBy, all partitioned by user_id — Catalyst plans a single exchange
# and reuses it (the q18/q100 pattern).
# --------------------------------------------------------------------------
@query(
    "q112_scd2_intervals",
    """
    WITH runs AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN LAG(event_type) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                         IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
    ),
    grp AS (
        -- DuckDB SUM over integers returns HUGEINT, which lands in pandas
        -- as float64 and hash-mismatches Spark's BIGINT run_id even when
        -- every value is identical (the round-5 driver red row).  CAST
        -- pins the oracle to the engine-portable type.
        SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS run_id
        FROM runs
    ),
    agg AS (
        SELECT user_id, run_id,
               MIN(event_type) AS event_type,   -- constant within a run
               MIN(epoch_us(ts)) AS valid_from_us,
               COUNT(*) AS n_events
        FROM grp GROUP BY user_id, run_id
    )
    SELECT user_id, run_id, event_type, valid_from_us,
           LEAD(valid_from_us) OVER
               (PARTITION BY user_id ORDER BY run_id) AS valid_to_us,
           n_events
    FROM agg
    """,
)
def q112_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    grp = (e.withColumn("chg", chg)
           .withColumn("run_id", F.sum("chg").over(
               w.rowsBetween(W.unboundedPreceding, 0))))
    agg = (grp.groupBy("user_id", "run_id")
           .agg(F.min("event_type").alias("event_type"),
                F.min(F.unix_micros("ts")).alias("valid_from_us"),
                F.count(F.lit(1)).alias("n_events")))
    w2 = W.partitionBy("user_id").orderBy("run_id")
    return agg.select(
        "user_id", "run_id", "event_type", "valid_from_us",
        F.lead("valid_from_us").over(w2).alias("valid_to_us"),
        "n_events",
    )


# --------------------------------------------------------------------------
# q117 — rolling median smoothing: per user, the exact median of the last
# 5 event values (ordered by ts, event_id).  Both engines interpolate the
# even-count case as the mean of the two middle values over the same
# ROWS frame, so outputs are bit-identical with no rounding.
#
# Shape: one window pass on user_id; the frame holds <= 5 doubles, so the
# per-row cost is O(frame log frame) inside the JVM — no Python, no extra
# shuffle beyond the partitioning.
# --------------------------------------------------------------------------
@query(
    "q117_rolling_median",
    """
    SELECT event_id, user_id,
           MEDIAN(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS rolling_median
    FROM events
    """,
)
def q117_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-4, 0))
    return e.select(
        "event_id", "user_id",
        F.expr("percentile(value, 0.5)").over(w).alias("rolling_median"))


# --------------------------------------------------------------------------
# q120 — forward as-of join with tolerance: each purchase event joined to
# the user's NEXT error event within 1 hour (the q29 as-of join's mirror:
# "did this purchase precede a failure").  Same union-free single-window
# plan: one pass per user carrying the next error timestamp backwards
# with first_value(ignorenulls) over the following frame — no join at
# all, so nothing can skew; exact integer micros.
# --------------------------------------------------------------------------
@query(
    "q120_asof_forward",
    """
    WITH tagged AS (
        SELECT user_id, event_id, ts, event_type,
               FIRST_VALUE(CASE WHEN event_type = 'error'
                                THEN epoch_us(ts) END IGNORE NULLS) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_err_us
        FROM events WHERE event_type IN ('purchase', 'error')
    )
    SELECT event_id, user_id, epoch_us(ts) AS purchase_us,
           CASE WHEN next_err_us - epoch_us(ts) <= 3600000000
                THEN next_err_us END AS error_us,
           CASE WHEN next_err_us - epoch_us(ts) <= 3600000000
                THEN next_err_us - epoch_us(ts) END AS gap_us
    FROM tagged WHERE event_type = 'purchase'
    """,
)
def q120_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    both = e.filter(F.col("event_type").isin("purchase", "error"))
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(1, W.unboundedFollowing))
    err_us = F.when(F.col("event_type") == "error", F.unix_micros("ts"))
    tagged = both.withColumn(
        "next_err_us", F.first(err_us, ignorenulls=True).over(w))
    us = F.unix_micros("ts")
    within = F.col("next_err_us") - us <= 3_600_000_000
    return (tagged.filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", us.alias("purchase_us"),
                    F.when(within, F.col("next_err_us")).alias("error_us"),
                    F.when(within, F.col("next_err_us") - us)
                    .alias("gap_us")))


# --------------------------------------------------------------------------
# q123 — MAD-based robust outlier detection: per event_type, the median
# absolute deviation and the count of events whose modified z-score
# 0.6745*|x - median| / MAD exceeds 3.5 (Iglewicz-Hoaglin).  The robust
# twin of q99 — a single wild value cannot move the cut the way it moves
# mean/stddev.  Medians are exact (interpolated identically in both
# engines); the threshold compare is per-row IEEE on identical inputs.
#
# Shape: two low-card groupBy passes (median, then MAD over |x - median|)
# plus a broadcast-back filter — events never shuffle.
# --------------------------------------------------------------------------
@query(
    "q123_mad_outliers",
    """
    WITH med AS (
        SELECT event_type, MEDIAN(value) AS med FROM events
        GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type, MEDIAN(ABS(e.value - m.med)) AS mad
        FROM events e JOIN med m ON e.event_type = m.event_type
        GROUP BY e.event_type
    )
    SELECT e.event_type,
           ROUND(m.med, 6) AS median_value,
           ROUND(d.mad, 6) AS mad,
           COUNT(CASE WHEN 0.6745 * ABS(e.value - m.med) / d.mad > 3.5
                      THEN 1 END) AS n_outliers
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    GROUP BY e.event_type, m.med, d.mad
    """,
)
def q123_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    mad = (e.join(F.broadcast(med), "event_type")
           .groupBy("event_type")
           .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
                F.first("med").alias("med")))
    mz = 0.6745 * F.abs(F.col("value") - F.col("med")) / F.col("mad")
    return (e.join(F.broadcast(mad), "event_type")
            .groupBy("event_type",
                     F.round("med", 6).alias("median_value"),
                     F.round("mad", 6).alias("mad"))
            .agg(F.count(F.when(mz > 3.5, 1)).alias("n_outliers")))


# --------------------------------------------------------------------------
# q130 — weighted median: per language, the document length whose
# cumulative CHARACTER mass (not row count) crosses half the total — the
# right "typical document" when documents differ by 100x in size.  Pure
# window arithmetic: order by (n_chars, doc_id), running weight sum,
# first row at or past half the exact integer total.  No engine has a
# built-in weighted quantile; this is the canonical decomposition.
# --------------------------------------------------------------------------
@query(
    "q130_weighted_median",
    """
    WITH w AS (
        SELECT lang, doc_id, n_chars,
               SUM(n_chars) OVER (PARTITION BY lang
                                  ORDER BY n_chars, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(n_chars) OVER (PARTITION BY lang) AS tot
        FROM documents
    ),
    hit AS (
        SELECT lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY cum, doc_id) AS rk
        FROM w WHERE 2 * cum >= tot
    )
    SELECT lang, CAST(n_chars AS BIGINT) AS weighted_median_chars
    FROM hit WHERE rk = 1
    """,
)
def q130_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    wcum = (W.partitionBy("lang").orderBy("n_chars", "doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wall = W.partitionBy("lang")
    w = d.select(
        "lang", "doc_id", "n_chars",
        F.sum("n_chars").over(wcum).alias("cum"),
        F.sum("n_chars").over(wall).alias("tot"))
    hit = (w.filter(2 * F.col("cum") >= F.col("tot"))
           .withColumn("rk", F.row_number().over(
               W.partitionBy("lang").orderBy("cum", "doc_id"))))
    return (hit.filter(F.col("rk") == 1)
            .select("lang", F.col("n_chars").cast("bigint")
                    .alias("weighted_median_chars")))


# --------------------------------------------------------------------------
# q131 — per-user OLS trend: slope and intercept of value against time
# (days since the user's first event), closed form from exact decimal
# moments — slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²).  x is exact
# integer-derived days (double), per-row products are deterministic IEEE,
# all four reductions are decimal-exact, and the final combination is the
# identical expression in both engines; outputs ROUND(·,6).  Users need
# >= 2 distinct timestamps (denominator > 0).
#
# One groupBy(user_id) with map-side partials — the single-shuffle
# regression every metrics pipeline wants ("is this user's spend
# trending up").
# --------------------------------------------------------------------------
@query(
    "q131_user_trend",
    f"""
    WITH base AS (
        SELECT user_id,
               CAST(epoch_us(ts) - MIN(epoch_us(ts)) OVER
                        (PARTITION BY user_id) AS DOUBLE)
                   / 86400000000.0 AS x,
               value AS y
        FROM events
    ),
    m AS (
        SELECT user_id, COUNT(*) AS n,
               {sql_dsum_expr('x')} AS sx, {sql_dsum_expr('y')} AS sy,
               {sql_dsum_expr('x * y')} AS sxy,
               {sql_dsum_expr('x * x')} AS sxx
        FROM base GROUP BY user_id
    )
    SELECT user_id,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n, 6) AS intercept
    FROM m WHERE n * sxx - sx * sx > 0
    """,
)
def q131_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    x = ((us - F.min(us).over(W.partitionBy("user_id"))).cast("double")
         / 86400000000.0)
    base = e.select("user_id", x.alias("x"), F.col("value").alias("y"))
    ds = lambda c: F.sum(c.cast("decimal(30,6)")).cast("double")  # noqa: E731
    m = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        ds(F.col("x")).alias("sx"), ds(F.col("y")).alias("sy"),
        ds(F.col("x") * F.col("y")).alias("sxy"),
        ds(F.col("x") * F.col("x")).alias("sxx"))
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    return (m.filter(denom > 0)
            .select("user_id",
                    F.round(slope, 6).alias("slope"),
                    F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"),
                            6).alias("intercept")))


# --------------------------------------------------------------------------
# q134 — EWMA over each user's trailing window: exponentially weighted
# mean (alpha = 0.8 decay) of the LAST 20 event values.  The trailing-K
# form keeps the weights bounded (0.8^19) — the full-history recursive
# form rewritten as a^i*cumsum(v/a^i) overflows double at a^-600 and is
# numerically unusable at stream length; trailing-K is what monitoring
# systems actually compute.  pow() is transcendental -> terms are
# pre-rounded (q121 rule) and the weighted sum is decimal-exact.
# --------------------------------------------------------------------------
_EWMA_A = 0.8
_EWMA_K = 20


@query(
    "q134_ewma",
    f"""
    WITH tail AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events
    )
    SELECT user_id,
           ROUND(CAST(SUM(CAST(ROUND(value * pow({_EWMA_A}, rk - 1), 9)
                              AS DECIMAL(30,9))) AS DOUBLE)
                 / CAST(SUM(CAST(ROUND(pow({_EWMA_A}, rk - 1), 9)
                                AS DECIMAL(30,9))) AS DOUBLE), 6) AS ewma
    FROM tail WHERE rk <= {_EWMA_K}
    GROUP BY user_id
    """,
)
def q134_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    tail = (e.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _EWMA_K))
    wgt = F.pow(F.lit(_EWMA_A), F.col("rk") - 1)
    num = F.sum(F.round(F.col("value") * wgt, 9).cast("decimal(30,9)")) \
        .cast("double")
    den = F.sum(F.round(wgt, 9).cast("decimal(30,9)")).cast("double")
    return (tail.groupBy("user_id")
            .agg(F.round(num / den, 6).alias("ewma")))


# --------------------------------------------------------------------------
# q136 — event-type transition matrix: per (prev_type, type) pair, the
# count and row-normalized probability of each user-stream transition —
# the first-order Markov model of user behavior (and the q112 SCD2 run
# structure viewed as a chain).  Counts are exact; probabilities are one
# deterministic division, rounded.
# --------------------------------------------------------------------------
@query(
    "q136_transition_matrix",
    """
    WITH seq AS (
        SELECT LAG(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
               event_type
        FROM events
    ),
    cnt AS (
        SELECT prev_type, event_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) /
                 SUM(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM cnt
    """,
)
def q136_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (e.select(F.lag("event_type").over(w).alias("prev_type"),
                    "event_type")
           .filter(F.col("prev_type").isNotNull()))
    cnt = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("n"))
    return cnt.select(
        "prev_type", "event_type", F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double")
                / F.sum("n").over(W.partitionBy("prev_type")), 6).alias("p"))


# --------------------------------------------------------------------------
# q137 — funnel latency: among users who converted (view -> first
# purchase at/after first view), the distribution of time-to-convert —
# count, mean (decimal-exact over integer micros), and exact p50/p90
# (interpolated identically in both engines).  The metric product teams
# actually read off the q97 funnel.
# --------------------------------------------------------------------------
@query(
    "q137_time_to_convert",
    f"""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
        SELECT e.user_id,
               MIN(epoch_us(e.ts)) - MIN(epoch_us(v.t_view)) AS dt_us
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= v.t_view
        GROUP BY e.user_id
    )
    ,{sql_spark_pct('p', 'dt_us', [('0.5', '__p50'), ('0.9', '__p90')])}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND({sql_dsum_expr('dt_us / 3600000000.0')} / COUNT(*), 6)
               AS mean_hours,
           {sql_fround6('MIN(__p50) / 3600000000.0')} AS p50_hours,
           {sql_fround6('MIN(__p90) / 3600000000.0')} AS p90_hours
    FROM p, pct
    """,
)
def q137_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(v, "user_id")
         .filter(F.col("ts") >= F.col("t_view"))
         .groupBy("user_id")
         .agg((F.min(F.unix_micros("ts"))
               - F.min(F.unix_micros("t_view"))).alias("dt_us")))
    hours = F.col("dt_us") / 3_600_000_000.0
    a = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.round(F.sum(hours.cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1)), 6).alias("mean_hours"),
        F.expr("percentile(dt_us, array(0.5, 0.9))").alias("_ps"))
    # fround6, not F.round, on the interpolated percentiles — the .5e-6
    # halfway boundary splits the engines under plain ROUND (ADVICE r11)
    return a.select(
        "n_converted", "mean_hours",
        fround6(F.col("_ps")[0] / 3_600_000_000.0).alias("p50_hours"),
        fround6(F.col("_ps")[1] / 3_600_000_000.0).alias("p90_hours"))


# --------------------------------------------------------------------------
# q138 — session duration statistics: the q18 lag-gap sessions, reduced
# to the numbers a product dashboard shows — sessions per user tier,
# events per session, duration percentiles.  Single-event sessions have
# zero duration and stay in (they are most sessions, and excluding them
# silently is the classic dashboard lie).
# --------------------------------------------------------------------------
@query(
    "q138_session_stats",
    f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800000000 OR
                         LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sess AS (
        SELECT user_id, sid,
               MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS dur_us,
               COUNT(*) AS n_events
        FROM (SELECT *, SUM(new_session) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
              FROM flagged)
        GROUP BY user_id, sid
    )
    ,{sql_spark_pct('sess', 'dur_us', [('0.5', '__p50'),
                                          ('0.9', '__p90')])}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(AVG(CAST(n_events AS DOUBLE)), 6) AS avg_events,
           {sql_fround6('MIN(__p50) / 60000000.0')} AS p50_minutes,
           {sql_fround6('MIN(__p90) / 60000000.0')} AS p90_minutes,
           CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT)
               AS n_single_event
    FROM sess, pct
    """,
)
def q138_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    flagged = e.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1_800_000_000), 1)
        .otherwise(0))
    sess = (flagged.withColumn(
        "sid", F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg((F.max(us) - F.min(us)).alias("dur_us"),
             F.count(F.lit(1)).alias("n_events")))
    a = sess.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.round(F.avg(F.col("n_events").cast("double")), 6)
        .alias("avg_events"),
        F.expr("percentile(dur_us, array(0.5, 0.9))").alias("_ps"),
        F.count(F.when(F.col("n_events") == 1, 1)).cast("bigint")
        .alias("n_single_event"))
    # fround6 on the interpolated percentiles (ADVICE r11 halfway trap)
    return a.select(
        "n_sessions", "avg_events",
        fround6(F.col("_ps")[0] / 60_000_000.0).alias("p50_minutes"),
        fround6(F.col("_ps")[1] / 60_000_000.0).alias("p90_minutes"),
        "n_single_event")


# --------------------------------------------------------------------------
# q158 — top session paths: the 10 most common openings (first 3 event
# types, in order) across q18's lag-gap sessions.  The product-analytics
# "what do users do first" query, and the n-gram generalization of q136's
# single-step transition matrix.
#
# Shape: two user-partitioned windows (session assignment + in-session
# rank — same shuffle), then a path-sized groupBy and a top-10 window
# over the path vocabulary.  The path string is built from an
# array_sort'ed (rank, type) struct list, so its order is deterministic
# regardless of aggregation order.
# --------------------------------------------------------------------------
@query(
    "q158_session_paths",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800000000 OR
                         LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ),
    ranked AS (
        SELECT user_id, sid, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                  ORDER BY ts, event_id) AS rn
        FROM sess
    ),
    paths AS (
        SELECT user_id, sid,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= 3 GROUP BY user_id, sid
    ),
    counted AS (SELECT path, COUNT(*) AS n FROM paths GROUP BY path)
    SELECT path, CAST(n AS BIGINT) AS n_sessions, CAST(rk AS INTEGER) AS rk
    FROM (SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rk
          FROM counted)
    WHERE rk <= 10
    """,
)
def q158_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0))
    sess = flagged.withColumn(
        "sid", F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)))
    w2 = W.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    ranked = (sess.withColumn("rn", F.row_number().over(w2))
              .filter(F.col("rn") <= 3))
    paths = (ranked.groupBy("user_id", "sid")
             .agg(F.expr(
                 "array_join(transform(array_sort(collect_list("
                 "struct(rn, event_type))), x -> x.event_type), '>')")
                 .alias("path")))
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    rk = F.row_number().over(W.orderBy(F.desc("n"), F.asc("path")))
    return (counted.withColumn("rk", rk).filter(F.col("rk") <= 10)
            .select("path", F.col("n").cast("bigint").alias("n_sessions"),
                    F.col("rk").cast("int").alias("rk")))


# --------------------------------------------------------------------------
# q162 — churn snapshot: users whose last event precedes the stream's
# final 7 days, with the recency distribution.  The retention
# counterpart to q98's cohort view — one number a dashboard polls.
#
# Shape: one per-user max(ts) aggregation; the global horizon is a 1-row
# broadcast.  All time math is exact integer epoch-microseconds.
# --------------------------------------------------------------------------
_CHURN_DAYS = 7

@query(
    "q162_churn_rate",
    f"""
    WITH lastv AS (
        SELECT user_id, MAX(epoch_us(ts)) AS last_us FROM events
        GROUP BY user_id
    ),
    horizon AS (SELECT MAX(last_us) AS max_us FROM lastv)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(CASE WHEN last_us < max_us
                                - {_CHURN_DAYS} * 86400000000 THEN 1 END)
                AS BIGINT) AS n_churned,
           ROUND(CAST(COUNT(CASE WHEN last_us < max_us
                                      - {_CHURN_DAYS} * 86400000000 THEN 1 END)
                      AS DOUBLE) / COUNT(*), 6) AS churn_rate,
           CAST(SUM(CAST(ROUND((max_us - last_us) / 86400000000.0, 9)
                         AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*)
               AS avg_recency_days
    FROM lastv CROSS JOIN horizon
    """,
)
def q162_churn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    lastv = e.groupBy("user_id").agg(
        F.max(F.unix_micros(F.col("ts"))).alias("last_us"))
    horizon = lastv.agg(F.max("last_us").alias("max_us"))
    cutoff = F.col("max_us") - _CHURN_DAYS * 86_400_000_000
    churned = F.count(F.when(F.col("last_us") < cutoff, 1))
    recency = F.round((F.col("max_us") - F.col("last_us"))
                      / 86_400_000_000.0, 9).cast("decimal(30,9)")
    return (lastv.crossJoin(F.broadcast(horizon))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
                 churned.cast("bigint").alias("n_churned"),
                 F.round(churned.cast("double") / F.count(F.lit(1)), 6)
                 .alias("churn_rate"),
                 (F.sum(recency).cast("double") / F.count(F.lit(1)))
                 .alias("avg_recency_days")))


# --------------------------------------------------------------------------
# q170 — burst detection: minutes whose event count exceeds the type's
# mean + 3σ across minutes.  The count-based counterpart to q99's
# value-based z-score — rate spikes (crawler bursts, incident traffic)
# show up here when per-event values look normal.
#
# Shape: minute-bucket groupBy (calendar arithmetic only), then the
# per-type moment stats are a tiny broadcast back onto the bucket table
# — the q99 global-stat filter pattern one level up.  All stats flow
# through exact decimal sums of integer counts.
# --------------------------------------------------------------------------
@query(
    "q170_burst_detection",
    f"""
    WITH buckets AS (
        SELECT event_type, date_trunc('minute', ts) AS minute,
               COUNT(*) AS n
        FROM events GROUP BY event_type, date_trunc('minute', ts)
    ),
    stats AS (
        SELECT event_type,
               {sql_davg('n', 'mu')},
               SQRT({sql_dvar_expr('n')}) AS sigma
        FROM buckets GROUP BY event_type
    )
    SELECT b.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_minutes,
           CAST(COUNT(CASE WHEN b.n > s.mu + 3 * s.sigma THEN 1 END)
                AS BIGINT) AS n_burst_minutes,
           CAST(MAX(CASE WHEN b.n > s.mu + 3 * s.sigma THEN b.n END)
                AS BIGINT) AS peak_burst_count,
           ROUND(MAX(s.mu), 6) AS mu,
           ROUND(MAX(s.sigma), 6) AS sigma
    FROM buckets b JOIN stats s ON b.event_type = s.event_type
    GROUP BY b.event_type
    """,
)
def q170_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    buckets = (e.groupBy("event_type",
                         F.date_trunc("minute", "ts").alias("minute"))
               .agg(F.count(F.lit(1)).alias("n")))
    stats = buckets.groupBy("event_type").agg(
        davg("n", "mu"), F.sqrt(dvar_samp("n")).alias("sigma"))
    burst = F.col("n") > F.col("mu") + 3 * F.col("sigma")
    return (buckets.join(F.broadcast(stats), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_minutes"),
                 F.count(F.when(burst, 1)).cast("bigint")
                 .alias("n_burst_minutes"),
                 F.max(F.when(burst, F.col("n"))).cast("bigint")
                 .alias("peak_burst_count"),
                 F.round(F.max("mu"), 6).alias("mu"),
                 F.round(F.max("sigma"), 6).alias("sigma")))


# --------------------------------------------------------------------------
# q174 — value-concentration Gini: inequality of total event value
# across users, from the rank form G = 2*Σ(i·x_i)/(n·Σx) - (n+1)/n over
# ascending per-user totals.  Pairs with q150's HHI: HHI weights the
# whales, Gini reads the whole curve.
#
# Shape: per-user totals (one groupBy), then ONE rank window over the
# user-sized aggregate with id tiebreak; the i·x_i products flow through
# round-9 decimals so the rank-weighted sum is order-independent.
# --------------------------------------------------------------------------
@query(
    "q174_value_gini",
    """
    WITH uv AS (
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v, user_id) AS i FROM uv
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(2.0 * CAST(SUM(CAST(ROUND(i * v, 9) AS DECIMAL(30,9)))
                            AS DOUBLE)
                 / (COUNT(*) * CAST(SUM(CAST(ROUND(v, 9) AS DECIMAL(30,9)))
                                    AS DOUBLE))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM ranked
    """,
)
def q174_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import global_row_number

    from ..catalog import table_rows_cached

    e = load(spark, sf_dir, "events")
    uv = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
        .alias("v"))
    # scale-safe global rank over the user-sized aggregate (two-pass
    # range partition above 1M users, plain window below).  r17 opt:
    # users <= events rows, so the memoized footer count is a free
    # upper bound for the strategy probe — the old limit-count probe
    # executed the whole user groupBy once per call just to pick a
    # path (both paths compute identical ranks).
    ranked = global_row_number(uv, [("v", True), ("user_id", True)], "i",
                               n_rows=table_rows_cached(spark, sf_dir,
                                                        "events"))
    d9 = lambda c: (F.sum(F.round(c, 9).cast("decimal(30,9)"))  # noqa: E731
                    .cast("double"))
    n = F.count(F.lit(1))
    return ranked.agg(
        n.cast("bigint").alias("n_users"),
        F.round(2.0 * d9(F.col("i") * F.col("v"))
                / (n * d9(F.col("v"))) - (n + 1.0) / n, 6).alias("gini"))


# --------------------------------------------------------------------------
# q175 — daily error-rate timeline with day-over-day delta: the share of
# 'error' events per day and its lag difference — the SLO dashboard
# query.  Distinct from q170 (burst minutes): this tracks a RATIO
# trend, robust to overall traffic swings.
#
# Shape: day-bucket groupBy with a conditional count, then one lag
# window over the day-sized series.  Ratios are per-row doubles rounded
# to 6 BEFORE the lag so the delta subtracts identical quantized values.
# --------------------------------------------------------------------------
@query(
    "q175_error_rate_timeline",
    """
    WITH days AS (
        SELECT date_trunc('day', ts) AS day,
               COUNT(*) AS n,
               COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_err
        FROM events GROUP BY date_trunc('day', ts)
    ),
    rated AS (
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(n AS BIGINT) AS n_events,
               ROUND(CAST(n_err AS DOUBLE) / n, 6) AS error_rate
        FROM days
    )
    SELECT day, n_events, error_rate,
           ROUND(error_rate - LAG(error_rate) OVER (ORDER BY day), 6)
               AS dod_delta
    FROM rated
    """,
)
def q175_error_rate_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    days = (e.groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count(F.when(F.col("event_type") == "error", 1))
                 .alias("n_err")))
    rated = days.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("bigint").alias("n_events"),
        F.round(F.col("n_err").cast("double") / F.col("n"), 6)
        .alias("error_rate"))
    lag = F.lag("error_rate").over(W.orderBy("day"))
    return rated.select(
        "day", "n_events", "error_rate",
        F.round(F.col("error_rate") - lag, 6).alias("dod_delta"))


# --------------------------------------------------------------------------
# q177 — day-of-week seasonality profile: each weekday's average daily
# event count and its share of the weekly cycle — the seasonal index a
# forecast divides out before trend fitting.
#
# Shape: day-bucket counts (calendar groupBy), then a 7-row weekday
# aggregate; the index is each weekday mean over the grand mean, all
# through decimal-exact sums of integer counts.
# --------------------------------------------------------------------------
@query(
    "q177_weekday_seasonality",
    """
    WITH days AS (
        SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
        FROM events GROUP BY date_trunc('day', ts)
    ),
    wd AS (
        SELECT CAST(dayofweek(day) AS BIGINT) AS weekday,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CAST(n AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
                   AS avg_daily
        FROM days GROUP BY dayofweek(day)
    ),
    grand AS (
        SELECT CAST(SUM(CAST(n AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
            AS g FROM days
    )
    SELECT weekday, n_days, ROUND(avg_daily, 6) AS avg_daily,
           ROUND(avg_daily / grand.g, 6) AS seasonal_index
    FROM wd CROSS JOIN grand
    """,
)
def q177_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    days = (e.groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(F.count(F.lit(1)).alias("n")))
    # DuckDB dayofweek: 0=Sunday..6; Spark dayofweek: 1=Sunday..7
    wd = (days.groupBy((F.dayofweek("day") - 1).cast("bigint")
                       .alias("weekday"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
               (F.sum(F.col("n").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1))).alias("avg_daily")))
    grand = days.agg(
        (F.sum(F.col("n").cast("decimal(30,6)")).cast("double")
         / F.count(F.lit(1))).alias("g"))
    return (wd.crossJoin(F.broadcast(grand))
            .select("weekday", "n_days",
                    F.round("avg_daily", 6).alias("avg_daily"),
                    F.round(F.col("avg_daily") / F.col("g"), 6)
                    .alias("seasonal_index")))


# --------------------------------------------------------------------------
# q178 — new vs returning users per day: classify each day's active
# users by whether it is their first active day.  The growth-accounting
# split every activity dashboard leads with.
#
# Shape: per-user first-day (one groupBy), joined back to the per-day
# distinct actives on user_id — both sides keyed the same, and the
# first-day table is user-sized.
# --------------------------------------------------------------------------
@query(
    "q178_new_vs_returning",
    """
    WITH active AS (
        SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    first_day AS (
        SELECT user_id, MIN(day) AS fd FROM active GROUP BY user_id
    )
    SELECT strftime(a.day, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(COUNT(CASE WHEN a.day = f.fd THEN 1 END) AS BIGINT)
               AS n_new,
           CAST(COUNT(CASE WHEN a.day > f.fd THEN 1 END) AS BIGINT)
               AS n_returning
    FROM active a JOIN first_day f ON a.user_id = f.user_id
    GROUP BY a.day
    """,
)
def q178_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    active = (e.select(F.date_trunc("day", "ts").alias("day"), "user_id")
              .distinct())
    first_day = active.groupBy("user_id").agg(F.min("day").alias("fd"))
    return (active.join(first_day, "user_id")
            .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"),
                 F.count(F.when(F.col("day") == F.col("fd"), 1))
                 .cast("bigint").alias("n_new"),
                 F.count(F.when(F.col("day") > F.col("fd"), 1))
                 .cast("bigint").alias("n_returning")))


# --------------------------------------------------------------------------
# q184 — bounce rate per day: share of q18-definition sessions holding
# exactly one event, by session start day.  The engagement-quality
# counterpart to q138's duration stats, sharing the same session
# machinery so definitions cannot drift.
#
# Shape: the two q18 windows (assignment), one per-session aggregate,
# one day-sized rollup.
# --------------------------------------------------------------------------
@query(
    "q184_bounce_rate",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800000000 OR
                         LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_session) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, sid, MIN(ts) AS start_ts, COUNT(*) AS n_events
        FROM sess GROUP BY user_id, sid
    )
    SELECT strftime(date_trunc('day', start_ts), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT)
               AS n_bounces,
           ROUND(CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS DOUBLE)
                 / COUNT(*), 6) AS bounce_rate
    FROM per_session GROUP BY date_trunc('day', start_ts)
    """,
)
def q184_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0))
    sess = flagged.withColumn(
        "sid", F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)))
    per_session = (sess.groupBy("user_id", "sid")
                   .agg(F.min("ts").alias("start_ts"),
                        F.count(F.lit(1)).alias("n_events")))
    bounce = F.count(F.when(F.col("n_events") == 1, 1))
    return (per_session
            .groupBy(F.date_format(F.date_trunc("day", "start_ts"),
                                   "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
                 bounce.cast("bigint").alias("n_bounces"),
                 F.round(bounce.cast("double") / F.count(F.lit(1)), 6)
                 .alias("bounce_rate")))


# --------------------------------------------------------------------------
# q197 — session survival curve: P(session reaches >= k events) and the
# conditional continue rate P(>=k | >=k-1), for k = 1..5.  The
# engagement funnel INSIDE a session — q184 reports only the k=1 bounce
# cell of this curve.
#
# Shape: the q18 session machinery, one per-session count, then a
# 5-row cutoff rollup over the session-sized table.
# --------------------------------------------------------------------------
@query(
    "q197_session_survival",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800000000 OR
                         LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sess AS (
        SELECT user_id,
               SUM(new_session) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ),
    sizes AS (
        SELECT COUNT(*) AS n_events FROM sess GROUP BY user_id, sid
    ),
    tot AS (SELECT COUNT(*) AS n_sessions FROM sizes)
    SELECT k.k AS k,
           CAST(COUNT(CASE WHEN n_events >= k.k THEN 1 END) AS BIGINT)
               AS n_reaching,
           ROUND(CAST(COUNT(CASE WHEN n_events >= k.k THEN 1 END)
                      AS DOUBLE) / tot.n_sessions, 6) AS p_reach,
           ROUND(CAST(COUNT(CASE WHEN n_events >= k.k THEN 1 END)
                      AS DOUBLE)
                 / NULLIF(COUNT(CASE WHEN n_events >= k.k - 1 THEN 1 END),
                          0), 6) AS p_continue
    FROM sizes
    CROSS JOIN (SELECT UNNEST([1, 2, 3, 4, 5]) AS k) k
    CROSS JOIN tot
    GROUP BY k.k, tot.n_sessions
    """,
)
def q197_session_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0))
    sess = flagged.withColumn(
        "sid", F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)))
    sizes = (sess.groupBy("user_id", "sid")
             .agg(F.count(F.lit(1)).alias("n_events")))
    tot = sizes.agg(F.count(F.lit(1)).alias("n_sessions"))
    ks = F.explode(F.array(*[F.lit(k) for k in (1, 2, 3, 4, 5)])).alias("k")
    reach = F.count(F.when(F.col("n_events") >= F.col("k"), 1))
    reach_prev = F.count(
        F.when(F.col("n_events") >= F.col("k") - 1, 1))
    return (sizes.select("n_events", ks)
            .crossJoin(F.broadcast(tot))
            .groupBy("k", "n_sessions")
            .agg(reach.cast("bigint").alias("n_reaching"),
                 F.round(reach.cast("double") / F.col("n_sessions"), 6)
                 .alias("p_reach"),
                 F.round(reach.cast("double")
                         / F.nullif(reach_prev, F.lit(0)), 6)
                 .alias("p_continue"))
            .select("k", "n_reaching", "p_reach", "p_continue"))


# --------------------------------------------------------------------------
# q198 — in-session value decay: mean event value by in-session position
# (1..5) — does engagement value fade within a session?  The per-event
# refinement of q197's count-level curve; shares the session machinery.
# --------------------------------------------------------------------------
@query(
    "q198_position_value_decay",
    f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800000000 OR
                         LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sess AS (
        SELECT user_id, ts, event_id, value,
               SUM(new_session) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ),
    ranked AS (
        SELECT value,
               ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                  ORDER BY ts, event_id) AS pos
        FROM sess
    )
    SELECT CAST(pos AS BIGINT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_davg('value', 'avg_value')}
    FROM ranked WHERE pos <= 5 GROUP BY pos
    """,
)
def q198_position_value_decay(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0))
    sess = flagged.withColumn(
        "sid", F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)))
    w2 = W.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    ranked = (sess.withColumn("pos", F.row_number().over(w2))
              .filter(F.col("pos") <= 5))
    return (ranked.groupBy(F.col("pos").cast("bigint").alias("pos"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 davg("value", "avg_value")))
