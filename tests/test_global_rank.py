"""Global-order kernel (round-7 verdict task 2).

``global_row_number`` / ``global_ntile`` / ``global_lag`` replace the
single-partition ``OVER (ORDER BY ...)`` windows in the exact-rank
statistics family (q127/q145/q163/q164/q174/q189/q192/q193).  These
tests prove the two-pass range-partitioned big path is BIT-IDENTICAL to
the plain window on deterministic total orders — both on synthetic
frames (multi-column asc/desc specs, ntile remainder handling, lag and
running-sum carries across partition and Arrow-batch boundaries) and on
the rerouted queries themselves (the r6 exact-rank family plus r9's
q169 rank+cumsum) against their DuckDB oracles with the threshold
forced to 0 (every query takes the big path at test scale).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from spatial_data_engineering_spark.operators import relational as R

from .conftest import SF_SMOKE


@pytest.fixture
def big_path(monkeypatch):
    """Force every global-order helper onto the two-pass big path."""
    monkeypatch.setattr(R, "_ROW_ID_WINDOW_THRESHOLD", 0)


def _frame(spark, n=5000):
    return spark.range(0, n).select(
        (F.col("id") % 97).alias("k"),
        F.col("id").alias("i"),
        (F.col("id") % 7).cast("bigint").alias("x"))


ORDER = [("k", True), ("i", False)]


def _win():
    return W.orderBy(F.asc("k"), F.desc("i"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_row_number_big_path_matches_window(spark, big_path):
    df = _frame(spark)
    ref = df.select("*", F.row_number().over(_win()).cast("bigint").alias("rn"))
    assert _rows(R.global_row_number(df, ORDER, "rn")) == _rows(ref)


@pytest.mark.parametrize("n", [7, 32, 4999, 5000, 9001])
def test_ntile_big_path_matches_window(spark, big_path, n):
    # 7: remainder buckets; 5000: exact division; 9001 > rows: q == 0
    df = _frame(spark)
    ref = df.select("*", F.ntile(n).over(_win()).alias("t"))
    assert _rows(R.global_ntile(df, n, ORDER, "t")) == _rows(ref)


def test_lag_big_path_matches_window(spark, big_path):
    df = _frame(spark)
    ref = df.select("*", F.lag("x").over(_win()).alias("lag_x"))
    assert _rows(R.global_lag(df, "x", ORDER)) == _rows(ref)


def test_lag_crosses_arrow_batch_boundaries(spark, big_path):
    # shrink Arrow batches so each partition spans many batches — the
    # in-partition carry between batches must hand the last value on
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = _frame(spark, 2000)
        ref = df.select("*", F.lag("x").over(_win()).alias("lag_x"))
        assert _rows(R.global_lag(df, "x", ORDER)) == _rows(ref)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_rank_cumsum_big_path_matches_window(spark, big_path):
    df = _frame(spark)
    w = _win()
    ref = df.select(
        "*", F.row_number().over(w).cast("bigint").alias("rn"),
        F.sum("x").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"))
    assert _rows(R.global_rank_cumsum(df, "x", ORDER)) == _rows(ref)


def test_rank_cumsum_crosses_arrow_batch_boundaries(spark, big_path):
    # the running value prefix must carry across Arrow batches within a
    # partition, exactly like global_lag's carry
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = _frame(spark, 2000)
        w = _win()
        ref = df.select(
            "*", F.row_number().over(w).cast("bigint").alias("rn"),
            F.sum("x").over(w.rowsBetween(W.unboundedPreceding,
                                          W.currentRow)).alias("cum"))
        assert _rows(R.global_rank_cumsum(df, "x", ORDER)) == _rows(ref)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_empty_input(spark, big_path):
    df = _frame(spark).filter(F.lit(False))
    assert R.global_row_number(df, ORDER, "rn").count() == 0
    assert R.global_ntile(df, 4, ORDER, "t").count() == 0
    assert R.global_lag(df, "x", ORDER).count() == 0
    assert R.global_rank_cumsum(df, "x", ORDER).count() == 0


def test_single_row(spark, big_path):
    df = _frame(spark, 1)
    got = R.global_lag(df, "x", [("i", True)]).collect()
    assert len(got) == 1 and got[0]["lag_x"] is None
    got = R.global_ntile(df, 4, [("i", True)], "t").collect()
    assert got[0]["t"] == 1


def _jobs(spark, group, action):
    """Number of Spark jobs ``action()`` runs, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lag_big_path_runs_no_partition_stats_job(spark, big_path):
    # lag reads no row offsets or prefixes: beyond the range sort and pin
    # it runs only its last-value job and the final action — the P-row
    # stats job the enumerator needs is not one of its jobs.  n_rows
    # skips the strategy probe's jobs.
    df, n = _frame(spark), 5000
    order = [F.col("k").asc(), F.col("i").desc()]
    nparts = spark.sparkContext.defaultParallelism
    n_sort = _jobs(spark, "lag-jobs-sort",
                   lambda: df.repartitionByRange(nparts, *order)
                   .sortWithinPartitions(*order).localCheckpoint(eager=True))
    n_lag = _jobs(spark, "lag-jobs-lag",
                  lambda: R.global_lag(df, "x", ORDER, n_rows=n).collect())
    assert n_lag == n_sort + 2


# The eight rerouted queries, big path forced, against their oracles —
# proves the reroute is invisible to the correctness gate even when the
# two-pass scheme engages (at driver scale it engages for real).
REROUTED = [
    "q127_score_calibration", "q145_curriculum_stages", "q163_score_auc",
    "q164_rfm_segments", "q174_value_gini", "q189_runs_test",
    "q192_segment_migration", "q193_heaps_law",
    # round 9: the vocabulary coverage curve's rank+cumsum (vocabulary
    # is corpus-scaled by Heaps' law, so its global window is NOT a
    # bounded-domain aggregate)
    "q169_vocab_coverage",
]


@pytest.mark.parametrize("name", REROUTED)
def test_rerouted_query_oracle_parity_on_big_path(spark, big_path, name):
    from tests.parity import compare, duckdb_connection

    import __spark_entry__ as e

    df = e.queries()[name](spark, SF_SMOKE)
    duck = duckdb_connection(SF_SMOKE)
    try:
        compare(df, duck.sql(e.oracle_sql()[name]).df(), name=name)
    finally:
        duck.close()
