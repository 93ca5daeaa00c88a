"""Table registry over the driver-provided parquet testdata.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under an sf directory.

Parquet scans are the engine's base relation: self-describing schema,
column pruning and predicate/row-group pushdown for free.  At 100 TB the
same call reads a partitioned directory tree; nothing here assumes a single
file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .memo import memo

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The analyzed relation of one table, memoized per session: resolving
    a parquet relation (listing, footer schema read, analysis) costs
    ~100 ms of driver time, and the suite resolves the same ten tables
    hundreds of times.  DataFrames are immutable, so every caller in the
    session can share one; a rewritten table file gets a new key."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return memo(spark, "relation", (f"{sf_dir}/{name}.parquet",),
                lambda: _read(spark, sf_dir, name))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which the Spark reader
        # rejects ([PARQUET_TYPE_ILLEGAL]).  Read it as long nanos via the
        # legacy conf (session-settable, so this works under any harness
        # session too) and truncate to microseconds with exact integer
        # division — double division would lose sub-µs bits at 1.7e18 ns.
        # DELIBERATE SESSION-WIDE POLICY: the conf stays set for the
        # session's lifetime (restoring it would break this frame's own
        # lazy scan at execution time); any later nanos-parquet read in
        # the same session therefore yields LongType instead of failing —
        # normalize it the same way this function does.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Session TZ is part of the same policy: timestamp VALUES are
        # TZ-independent epoch micros, but every render/collect boundary
        # (toPandas, hash compare, date_trunc) reinterprets them in
        # spark.sql.session.timeZone — under a vanilla session on a
        # non-UTC host every events timestamp would diverge from DuckDB's
        # naive (UTC-wall-clock) reading.  Confs resolve lazily at
        # execution, so setting them here covers this frame's own scan.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # floor division (pmod keeps the remainder non-negative): `div`
            # alone truncates toward zero, which would round pre-1970
            # nanos UP one microsecond, diverging from DuckDB's epoch floor.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000")))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            # Some generators write TIMESTAMP(MICROS, isAdjustedToUTC=false)
            # which Spark reads as TIMESTAMP_NTZ — a type unix_micros/
            # window() reject.  The NTZ->timestamp cast reinterprets the
            # wall clock in spark.sql.session.timeZone — exactly why the
            # UTC pin above is unconditional: under a vanilla session on a
            # non-UTC host the bare cast would shift every value away from
            # DuckDB's naive reading.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Deterministic spread keys for the fact tables (primary/arrival keys —
# uniform, collision-free; guide §2.5 requires the synthetic partitioning
# key be derived deterministically so task retries reproduce the same
# row-to-partition assignment).
SPREAD_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey",
               "embeddings": "vec_id", "documents": "doc_id"}


def spread(df: DataFrame, key: str) -> DataFrame:
    """Repartition a small-split scan to ``defaultParallelism`` by ``key``
    (guide §2.5 "Input skew: one huge unsplittable file ... repartition
    immediately after the read", §6).  The bench tables are single-row-
    group parquet files, so every scan is ONE task and whatever follows
    inherits that single thread (measured: the q76 shingle pipeline
    dropped 25-33s -> ~10s at sf0.1 once spread).  A no-op whenever the
    scan already has enough splits — at 100 TB the input has thousands of
    row groups and an unconditional repartition would shuffle it for
    nothing, so this is scale-adaptive, not a local[32] constant."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism, key)


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` plus ``spread`` on the table's ``SPREAD_KEYS`` key.
    Predicate pushdown and column pruning pass through
    RepartitionByExpression (verified in the r16 plan captures), so the
    shuffle carries only filtered, pruned rows.

    Applied SURGICALLY: to the documents pipelines that explode text,
    and to compute-heavy aggregate queries where the r16
    interleaved A/B proved a win (0.45-0.85x) — a blanket spread in
    ``load`` measurably hurts filter-light or join-shaped queries whose
    pre-shuffle partial aggregation already collapses the row count
    (q06 1.27x, q02 1.67x, q164 1.95x in the same A/B)."""
    df = load(spark, sf_dir, name)
    key = SPREAD_KEYS.get(name)
    return df if key is None else spread(df, key)


def table_rows_cached(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Session-memoized row count of a base table.  A parquet count is
    footer-only but still a Spark job (~40-60 ms of driver time), and the
    global-window helpers probe input cardinality on every construction.
    Callers only pick a strategy from it; both paths compute exact
    results."""
    return memo(spark, "rows", (f"{sf_dir}/{name}.parquet",),
                lambda: load(spark, sf_dir, name).count())


class DuplicateKeyError(ValueError):
    """A table breaks a key-uniqueness contract a query plan relies on."""


def require_unique_doc_ids(spark: SparkSession, sf_dir: str) -> None:
    """Raise DuplicateKeyError unless ``documents.doc_id`` is unique,
    checked once per session.  q127, q163, q176, q188 and q209 carry
    quality next to other document columns instead of self-joining the
    corpus on doc_id, which matches their oracles' join only for a unique
    key."""
    dup = memo(spark, "doc_id_unique", (f"{sf_dir}/documents.parquet",),
               lambda: load(spark, sf_dir, "documents").groupBy("doc_id")
               .count().filter("count > 1").limit(1).collect())
    if dup:
        raise DuplicateKeyError(
            f"documents.doc_id {dup[0].doc_id} is not unique in {sf_dir}")

