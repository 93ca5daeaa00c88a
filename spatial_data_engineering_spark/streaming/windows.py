"""Streaming window operators over the events stream.

Batch/stream parity is the design rule: every transformation here is a
function DataFrame -> DataFrame that works identically on a batch frame
and a ``readStream`` frame — the streaming tests assert the memory-sink
results equal the batch results on the same rows.

Watermarks bound state (late data beyond the watermark is dropped); on a
real cluster the event-time shuffle partitions by (window, key), and
``dropDuplicatesWithinWatermark`` keeps the dedup state finite.

Deployment note — ``spark.cleaner.periodicGC.interval=1min``
(session.py): the session factory pins the ContextCleaner's periodic GC
to 1 minute (default 30min) because a long-lived driver otherwise
accumulates dead broadcast/checkpoint blocks between full JVM GCs — the
round-10 sf1 probe measured late-suite queries paying ~4x for it.  For
ALWAYS-ON streaming jobs this setting is the standard long-lived-driver
hygiene, not a test hack: each micro-batch of ``admit_stream`` creates
and drops batch-scoped frames whose JVM handles only unpersist after a
driver GC, so REMOVING the setting on a deployment reintroduces
unbounded executor-storage growth between organic full GCs.  Keep it
(or set it to a few minutes) wherever these streams run unattended; the
1-minute RPC it triggers is driver-side and costs microseconds.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def read_events_stream(spark: SparkSession, events_dir: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over normalized events parquet.

    (The raw testdata events.parquet is TIMESTAMP(NANOS); callers
    pre-normalize via catalog.load + write, or point at any parquet dir
    with EVENTS_SCHEMA.)
    """
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window: count + sum per (window, event_type)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "sum_value")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "2 hours") -> DataFrame:
    """Event-time session windows (gap-based; the streaming analogue of the
    batch lag-cumsum sessionization in relational.q18)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "user_id", "n_events", "sum_value")
    )


def dedup_within_watermark(events: DataFrame,
                           watermark: str = "2 hours") -> DataFrame:
    """Stateful streaming dedup by event_id with bounded state."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_stream_join(clicks: DataFrame, purchases: DataFrame,
                       max_gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """Event-time stream-stream inner join: purchases joined to the same
    user's clicks that happened within [ts - max_gap, ts].

    Both sides carry watermarks so the join state is bounded: a buffered
    click can be dropped once the purchase-side watermark passes
    click.ts + max_gap.  Batch/stream parity holds by construction — the
    same predicate works on static frames.
    """
    c = (clicks.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("c_user"),
                 F.col("ts").alias("click_ts"),
                 F.col("event_id").alias("click_id")))
    p = (purchases.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("p_user"),
                 F.col("ts").alias("purchase_ts"),
                 F.col("event_id").alias("purchase_id"),
                 F.col("value").alias("purchase_value")))
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_gap}"))
    )
    return p.join(c, cond, "inner").select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id",
        "purchase_ts", "click_ts", "purchase_value",
    )


def write_stream_idempotent(stream_df: DataFrame, out_dir: str,
                            checkpoint_dir: str) -> None:
    """Exactly-once file sink via foreachBatch.

    Each micro-batch writes to a batch-id-named subdirectory with
    overwrite mode: a replayed batch (after failure/restart) rewrites the
    same directory instead of duplicating rows — idempotence is the
    user-side half of exactly-once; the checkpoint is Spark's half.
    Runs to completion (availableNow).
    """
    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    q = (stream_df.writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def stream_dedup_against_corpus(stream_df: DataFrame,
                                corpus_keys: DataFrame,
                                key_col: str = "event_id") -> DataFrame:
    """Stream-static LEFT ANTI join: admit only stream rows whose key is
    absent from a standing corpus — the streaming twin of the batch
    incremental-dedup operator (dedup.q82).

    Spark re-plans the static side per micro-batch, so the corpus can be
    a table that a concurrent batch job replaces between batches; at
    scale the static side is a bucketed key table and the anti join is
    broadcast (small hot-key set) or co-located (bucketed).  State-free:
    unlike dropDuplicates, nothing accumulates in the state store —
    dedup against history lives in the corpus table, dedup within the
    stream belongs to dropDuplicatesWithinWatermark.
    """
    return stream_df.join(corpus_keys.select(key_col).distinct(),
                          key_col, "left_anti")


def _exact_tiers(docs: DataFrame, eh: DataFrame, fh: DataFrame) -> DataFrame:
    """``docs`` rows whose md5(text) is absent from the one-column key
    set ``eh`` and whose token-sort fingerprint is absent from ``fh`` —
    q82's two anti joins.  The fingerprint is ``dedup._fp_spark``, shared
    with q46/q54/q82, so streaming and batch admission cannot
    desynchronize key-wise."""
    from ..operators.dedup import _fp_spark

    return (docs.withColumn("__eh", F.md5("text"))
            .withColumn("__fh", _fp_spark())
            .join(eh.toDF("__eh"), "__eh", "left_anti")
            .join(fh.toDF("__fh"), "__fh", "left_anti")
            .drop("__eh", "__fh"))


def stream_admit_documents(stream_docs: DataFrame,
                           corpus_docs: DataFrame) -> DataFrame:
    """Two-tier streaming admission against a standing document corpus —
    the streaming twin of the batch incremental dedup (dedup.q82): a
    streamed document is admitted only if neither its exact content hash
    (md5(text)) NOR its token-sort fingerprint already exists in the
    corpus.

    Plan shape mirrors q82 at scale: the corpus reduces to its distinct
    key sets (never its text), each tier is a stream-static LEFT ANTI
    join re-planned per micro-batch (the corpus table may be replaced by
    a concurrent batch job), and nothing enters the state store — dedup
    against history lives in the corpus, dedup within the stream belongs
    to dropDuplicatesWithinWatermark.
    """
    from ..operators.dedup import _fp_spark

    return _exact_tiers(stream_docs,
                        corpus_docs.select(F.md5("text")).distinct(),
                        corpus_docs.select(_fp_spark()).distinct())


def _partitions(spark: SparkSession, path: str) -> set[str] | None:
    """``batch=N`` partition names under ``path``; None if it is absent."""
    hp = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hp):
        return None
    return {st.getPath().getName() for st in fs.listStatus(hp)
            if st.getPath().getName().startswith("batch=")}


def _state_tables(docs: DataFrame, names) -> dict[str, DataFrame]:
    """The named state tables of ``docs``: ``sh``/``bands`` from
    ``dedup.shingle_bands``, ``eh`` the distinct md5(text) set."""
    from ..operators.dedup import shingle_bands

    kt = docs.select("doc_id", "text")
    sh, bands = shingle_bands(kt)
    tables = {"sh": sh, "bands": bands,
              "eh": kt.select(F.md5("text").alias("eh")).distinct()}
    return {n: tables[n] for n in names}


def _effective_state(spark: SparkSession, base: dict, docs_dir: str,
                     sigs_dir: str, batch_id: int) -> dict[str, DataFrame]:
    """``base`` unioned, table by table, with the state of every batch
    already under ``docs_dir`` except ``batch_id`` itself.

    Coverage is PER BATCH PARTITION: a batch counts as covered only if
    every table under ``sigs_dir`` has its ``batch=N``, and those rows
    are parquet scans.  An uncovered batch — a crash landed between its
    docs write and its sig writes, or the dataset predates sig
    persistence — has its tables rebuilt from its docs, the source of
    truth, instead of silently shrinking the dedup base; the rebuilt
    tables are written under its ``batch=N`` and then read like any
    covered batch, so the rebuild happens once, not in every later
    micro-batch.  Excluding the batch's own partitions keeps a replay
    from self-rejecting.  An existing ``docs_dir`` with no earlier
    partition is still read, so a directory that is not the admitted
    dataset (stray files, wrong layout) fails LOUDLY instead of falling
    back to ``base``."""
    done = _partitions(spark, docs_dir)
    if done is None:
        return base
    done.discard(f"batch={batch_id}")
    covered = set(done)
    for n in base:
        covered &= _partitions(spark, f"{sigs_dir}/{n}") or set()
    for b in sorted(done - covered):
        rebuilt = _state_tables(spark.read.parquet(f"{docs_dir}/{b}"), base)
        for n, table in rebuilt.items():
            table.write.mode("overwrite").parquet(f"{sigs_dir}/{n}/{b}")
    if done:
        keep = F.col("batch").isin(
            sorted(int(b.split("=", 1)[1]) for b in done))
        state = {n: spark.read.parquet(f"{sigs_dir}/{n}")
                 .filter(keep).drop("batch") for n in base}
    else:
        state = _state_tables(spark.read.parquet(docs_dir)
                              .filter(F.col("batch") != batch_id), base)
    return {n: base[n].unionByName(state[n]) for n in base}


def _drive_admission(stream_docs: DataFrame, out_dir: str,
                     checkpoint_dir: str, base: dict, admit,
                     state_rows=None) -> None:
    """The one foreachBatch driver of incremental streaming admission.

    ``base`` names the standing corpus's state tables (``sh``, ``bands``
    and optionally ``eh``); every micro-batch persists the same tables
    for its own state rows, and later batches see ``base`` unioned with
    them (``_effective_state``).  ``admit(rows, eff, own)`` returns the
    admitted rows, written to ``out_dir/batch=N``.

    Which rows are state: with ``state_rows`` None, the admitted docs
    themselves (layout ``batch=N`` + ``_sigs/<table>/batch=N``, ``own``
    is None); otherwise ``state_rows(micro_batch)`` — persisted first
    under ``_t1/batch=N`` with tables under ``_t1sigs/<table>/batch=N``,
    then read back and handed to ``admit`` as ``rows`` with ``own`` its
    tables.  Every write overwrites its batch's directory, so a replayed
    batch rewrites instead of duplicating (the write_stream_idempotent
    contract).  Underscore-prefixed dirs are invisible to a plain
    ``spark.read.parquet(out_dir)`` of the admitted dataset."""
    docs_dir, sigs_dir = ((out_dir, f"{out_dir}/_sigs") if state_rows is None
                          else (f"{out_dir}/_t1", f"{out_dir}/_t1sigs"))

    def admit_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        part = f"batch={batch_id}"
        eff = _effective_state(spark, base, docs_dir, sigs_dir, batch_id)
        rows, own = batch_df, None
        if state_rows is not None:
            # admit off the written copy: the admission DAG reads
            # truncated lineage
            state_rows(batch_df).write.mode("overwrite").parquet(
                f"{docs_dir}/{part}")
            rows = spark.read.parquet(f"{docs_dir}/{part}")
            own = _state_tables(rows, base)
        admit(rows, eff, own).write.mode("overwrite").parquet(
            f"{out_dir}/{part}")
        if own is None:
            # off the just-written parquet, so the admission DAG is not
            # re-evaluated
            own = _state_tables(spark.read.parquet(f"{out_dir}/{part}"),
                                base)
        for n, table in own.items():
            table.write.mode("overwrite").parquet(f"{sigs_dir}/{n}/{part}")

    q = (stream_docs.writeStream.foreachBatch(admit_batch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def admit_stream(base: DataFrame, stream_docs: DataFrame, out_dir: str,
                 checkpoint_dir: str, bench: DataFrame | None = None,
                 base_signatures: tuple[DataFrame, DataFrame] | None = None,
                 base_exact_hashes: DataFrame | None = None) -> None:
    """Streaming corpus admission with FULL near-dup semantics: every
    micro-batch runs the batch ``admit_delta`` (exact keep-first +
    LSH-banded near-dup verify + optional benchmark decontamination)
    against base ∪ everything previously admitted, then lands in a
    batch-id-named parquet directory.

    One of the two entry points of the streaming admission core
    (``_drive_admission``; the other is ``stream_admit_near_dedup``).
    Here the state is the ADMITTED docs: their signatures and exact
    hashes persist per batch under ``out_dir/_sigs/{sh,bands,eh}``, so
    per-batch signature compute is bounded by that batch's admissions,
    and a batch whose sigs a crash lost is rebuilt from its docs.

    Why foreachBatch and not stream-static joins: the near-dup tier
    needs per-doc minhash signatures (explode + groupBy) and a
    candidate verify join — blocking operators that streaming append
    mode cannot host, but that are ordinary batch work inside a
    micro-batch closure.  ``stream_admit_documents`` stays the
    state-free fast path for exact/fingerprint tiers.

    ``base_signatures`` / ``base_exact_hashes`` accept the stored
    tables (``dedup.persisted_shingle_bands`` /
    ``persisted_exact_hashes``) so a stream over a warehouse corpus
    never rebuilds base-side state; omitted, both are computed once per
    stream from ``base``.

    Semantics are ARRIVAL-ORDER keep-first: a doc near-duplicating one
    admitted in an earlier batch is rejected, exactly like a later
    doc_id within one batch.  Replay-safe: a recomputed batch excludes
    its own previous output from the effective base and overwrites its
    directories.
    """
    from ..operators.dedup import shingle_bands
    from ..plans.curation import admit_delta

    base_kt = base.select("doc_id", "text")
    sh, bands = base_signatures or shingle_bands(base_kt)
    # persist, NOT localCheckpoint: local checkpoints discard lineage, so
    # an executor loss mid-stream would poison every later micro-batch
    # with unrecoverable missing-block errors; persist keeps the lineage
    # and just recomputes lost blocks.
    eh = (base_exact_hashes if base_exact_hashes is not None
          else base_kt.select(F.md5("text").alias("eh")).distinct()
          .persist(StorageLevel.MEMORY_AND_DISK))

    # base_kt is never evaluated: with signatures and exact hashes
    # supplied, admit_delta's plan contains no base-corpus scan (pinned
    # by test_stored_tables_refresh_never_scans_base_corpus)
    def admit(rows: DataFrame, eff: dict, _own) -> DataFrame:
        return admit_delta(base_kt, rows, bench,
                           base_signatures=(eff["sh"], eff["bands"]),
                           base_exact_hashes=eff["eh"])

    _drive_admission(stream_docs, out_dir, checkpoint_dir,
                     {"sh": sh, "bands": bands, "eh": eh}, admit)


def stream_admit_near_dedup(stream_docs: DataFrame, corpus_docs: DataFrame,
                            out_dir: str, checkpoint_dir: str) -> None:
    """Streaming twin of the MinHash-tier incremental admission
    (dedup.q226_incremental_near_dedup).  Each micro-batch applies the
    same three tiers against the STANDING corpus:

      1. exact md5(text) + token-sort fingerprint anti joins vs the
         corpus key sets (computed once per stream, never per batch);
      2. LSH-banded near-dup verify vs the corpus signature table PLUS
         every earlier micro-batch's tier-1 survivors;
      3. within-micro-batch keep-first (drop the higher doc_id of a
         verified pair).

    The other entry point of the streaming admission core
    (``_drive_admission``, shared with ``admit_stream``).  Here the
    state is the TIER-1 SURVIVORS, not the admitted docs: they persist
    under ``out_dir/_t1/batch=N`` with their (sh, bands) under
    ``out_dir/_t1sigs``, and tiers 2-3 are ``dedup._near_dup_admission``.

    PARITY CONTRACT (pinned in test_incremental_near_dedup): when the
    q226 batch arrives as micro-batches in doc_id order, the admitted
    union equals the batch form exactly — q226 drops a batch doc that
    verifies against ANY lower-id tier-1 survivor (whether or not that
    survivor is itself later dropped), and tier-1 survivors are
    precisely what tiers 2-3 see here: earlier batches via the
    persisted state, the current batch via its own band self-join."""
    from ..operators.dedup import (_fp_spark, _near_dup_admission,
                                   shingle_bands)

    corpus_kt = corpus_docs.select("doc_id", "text")
    c_eh = (corpus_kt.select(F.md5("text")).distinct()
            .persist(StorageLevel.MEMORY_AND_DISK))
    c_fh = (corpus_docs.select(_fp_spark()).distinct()
            .persist(StorageLevel.MEMORY_AND_DISK))
    c_sh, c_bands = shingle_bands(corpus_kt)

    def admit(t1: DataFrame, eff: dict, own: dict) -> DataFrame:
        return _near_dup_admission(t1, own["bands"], eff["bands"],
                                   own["sh"], eff["sh"])

    _drive_admission(stream_docs, out_dir, checkpoint_dir,
                     {"sh": c_sh, "bands": c_bands}, admit,
                     state_rows=lambda b: _exact_tiers(b, c_eh, c_fh))


def run_to_completion(stream_df: DataFrame, query_name: str,
                      output_mode: str = "append") -> DataFrame:
    """Drive a (bounded file-source) streaming frame to completion through
    the memory sink and return the materialized result as a batch frame.

    For windowed aggregations use output_mode="complete": in append mode a
    window only emits once the watermark passes it, and with a bounded
    source the watermark never passes the trailing windows — the classic
    missing-last-window gotcha.
    """
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory").queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def stream_cms_sketch(stream_docs: DataFrame) -> DataFrame:
    """Streaming count-min sketch maintenance: the q113 counter table kept
    live over a document stream.  Because a CMS is an additive groupBy —
    counters are (row, pos) -> SUM — the batch build IS the streaming
    build: tokens explode to d (row, pos) cells and a streaming
    aggregation in update/complete mode maintains the 4x1024 table
    incrementally, with per-micro-batch deltas merged by the state store
    exactly as map-side partials merge in batch.

    State is bounded at d*w rows regardless of stream volume — the
    sketch property that makes this the right frequency monitor for an
    unbounded stream (an exact token count's state grows with |vocab|).
    Parity with the batch sketch is pinned in test_streaming.
    """
    from ..operators.dedup import _hex_fold
    from ..operators.sketches import _CMS_D, _pos_exprs

    toks = (stream_docs
            .select(F.explode(F.split("text", " ")).alias("term"))
            .filter(F.col("term") != "")
            .withColumn("h", F.expr(_hex_fold("spark", "md5(term)"))))
    poss = _pos_exprs("spark", "h")
    cells = (toks.select(F.explode(F.array(*[
        F.expr(f"struct({i} AS row_i, {poss[i]} AS pos)")
        for i in range(_CMS_D)])).alias("c"))
        .select("c.row_i", "c.pos"))
    return cells.groupBy("row_i", "pos").agg(
        F.count(F.lit(1)).alias("cnt"))


def stream_type_moments(events: DataFrame) -> DataFrame:
    """Live per-type moments (n, Σv, Σv²) for the q99 anomaly scorer.

    q99 itself is two chained aggregations (stats, then outlier counts) —
    not expressible as one streaming query (multiple stateful aggs).  The
    production decomposition: this streaming aggregation maintains the
    MOMENTS incrementally — they are additive, so micro-batch deltas merge
    in the state store exactly like batch map-side partials, and the
    decimal casts keep the sums order-independent (merge order is
    arbitrary under streaming) — while the scorer joins a periodically
    refreshed broadcast snapshot of ``zscore_finalize`` of this table
    against the live stream.  State is bounded at one row per event type.
    """
    dec = "decimal(30,6)"
    v = F.col("value")
    return (events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(v.cast(dec)).alias("s1"),
                 F.sum((v * v).cast(dec)).alias("s2")))


def zscore_finalize(moments: DataFrame) -> DataFrame:
    """(event_type, mu, sigma) from the moments table — the broadcast
    side of the anomaly scorer.  Pure projection; identical math to
    q99's batch stats (closed-form sample variance over exact sums)."""
    n = F.col("n")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    var = F.greatest(s2 - s1 * s1 / n, F.lit(0)) / (n - 1)
    return moments.select(
        "event_type", (s1 / n).alias("mu"), F.sqrt(var).alias("sigma"))
