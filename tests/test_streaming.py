"""Streaming tests: batch/stream parity on the same rows (SURVEY.md §7
phase 4 "Batch/stream parity tests on the same frames")."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Normalized events parquet split into several files so the file
    stream sees multiple micro-batches."""
    from spatial_data_engineering_spark.catalog import load

    out = str(tmp_path_factory.mktemp("events_stream"))
    load(spark, SF_SMOKE, "events").repartition(4).write.mode(
        "overwrite").parquet(out)
    return out


def _batch_events(spark, events_dir):
    return spark.read.parquet(events_dir)


def test_tumbling_counts_parity(spark, events_dir):
    from spatial_data_engineering_spark.streaming.windows import (
        read_events_stream, run_to_completion, tumbling_counts)

    stream = read_events_stream(spark, events_dir)
    got = run_to_completion(
        tumbling_counts(stream), "t_tumbling", output_mode="complete"
    ).toPandas()
    exp = tumbling_counts(_batch_events(spark, events_dir)).toPandas()

    key = ["window_start", "event_type"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = exp.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(exp_s)
    assert (got_s["n_events"].values == exp_s["n_events"].values).all()
    assert abs(got_s["sum_value"].values - exp_s["sum_value"].values).max() < 1e-6


def test_session_windows_stream_runs(spark, events_dir):
    from spatial_data_engineering_spark.streaming.windows import (
        read_events_stream, run_to_completion, session_windows)

    # The 4 micro-batch files are hash-split, not time-ordered: with a
    # small watermark most of batches 2-4 would be (correctly) dropped as
    # late.  A watermark wider than the data span isolates the parity
    # check from late-data policy.
    stream = read_events_stream(spark, events_dir)
    got = run_to_completion(
        session_windows(stream, watermark="60 days"), "t_sessions",
        output_mode="complete",
    ).toPandas()
    assert len(got) > 0
    # sessions are disjoint per user and each holds >= 1 event
    assert (got["n_events"] >= 1).all()
    assert (got["session_end"] > got["session_start"]).all()
    # session semantics parity with the batch analogue: total events match
    total = _batch_events(spark, events_dir).count()
    assert int(got["n_events"].sum()) == total


def test_dedup_within_watermark(spark, events_dir):
    from spatial_data_engineering_spark.streaming.windows import (
        dedup_within_watermark, read_events_stream, run_to_completion)

    # wide watermark: hash-split batches are unordered in event time (see
    # session test note) — dedup must see every row as on-time
    stream = read_events_stream(spark, events_dir)
    got = run_to_completion(
        dedup_within_watermark(stream, watermark="60 days"), "t_dedup")
    n = got.count()
    n_distinct = (_batch_events(spark, events_dir)
                  .select("event_id").distinct().count())
    assert n == n_distinct


def test_stream_stream_join_parity(spark, events_dir):
    from spatial_data_engineering_spark.streaming.windows import (
        read_events_stream, run_to_completion, stream_stream_join)

    clicks_s = read_events_stream(spark, events_dir).filter(
        "event_type = 'click'")
    purchases_s = read_events_stream(spark, events_dir).filter(
        "event_type = 'purchase'")
    got = run_to_completion(
        stream_stream_join(clicks_s, purchases_s, watermark="60 days"),
        "t_ssjoin",
    ).toPandas()

    batch = _batch_events(spark, events_dir)
    exp = stream_stream_join(
        batch.filter("event_type = 'click'"),
        batch.filter("event_type = 'purchase'"),
        watermark="60 days",
    ).toPandas()

    key = ["purchase_id", "click_id"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = exp.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(exp_s) > 0
    assert (got_s["user_id"].values == exp_s["user_id"].values).all()
    # join window semantics: click within [purchase-30min, purchase]
    gap = (exp_s["purchase_ts"] - exp_s["click_ts"]).dt.total_seconds()
    assert ((gap >= 0) & (gap <= 1800)).all()


def test_late_data_dropped_from_windowed_agg(spark, tmp_path):
    """A row arriving after the watermark passed its window is excluded
    from the windowed aggregation (append mode).  Two files with ordered
    mtimes force two micro-batches; the watermark from batch 1 (12:04 -
    1h = 11:04) makes batch 2's 10:30 event late.

    (Observed while building this: dropDuplicatesWithinWatermark does NOT
    filter late rows — its watermark only bounds dedup state — so the
    drop semantics must be asserted on an aggregation, not the dedup.)
    """
    import time as _time

    import pandas as pd

    from spatial_data_engineering_spark.streaming.windows import (
        read_events_stream, run_to_completion, tumbling_counts)

    d = str(tmp_path / "late_events")
    import os

    os.makedirs(d)
    base = pd.Timestamp("2024-01-10 12:00:00")

    def mk(ids, ts_list):
        return pd.DataFrame({
            "event_id": ids,
            "ts": pd.Series(ts_list).astype("datetime64[us]"),
            "user_id": [1] * len(ids), "event_type": ["click"] * len(ids),
            "value": [1.0] * len(ids), "props": ["{}"] * len(ids),
        })

    # batch 0: four on-time events at 12:0x + one at 10:00 (on time here).
    # The watermark computed at END of batch 0 (12:03 - 1h = 11:03) only
    # FILTERS input from the batch after next — Spark applies the
    # previous batch's watermark, so a propagation batch is needed.
    mk([0, 1, 2, 3, 10],
       [base + pd.Timedelta(minutes=i) for i in range(4)]
       + [base - pd.Timedelta(hours=2)]).to_parquet(
        f"{d}/a.parquet", index=False)
    _time.sleep(1.2)  # file source orders batches by modification time
    # batch 1: on-time event; watermark 11:03 now in force for batch 2,
    # and window [10:00, 11:00) is evicted+emitted with count 1
    mk([4], [base + pd.Timedelta(minutes=6)]).to_parquet(
        f"{d}/b.parquet", index=False)
    _time.sleep(1.2)
    # batch 2: event at 10:30 — late beyond the in-force watermark
    mk([11], [base - pd.Timedelta(minutes=90)]).to_parquet(
        f"{d}/c.parquet", index=False)

    stream = read_events_stream(spark, d, max_files_per_trigger=1)
    got = run_to_completion(
        tumbling_counts(stream, window="1 hour", watermark="1 hour"),
        "t_late", output_mode="append",
    ).toPandas()

    w10 = got[got.window_start == pd.Timestamp("2024-01-10 10:00:00")]
    # exactly one emission of the 10:00 window, WITHOUT the late event
    assert len(w10) == 1
    assert int(w10.iloc[0].n_events) == 1


def test_foreachbatch_idempotent_sink(spark, events_dir, tmp_path):
    from spatial_data_engineering_spark.streaming.windows import (
        read_events_stream, write_stream_idempotent)

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stream = read_events_stream(spark, events_dir).filter(
        "event_type = 'purchase'")
    write_stream_idempotent(stream, out, ckpt)

    sunk = spark.read.parquet(out)
    expected = _batch_events(spark, events_dir).filter(
        "event_type = 'purchase'")
    assert sunk.count() == expected.count()
    assert (sunk.select("event_id").distinct().count()
            == expected.select("event_id").distinct().count())

    # resume with the SAME checkpoint and no new data: nothing duplicates
    write_stream_idempotent(
        read_events_stream(spark, events_dir).filter(
            "event_type = 'purchase'"), out, ckpt)
    assert spark.read.parquet(out).count() == expected.count()


def test_stateful_running_totals(spark, events_dir):
    from spatial_data_engineering_spark.streaming.stateful import (
        running_user_totals)
    from spatial_data_engineering_spark.streaming.windows import (
        read_events_stream, run_to_completion)

    stream = read_events_stream(spark, events_dir)
    got = run_to_completion(running_user_totals(stream), "t_state",
                            output_mode="update").toPandas()
    # last update per user must equal the batch totals
    last = (got.groupby("user_id").last())
    batch = (_batch_events(spark, events_dir).groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
             .toPandas().set_index("user_id"))
    for uid, row in batch.iterrows():
        assert int(last.loc[uid, "total_events"]) == int(row["n"])
        assert abs(float(last.loc[uid, "total_value"]) - float(row["v"])) < 1e-6


def test_stream_two_tier_admission_matches_q82(spark, tmp_path):
    # streaming admission must implement q82's exact two-tier contract
    # (exact md5 + token-sort fingerprint) on the same frames: the
    # admitted set from the stream equals the batch q82 result
    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.operators.dedup import (
        q82_incremental_dedup)
    from spatial_data_engineering_spark.streaming.windows import (
        run_to_completion, stream_admit_documents)

    docs = load(spark, SF_SMOKE, "documents")
    is_batch = F.col("doc_id") % 10 == 9          # q82's batch contract
    corpus = docs.filter(~is_batch)

    # the day's crawl arrives as a file stream in several micro-batches
    stream_dir = str(tmp_path / "incoming_docs")
    docs.filter(is_batch).repartition(3).write.mode("overwrite") \
        .parquet(stream_dir)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(stream_dir))

    got = run_to_completion(
        stream_admit_documents(stream, corpus), "t_two_tier"
    ).toPandas()
    exp = q82_incremental_dedup(spark, SF_SMOKE).toPandas()

    assert set(got["doc_id"]) == set(exp["doc_id"])
    assert len(got) == len(exp) > 0
    # admitted rows keep the full document row (schema passthrough)
    assert set(docs.columns) <= set(got.columns)


def test_stream_static_anti_dedup_parity(spark, events_dir):
    # stream-static LEFT ANTI admission (the streaming twin of q82):
    # rows whose event_id is already in the corpus never come through,
    # and the stream result equals the batch anti join on the same rows
    from spatial_data_engineering_spark.streaming.windows import (
        read_events_stream, run_to_completion, stream_dedup_against_corpus)

    all_events = _batch_events(spark, events_dir)
    corpus = all_events.filter(F.col("event_id") % 3 == 0) \
        .select("event_id")

    stream = read_events_stream(spark, events_dir)
    got = run_to_completion(
        stream_dedup_against_corpus(stream, corpus), "t_anti_dedup"
    ).toPandas()
    exp = all_events.join(corpus, "event_id", "left_anti").toPandas()

    assert len(got) == len(exp) > 0
    assert set(got["event_id"]) == set(exp["event_id"])
    assert not (got["event_id"] % 3 == 0).any()


def test_stream_sessionize_timeout_parity(spark, tmp_path):
    """Single-trigger replay: the stateful sessionizer's in-batch gap walk
    must emit EXACTLY the batch lag-gap sessions minus each user's final
    (still-open) session; session boundaries, counts and sums all match."""
    import pandas as pd
    from pyspark.sql.window import Window as W

    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.streaming.stateful import (
        sessionize_with_timeout)
    from spatial_data_engineering_spark.streaming.windows import (
        run_to_completion)

    events = load(spark, SF_SMOKE, "events").select("user_id", "ts", "value")
    src = str(tmp_path / "sess_events")
    events.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)

    got = run_to_completion(
        sessionize_with_timeout(stream, gap="2 days"), "t_sess_timeout"
    ).toPandas()

    # batch reference: lag-gap sessionization (q18 semantics, 2-day gap)
    gap_us = 2 * 86_400_000_000
    us = F.unix_micros(F.col("ts"))
    w = W.partitionBy("user_id").orderBy("ts")
    flagged = events.withColumn(
        "new_s",
        F.when((us - F.lag(us).over(w)).isNull()
               | ((us - F.lag(us).over(w)) > gap_us), 1).otherwise(0))
    sess = (flagged
            .withColumn("sid", F.sum("new_s").over(
                w.rowsBetween(W.unboundedPreceding, 0)))
            .groupBy("user_id", "sid")
            .agg(F.min(us).alias("session_start_us"),
                 F.max(us).alias("session_end_us"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .toPandas())
    # drop each user's final (open) session — the stream keeps it in state
    sess = sess.sort_values(["user_id", "sid"])
    non_final = sess.groupby("user_id", group_keys=False).apply(
        lambda g: g.iloc[:-1])

    key = ["user_id", "session_start_us"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = non_final.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(exp_s) > 0
    for col in ("user_id", "session_start_us", "session_end_us", "n_events"):
        assert (got_s[col].to_numpy() == exp_s[col].to_numpy()).all(), col
    assert abs(got_s["sum_value"].to_numpy()
               - exp_s["sum_value"].to_numpy()).max() < 1e-6


def test_stream_sessionize_timeout_fires_across_batches(spark, tmp_path):
    """Multi-trigger replay with time-ordered files: watermark-driven
    timeouts must flush idle users' final sessions, and every emitted
    session must be one of the batch sessions (never a fragment)."""
    import time as _time

    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.streaming.stateful import (
        sessionize_with_timeout)
    from spatial_data_engineering_spark.streaming.windows import (
        run_to_completion)

    events = load(spark, SF_SMOKE, "events").select("user_id", "ts", "value")
    src = tmp_path / "sess_events_ordered"
    src.mkdir()
    # four time-ordered files written sequentially (mtime ascending) so the
    # file stream replays in event-time order and the watermark advances
    pdf = events.toPandas().sort_values("ts").reset_index(drop=True)
    quarter = len(pdf) // 4
    for i in range(4):
        part = pdf.iloc[i * quarter:(i + 1) * quarter if i < 3 else len(pdf)]
        spark.createDataFrame(part).coalesce(1).write.mode(
            "overwrite").parquet(str(src / f"chunk={i}"))
        _time.sleep(0.05)
    schema = spark.read.parquet(str(src / "chunk=0")).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src / "chunk=*")))

    got = run_to_completion(
        sessionize_with_timeout(stream, gap="2 days"), "t_sess_timeout2"
    ).toPandas()
    assert len(got) > 0

    # every emitted session must match a batch session exactly
    gap_us = 2 * 86_400_000_000
    sessions = set()
    for uid, g in pdf.groupby("user_id"):
        ts = (g["ts"].astype("int64") // 1000).sort_values().to_numpy()
        start = prev = ts[0]
        n = 1
        for t in ts[1:]:
            if t - prev <= gap_us:
                prev = t
                n += 1
            else:
                sessions.add((uid, int(start), int(prev), n))
                start = prev = t
                n = 1
        sessions.add((uid, int(start), int(prev), n))
    emitted = {(r.user_id, r.session_start_us, r.session_end_us, r.n_events)
               for r in got.itertuples()}
    assert emitted <= sessions
    # timeouts + cross-batch closures must flush most sessions: at least
    # half of all batch sessions emit on this 4-batch ordered replay
    assert len(emitted) >= len(sessions) // 2


def test_stream_cms_matches_batch_sketch(spark, tmp_path):
    """The streaming CMS counter table, driven over the documents corpus
    in micro-batches, must equal the batch q113 sketch cell-for-cell —
    the additive-merge property that makes sketches streaming-native."""
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.operators.dedup import _hex_fold
    from spatial_data_engineering_spark.operators.sketches import (
        _CMS_D, _pos_exprs)
    from spatial_data_engineering_spark.streaming.windows import (
        run_to_completion, stream_cms_sketch)

    docs = load(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "cms_docs")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    got = run_to_completion(stream_cms_sketch(stream), "t_cms",
                            output_mode="complete").toPandas()

    # batch reference: identical cell construction on the same rows
    toks = (spark.read.parquet(src)
            .select(F.explode(F.split("text", " ")).alias("term"))
            .filter(F.col("term") != "")
            .withColumn("h", F.expr(_hex_fold("spark", "md5(term)"))))
    poss = _pos_exprs("spark", "h")
    cells = (toks.select(F.explode(F.array(*[
        F.expr(f"struct({i} AS row_i, {poss[i]} AS pos)")
        for i in range(_CMS_D)])).alias("c"))
        .select("c.row_i", "c.pos"))
    exp = (cells.groupBy("row_i", "pos")
           .agg(F.count(F.lit(1)).alias("cnt")).toPandas())

    key = ["row_i", "pos"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = exp.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(exp_s) > 0
    assert (got_s["cnt"].to_numpy() == exp_s["cnt"].to_numpy()).all()


def test_stream_moments_match_batch_q99_stats(spark, events_dir):
    """The incrementally maintained moments (and the finalized mu/sigma)
    must equal the batch computation on the same rows — the contract
    that lets the q99 scorer consume a live broadcast snapshot."""
    from spatial_data_engineering_spark.streaming.windows import (
        read_events_stream, run_to_completion, stream_type_moments,
        zscore_finalize)

    stream = read_events_stream(spark, events_dir)
    got = run_to_completion(
        stream_type_moments(stream), "t_moments", output_mode="complete"
    )
    exp = stream_type_moments(_batch_events(spark, events_dir))
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(got) == key(exp)  # decimal sums -> exact cell equality

    fin_s = {r["event_type"]: (r["mu"], r["sigma"])
             for r in zscore_finalize(got).collect()}
    fin_b = {r["event_type"]: (r["mu"], r["sigma"])
             for r in zscore_finalize(exp).collect()}
    assert fin_s == fin_b
    assert all(sig > 0 for _, sig in fin_s.values())


def test_stream_state_bounded_by_watermark_horizon(spark, tmp_path):
    """CI pin of scripts/stress_streaming_state.py (round-7 task 8):
    every micro-batch introduces only BRAND-NEW one-shot keys — the
    worst case for keyed state — and the event-time-timeout sessionizer
    must hold live state at O(keys per watermark horizon), not O(total
    keys ever).  Small replica of the stress (6 batches x 200 keys,
    10-minute steps, 1-minute gap+watermark): max state must stay within
    ~2 batches of keys while cumulative keys grow 6x, and every matured
    key must emit exactly one session."""
    import time as _time

    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.streaming.stateful import (
        sessionize_with_timeout)
    from spatial_data_engineering_spark.streaming.windows import (
        read_events_stream)

    n_batches, keys_per_batch = 6, 200
    src = tmp_path / "one_shot_keys"
    src.mkdir()
    for b in range(n_batches):
        first = b * keys_per_batch
        (spark.range(first, first + keys_per_batch)
         .select(F.col("id").alias("event_id"),
                 (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                  + F.expr(f"INTERVAL {b * 10} MINUTES")).alias("ts"),
                 F.col("id").alias("user_id"),
                 F.lit("view").alias("event_type"),
                 F.lit(1.0).alias("value"),
                 F.lit("{}").alias("props"))
         .coalesce(1).write.mode("append").parquet(str(src)))
        _time.sleep(0.05)

    stream = read_events_stream(spark, str(src), max_files_per_trigger=1)
    q = (sessionize_with_timeout(stream, gap="1 minute",
                                 watermark="1 minute")
         .writeStream.outputMode("append")
         .format("memory").queryName("t_state_bound")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    state_rows = [p["stateOperators"][0]["numRowsTotal"]
                  for p in q.recentProgress if p.get("stateOperators")]
    assert state_rows, "no state metrics captured"
    assert max(state_rows) <= 3 * keys_per_batch, (
        f"state grew to {max(state_rows)} rows — not bounded by the "
        f"watermark horizon")
    emitted = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT user_id) AS k "
        "FROM t_state_bound").collect()[0]
    # the final batch's keys are legitimately unflushable (bounded
    # source: the watermark never passes them)
    matured = (n_batches - 1) * keys_per_batch
    assert emitted["n"] == emitted["k"] == matured


def test_admit_stream_near_dup_across_batches(spark, tmp_path):
    """Full-pipeline streaming admission (admit_stream): arrival-order
    keep-first across micro-batches with REAL near-dup semantics — a
    doc near-duplicating one admitted in an earlier batch is rejected,
    exact copies of base are rejected, clean docs admit."""
    import os
    import random
    import time

    from spatial_data_engineering_spark.streaming.windows import admit_stream

    words = ("quark lattice photon meson hadron lepton baryon gluon "
             "boson fermion spinor tensor gauge flux brane string").split()

    def text(seed, n=40):
        return " ".join(random.Random(seed).choices(words, k=n))

    base = spark.createDataFrame(
        [(i, text(i)) for i in range(5)], "doc_id long, text string")

    stream_dir = str(tmp_path / "incoming")
    os.makedirs(stream_dir)
    # batch 1: a clean doc + an exact copy of base 2
    spark.createDataFrame(
        [(100, text(50)), (101, text(2))], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{stream_dir}/f1")
    time.sleep(1.1)  # distinct mtimes => deterministic batch order
    # batch 2: a near-dup of batch-1's admitted doc + a clean doc
    spark.createDataFrame(
        [(200, text(50) + " tail"), (201, text(60))],
        "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{stream_dir}/f2")

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true").parquet(stream_dir))
    out_dir = str(tmp_path / "admitted")
    admit_stream(base, stream, out_dir, str(tmp_path / "ckpt"))

    got = spark.read.parquet(out_dir).toPandas()
    by_batch = {int(b): sorted(g["doc_id"])
                for b, g in got.groupby("batch")}
    # batch order is mtime order: f1 first
    assert sorted(got["doc_id"]) == [100, 201], by_batch
    assert len(by_batch) == 2 and by_batch[0] == [100], by_batch


def test_admit_stream_corrupt_out_dir_raises(spark, tmp_path):
    """Round-8 advice: only a genuinely ABSENT out_dir means 'first
    batch'.  An out_dir that EXISTS but fails to read as the admitted
    dataset (here: a stray non-parquet file) must fail the stream
    loudly — a silent fallback to the static base would drop previously
    admitted docs from the dedup base and re-admit their duplicates."""
    import os

    import pytest

    from spatial_data_engineering_spark.streaming.windows import admit_stream

    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta " * 10)], "doc_id long, text string")
    stream_dir = str(tmp_path / "incoming")
    os.makedirs(stream_dir)
    spark.createDataFrame(
        [(100, "totally fresh words " * 10)], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{stream_dir}/f1")

    out_dir = str(tmp_path / "admitted")
    os.makedirs(out_dir)
    with open(os.path.join(out_dir, "stray.txt"), "w") as fh:
        fh.write("not parquet")

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("recursiveFileLookup", "true").parquet(stream_dir))
    with pytest.raises(Exception) as exc_info:
        admit_stream(base, stream, out_dir, str(tmp_path / "ckpt"))
    # the failure is the unreadable admitted dataset, not something else
    assert "parquet" in str(exc_info.value).lower() or \
        "schema" in str(exc_info.value).lower(), str(exc_info.value)[:400]
    # and nothing was admitted behind the failure's back
    assert [p for p in os.listdir(out_dir) if p.startswith("batch=")] == []


def test_admit_stream_replay_is_idempotent(spark, tmp_path):
    """Checkpoint loss => every batch replays against an out_dir that
    already holds its own output.  Each replayed batch must exclude its
    OWN doc AND signature partitions from the effective base (else all
    its rows self-reject as exact dups) and overwrite both — admitted
    sets identical across the replay."""
    import os
    import random
    import time

    from spatial_data_engineering_spark.streaming.windows import admit_stream

    words = ("quark lattice photon meson hadron lepton baryon gluon "
             "boson fermion spinor tensor gauge flux brane string").split()

    def text(seed, n=40):
        return " ".join(random.Random(seed).choices(words, k=n))

    base = spark.createDataFrame(
        [(i, text(i)) for i in range(5)], "doc_id long, text string")
    stream_dir = str(tmp_path / "incoming")
    os.makedirs(stream_dir)
    spark.createDataFrame(
        [(100, text(50)), (101, text(2))], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{stream_dir}/f1")
    time.sleep(1.1)
    spark.createDataFrame(
        [(200, text(50) + " tail"), (201, text(60))],
        "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{stream_dir}/f2")

    def run(ckpt):
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1)
                  .option("recursiveFileLookup", "true").parquet(stream_dir))
        admit_stream(base, stream, out_dir, str(tmp_path / ckpt))
        return sorted((int(r.batch), int(r.doc_id)) for r in
                      spark.read.parquet(out_dir).collect())

    out_dir = str(tmp_path / "admitted")
    first = run("ckpt1")
    # fresh checkpoint, same out_dir: both batches replay in the same
    # (mtime-deterministic) order over their own previous output
    second = run("ckpt2")
    assert second == first
    assert [d for _, d in first] == [100, 201]


def test_admit_stream_recovers_missing_sigs(spark, tmp_path):
    """Crash window: docs written but _sigs absent (or out_dir predates
    sig persistence).  The next run must NOT wedge on PATH_NOT_FOUND and
    must still treat previously admitted docs as dedup base — prev state
    rebuilds from the admitted docs, the source of truth."""
    import os
    import random
    import shutil
    import time

    from spatial_data_engineering_spark.streaming.windows import admit_stream

    words = ("quark lattice photon meson hadron lepton baryon gluon "
             "boson fermion spinor tensor gauge flux brane string").split()

    def text(seed, n=40):
        return " ".join(random.Random(seed).choices(words, k=n))

    base = spark.createDataFrame(
        [(i, text(i)) for i in range(5)], "doc_id long, text string")
    stream_dir = str(tmp_path / "incoming")
    os.makedirs(stream_dir)
    spark.createDataFrame(
        [(100, text(50))], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{stream_dir}/f1")
    out_dir = str(tmp_path / "admitted")

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("recursiveFileLookup", "true").parquet(stream_dir))
    admit_stream(base, stream, out_dir, str(tmp_path / "ckpt1"))
    # simulate the crash state / a pre-sig-persistence dataset
    shutil.rmtree(os.path.join(out_dir, "_sigs"))

    time.sleep(1.1)
    spark.createDataFrame(  # near-dup of the batch-0 admitted doc
        [(200, text(50) + " tail"), (201, text(60))],
        "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{stream_dir}/f2")
    stream2 = (spark.readStream.schema("doc_id long, text string")
               .option("recursiveFileLookup", "true").parquet(stream_dir))
    # fresh checkpoint: batch 0 replays f1+f2 together over the
    # sig-less out_dir — must rebuild prev from docs and run green
    admit_stream(base, stream2, out_dir, str(tmp_path / "ckpt2"))
    got = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    # 100 re-admitted (its own replayed output is excluded), 200
    # rejected as near-dup of 100 within the batch, 201 fresh
    assert got == [100, 201], got
    # and the recovery run re-established the _sigs tables
    assert os.path.isdir(os.path.join(out_dir, "_sigs", "sh"))
    assert os.path.isdir(os.path.join(out_dir, "_sigs", "eh"))


def test_admit_stream_recovers_partial_sig_batch(spark, tmp_path):
    """Round-9 ADVICE (medium): sig coverage must be per BATCH
    PARTITION, not per table.  Crash window: batch=1's docs committed
    but its _sigs partitions lost, while batch=0's sig partitions keep
    all three sig TABLE dirs in existence.  A per-table existence
    probe would take the sigs-read path and silently drop batch 1 from
    the effective dedup base — its near-dups would re-admit with no
    signal.  The per-batch check must rebuild exactly the uncovered
    batch from its admitted docs."""
    import glob
    import os
    import random
    import shutil
    import time

    from spatial_data_engineering_spark.streaming.windows import admit_stream

    words = ("quark lattice photon meson hadron lepton baryon gluon "
             "boson fermion spinor tensor gauge flux brane string").split()

    def text(seed, n=40):
        return " ".join(random.Random(seed).choices(words, k=n))

    base = spark.createDataFrame(
        [(i, text(i)) for i in range(5)], "doc_id long, text string")
    stream_dir = str(tmp_path / "incoming")
    os.makedirs(stream_dir)
    spark.createDataFrame(
        [(100, text(50)), (101, text(2))], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{stream_dir}/f1")
    time.sleep(1.1)
    spark.createDataFrame(
        [(201, text(60))], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{stream_dir}/f2")
    out_dir = str(tmp_path / "admitted")

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true").parquet(stream_dir))
    admit_stream(base, stream, out_dir, str(tmp_path / "ckpt1"))
    assert sorted(r.doc_id for r in
                  spark.read.parquet(out_dir).collect()) == [100, 201]
    # the crash state: batch=1's sig PARTITIONS gone, tables still exist
    for d in glob.glob(os.path.join(out_dir, "_sigs", "*", "batch=1")):
        shutil.rmtree(d)
    assert os.path.isdir(os.path.join(out_dir, "_sigs", "sh", "batch=0"))

    time.sleep(1.1)
    spark.createDataFrame(  # near-dup of batch-1's admitted doc + fresh
        [(300, text(60) + " tail"), (301, text(70))],
        "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{stream_dir}/f3")
    # fresh checkpoint: all files replay as one batch 0 over the
    # partially sig-less out_dir; batch=1's state must rebuild from its
    # docs so 300 is rejected as a near-dup of 201
    stream2 = (spark.readStream.schema("doc_id long, text string")
               .option("recursiveFileLookup", "true").parquet(stream_dir))
    admit_stream(base, stream2, out_dir, str(tmp_path / "ckpt2"))
    got = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    # 100 re-admitted (own replayed partition excluded), 101 exact base
    # dup, 201 exact dup of the standing batch=1, 300 near-dup of 201
    # (the partition whose sigs were lost), 301 fresh
    assert got == [100, 201, 301], got
