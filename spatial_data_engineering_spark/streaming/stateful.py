"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2 H / §7 phase 5: "custom stateful operators").

``running_user_totals`` keeps per-user running (count, sum) across
micro-batches — the minimal shape of a stateful enrichment operator
(fraud counters, rate limits, session features).  State is one small
tuple per user; timeouts are left to the caller's watermark policy.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = ("user_id bigint, batch_events bigint, "
                 "total_events bigint, total_value double")
STATE_SCHEMA = "total_events bigint, total_value double"


def _update(key: Any, pdfs: Iterable[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        total_events, total_value = state.get
    else:
        total_events, total_value = 0, 0.0
    batch_events = 0
    batch_value = 0.0
    for pdf in pdfs:
        batch_events += len(pdf)
        batch_value += float(pdf["value"].sum())
    total_events += batch_events
    total_value += batch_value
    state.update((total_events, total_value))
    yield pd.DataFrame({
        "user_id": [user_id], "batch_events": [batch_events],
        "total_events": [total_events], "total_value": [total_value],
    })


def running_user_totals(events: DataFrame) -> DataFrame:
    """Stateful per-user running totals (streaming frame in, stream out)."""
    return (
        events.groupBy("user_id").applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ------------------------------------------------------------------------
# Streaming sessionization with event-time timeouts: the full custom
# stateful operator shape — in-batch gap walking, cross-batch session
# carry, and watermark-driven timeout flush for idle keys.
#
# Semantics: a session is a maximal run of a user's events where
# consecutive gaps are <= gap_us (identical to the batch lag-gap
# definition, q18).  A session row is EMITTED when it closes — either
# because a later event arrives beyond the gap (in-batch or next-batch)
# or because the event-time watermark passes session_end + gap (timeout).
# Each user's final session stays open in state until a timeout fires; on
# a bounded replay the tail sessions may therefore never emit — exactly
# the semantics a production stream has, and what the parity test pins
# (emitted == every non-final session, modulo timed-out tails).
#
# Scale: state is ONE (start, end, n, sum) tuple per active user; events
# stream through groupBy(user_id) — the same single shuffle as the batch
# operator — and timeouts make idle-user state O(active users), not
# O(ever-seen users).
# ------------------------------------------------------------------------

SESSION_OUTPUT = ("user_id bigint, session_start_us bigint, "
                  "session_end_us bigint, n_events bigint, sum_value double")
SESSION_STATE = "start_us bigint, end_us bigint, n bigint, v double"


def make_session_update(gap_us: int):
    """The update fn is parameterized by gap; returned closure is what
    applyInPandasWithState executes per key per micro-batch."""

    def update(key: Any, pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, end_us, n, v = state.get
            state.remove()
            yield pd.DataFrame({
                "user_id": [user_id], "session_start_us": [start_us],
                "session_end_us": [end_us], "n_events": [n],
                "sum_value": [v],
            })
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        ts_us = rows["ts"].astype("int64") // 1000
        order = ts_us.argsort(kind="stable")
        ts_us = ts_us.iloc[order].to_numpy()
        vals = rows["value"].iloc[order].to_numpy()

        if state.exists:
            cur = list(state.get)  # [start, end, n, v]
        else:
            cur = None
        closed = []
        for t, val in zip(ts_us, vals):
            t, val = int(t), float(val)
            if cur is None:
                cur = [t, t, 1, val]
            elif t - cur[1] <= gap_us:
                cur[1] = max(cur[1], t)
                cur[2] += 1
                cur[3] += val
            else:
                closed.append(cur)
                cur = [t, t, 1, val]
        state.update(tuple(cur))
        # timeout fires when the event-time watermark passes end + gap
        state.setTimeoutTimestamp(cur[1] // 1000 + gap_us // 1000 + 1)
        if closed:
            yield pd.DataFrame({
                "user_id": [user_id] * len(closed),
                "session_start_us": [c[0] for c in closed],
                "session_end_us": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
                "sum_value": [c[3] for c in closed],
            })

    return update


def sessionize_with_timeout(events: DataFrame, gap: str = "2 days",
                            watermark: str = "1 minute") -> DataFrame:
    """Streaming sessionizer (stream in, stream of CLOSED sessions out)."""
    import re

    m = re.fullmatch(r"(\d+)\s*(minute|hour|day)s?", gap.strip())
    if not m:
        raise ValueError(f"gap must be 'N minutes/hours/days', got {gap!r}")
    unit_us = {"minute": 60_000_000, "hour": 3_600_000_000,
               "day": 86_400_000_000}[m.group(2)]
    gap_us = int(m.group(1)) * unit_us
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id").applyInPandasWithState(
            make_session_update(gap_us),
            outputStructType=SESSION_OUTPUT,
            stateStructType=SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ------------------------------------------------------------------------
# Rate-limited stream sampler (round-11 inventory growth, VERDICT r10
# task 6b): admit at most ``r`` events per (user, time bucket), keeping
# the FIRST r by (ts, event_id) — the standard ingestion guard in front
# of a training-data firehose (caps any one producer's contribution per
# window without a shuffle or a global sort).
#
# Contract: per-key arrival is ts-ordered across micro-batches (the log-
# stream contract; the harness test feeds ts-split files).  Rows for a
# bucket OLDER than the key's current bucket are late beyond policy and
# are dropped — never re-admitted — so replays cannot double-admit.
# State per key is two bigints (current bucket, admitted count);
# checkpointed, so decisions are exactly-once across restarts.  The
# batch twin is plans/curation.py::rate_limited_admissions (row_number
# over (user, bucket) <= r), and stream == batch is pinned by
# tests/test_streaming_ratelimit.py.
# ------------------------------------------------------------------------
RATE_OUTPUT_SCHEMA = ("event_id bigint, user_id bigint, ts timestamp, "
                      "bucket_start timestamp")
RATE_STATE_SCHEMA = "bucket_start bigint, admitted bigint"


def make_rate_limit_update(r: int, bucket_us: int):
    def update(key: Any, pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        bucket_start, admitted = state.get if state.exists else (-1, 0)
        ids, tss, buckets = [], [], []
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            for ev, ts in zip(pdf["event_id"], pdf["ts"]):
                us = int(pd.Timestamp(ts).value) // 1000
                b = us - us % bucket_us
                if b < bucket_start:
                    continue  # late beyond policy: drop, never re-admit
                if b > bucket_start:
                    bucket_start, admitted = b, 0
                if admitted < r:
                    admitted += 1
                    ids.append(int(ev))
                    tss.append(ts)
                    buckets.append(pd.Timestamp(b * 1000))
        state.update((bucket_start, admitted))
        if ids:
            yield pd.DataFrame({"event_id": ids,
                                "user_id": [user_id] * len(ids),
                                "ts": tss, "bucket_start": buckets})

    return update


def rate_limit_stream(events: DataFrame, r: int = 2,
                      bucket: str = "1 day") -> DataFrame:
    """Streaming rate limiter: first ``r`` events per (user_id, bucket).

    ``events`` needs (event_id, user_id, ts); emits admitted rows only
    (append semantics — an admission decision never retracts)."""
    unit_us = {"1 hour": 3_600_000_000, "1 minute": 60_000_000,
               "1 day": 86_400_000_000}[bucket]
    return (events.groupBy("user_id").applyInPandasWithState(
        make_rate_limit_update(r, unit_us),
        outputStructType=RATE_OUTPUT_SCHEMA,
        stateStructType=RATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    ))
