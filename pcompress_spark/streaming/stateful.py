"""Custom stateful streaming operator via applyInPandasWithState.

`sessionize` (streaming/ingest.py) uses Spark's NATIVE session_window —
the right tool when the operator fits a built-in. This module is the
template for when it does not: a hand-rolled session operator holding
explicit per-key state with event-time timeouts. Same output contract as
`sessionize` (gap-based sessions, session_end = last event + gap,
integer-cents value agg), so the parity test pins the custom state
machine to the built-in's semantics exactly — the repo-wide pattern of
certifying the custom path against an exact twin.

Why this exists (SURVEY §2.8 / build brief): pipelines need stateful
operators Spark lacks (value-dependent gaps, per-session top-k carriers,
decaying counters). applyInPandasWithState is the escape hatch —
Arrow-batched per-group pandas with a GroupState handle — and this
module demonstrates the full lifecycle: state merge, watermark-driven
emission, event-time timeout re-arming, and state cleanup.

Scale shape: state is per user_id (the grouping key), partitioned by the
state-store across executors; each group's state is a bounded list of
OPEN sessions only (closed sessions are emitted and dropped), so state
size tracks concurrent activity, not history. The reference's analog is
the per-stream accumulated index of pipe mode (rabin/global/index.c:
140-150) — bounded state surviving across chunk boundaries.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_MIN = 30

OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, value_cents long"
)
# open sessions per user: event-time micros + running aggregates.
# `nn` counts non-null cents contributions so value_cents can emit null
# when every value in the session was null — F.sum's semantics exactly.
# State written by the earlier 4-field schema (no `nn`) does not decode
# under this one: a stream restarted on this code needs a fresh
# checkpoint location.
STATE_SCHEMA = (
    "sessions array<struct<start:long,last:long,n:long,cents:long,"
    "nn:long>>"
)


def _merge_sessions(
    sessions: list[tuple[int, int, int, int, int]], gap_us: int
) -> list[tuple[int, int, int, int, int]]:
    """Merge (start,last,n,cents,nn) intervals whose gap is < gap_us —
    half-open close semantics, identical to F.session_window (an event
    exactly at last+gap starts a NEW session)."""
    if not sessions:
        return []
    sessions.sort()
    out = [sessions[0]]
    for s in sessions[1:]:
        p = out[-1]
        if s[0] - p[1] < gap_us:
            out[-1] = (
                p[0],
                max(p[1], s[1]),
                p[2] + s[2],
                p[3] + s[3],
                p[4] + s[4],
            )
        else:
            out.append(s)
    return out


def _session_func(gap_minutes: int):
    gap_us = gap_minutes * 60 * 1_000_000

    def func(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        sessions: list[tuple[int, int, int, int, int]] = (
            [tuple(s) for s in state.get[0]] if state.exists else []
        )
        if not state.hasTimedOut:
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                # unit-safe micros (pandas may hand ns- or us-resolution)
                ts_us = (
                    pdf["ts"].astype("datetime64[us]").astype("int64")
                )
                # integer cents per row — the events_hourly convention,
                # floor(v*100+0.5) on the same doubles both engines see.
                # Null values stay NaN (F.floor(null) -> null) and
                # contribute nothing to the sum, exactly like F.sum
                # skipping nulls; the event still counts in n_events.
                cents = np.floor(
                    pdf["value"].to_numpy(dtype="float64") * 100 + 0.5
                )
                sessions.extend(
                    (int(t), int(t), 1, 0, 0)
                    if np.isnan(c)
                    else (int(t), int(t), 1, int(c), 1)
                    for t, c in zip(ts_us, cents)
                )
            sessions = _merge_sessions(sessions, gap_us)
        # emission rule == the built-in's append mode: a session emits
        # once the event-time watermark passes its close (last + gap)
        wm_us = state.getCurrentWatermarkMs() * 1000
        closed = [s for s in sessions if s[1] + gap_us <= wm_us]
        keep = [s for s in sessions if s[1] + gap_us > wm_us]
        if keep:
            state.update((keep,))
            # re-arm: wake this group when the watermark can close its
            # earliest open session (must be strictly beyond the current
            # watermark or Spark rejects the timestamp)
            t_ms = min(s[1] + gap_us for s in keep) // 1000
            state.setTimeoutTimestamp(max(t_ms, state.getCurrentWatermarkMs() + 1))
        elif state.exists:
            state.remove()
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": pd.to_datetime(
                        [s[0] for s in closed], unit="us"
                    ),
                    "session_end": pd.to_datetime(
                        [s[1] + gap_us for s in closed], unit="us"
                    ),
                    "n_events": [s[2] for s in closed],
                    # nullable Int64: all-null-value session -> null sum
                    "value_cents": pd.array(
                        [s[3] if s[4] > 0 else None for s in closed],
                        dtype="Int64",
                    ),
                }
            )

    return func


def sessionize_stateful(
    events: DataFrame,
    gap_minutes: int = SESSION_GAP_MIN,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming gap-sessionization as a CUSTOM stateful operator.

    events: a streaming DataFrame with (user_id, ts, value, ...). Returns
    the append-mode stream of CLOSED sessions — same rows the built-in
    session_window emits (tests pin the parity)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_func(gap_minutes),
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_sessionize_stateful_stream(
    spark: Any,
    landing_dir: str,
    gap_minutes: int = SESSION_GAP_MIN,
    watermark: str = "2 hours",
    query_name: str = "sessions_custom",
):
    """Drain a landing dir through the custom stateful sessionizer (one
    file per micro-batch so the watermark advances, mirroring
    ingest.run_sessionize_stream)."""
    from pcompress_spark.streaming.ingest import EVENTS_SCHEMA

    ev = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )
    return (
        sessionize_stateful(ev, gap_minutes, watermark)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
