"""Custom stateful streaming operator — conversation assembly with
``applyInPandasWithState``.

The reference's per-document ordered collect (``parser.py:183-190``)
lifted to an unbounded stream: turns arrive out of order across
micro-batches; per-``conv_id`` state accumulates (turn_idx, markdown)
pairs and emits one assembled document row once the event-time
watermark passes the conversation's last turn plus an idle gap.  This
is the class of operator SQL cannot express (timeout-driven emission
+ evolving state), hence no DuckDB oracle — pytest asserts assembly
equality against the batch path instead.

State design at 10^12-turn scale: state is keyed by conv_id and holds
only (idx, text) pairs for OPEN conversations; timeout eviction bounds
the state store.  Emission is a function of the data alone
(``GroupStateTimeout.EventTimeTimeout``), so checkpointed offsets plus
the versioned state store give the same exactly-once emissions on
every replay.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

ASSEMBLED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("n_turns", IntegerType(), False),
        StructField("document", StringType(), False),
    ]
)

# state: accumulated turn indices and texts (parallel ARRAY fields —
# delimiter-joined strings would desynchronize on payloads that happen
# to contain the delimiter byte; arrays are content-safe) plus the max
# event time seen (epoch ms), so late rows never regress the timeout
STATE_SCHEMA_EVENT = StructType(
    [
        StructField("idxs", ArrayType(IntegerType()), False),
        StructField("texts", ArrayType(StringType()), False),
        StructField("max_ts", LongType(), False),
    ]
)


def make_event_assembler(gap_ms: int = 5000, session_tz: str = "UTC"):
    """Event-time conversation assembler: a conversation emits when
    the WATERMARK passes (its max event time + ``gap_ms``) — a
    function of the data alone, so two replays of the same input
    produce identical emissions regardless of scheduling.

    ``session_tz`` must be the session's ``spark.sql.session.timeZone``
    (``assembled_stream_event`` threads it through): Arrow hands pandas
    session-local NAIVE timestamps, so epoch-ms extraction must
    localize to that zone first or ``setTimeoutTimestamp`` skews from
    the engine watermark by the UTC offset (ADVICE r3)."""

    def assemble(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            st_idxs, st_texts, _ = state.get
            ordered = [t for _, t in
                       sorted(zip(list(st_idxs), list(st_texts)))]
            state.remove()
            yield pd.DataFrame(
                [{"conv_id": conv_id, "n_turns": len(ordered),
                  "document": "\n".join(ordered)}]
            )
            return

        idxs: list[int] = []
        texts: list[str] = []
        max_ts = 0
        if state.exists:
            st_idxs, st_texts, st_max = state.get
            idxs = [int(i) for i in st_idxs]
            texts = [str(t) for t in st_texts]
            max_ts = int(st_max)
        for pdf in pdfs:
            idxs.extend(int(i) for i in pdf["turn_idx"])
            texts.extend(str(t) for t in pdf["markdown"])
            if len(pdf):
                # naive series = session-local wall time -> localize to
                # the session zone, then convert to UTC for epoch math
                ts = pdf["ts"]
                if ts.dt.tz is None:
                    # DST edges: fall-back wall times are ambiguous and
                    # spring-forward ones nonexistent — pick an offset
                    # deterministically instead of raising (the bounded
                    # skew is harmless for a watermark timeout)
                    ts = ts.dt.tz_localize(
                        session_tz, ambiguous=True,
                        nonexistent="shift_forward")
                ts = ts.dt.tz_convert("UTC")
                batch_max = int(ts.astype("int64").max() // 1_000_000)
                max_ts = max(max_ts, batch_max)
        state.update((idxs, texts, max_ts))
        state.setTimeoutTimestamp(max_ts + gap_ms)
        yield pd.DataFrame(
            {"conv_id": pd.Series(dtype="object"),
             "n_turns": pd.Series(dtype="int32"),
             "document": pd.Series(dtype="object")}
        )

    return assemble


def assembled_stream_event(turns_stream, watermark: str = "2 seconds",
                           gap_ms: int = 5000):
    """Event-time assembly over (conv_id, turn_idx, markdown, ts):
    watermarked input + EventTimeTimeout, bounded state, replay-
    deterministic emissions."""
    session_tz = turns_stream.sparkSession.conf.get(
        "spark.sql.session.timeZone", "UTC")
    return (
        turns_stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            make_event_assembler(gap_ms, session_tz),
            outputStructType=ASSEMBLED_SCHEMA,
            stateStructType=STATE_SCHEMA_EVENT,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
