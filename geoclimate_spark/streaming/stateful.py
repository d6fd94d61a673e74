"""Custom stateful streaming operator — continuous gap-threshold
sessionization via ``applyInPandasWithState``.

The batch engine sessionizes with a lag+cumsum window
(:func:`geoclimate_spark.operators.windows.sessionize`); a continuous crawl
pipeline needs the same semantics over an unbounded stream, which Spark
cannot express with windows — this is the canonical use of the custom
stateful operator API (SURVEY.md §2.10 forward extension).

Per user key the state holds the OPEN session (start, last-seen, count);
each micro-batch folds its (sorted) events into that state, emitting every
session that a gap CLOSES inside or across batches. The trailing open
session stays in state until a later batch closes it — so emitted rows are
exactly the batch operator's output minus each user's final (still-open)
session, which is what the equivalence test asserts.

Ordering caveat (documented, standard for this pattern): events must reach
a given key in event-time order across micro-batches — true for replayed
logs and availableNow drains; an always-on deployment adds a watermark +
event-time timeout to bound reordering, same state shape.

Scale: state is O(active users) × 32 bytes; Spark partitions the state by
the group key across executors (RocksDB state store in production).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = ("user_id long, session_id long, n_events long, "
              "start_us long, end_us long, duration_us long")
STATE_SCHEMA = "sid long, start_us long, last_us long, n long"


def _fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["_us", "event_id"], kind="stable")
    gap_us = int(rows["_gap_us"].iloc[0])
    user = int(key[0])
    if state.exists:
        sid, start_us, last_us, n = state.get
    else:
        sid, start_us, last_us, n = 0, None, None, 0
    out = []
    for us in rows["_us"].to_numpy():
        us = int(us)
        if start_us is None:
            sid, start_us, last_us, n = sid + 1, us, us, 1
        elif us - last_us > gap_us:
            out.append((user, sid, n, start_us, last_us, last_us - start_us))
            sid, start_us, last_us, n = sid + 1, us, us, 1
        else:
            last_us, n = us, n + 1
    state.update((sid, start_us, last_us, n))
    yield pd.DataFrame(out, columns=["user_id", "session_id", "n_events",
                                     "start_us", "end_us", "duration_us"])


def sessionize_stream(events: DataFrame, gap_sec: int) -> DataFrame:
    """Streaming gap-threshold sessions: emits each session when a gap
    closes it; the open tail session per user lives in the group state."""
    from pyspark.sql import functions as F
    e = events.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
        F.lit(gap_sec * 1_000_000).alias("_gap_us"))
    return e.groupBy("user_id").applyInPandasWithState(
        _fold, OUT_SCHEMA, STATE_SCHEMA, "append",
        GroupStateTimeout.NoTimeout)
