"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no stateful streaming at all (its 'state' is the resume
cursor, main.go:162-175) — this is the north-star extension surface for
arbitrary per-key state that the built-in window aggregations can't
express: running per-key accumulators, streaming dedup, enrichment caches.

Pattern notes for 100 TB posture: state is partitioned by the grouping key
(one shuffle on user_id), lives in the state store per partition, and each
micro-batch touches only keys present in the batch.  Values crossing the
JVM<->Python boundary move as Arrow batches.  Sums are integer-quantized
(floor(value*100) cents) so results are exact and engine-independent —
float accumulation order never matters.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .windows import stream_events, _run_to_memory

_OUT_SCHEMA = (
    "user_id BIGINT, n BIGINT, sum_value_q BIGINT, "
    "first_ts TIMESTAMP, last_ts TIMESTAMP"
)
_STATE_SCHEMA = "n BIGINT, s BIGINT, mn BIGINT, mx BIGINT"


def _totals_fn(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import numpy as np

    n, s, mn, mx = state.get if state.exists else (0, 0, None, None)
    for pdf in pdfs:
        n += len(pdf)
        s += int(np.floor(pdf["value"].to_numpy(dtype="float64") * 100).sum())
        ts_us = pdf["ts"].astype("int64") // (
            1 if pdf["ts"].dtype == "datetime64[us]" else 1000
        )
        lo, hi = int(ts_us.min()), int(ts_us.max())
        mn = lo if mn is None else min(mn, lo)
        mx = hi if mx is None else max(mx, hi)
    state.update((n, s, mn, mx))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n": [n],
            "sum_value_q": [s],
            "first_ts": [pd.Timestamp(mn, unit="us")],
            "last_ts": [pd.Timestamp(mx, unit="us")],
        }
    )


def per_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals as a custom stateful operator: count,
    integer-quantized value sum, first/last event time — emitted per key
    per micro-batch in update mode (the batch equivalent is a plain
    GROUP BY user_id, which is the DuckDB oracle)."""
    from .windows import nanos_stream_scope

    with nanos_stream_scope(spark):
        sdf = stream_events(spark, sf_dir)
        out = sdf.groupBy("user_id").applyInPandasWithState(
            _totals_fn,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        res = _run_to_memory(out, "update")
        return res.orderBy("user_id")
