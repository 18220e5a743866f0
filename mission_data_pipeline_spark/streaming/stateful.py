"""Per-APID sequence-gap detection and a custom stateful streaming
operator.

CCSDS packets carry a per-APID 14-bit sequence counter that increments
by 1 mod 16384 (CCSDS 133.0-B-2 §4.1.3.4; reference models the wrap at
``src/mdp/models/packet.py:54`` but never checks continuity — SURVEY
§2.6 W3 lists gap/wrap detection as the natural extension). A gap means
lost packets; :func:`seq_gaps_batch` finds them in an at-rest capture
with one ``LAG(seq_count) OVER (PARTITION BY apid ORDER BY ...)``
window: one shuffle, whole-stage codegen.

:func:`cumulative_group_stats` is the ``applyInPandasWithState`` shape:
a running aggregate whose state survives micro-batch boundaries.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

SEQ_MOD = 16384


def seq_gaps_batch(packets: DataFrame) -> DataFrame:
    """Gap records from an at-rest packets_df (LAG window form).

    Ordering within an APID follows (file_path, file_offset) — scan
    order, which is transmission order for a well-formed capture.
    """
    w = Window.partitionBy("apid").orderBy("file_path", "file_offset")
    prev = F.lag("seq_count").over(w)
    missing = ((F.col("seq_count") - prev - 1) + SEQ_MOD) % SEQ_MOD
    return (
        packets.select("apid", "seq_count", "file_path", "file_offset")
        .withColumn("prev_seq", prev)
        .withColumn("missing", missing)
        .filter(F.col("prev_seq").isNotNull() & (F.col("missing") > 0))
        .select("apid", "prev_seq", "seq_count", "missing", "file_offset")
    )


# -- cumulative per-key running stats ----------------------------------

CUMULATIVE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("id_sum", T.LongType()),
        T.StructField("ts_min_us", T.LongType()),
        T.StructField("ts_max_us", T.LongType()),
    ]
)

_CUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("id_sum", T.LongType()),
        T.StructField("ts_min", T.LongType()),
        T.StructField("ts_max", T.LongType()),
    ]
)


def _cumulative_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    (k,) = key
    n, id_sum, ts_min, ts_max = (
        state.get if state.exists else (0, 0, None, None)
    )
    for pdf in pdfs:
        n += len(pdf)
        id_sum += int(pdf["id"].sum())
        lo, hi = int(pdf["ts_us"].min()), int(pdf["ts_us"].max())
        ts_min = lo if ts_min is None else min(ts_min, lo)
        ts_max = hi if ts_max is None else max(ts_max, hi)
    state.update((int(n), int(id_sum), int(ts_min), int(ts_max)))
    yield pd.DataFrame(
        [
            {
                "key": k,
                "n_events": n,
                "id_sum": id_sum,
                "ts_min_us": ts_min,
                "ts_max_us": ts_max,
            }
        ]
    )


def cumulative_group_stats(stream: DataFrame) -> DataFrame:
    """Cumulative per-key running statistics as a CUSTOM stateful
    streaming operator (``applyInPandasWithState``) — the "running
    aggregate that survives micro-batch boundaries" shape built-in
    streaming aggregation only offers in complete/update output modes.
    Input needs columns ``(key, id, ts_us)``; each micro-batch emits
    the group's cumulative ``(n_events, id_sum, ts_min_us, ts_max_us)``
    so far, folding the state-store record carried across batches.

    All accumulators are integers (count, integer id sum, min/max), so
    the cumulative values are order-independent — the final emission
    per key must equal the batch GROUP BY, regardless of how the file
    source split the data into micro-batches. State is one 4-long
    record per key: O(#keys), independent of throughput.
    """
    return stream.groupBy("key").applyInPandasWithState(
        _cumulative_fn,
        outputStructType=CUMULATIVE_SCHEMA,
        stateStructType=_CUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


# -- streaming EWMA: per-series smoothing state across micro-batches ----

EWMA_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("t_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = T.StructType([T.StructField("s", T.DoubleType())])


def ewma_stream(stream: DataFrame, *, alpha: float) -> DataFrame:
    """Per-series EWMA over a LIVE stream: the smoothing state (one
    double per series) rides the state store across micro-batches, so a
    telemetry channel smooths continuously over a live-tail source —
    the streaming twin of
    :func:`~mission_data_pipeline_spark.operators.timeseries.ewma`,
    applying the identical recurrence (``s = alpha*x + (1-alpha)*s``,
    first non-null seeds, nulls skipped with NULL out).

    Input needs ``(key, t_us, event_id, value)``; every row is emitted
    exactly once (append mode) with its smoothed value. Rows sort by
    ``(t_us, event_id)`` WITHIN a micro-batch; correctness across
    batches relies on the source delivering data in time order (true
    for live tails; for an out-of-order replay use the batch operator).
    State is one double per series: O(#channels), throughput-free.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    beta = 1.0 - alpha

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        s = state.get[0] if state.exists else None
        out: list[dict] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["t_us", "event_id"])
            for t, eid, x in zip(
                pdf["t_us"].tolist(),
                pdf["event_id"].tolist(),
                pdf["value"].tolist(),
            ):
                if x is None or pd.isna(x):
                    out.append(
                        {"key": k, "t_us": t, "event_id": eid,
                         "value": None, "ewma": None}
                    )
                    continue
                s = x if s is None else alpha * x + beta * s
                out.append(
                    {"key": k, "t_us": t, "event_id": eid,
                     "value": x, "ewma": s}
                )
        if s is not None:
            state.update((float(s),))
        yield pd.DataFrame(
            out, columns=[f.name for f in EWMA_STREAM_SCHEMA.fields]
        )

    return stream.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType=EWMA_STREAM_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
