"""Rolling features on Spark 4's ``transformWithStateInPandas`` — T4, modern API.

Same semantics as :mod:`spark_signals.streaming.features` (the reference's
Flink streaming OVER-aggregates — ``LAG``, the SMAs and 60-tick volatility,
ignore-nulls ``LAST_VALUE`` forward-fill, reference sma_cross.py:89-143,
223-230 — replayed from exact integer running sums), re-expressed with the
``StatefulProcessor`` API that replaced ``applyInPandasWithState`` as
Spark's arbitrary-stateful-operator surface (SPARK-49564, Spark 4.0+).

Why carry both implementations:

* ``transformWithStateInPandas`` supports **state TTL** natively
  (``getValueState(..., ttlDurationMs=...)``) — the direct Spark analog of
  the reference's ``table.exec.state.ttl = PT6H`` (reference
  __main__.py:45), which bounds keyed state for instruments that stop
  ticking. The old API would need timer bookkeeping for the same effect.
* It composes with event-time timers and multiple named state variables,
  the path for richer strategy state going forward.

Both operators share :func:`spark_signals.streaming.features.replay_batch`,
so their outputs are bit-identical to each other and to the batch window
plan (the streaming-vs-batch parity tests cover both).

Scale: identical state shape to the old operator — O(slow_window) integer
micro-units per instrument key, partitioned by key hash across executors.
TTL (processing-time based, as in Flink) caps total state at (active
instruments within TTL) × O(60) integers regardless of total historical key
cardinality.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from spark_signals.config import EngineConfig
from spark_signals.streaming.features import (
    FRESH_STATE,
    OUTPUT_SCHEMA,
    STATE_SCHEMA,
    STREAMING_RULES,
    prepare_batch,
    replay_batch,
    rows_to_frame,
)


class RollingFeatureProcessor(StatefulProcessor):
    """Per-instrument rolling-feature state machine.

    State: one ValueState row (STATE_SCHEMA) holding the mid micro-unit
    deque, spread-debounce deque, and forward-fill position — exactly the
    tuple ``applyInPandasWithState`` keeps, so checkpointed semantics match.
    """

    def __init__(self, cfg: EngineConfig, ttl_ms: int | None = None, strategy: str = "sma_cross"):
        self._cfg = cfg
        self._ttl_ms = ttl_ms
        self._rule = STREAMING_RULES[strategy](cfg)

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("features", STATE_SCHEMA, self._ttl_ms)

    def handleInputRows(
        self,
        key: tuple,
        rows: Iterator[pd.DataFrame],
        timerValues: TimerValues,
    ) -> Iterator[pd.DataFrame]:
        state_tuple = self._state.get() if self._state.exists() else FRESH_STATE
        batch = prepare_batch(
            pd.concat(list(rows), ignore_index=True),
            timerValues.getCurrentWatermarkInMs(),
        )
        out_rows, new_state = replay_batch(self._cfg, key[0], batch, state_tuple, self._rule)
        self._state.update(new_state)
        yield rows_to_frame(out_rows)

    def close(self) -> None:
        pass


def stateful_features_tws(
    ticks: DataFrame,
    cfg: EngineConfig,
    *,
    state_ttl_ms: int | None = 6 * 3600 * 1000,
    time_mode: str = "ProcessingTime",
    strategy: str = "sma_cross",
) -> DataFrame:
    """ticks (streaming, watermarked) → positions_costs-parity rows.

    Default ``state_ttl_ms`` mirrors the reference's 6h state TTL
    (__main__.py:45). TTL requires a time mode other than "None";
    "ProcessingTime" matches Flink's processing-time-based
    ``table.exec.state.ttl``. Pass ``state_ttl_ms=None`` with
    ``time_mode="None"`` for unbounded state.

    .. warning:: Do not combine ``timeMode="ProcessingTime"`` with a
       ``Trigger.AvailableNow`` drain: after the data is exhausted Spark
       4.1 keeps scheduling empty micro-batches to evaluate processing-time
       timers, so the query never terminates (observed: >1000 empty batches
       on a 1000-row drain). Bounded backfills/drains should either pass
       ``state_ttl_ms=None, time_mode="None"``, or run a ``processingTime``
       trigger and stop the query once the sink is caught up. The unbounded
       production topology (``run_streaming_job``) is unaffected.
    """
    return ticks.groupBy("product_id").transformWithStateInPandas(
        statefulProcessor=RollingFeatureProcessor(cfg, state_ttl_ms, strategy),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode=time_mode,
    )
