"""EWMA z-score mean-reversion strategy — the pandas-UDF extension point.

The reference reserves a hook for strategies that outgrow SQL expressions
(`prepare_environment` "for registering UDFs", reference README.md:71-74;
SURVEY.md §2.9). This strategy exercises it with a signal that genuinely
cannot be written with Spark's built-in window functions: an exponentially
weighted moving mean/variance is *recursive* over rows
(``m_t = (1−α)·m_{t−1} + α·x_t``), which no frame-based aggregate
expresses. The per-product recursion runs in a grouped ``applyInPandas``
stage (Arrow-batched, vectorized inside the group via numpy); everything
downstream — forward-fill, cost model, executions, tumbling metrics — is
the shared declarative machinery from pipeline.builder.

Signal rule: enter short (−1) when the z-score of mid vs its EWMA crosses
above +Z_ENTER (price stretched high → mean-revert), enter long (+1) when
it crosses below −Z_ENTER; HOLD otherwise. Sparse signals, like the SMA
strategy's non-HOLD rows.

Scale: one shuffle on product_id for the grouped stage; per-group state is
O(1) scalars. The group iteration is numpy-vectorized except the scalar
EWMA recursion (O(n) multiply-adds — memory-bandwidth bound, not Python
bound, for realistic group sizes).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_signals.config import EngineConfig
from spark_signals.pipeline import normalize as N
from spark_signals.pipeline.builder import PipelineOutputs, assemble_outputs

ALPHA = 0.1
Z_ENTER = 2.0

_SIGNAL_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.StringType(), False),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("sequence", T.LongType(), True),
        T.StructField("zscore", T.DoubleType(), True),
        T.StructField("signal_position", T.DoubleType(), True),
    ]
)


def _ewma_signals(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["event_time", "sequence"], kind="mergesort")
    x = pdf["mid_price"].to_numpy(dtype=np.float64)
    n = len(x)
    mean = np.empty(n)
    var = np.empty(n)
    m, v = x[0], 0.0
    for i in range(n):  # recursive — the part SQL can't express
        d = x[i] - m
        m = m + ALPHA * d
        v = (1.0 - ALPHA) * (v + ALPHA * d * d)
        mean[i] = m
        var[i] = v
    z = np.zeros(n)
    ok = var > 0
    np.divide(x - mean, np.sqrt(var, where=ok, out=np.ones(n)), where=ok, out=z)
    prev_z = np.concatenate(([0.0], z[:-1]))
    sig = np.full(n, np.nan)
    sig[(z > Z_ENTER) & (prev_z <= Z_ENTER)] = -1.0
    sig[(z < -Z_ENTER) & (prev_z >= -Z_ENTER)] = 1.0
    return pd.DataFrame(
        {
            "product_id": pdf["product_id"].to_numpy(),
            "event_time": pdf["event_time"].to_numpy(),
            "sequence": pdf["sequence"].to_numpy(),
            "zscore": z,
            "signal_position": sig,
        }
    )


def oracle_sql(run_id: str = "ewma-z") -> str:
    """DuckDB oracle replaying the EWMA recursion exactly.

    The recursion has no frame-based SQL equivalent, but it IS linearly
    replayable: a recursive CTE advances one row per product per iteration
    (rn → rn+1), computing the identical IEEE double sequence
    ``d = x−m; m += α·d; v = (1−α)·(v + α·d·d)`` in the same operation
    order as ``_ewma_signals``. Per-row ops are exactly rounded in both
    engines, so z/confidence are bit-identical — no rounding gate needed.
    Iteration count = max rows per product (~n/products), not n.
    """
    from spark_signals import oracle

    cfg = EngineConfig(strategy_run_id=run_id)
    a = "CAST(0.1 AS DOUBLE)"
    return (
        "WITH RECURSIVE "
        + oracle.ticks_cte().strip().rstrip()
        + ","
        + oracle.normalized_cte(cfg).strip()
        + f""",
ewma_ordered AS (
    SELECT product_id, event_time, CAST(sequence AS BIGINT) AS sequence,
           mid_price AS x,
           row_number() OVER (PARTITION BY product_id ORDER BY event_time, sequence) AS rn
    FROM normalized_base
),
ewma_rec AS (
    SELECT product_id, event_time, sequence, rn, x,
           x AS m, CAST(0.0 AS DOUBLE) AS v
    FROM ewma_ordered WHERE rn = 1
    UNION ALL
    SELECT o.product_id, o.event_time, o.sequence, o.rn, o.x,
           r.m + {a} * (o.x - r.m) AS m,
           (CAST(1.0 AS DOUBLE) - {a}) * (r.v + {a} * (o.x - r.m) * (o.x - r.m)) AS v
    FROM ewma_rec r
    JOIN ewma_ordered o ON o.product_id = r.product_id AND o.rn = r.rn + 1
),
ewma_z AS (
    SELECT *,
           CASE WHEN v > CAST(0.0 AS DOUBLE) THEN (x - m) / sqrt(v)
                ELSE CAST(0.0 AS DOUBLE) END AS z
    FROM ewma_rec
),
ewma_prev AS (
    SELECT *, COALESCE(LAG(z) OVER (PARTITION BY product_id ORDER BY rn),
                       CAST(0.0 AS DOUBLE)) AS prev_z
    FROM ewma_z
),
ewma_crossed AS (
    SELECT *,
           CASE WHEN z > CAST(2.0 AS DOUBLE) AND prev_z <= CAST(2.0 AS DOUBLE)
                THEN CAST(-1.0 AS DOUBLE)
                WHEN z < CAST(-2.0 AS DOUBLE) AND prev_z >= CAST(-2.0 AS DOUBLE)
                THEN CAST(1.0 AS DOUBLE)
           END AS signal_position
    FROM ewma_prev
)
SELECT '{run_id}' AS strategy_run_id,
       product_id AS instrument_id,
       event_time AS signal_time,
       CASE WHEN signal_position = CAST(1.0 AS DOUBLE) THEN 'LONG'
            ELSE 'SHORT' END AS signal_type,
       signal_position AS position,
       ABS(z) AS confidence
FROM ewma_crossed
WHERE signal_position IS NOT NULL"""
    )


def build_pipeline(ticks: DataFrame, cfg: EngineConfig) -> PipelineOutputs:
    enriched = N.enriched_ticks(ticks, cfg)
    sig = (
        enriched.select("product_id", "event_time", "sequence", "mid_price")
        .groupBy("product_id")
        .applyInPandas(_ewma_signals, _SIGNAL_SCHEMA)
    )
    quote_spread = F.when(
        F.col("best_bid").isNotNull() & F.col("best_ask").isNotNull(),
        F.col("best_ask") - F.col("best_bid"),
    )
    base = enriched.join(sig.select("product_id", "sequence", "zscore", "signal_position"),
                         ["product_id", "sequence"], "left").select(
        "product_id", "event_time", "sequence", "mid_price", "returns",
        "volatility", "best_bid", "best_ask",
        quote_spread.alias("spread"),
        "signal_position",
        "zscore",
    )
    signals = base.select(
        F.lit(cfg.strategy_run_id).alias("strategy_run_id"),
        F.col("product_id").alias("instrument_id"),
        "sequence",
        F.col("event_time").alias("signal_time"),
        F.when(F.col("signal_position") == 1.0, "LONG")
        .when(F.col("signal_position") == -1.0, "SHORT")
        .otherwise("HOLD")
        .alias("signal_type"),
        F.coalesce(F.col("signal_position"), F.lit(0.0)).alias("position"),
        F.abs(F.col("zscore")).alias("confidence"),
        F.to_json(
            F.struct(
                F.col("zscore").cast("string").alias("zscore"),
                F.lit(str(ALPHA)).alias("alpha"),
                F.lit(cfg.execution_mode).alias("execution_mode"),
            )
        ).alias("metadata"),
    )
    return assemble_outputs(enriched, signals, base.drop("zscore"), cfg)
