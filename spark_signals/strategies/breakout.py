"""Bollinger-band breakout strategy — third registry entry, fully declarative.

The reference deploys breakout/mean-reversion *configs* over its one SQL
strategy (configs/strategies/mock_breakout.json, mock_mean_reversion.json
reference the strategy lifecycle in strategy_manager.py); this module makes
breakout a real strategy while exercising the registry contract
(SURVEY.md §3 step 2) with a signal rule distinct from both the SMA
crossover (pipeline.sma_cross) and the pandas-UDF EWMA (strategies.ewma_zscore).

Rule: bands = slow_sma ± K·volatility (both already computed in the shared
window stage — normalize.enriched_ticks). The tick *state* is +1 above the
upper band, −1 below the lower, else 0; a signal fires only on ENTERING a
band (state ≠ lagged state ∧ state ≠ 0) — sparse by construction, like the
reference's debounced crossovers. Confidence = |mid − band| / volatility.

Scale: zero additional shuffles — the band columns are projections and the
state lag stacks onto the same (product_id, event_time) window spec as
every other rolling feature, so the whole strategy adds one Window operator
to the existing single exchange+sort stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_signals.config import EngineConfig
from spark_signals.pipeline import normalize as N
from spark_signals.pipeline.builder import PipelineOutputs, assemble_outputs

K_BANDS = 2.0


def band_signals(enriched: DataFrame, cfg: EngineConfig) -> DataFrame:
    """enriched_ticks → per-tick band state + sparse entry signal."""
    w = N.tick_window(cfg)
    upper = F.col("slow_sma") + F.lit(K_BANDS) * F.col("volatility")
    lower = F.col("slow_sma") - F.lit(K_BANDS) * F.col("volatility")
    # slow_sma and volatility are exact-integer features, identical on
    # every engine, so the band touch is compared raw
    state = (
        F.when(F.col("mid_price") > upper, F.lit(1.0))
        .when(F.col("mid_price") < lower, F.lit(-1.0))
        .otherwise(F.lit(0.0))
    )
    df = (
        enriched.withColumn("bk_upper", upper)
        .withColumn("bk_lower", lower)
        .withColumn("bk_state", state)
        .withColumn("prev_bk_state", F.lag("bk_state").over(w))
    )
    entering = (F.col("bk_state") != 0.0) & (
        F.coalesce(F.col("prev_bk_state"), F.lit(0.0)) != F.col("bk_state")
    )
    return df.withColumn(
        "signal_position", F.when(entering, F.col("bk_state"))
    ).withColumn(
        "bk_confidence",
        F.when(
            entering & (F.col("volatility") > 0),
            F.abs(
                F.col("mid_price")
                - F.when(F.col("bk_state") > 0, F.col("bk_upper")).otherwise(F.col("bk_lower"))
            )
            / F.col("volatility"),
        ).otherwise(F.lit(0.0)),
    )


def build_pipeline(ticks: DataFrame, cfg: EngineConfig) -> PipelineOutputs:
    enriched = band_signals(N.enriched_ticks(ticks, cfg), cfg)
    quote_spread = F.when(
        F.col("best_bid").isNotNull() & F.col("best_ask").isNotNull(),
        F.col("best_ask") - F.col("best_bid"),
    )
    base = enriched.select(
        "product_id", "event_time", "sequence", "mid_price", "returns",
        "volatility", "best_bid", "best_ask",
        quote_spread.alias("spread"),
        "signal_position",
    )
    signals = enriched.select(
        F.lit(cfg.strategy_run_id).alias("strategy_run_id"),
        F.col("product_id").alias("instrument_id"),
        "sequence",
        F.col("event_time").alias("signal_time"),
        F.when(F.col("signal_position") == 1.0, "LONG")
        .when(F.col("signal_position") == -1.0, "SHORT")
        .otherwise("HOLD")
        .alias("signal_type"),
        F.coalesce(F.col("signal_position"), F.lit(0.0)).alias("position"),
        F.col("bk_confidence").alias("confidence"),
        F.to_json(
            F.struct(
                F.col("bk_upper").cast("string").alias("upper_band"),
                F.col("bk_lower").cast("string").alias("lower_band"),
                F.lit(str(K_BANDS)).alias("k_bands"),
                F.lit(cfg.execution_mode).alias("execution_mode"),
            )
        ).alias("metadata"),
    )
    return assemble_outputs(enriched, signals, base, cfg)
