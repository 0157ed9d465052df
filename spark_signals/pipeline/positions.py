"""Position & cost-model stage — J1, W6, W7, P5-P10.

crossover signals → continuous positions (sparse-signal forward-fill) →
position transitions, dynamic slippage/latency, simulated executions.

Reference semantics: sma_cross.py:186-360. Two deliberate choices, documented
per SURVEY.md §7:

* **J1 inlining.** The reference left-joins ``normalized_prices`` back to
  ``crossover_signals`` on (product_id, event_time) — an identity
  re-attachment, since both derive row-for-row from the same stream
  (sma_cross.py:186-208). We compute the signal columns inline on one
  DataFrame: same semantics, zero extra shuffle. ``positions_base_join``
  keeps the explicit join form for parity checking (oracle query q-j1).

* **Sparse-signal forward-fill.** As written, the reference joins the
  *unfiltered* signal view, whose HOLD rows carry position 0.0 — which would
  make the ``LAST_VALUE(signal_position, TRUE) IGNORE NULLS`` forward-fill
  (sma_cross.py:223-230) a no-op. The evident intent (ignore-nulls +
  COALESCE seed; SURVEY.md §2.3 W6; FIXTURES.md §2 "positions forward-fill
  to 1.0 thereafter") is that only non-HOLD signals attach and holds leave
  NULLs to be filled. We implement the intended semantics: signal_position is
  NULL unless a crossover fired.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_signals.config import EngineConfig
from spark_signals.pipeline import jsonfmt as J
from spark_signals.pipeline.sma_cross import crossover_case
from spark_signals.rounding import sql_str_lit


def positions_base_inline(enriched: DataFrame, cfg: EngineConfig) -> DataFrame:
    """normalize.enriched_ticks → positions_base, as a pure projection.

    Semantically equals the reference's J1 left join of sparse (non-HOLD)
    signals (sma_cross.py:186-208) but reuses the shared window stage — no
    join, no second shuffle.
    """
    # SQL-text projection: one py4j round trip for the whole select instead
    # of dozens of Column calls (construction is 30-60% of pipeline-query
    # wall at sf0.1, r16) — parses to the identical Catalyst expressions,
    # pinned by tests/test_plan_equality.py.
    return enriched.selectExpr(
        "product_id",
        "event_time",
        "sequence",
        "mid_price",
        "returns",
        "volatility",
        "best_bid",
        "best_ask",
        "CASE WHEN (best_bid IS NOT NULL) AND (best_ask IS NOT NULL)"
        " THEN best_ask - best_bid END AS spread",
        # sparse: NULL unless a crossover fired (see module docstring)
        f"{crossover_case('1.0D', '-1.0D')} AS signal_position",
    )


def positions_base_join(norm: DataFrame, signals: DataFrame) -> DataFrame:
    """J1 — explicit left-join form (reference: sma_cross.py:186-208), with the
    sparse-signal fix: only non-HOLD signals re-attach.

    Kept for operator parity / correctness checks. Both sides are already
    hash-partitioned by product_id from their window stages; with the tick
    stream as the big side this is a co-partitioned sort-merge join.
    """
    sparse = signals.filter(F.col("signal_type") != "HOLD").select(
        F.col("instrument_id"),
        F.col("signal_time"),
        F.col("sequence").alias("signal_sequence"),
        F.col("position").alias("signal_position"),
    )
    quote_spread = F.when(
        norm["best_bid"].isNotNull() & norm["best_ask"].isNotNull(),
        norm["best_ask"] - norm["best_bid"],
    )
    joined = norm.join(
        sparse,
        on=[
            norm["product_id"] == sparse["instrument_id"],
            norm["event_time"] == sparse["signal_time"],
            norm["sequence"] == sparse["signal_sequence"],
        ],
        how="left",
    )
    return joined.select(
        norm["product_id"],
        norm["event_time"],
        norm["sequence"],
        norm["mid_price"],
        norm["returns"],
        norm["volatility"],
        norm["best_bid"],
        norm["best_ask"],
        quote_spread.alias("spread"),
        sparse["signal_position"],
    )


#: Internal sparse marker column: non-null exactly on non-HOLD signal rows.
#: Lets downstream tumbling aggregates count signals (A2) in the SAME pass
#: as the performance metrics instead of re-deriving the signal chain from a
#: second scan and joining window-to-window.
SIGNAL_MARKER = "_signal_marker"


def positions_stream(
    base: DataFrame, cfg: EngineConfig, *, keep_signal_marker: bool = False
) -> DataFrame:
    """W6 — ignore-nulls last_value forward-fill, seeded flat
    (reference: sma_cross.py:211-233).

    ``keep_signal_marker=True`` retains the sparse pre-fill signal column as
    :data:`SIGNAL_MARKER` for single-pass metric chains; the default drops
    it so sink-facing relations keep the reference schema."""
    from spark_signals.pipeline.normalize import TICK_OVER

    position = (
        f"COALESCE(last(signal_position, true) OVER ({TICK_OVER}"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0D)"
        " AS position"
    )
    # one projection (same column order as the former withColumn +
    # rename/drop pair — position appended last): each extra DataFrame op
    # re-analyzes the whole deep chain on the driver
    if keep_signal_marker:
        cols = [
            f"signal_position AS {SIGNAL_MARKER}" if c == "signal_position" else c
            for c in base.columns
        ]
    else:
        cols = [c for c in base.columns if c != "signal_position"]
    return base.selectExpr(*cols, position)


def positions_enriched(stream: DataFrame, cfg: EngineConfig) -> DataFrame:
    """W7 + P5 — previous position and guarded ratios
    (reference: sma_cross.py:236-262)."""
    from spark_signals.pipeline.normalize import TICK_OVER

    mid_bad = "(mid_price IS NULL) OR (mid_price = 0)"
    # one projection for all three derived columns (the two ratios don't
    # reference prev_position, so the lag and the plain expressions coexist
    # in a single select; same column order as the former withColumn chain)
    return stream.selectExpr(
        "*",
        f"lag(position) OVER ({TICK_OVER}) AS prev_position",
        f"CASE WHEN {mid_bad} THEN 0.0D"
        " ELSE COALESCE(volatility, 0.0D) / mid_price END AS volatility_ratio",
        f"CASE WHEN ({mid_bad}) OR (spread IS NULL) THEN 0.0D"
        " ELSE spread / mid_price END AS spread_ratio",
    )


def positions_costs(enriched: DataFrame, cfg: EngineConfig) -> DataFrame:
    """P6 + P8 — position delta, clamped dynamic slippage, clamped dynamic
    fill latency (reference: sma_cross.py:265-314).

    All cost knobs fold into the plan as literals (Catalyst constant-folds the
    clamp bounds), exactly as the reference interpolates config into SQL text.
    """
    from spark_signals.rounding import sround_sql

    slip_raw = (
        f"{cfg.slippage_rate!r}D"
        f" + volatility_ratio * {cfg.slippage_volatility_multiplier!r}D"
        f" + spread_ratio * {cfg.slippage_spread_multiplier!r}D"
    )
    # reference clamp is a CASE chain (sma_cross.py:270-275): <0 → 0, >max → max
    slippage = (
        f"CASE WHEN ({slip_raw}) < 0 THEN 0.0D"
        f" WHEN ({slip_raw}) > {cfg.slippage_max_rate!r}D"
        f" THEN {cfg.slippage_max_rate!r}D"
        f" ELSE {slip_raw} END"
    )
    # latency increment truncates toward zero (Flink CAST DOUBLE→BIGINT;
    # volatility_ratio ≥ 0 so floor ≡ trunc), then clamps to
    # [base, base + jitter] (sma_cross.py:276-288). The product is gridded
    # at dp=6 before the floor: its raw last ulp is engine-dependent and can
    # straddle an integer (observed 424 vs 425 at sf0.1) — the oracle grids
    # identically.
    lat_inc = (
        "CAST(FLOOR("
        + sround_sql(
            f"{float(cfg.fill_latency_volatility_ms)!r}D * volatility_ratio", 6
        )
        + ") AS BIGINT)"
    )
    lat_raw = f"{cfg.fill_latency_ms} + ({lat_inc})"
    lat_hi = cfg.fill_latency_ms + cfg.fill_latency_jitter_ms
    latency = (
        f"CAST(CASE WHEN ({lat_raw}) < {cfg.fill_latency_ms}"
        f" THEN {cfg.fill_latency_ms}"
        f" WHEN ({lat_raw}) > {lat_hi} THEN {lat_hi}"
        f" ELSE {lat_raw} END AS BIGINT)"
    )
    # marker-bearing chains (positions_stream(keep_signal_marker=True))
    # forward the sparse signal column for the fused A1+A2 aggregate
    marker = [SIGNAL_MARKER] if SIGNAL_MARKER in enriched.columns else []
    return enriched.selectExpr(
        "product_id",
        "event_time",
        "sequence",
        "mid_price",
        "returns",
        "volatility",
        "best_bid",
        "best_ask",
        "spread",
        "position",
        "prev_position",
        "position - COALESCE(prev_position, 0.0D) AS position_change",
        "volatility_ratio",
        "spread_ratio",
        f"{slippage} AS slippage_rate",
        f"{cfg.transaction_cost_rate!r}D AS transaction_cost_rate",
        f"({slippage}) + {cfg.transaction_cost_rate!r}D AS trade_cost_rate",
        f"{latency} AS fill_latency_ms",
        *marker,
    )


def executions(costs: DataFrame, cfg: EngineConfig) -> DataFrame:
    """P7 + P10 — simulated fills: latency-shifted execution_time,
    direction-signed slippage on price, per-fill costs; only rows that trade
    (reference: sma_cross.py:318-353)."""
    exec_price = (
        "CASE WHEN position_change > 0 THEN mid_price * (1.0D + slippage_rate)"
        " WHEN position_change < 0 THEN mid_price * (1.0D - slippage_rate)"
        " ELSE mid_price END"
    )
    metadata = (
        "to_json(struct("
        "CAST(fill_latency_ms AS STRING) AS fill_latency_ms, "
        f"{J.fmt_fixed_sqltext('slippage_rate', 9)} AS slippage_rate, "
        f"{sql_str_lit(cfg.execution_mode)} AS execution_mode))"
    )
    return costs.filter(F.col("position_change") != 0).selectExpr(
        f"{sql_str_lit(cfg.strategy_run_id)} AS strategy_run_id",
        "product_id",
        "sequence",
        "event_time AS signal_time",
        "timestampadd(MILLISECOND, fill_latency_ms, event_time) AS execution_time",
        "position_change",
        f"{exec_price} AS execution_price",
        "mid_price AS base_price",
        f"ABS(position_change) * mid_price * {cfg.transaction_cost_rate!r}D"
        " AS transaction_cost",
        "ABS(position_change) * mid_price * slippage_rate AS slippage_cost",
        f"{metadata} AS metadata",
    )


def position_transitions(costs: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Position-transition ledger: rows only where the position changed
    (reference: sma_cross.py:356-378)."""
    metadata = (
        "to_json(struct("
        f"{J.fmt_fixed_sqltext('COALESCE(prev_position, 0.0D)', 1)} AS prev_position, "
        f"{sql_str_lit(cfg.transaction_cost_bps)} AS transaction_cost_bps, "
        f"{sql_str_lit(cfg.slippage_bps)} AS slippage_bps, "
        f"{J.fmt_fixed_sqltext('slippage_rate', 9)} AS effective_slippage_rate, "
        f"{sql_str_lit(cfg.execution_mode)} AS execution_mode))"
    )
    return costs.filter(
        F.col("prev_position").isNull() | (F.col("position") != F.col("prev_position"))
    ).selectExpr(
        f"{sql_str_lit(cfg.strategy_run_id)} AS strategy_run_id",
        "product_id",
        "event_time",
        "sequence",
        "position",
        "position_change",
        f"ABS(position_change) * mid_price * {cfg.transaction_cost_rate!r}D"
        " AS transaction_cost",
        "ABS(position_change) * mid_price * slippage_rate AS slippage_cost",
        "ABS(position_change) * mid_price * trade_cost_rate AS trade_cost",
        "mid_price",
        f"{metadata} AS metadata",
    )
