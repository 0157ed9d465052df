"""Parity suite: oracle-checked queries over the driver's test tables.

Each entry pairs a Spark DataFrame query (the engine's own operators) with an
equivalent DuckDB SQL string (spark_signals.oracle CTE chain). Column names
and rounding are aligned on both sides — the driver hash-compares values after
sorting columns by name.

Rounding policy (see oracle.py docstring): per-row IEEE arithmetic is left
unrounded (bit-identical across engines); any column downstream of a
multi-row aggregate (rolling stddev/avg, grouped sums) is rounded to a fixed
number of decimals on both sides. JSON metadata columns are excluded from
parity projections — double→string formatting differs across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_signals import oracle
from spark_signals.config import EngineConfig
from spark_signals.io.sources import load_ticks
from spark_signals.pipeline.jsonfmt import sql_fmt_fixed
from spark_signals.pipeline import metrics as M
from spark_signals.pipeline import normalize as N
from spark_signals.pipeline import positions as P
from spark_signals.pipeline import rollup as R
from spark_signals.pipeline import sma_cross as S

CFG = EngineConfig()

QuerySpec = tuple[Callable[[SparkSession, str], DataFrame], str | None]

DP = 6
DP_PNL = 9  # realized-pnl magnitudes are ~1e-4; keep more signal


# re-exported for the many call sites; lives in spark_signals.rounding so
# pipeline stages can grid decision boundaries without a circular import
from spark_signals.rounding import sround  # noqa: E402,F401


def _round_cols(df: DataFrame, cols: dict[str, int]) -> DataFrame:
    # single withColumns call: one projection + ONE re-analysis of the plan
    # instead of len(cols) of each — on the deep pipeline chains each extra
    # DataFrame op costs ~10-25 ms of driver-side analysis (measured r16),
    # so the per-column withColumn loop was ~0.2 s per metrics-family query.
    # Each value is one SQL-parsed expression (1 py4j round trip) instead of
    # ~6 Column calls; parses to the identical Catalyst tree as sround().
    from spark_signals.rounding import sround_sql

    return df.withColumns({c: F.expr(sround_sql(c, dp)) for c, dp in cols.items()})


# ---------------------------------------------------------------- pipeline
def _ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_ticks(spark, sf_dir)


def q_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ticks(spark, sf_dir)


SQL_TICKS = oracle.with_chain(CFG, upto="ticks") + "\nSELECT * FROM ticks"


def q_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = N.enriched_ticks(_ticks(spark, sf_dir), CFG).select(*N.NORMALIZED_COLUMNS)
    return _round_cols(norm, {"volatility": DP})


SQL_NORMALIZED = (
    oracle.with_chain(CFG, upto="normalized")
    + f"""
SELECT product_id, event_time, sequence, mid_price, best_bid, best_ask,
       returns, floor((volatility) * 1e{DP} + 0.5000001) / 1e{DP} AS volatility
FROM normalized_prices"""
)


def q_sma_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    enriched = N.enriched_ticks(_ticks(spark, sf_dir), CFG)
    sig = S.crossover_signals_enriched(enriched, CFG).drop("metadata")
    return _round_cols(
        sig,
        {"confidence": DP, "fast_sma": DP, "slow_sma": DP, "spread": DP, "prev_spread": DP},
    )


SQL_SMA_SIGNALS = (
    oracle.with_chain(CFG, upto="signals")
    + f"""
SELECT strategy_run_id, instrument_id, sequence, signal_time, signal_type, position,
       floor((confidence) * 1e{DP} + 0.5000001) / 1e{DP} AS confidence, floor((fast_sma) * 1e{DP} + 0.5000001) / 1e{DP} AS fast_sma,
       floor((slow_sma) * 1e{DP} + 0.5000001) / 1e{DP} AS slow_sma, floor((spread) * 1e{DP} + 0.5000001) / 1e{DP} AS spread,
       floor((prev_spread) * 1e{DP} + 0.5000001) / 1e{DP} AS prev_spread
FROM crossover_signals"""
)


def q_signals_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    enriched = N.enriched_ticks(_ticks(spark, sf_dir), CFG)
    sig = S.crossover_signals_enriched(enriched, CFG)
    # metadata is hash-gated (P11): the library emits it with canonical
    # fixed-precision numerics (pipeline.jsonfmt), byte-identical to the
    # oracle's concat-built JSON below.
    dec = S.signals_decisions(sig)
    return _round_cols(dec, {"confidence": DP})


_META_SIGNALS = (
    """'{"fast_sma":"' || """
    + sql_fmt_fixed("fast_sma", 6)
    + """ || '","slow_sma":"' || """
    + sql_fmt_fixed("slow_sma", 6)
    + """ || '","spread":"' || """
    + sql_fmt_fixed("spread", 6)
    + f""" || '","confirmation_window":"{CFG.confirmation}","execution_mode":"{CFG.execution_mode}"}}'"""
)

SQL_SIGNALS_DECISIONS = (
    oracle.with_chain(CFG, upto="signals")
    + f"""
SELECT strategy_run_id, instrument_id, signal_time, signal_type, position,
       floor((confidence) * 1e{DP} + 0.5000001) / 1e{DP} AS confidence,
       {_META_SIGNALS} AS metadata
FROM crossover_signals WHERE signal_type <> 'HOLD'"""
)


def _costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    enriched = N.enriched_ticks(_ticks(spark, sf_dir), CFG)
    base = P.positions_base_inline(enriched, CFG)
    stream = P.positions_stream(base, CFG)
    return P.positions_costs(P.positions_enriched(stream, CFG), CFG)


def q_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    enriched = N.enriched_ticks(_ticks(spark, sf_dir), CFG)
    base = P.positions_base_inline(enriched, CFG)
    stream = P.positions_stream(base, CFG)
    return stream.select("product_id", "event_time", "sequence", "mid_price", "position")


SQL_POSITIONS = (
    oracle.with_chain(CFG, upto="positions")
    + """
SELECT product_id, event_time, sequence, mid_price, position
FROM positions_stream"""
)


def q_j1_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — the explicit left-join re-attachment form."""
    enriched = N.enriched_ticks(_ticks(spark, sf_dir), CFG)
    norm = enriched.select(*N.NORMALIZED_COLUMNS)
    sig = S.crossover_signals_enriched(enriched, CFG)
    base = P.positions_base_join(norm, sig)
    return _round_cols(
        base.select(
            "product_id", "event_time", "sequence", "mid_price", "spread", "signal_position"
        ),
        {},
    )


SQL_J1_JOIN = (
    oracle.with_chain(CFG, upto="positions")
    + """
SELECT product_id, event_time, sequence, mid_price, spread, signal_position
FROM positions_base"""
)


_COST_ROUND = {
    "volatility": DP,
    "volatility_ratio": DP_PNL,
    "slippage_rate": DP_PNL,
    "trade_cost_rate": DP_PNL,
}


def q_positions_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round_cols(_costs(spark, sf_dir), _COST_ROUND)


SQL_POSITIONS_COSTS = (
    oracle.with_chain(CFG, upto="positions")
    + f"""
SELECT product_id, event_time, sequence, mid_price, returns,
       floor((volatility) * 1e{DP} + 0.5000001) / 1e{DP} AS volatility, best_bid, best_ask, spread, position,
       prev_position, position_change,
       floor((volatility_ratio) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS volatility_ratio, spread_ratio,
       floor((slippage_rate) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS slippage_rate, transaction_cost_rate,
       floor((trade_cost_rate) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS trade_cost_rate, fill_latency_ms
FROM positions_costs"""
)


def q_executions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = P.executions(_costs(spark, sf_dir), CFG)
    return _round_cols(
        ex, {"execution_price": DP, "transaction_cost": DP_PNL, "slippage_cost": DP_PNL}
    )


_META_EXECUTIONS = (
    """'{"fill_latency_ms":"' || CAST(fill_latency_ms AS VARCHAR) || '","slippage_rate":"' || """
    + sql_fmt_fixed("slippage_rate", 9)
    + f""" || '","execution_mode":"{CFG.execution_mode}"}}'"""
)

SQL_EXECUTIONS = (
    oracle.with_chain(CFG, upto="positions")
    + f"""
SELECT '{CFG.strategy_run_id}' AS strategy_run_id, product_id, sequence,
       event_time AS signal_time,
       event_time + to_milliseconds(fill_latency_ms) AS execution_time,
       position_change,
       {_META_EXECUTIONS} AS metadata,
       floor((CASE WHEN position_change > 0 THEN mid_price * (1 + slippage_rate)
                  WHEN position_change < 0 THEN mid_price * (1 - slippage_rate)
                  ELSE mid_price END) * 1e{DP} + 0.5000001) / 1e{DP} AS execution_price,
       mid_price AS base_price,
       floor((ABS(position_change) * mid_price * {oracle._fmt(CFG.transaction_cost_rate)}) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS transaction_cost,
       floor((ABS(position_change) * mid_price * slippage_rate) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS slippage_cost
FROM positions_costs WHERE position_change <> 0"""
)


def q_position_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = P.position_transitions(_costs(spark, sf_dir), CFG)
    return _round_cols(
        tr, {"transaction_cost": DP_PNL, "slippage_cost": DP_PNL, "trade_cost": DP_PNL}
    )


_META_TRANSITIONS = (
    """'{"prev_position":"' || """
    + sql_fmt_fixed("COALESCE(prev_position, CAST(0.0 AS DOUBLE))", 1)
    + f""" || '","transaction_cost_bps":"{CFG.transaction_cost_bps}","slippage_bps":"{CFG.slippage_bps}","effective_slippage_rate":"' || """
    + sql_fmt_fixed("slippage_rate", 9)
    + f""" || '","execution_mode":"{CFG.execution_mode}"}}'"""
)

SQL_POSITION_TRANSITIONS = (
    oracle.with_chain(CFG, upto="positions")
    + f"""
SELECT '{CFG.strategy_run_id}' AS strategy_run_id, product_id, event_time, sequence,
       position, position_change,
       {_META_TRANSITIONS} AS metadata,
       floor((ABS(position_change) * mid_price * transaction_cost_rate) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL}
           AS transaction_cost,
       floor((ABS(position_change) * mid_price * slippage_rate) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS slippage_cost,
       floor((ABS(position_change) * mid_price * trade_cost_rate) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS trade_cost,
       mid_price
FROM positions_costs
WHERE prev_position IS NULL OR position <> prev_position"""
)


def q_position_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ret = M.position_returns(_costs(spark, sf_dir), CFG)
    return _round_cols(
        ret,
        {
            "slippage_rate": DP_PNL,
            "trade_cost_rate": DP_PNL,
            "transaction_cost": DP_PNL,
            "slippage_cost": DP_PNL,
            "trade_cost": DP_PNL,
            "realized_pnl": DP_PNL,
        },
    )


SQL_POSITION_RETURNS = (
    oracle.with_chain(CFG, upto="returns")
    + f"""
SELECT product_id, event_time, sequence, mid_price, asset_return, position,
       prev_position, position_change, transaction_cost_rate,
       floor((slippage_rate) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS slippage_rate,
       floor((trade_cost_rate) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS trade_cost_rate,
       floor((transaction_cost) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS transaction_cost,
       floor((slippage_cost) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS slippage_cost,
       floor((trade_cost) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS trade_cost,
       floor((realized_pnl) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS realized_pnl,
       notional_exposure, unit_exposure
FROM position_returns"""
)


def _metrics_chain(spark: SparkSession, sf_dir: str, *, fused: bool = False):
    """perf/counts for the metrics family.

    ``fused=True`` is the single-scan plan: the positions chain keeps the
    sparse signal marker, performance_windows counts it in the SAME tumbling
    aggregate, and the returned ``counts`` is None (metrics_enriched skips
    the window-to-window join). Identical relation, one base scan instead of
    two. The default join form stays as the J2 witness via
    pipeline.build_pipeline and the q_performance_windows / q_signal_counts
    extended queries (q_metrics switched to the fused form in r16)."""
    enriched = N.enriched_ticks(_ticks(spark, sf_dir), CFG)
    base = P.positions_base_inline(enriched, CFG)
    stream = P.positions_stream(base, CFG, keep_signal_marker=fused)
    costs = P.positions_costs(P.positions_enriched(stream, CFG), CFG)
    returns = M.position_returns(costs, CFG)
    perf = M.performance_windows(returns, CFG)
    if fused:
        return perf, None
    sig = S.crossover_signals_enriched(enriched, CFG)
    counts = M.signal_counts(sig, CFG)
    return perf, counts


_PERF_ROUND = {
    "avg_return": DP_PNL,
    "volatility": DP_PNL,
    "cumulative_return": DP_PNL,
    "downside_sum": DP,
    "min_return": DP_PNL,
    "avg_notional_exposure": DP,
    "avg_unit_exposure": DP,
    "total_trade_cost": DP_PNL,
    "total_transaction_cost": DP_PNL,
    "total_slippage_cost": DP_PNL,
}


def q_performance_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    perf, _ = _metrics_chain(spark, sf_dir)
    return _round_cols(perf, _PERF_ROUND)


SQL_PERFORMANCE_WINDOWS = (
    oracle.with_chain(CFG, upto="metrics")
    + f"""
SELECT window_start, window_end,
       floor((avg_return) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS avg_return,
       floor((volatility) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS volatility,
       floor((cumulative_return) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS cumulative_return,
       floor((downside_sum) * 1e6 + 0.5000001) / 1e6 AS downside_sum,
       sample_size, negative_samples,
       floor((min_return) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS min_return,
       floor((avg_notional_exposure) * 1e{DP} + 0.5000001) / 1e{DP} AS avg_notional_exposure,
       floor((avg_unit_exposure) * 1e{DP} + 0.5000001) / 1e{DP} AS avg_unit_exposure,
       floor((total_trade_cost) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS total_trade_cost,
       floor((total_transaction_cost) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS total_transaction_cost,
       floor((total_slippage_cost) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS total_slippage_cost
FROM performance_windows"""
)


def q_signal_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, counts = _metrics_chain(spark, sf_dir)
    return counts


SQL_SIGNAL_COUNTS = (
    oracle.with_chain(CFG, upto="metrics")
    + """
SELECT window_start, window_end, trades_executed FROM signal_counts"""
)


_METRICS_ROUND = {
    "sharpe_ratio": DP,
    "sortino_ratio": DP,
    "cumulative_return": DP_PNL,
    "drawdown": DP_PNL,
    "volatility": DP_PNL,
    "avg_exposure_notional": DP,
    "total_trade_cost": DP_PNL,
    "total_transaction_cost": DP_PNL,
    "total_slippage_cost": DP_PNL,
}


def q_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fused single-scan chain (r16 optimization): A2's signal count folds
    # into A1's tumbling aggregate via the sparse signal marker — one base
    # scan + one window chain instead of two of each plus the J2 join.
    # Identical relation (the unchanged SQL_METRICS oracle proves it, as it
    # already did for q_hourly_rollup); the join form stays exercised as the
    # J2 witness via pipeline.build_pipeline (tests/test_plans.py
    # test_metrics_dag_bounded_shuffles) and the q_performance_windows /
    # q_signal_counts extended queries.
    perf, counts = _metrics_chain(spark, sf_dir, fused=True)
    metr = M.metrics_enriched(perf, counts, CFG)
    return _round_cols(metr, _METRICS_ROUND)


_META_METRICS = (
    """'{"sample_size":"' || CAST(sample_size AS VARCHAR)
    || '","negative_samples":"' || CAST(negative_samples AS VARCHAR)
    || '","average_unit_exposure":"' || """
    + sql_fmt_fixed("avg_unit_exposure", 6)
    + """ || '","total_trade_cost":"' || """
    + sql_fmt_fixed("total_trade_cost", 9)
    + """ || '","total_transaction_cost":"' || """
    + sql_fmt_fixed("total_transaction_cost", 9)
    + """ || '","total_slippage_cost":"' || """
    + sql_fmt_fixed("total_slippage_cost", 9)
    + f""" || '","execution_mode":"{CFG.execution_mode}"}}'"""
)

SQL_METRICS = (
    oracle.with_chain(CFG, upto="metrics")
    + f"""
SELECT strategy_run_id, window_start, metric_time, window_label,
       {_META_METRICS} AS metadata,
       floor((sharpe_ratio) * 1e{DP} + 0.5000001) / 1e{DP} AS sharpe_ratio,
       floor((sortino_ratio) * 1e{DP} + 0.5000001) / 1e{DP} AS sortino_ratio,
       floor((cumulative_return) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS cumulative_return,
       floor((drawdown) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS drawdown,
       floor((volatility) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS volatility,
       trades_executed,
       floor((avg_exposure_notional) * 1e{DP} + 0.5000001) / 1e{DP} AS avg_exposure_notional,
       floor((total_trade_cost) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS total_trade_cost,
       floor((total_transaction_cost) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS total_transaction_cost,
       floor((total_slippage_cost) * 1e{DP_PNL} + 0.5000001) / 1e{DP_PNL} AS total_slippage_cost,
       sample_size, negative_samples
FROM metrics_enriched"""
)


def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fused single-scan chain: A2's count folds into A1's aggregate (no
    # second base scan, no window-to-window join) — same relation as the
    # join form, proved by the unchanged oracle SQL below
    perf, counts = _metrics_chain(spark, sf_dir, fused=True)
    metr = M.metrics_enriched(perf, counts, CFG)
    # Order-independent parity (r01+r02 driver flake, post-mortem in
    # hourly_rollup_exact): AVG inputs become exact BIGINT micro-units summed
    # associatively, with one division at the end; max_by/MAX consume
    # dp-gridded values. Identical expressions in oracle.rollup_cte.
    metr = _round_cols(metr, {"cumulative_return": DP_PNL, "drawdown": DP_PNL})
    return R.hourly_rollup_exact(metr, CFG, avg_dp=DP)


SQL_HOURLY_ROLLUP = (
    oracle.with_chain(CFG, upto="rollup")
    + """
SELECT strategy_run_id, window_label, bucket,
       sharpe_avg, sortino_avg, cumulative_return_last, max_drawdown,
       trades_executed_sum
FROM hourly_rollup"""
)


def q_union_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — live ∪ replay union (reference: sma_cross.py:43-52).

    Live = even event_ids, replay = odd event_ids re-tagged, unioned back
    into one stream (deterministic split of the driver's events table).
    """
    ticks = load_ticks(spark, sf_dir)
    live = ticks.filter(F.col("sequence") % 2 == 0)
    replay = ticks.filter(F.col("sequence") % 2 == 1).withColumn("source", F.lit("replay"))
    from spark_signals.io.sources import union_with_replay

    return union_with_replay(live, replay)


SQL_UNION_REPLAY = (
    oracle.with_chain(CFG, upto="ticks")
    + """
SELECT * FROM ticks WHERE sequence % 2 = 0
UNION ALL
SELECT product_id, price, best_bid, best_ask, volume_24h, sequence, side,
       event_time, 'replay' AS source
FROM ticks WHERE sequence % 2 = 1"""
)


REPLAY_START = "2024-01-08 00:00:00"
REPLAY_END = "2024-01-22 00:00:00"


def q_replay_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 — time-bounded batch replay through the full strategy: the
    signals a backtest over [REPLAY_START, REPLAY_END) would have produced.
    The window predicates push down to the parquet scan."""
    from spark_signals.replay import backtest

    bounded = load_ticks(spark, sf_dir, start_ts=REPLAY_START, end_ts=REPLAY_END)
    out = backtest(bounded, CFG)
    return _round_cols(out.signals_decisions.drop("metadata"), {"confidence": DP})


SQL_REPLAY_BACKTEST = (
    oracle.with_chain(
        CFG,
        upto="signals",
        ticks_where=(
            f"ts >= TIMESTAMP '{REPLAY_START}' AND ts <= TIMESTAMP '{REPLAY_END}'"
        ),
    )
    + f"""
SELECT strategy_run_id, instrument_id, signal_time, signal_type, position,
       floor((confidence) * 1e{DP} + 0.5000001) / 1e{DP} AS confidence
FROM crossover_signals WHERE signal_type <> 'HOLD'"""
)


def q_breakout_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third registry strategy (Bollinger breakout) through the full
    strategy contract — non-HOLD decisions, oracle-checked like sma_cross."""
    from spark_signals.strategies.breakout import build_pipeline as bk_build

    out = bk_build(_ticks(spark, sf_dir), CFG)
    dec = out.signals_decisions.drop("metadata")
    return _round_cols(dec, {"confidence": DP})


_BK_UPPER = "slow_sma + CAST(2.0 AS DOUBLE) * volatility"
_BK_LOWER = "slow_sma - CAST(2.0 AS DOUBLE) * volatility"

SQL_BREAKOUT_SIGNALS = (
    oracle.with_chain(CFG, upto="signals")
    + f""",
bks AS (
  SELECT *,
    CASE WHEN mid_price > {_BK_UPPER} THEN CAST(1.0 AS DOUBLE)
         WHEN mid_price < {_BK_LOWER} THEN CAST(-1.0 AS DOUBLE)
         ELSE CAST(0.0 AS DOUBLE) END AS state
  FROM sma_enriched
),
bkl AS (
  SELECT *, LAG(state) OVER (PARTITION BY product_id ORDER BY event_time, sequence)
            AS prev_state
  FROM bks
)
SELECT '{CFG.strategy_run_id}' AS strategy_run_id,
       product_id AS instrument_id,
       event_time AS signal_time,
       CASE WHEN state = 1.0 THEN 'LONG' ELSE 'SHORT' END AS signal_type,
       state AS position,
       floor((CASE WHEN volatility > 0
              THEN ABS(mid_price - (CASE WHEN state > 0 THEN {_BK_UPPER}
                                         ELSE {_BK_LOWER} END)) / volatility
              ELSE CAST(0.0 AS DOUBLE) END) * 1e{DP} + 0.5000001) / 1e{DP} AS confidence
FROM bkl
WHERE state <> 0.0 AND COALESCE(prev_state, CAST(0.0 AS DOUBLE)) <> state"""
)


PIPELINE_QUERIES: dict[str, QuerySpec] = {
    "ticks_source": (q_ticks, SQL_TICKS),
    "normalized_prices": (q_normalized, SQL_NORMALIZED),
    "sma_crossover_signals": (q_sma_signals, SQL_SMA_SIGNALS),
    "signals_decisions": (q_signals_decisions, SQL_SIGNALS_DECISIONS),
    "positions_forward_fill": (q_positions, SQL_POSITIONS),
    "j1_signal_rejoin": (q_j1_join, SQL_J1_JOIN),
    "positions_costs": (q_positions_costs, SQL_POSITIONS_COSTS),
    "executions": (q_executions, SQL_EXECUTIONS),
    "position_transitions": (q_position_transitions, SQL_POSITION_TRANSITIONS),
    "position_returns": (q_position_returns, SQL_POSITION_RETURNS),
    "performance_windows_5m": (q_performance_windows, SQL_PERFORMANCE_WINDOWS),
    "signal_counts_5m": (q_signal_counts, SQL_SIGNAL_COUNTS),
    "strategy_metrics": (q_metrics, SQL_METRICS),
    "metrics_hourly_rollup": (q_hourly_rollup, SQL_HOURLY_ROLLUP),
    "union_live_replay": (q_union_replay, SQL_UNION_REPLAY),
    "replay_backtest_window": (q_replay_backtest, SQL_REPLAY_BACKTEST),
    "breakout_band_signals": (q_breakout_signals, SQL_BREAKOUT_SIGNALS),
}
