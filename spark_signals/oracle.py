"""ANSI-SQL oracle chain (DuckDB dialect) mirroring the Spark pipeline.

Every CTE here reproduces the corresponding DataFrame stage
expression-for-expression, so the driver's DuckDB comparison sees
numerically identical results. Notes on cross-engine determinism:

* Per-row arithmetic (CASE, +,-,*,/, sqrt, lag, last_value) is IEEE-754
  identical given identical inputs and ordering — left unrounded.
* The rolling features (fast/slow SMA, volatility) are built from exact
  integer window sums of dp=5 mid micro-units (normalize.VOL_DP), squared
  in HUGEINT, with one DOUBLE conversion and division at the end — the
  same integers and the same IEEE operations as the Spark plan, so they
  are bit-identical and the decisions that compare them need no grid.
* Grouped SUM/AVG over doubles may differ in the last ulp across engines
  (summation order); those output columns are ROUNDed on BOTH sides at the
  query boundary.
* All window orderings use (event_time, sequence) — deterministic under
  timestamp ties.
* Decimal literals are CAST AS DOUBLE (DuckDB parses 1.0 as DECIMAL).
* DuckDB CAST(double AS BIGINT) rounds where Spark/Flink truncate — the
  latency cast uses floor() explicitly on both sides.
"""

from __future__ import annotations

from spark_signals.config import EngineConfig
from spark_signals.pipeline.normalize import VOL_DP

ROUND_DP = 6

# Grid scale interpolated from the SAME named constant the Spark
# expressions use (normalize.VOL_DP) — a hardcoded 1e5 here would silently
# desynchronize the two engines the day it is bumped. "1eN" parses as
# DOUBLE in DuckDB.
_VOL_S = f"1e{VOL_DP}"
# the mid's exact dp=5 micro-unit (rounding.micro_units_sql)
_U = f"CAST(floor(mid_price * {_VOL_S} + 0.5000001) AS BIGINT)"
_TICK_ORDER = "PARTITION BY product_id ORDER BY event_time, sequence"


def _frame(w: int) -> str:
    return f"({_TICK_ORDER} ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)"


def _sma(w: int) -> str:
    """Σu / n / 10^VOL_DP over the last ``w`` rows (normalize._rolling_features)."""
    return (
        f"CAST(SUM({_U}) OVER {_frame(w)} AS DOUBLE)"
        f" / CAST(COUNT(mid_price) OVER {_frame(w)} AS DOUBLE) / {_VOL_S}"
    )


def _fmt(x: float) -> str:
    return f"CAST({x!r} AS DOUBLE)"


def ticks_cte(where_sql: str | None = None) -> str:
    """events.parquet → prices_raw mapping; mirrors io.sources.load_ticks.

    ``where_sql`` bounds the replay window (replay.replay_window's
    pushed-down predicates, e.g. "ts >= ... AND ts <= ...")."""
    where = f"\n    WHERE {where_sql}" if where_sql else ""
    return f"""
ticks AS (
    SELECT
        'P-' || CAST(user_id AS VARCHAR) AS product_id,
        value AS price,
        CASE WHEN event_type <> 'error' THEN value * CAST(0.9995 AS DOUBLE) END AS best_bid,
        CASE WHEN event_type <> 'error' THEN value * CAST(1.0005 AS DOUBLE) END AS best_ask,
        CAST(NULL AS DOUBLE) AS volume_24h,
        event_id AS sequence,
        event_type AS side,
        ts AS event_time,
        'events' AS source
    FROM events{where}
)"""


def normalized_cte(cfg: EngineConfig) -> str:
    return f"""
normalized_base AS (
    SELECT
        product_id, event_time, CAST(sequence AS BIGINT) AS sequence,
        CAST(price AS DOUBLE) AS price,
        CAST(best_bid AS DOUBLE) AS best_bid,
        CAST(best_ask AS DOUBLE) AS best_ask,
        CASE WHEN best_bid IS NOT NULL AND best_ask IS NOT NULL
             THEN (CAST(best_bid AS DOUBLE) + CAST(best_ask AS DOUBLE)) / 2
             ELSE CAST(price AS DOUBLE) END AS mid_price
    FROM ticks
),
normalized_lag AS (
    SELECT *, LAG(mid_price) OVER (PARTITION BY product_id ORDER BY event_time, sequence)
              AS prev_mid_price
    FROM normalized_base
),
normalized_vol AS (
    -- exact window sums of dp=5 mid micro-units, squares in HUGEINT
    -- (mirrors normalize._rolling_features)
    SELECT *,
        SUM({_U}) OVER w_vol AS _vol_m1,
        SUM(CAST({_U} AS HUGEINT) * CAST({_U} AS HUGEINT)) OVER w_vol AS _vol_m2,
        COUNT(mid_price) OVER w_vol AS _vol_n
    FROM normalized_lag
    WINDOW w_vol AS {_frame(cfg.volatility_window)}
),
normalized_prices AS (
    SELECT
        product_id, event_time, sequence, mid_price, best_bid, best_ask,
        CASE WHEN prev_mid_price IS NULL OR prev_mid_price = 0 THEN NULL
             ELSE (mid_price - prev_mid_price) / prev_mid_price END AS returns,
        sqrt(CAST(_vol_n * _vol_m2 - _vol_m1 * _vol_m1 AS DOUBLE)
             / CAST(_vol_n * _vol_n AS DOUBLE)) / {_VOL_S} AS volatility
    FROM normalized_vol
)"""


def signals_cte(cfg: EngineConfig) -> str:
    return f"""
sma_enriched AS (
    SELECT
        product_id, event_time, sequence, mid_price, volatility,
        {_sma(cfg.sma_fast_window)} AS fast_sma,
        {_sma(cfg.sma_slow_window)} AS slow_sma
    FROM normalized_prices
),
sma_spread AS (
    SELECT *, fast_sma - slow_sma AS spread,
           LAG(fast_sma - slow_sma, {cfg.confirmation}) OVER ({_TICK_ORDER}) AS prev_spread
    FROM sma_enriched
),
crossover_signals AS (
    SELECT
        '{cfg.strategy_run_id}' AS strategy_run_id,
        product_id AS instrument_id,
        sequence,
        event_time AS signal_time,
        CASE WHEN spread > 0 AND prev_spread <= 0 THEN 'LONG'
             WHEN spread < 0 AND prev_spread >= 0 THEN 'SHORT'
             ELSE 'HOLD' END AS signal_type,
        CASE WHEN spread > 0 AND prev_spread <= 0 THEN CAST(1.0 AS DOUBLE)
             WHEN spread < 0 AND prev_spread >= 0 THEN CAST(-1.0 AS DOUBLE)
             ELSE CAST(0.0 AS DOUBLE) END AS position,
        ABS(spread) AS confidence,
        fast_sma, slow_sma, spread, prev_spread
    FROM sma_spread
)"""


def positions_cte(cfg: EngineConfig) -> str:
    lat_hi = cfg.fill_latency_ms + cfg.fill_latency_jitter_ms
    slip_raw = (
        f"{_fmt(cfg.slippage_rate)} + volatility_ratio * "
        f"{_fmt(cfg.slippage_volatility_multiplier)} + spread_ratio * "
        f"{_fmt(cfg.slippage_spread_multiplier)}"
    )
    lat_raw = (
        f"{cfg.fill_latency_ms} + CAST(floor({_fmt(float(cfg.fill_latency_volatility_ms))}"
        f" * volatility_ratio) AS BIGINT)"
    )
    return f"""
positions_base AS (
    SELECT
        np.product_id, np.event_time, np.sequence, np.mid_price, np.returns,
        np.volatility, np.best_bid, np.best_ask,
        CASE WHEN np.best_bid IS NOT NULL AND np.best_ask IS NOT NULL
             THEN np.best_ask - np.best_bid END AS spread,
        cs.position AS signal_position
    FROM normalized_prices np
    LEFT JOIN (SELECT * FROM crossover_signals WHERE signal_type <> 'HOLD') cs
        ON np.product_id = cs.instrument_id
       AND np.event_time = cs.signal_time
       AND np.sequence = cs.sequence
),
positions_stream AS (
    SELECT
        product_id, event_time, sequence, mid_price, returns, volatility,
        best_bid, best_ask, spread,
        COALESCE(
            LAST_VALUE(signal_position IGNORE NULLS) OVER (
                PARTITION BY product_id ORDER BY event_time, sequence
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ), CAST(0.0 AS DOUBLE)
        ) AS position
    FROM positions_base
),
positions_enriched AS (
    SELECT *,
        LAG(position) OVER (PARTITION BY product_id ORDER BY event_time, sequence)
            AS prev_position,
        CASE WHEN mid_price IS NULL OR mid_price = 0 THEN CAST(0.0 AS DOUBLE)
             ELSE COALESCE(volatility, CAST(0.0 AS DOUBLE)) / mid_price
        END AS volatility_ratio,
        CASE WHEN mid_price IS NULL OR mid_price = 0 OR spread IS NULL THEN CAST(0.0 AS DOUBLE)
             ELSE spread / mid_price
        END AS spread_ratio
    FROM positions_stream
),
positions_costs AS (
    SELECT
        product_id, event_time, sequence, mid_price, returns, volatility,
        best_bid, best_ask, spread, position, prev_position,
        position - COALESCE(prev_position, CAST(0.0 AS DOUBLE)) AS position_change,
        volatility_ratio, spread_ratio,
        CASE WHEN {slip_raw} < 0 THEN CAST(0.0 AS DOUBLE)
             WHEN {slip_raw} > {_fmt(cfg.slippage_max_rate)} THEN {_fmt(cfg.slippage_max_rate)}
             ELSE {slip_raw} END AS slippage_rate,
        {_fmt(cfg.transaction_cost_rate)} AS transaction_cost_rate,
        (CASE WHEN {slip_raw} < 0 THEN CAST(0.0 AS DOUBLE)
              WHEN {slip_raw} > {_fmt(cfg.slippage_max_rate)} THEN {_fmt(cfg.slippage_max_rate)}
              ELSE {slip_raw} END) + {_fmt(cfg.transaction_cost_rate)} AS trade_cost_rate,
        CAST(CASE WHEN {lat_raw} < {cfg.fill_latency_ms} THEN {cfg.fill_latency_ms}
                  WHEN {lat_raw} > {lat_hi} THEN {lat_hi}
                  ELSE {lat_raw} END AS BIGINT) AS fill_latency_ms
    FROM positions_enriched
)"""


def returns_cte(cfg: EngineConfig) -> str:
    return """
position_returns AS (
    SELECT
        product_id, event_time, sequence, mid_price,
        COALESCE(returns, CAST(0.0 AS DOUBLE)) AS asset_return,
        position, prev_position, position_change,
        transaction_cost_rate, slippage_rate, trade_cost_rate,
        ABS(position_change) * mid_price * transaction_cost_rate AS transaction_cost,
        ABS(position_change) * mid_price * slippage_rate AS slippage_cost,
        ABS(position_change) * mid_price * trade_cost_rate AS trade_cost,
        COALESCE(prev_position, CAST(0.0 AS DOUBLE)) * COALESCE(returns, CAST(0.0 AS DOUBLE))
            - ABS(position_change) * mid_price * trade_cost_rate AS realized_pnl,
        ABS(position) * mid_price AS notional_exposure,
        ABS(position) AS unit_exposure
    FROM positions_costs
)"""


def metrics_cte(cfg: EngineConfig) -> str:
    assert cfg.metrics_window == "5 minutes"
    win = "INTERVAL '5 minutes'"
    return f"""
performance_windows AS (
    SELECT
        time_bucket({win}, event_time) AS window_start,
        time_bucket({win}, event_time) + {win} AS window_end,
        AVG(realized_pnl) AS avg_return,
        STDDEV_POP(realized_pnl) AS volatility,
        SUM(realized_pnl) AS cumulative_return,
        CAST(SUM(CASE WHEN realized_pnl < 0
                      THEN CAST(floor(realized_pnl * realized_pnl * 1e6 + 0.5000001) AS BIGINT)
                      ELSE 0 END) AS DOUBLE) / 1e6 AS downside_sum,
        COUNT(realized_pnl) AS sample_size,
        COUNT(CASE WHEN realized_pnl < 0 THEN 1 END) AS negative_samples,
        MIN(realized_pnl) AS min_return,
        AVG(notional_exposure) AS avg_notional_exposure,
        AVG(unit_exposure) AS avg_unit_exposure,
        SUM(trade_cost) AS total_trade_cost,
        SUM(transaction_cost) AS total_transaction_cost,
        SUM(slippage_cost) AS total_slippage_cost
    FROM position_returns
    GROUP BY 1, 2
),
signal_counts AS (
    SELECT
        time_bucket({win}, signal_time) AS window_start,
        time_bucket({win}, signal_time) + {win} AS window_end,
        COUNT(*) AS trades_executed
    FROM crossover_signals
    WHERE signal_type <> 'HOLD'
    GROUP BY 1, 2
),
metrics_enriched AS (
    SELECT
        '{cfg.strategy_run_id}' AS strategy_run_id,
        pw.window_start AS window_start,
        pw.window_end AS metric_time,
        '{cfg.metrics_window_label}' AS window_label,
        CASE WHEN pw.volatility IS NULL OR pw.volatility = 0 THEN NULL
             ELSE (pw.avg_return / pw.volatility) * SQRT(CAST(12.0 AS DOUBLE))
        END AS sharpe_ratio,
        CASE WHEN pw.downside_sum IS NULL OR pw.negative_samples = 0 THEN NULL
             ELSE (pw.avg_return / NULLIF(SQRT(pw.downside_sum / pw.negative_samples),
                                          CAST(0.0 AS DOUBLE)))
                  * SQRT(CAST(12.0 AS DOUBLE))
        END AS sortino_ratio,
        pw.cumulative_return,
        pw.min_return AS drawdown,
        pw.volatility AS volatility,
        COALESCE(sc.trades_executed, 0) AS trades_executed,
        pw.avg_notional_exposure AS avg_exposure_notional,
        pw.avg_unit_exposure,
        pw.total_trade_cost, pw.total_transaction_cost, pw.total_slippage_cost,
        pw.sample_size, pw.negative_samples
    FROM performance_windows pw
    LEFT JOIN signal_counts sc
      ON pw.window_start = sc.window_start AND pw.window_end = sc.window_end
)"""


def rollup_cte(cfg: EngineConfig) -> str:
    # Order-independent parity doctrine (v2 — v1's grid-then-AVG still
    # flipped the outer floor at driver cadence, CORRECTNESS r01+r02): the
    # AVG inputs are gridded to exact BIGINT micro-units (floor nudge absorbs
    # cross-engine ulp drift in sharpe/sortino), SUMmed as integers (exact,
    # associative — summation order cannot matter), and divided ONCE at the
    # end. IEEE division of identical integers is exactly rounded, so both
    # engines produce bit-identical doubles. max_by/MAX operate on gridded
    # doubles (order-independent given unique metric_time per group). The
    # Spark twin is pipeline.rollup.hourly_rollup_exact.
    assert cfg.rollup_window == "1 hour"
    return """
metrics_rounded AS (
    SELECT
        strategy_run_id, window_label, metric_time, trades_executed,
        CAST(floor(sharpe_ratio * 1e6 + 0.5000001) AS BIGINT) AS sharpe_u,
        CAST(floor(sortino_ratio * 1e6 + 0.5000001) AS BIGINT) AS sortino_u,
        floor(cumulative_return * 1e9 + 0.5000001) / 1e9 AS cumulative_return,
        floor(drawdown * 1e9 + 0.5000001) / 1e9 AS drawdown
    FROM metrics_enriched
),
hourly_rollup AS (
    SELECT
        strategy_run_id, window_label,
        time_bucket(INTERVAL '1 hour', metric_time) AS bucket,
        (CAST(SUM(sharpe_u) AS DOUBLE) / CAST(COUNT(sharpe_u) AS DOUBLE)) / 1e6 AS sharpe_avg,
        (CAST(SUM(sortino_u) AS DOUBLE) / CAST(COUNT(sortino_u) AS DOUBLE)) / 1e6 AS sortino_avg,
        arg_max(cumulative_return, metric_time) AS cumulative_return_last,
        MAX(drawdown) AS max_drawdown,
        -- CAST: DuckDB SUM(BIGINT) returns HUGEINT, which pandas materializes
        -- as float64; Spark's sum(long) stays int64. The driver's value hash
        -- distinguishes 5 from 5.0, so pin the oracle back to BIGINT.
        CAST(SUM(trades_executed) AS BIGINT) AS trades_executed_sum
    FROM metrics_rounded
    GROUP BY 1, 2, 3
)"""


def with_chain(cfg: EngineConfig, *, upto: str, ticks_where: str | None = None) -> str:
    """Assemble 'WITH a AS (...), b AS (...)' up to and including a stage."""
    stages = ["ticks", "normalized", "signals", "positions", "returns", "metrics", "rollup"]
    builders = {
        "ticks": lambda: ticks_cte(ticks_where),
        "normalized": lambda: normalized_cte(cfg),
        "signals": lambda: signals_cte(cfg),
        "positions": lambda: positions_cte(cfg),
        "returns": lambda: returns_cte(cfg),
        "metrics": lambda: metrics_cte(cfg),
        "rollup": lambda: rollup_cte(cfg),
    }
    idx = stages.index(upto)
    parts = [builders[s]() for s in stages[: idx + 1]]
    return "WITH " + ",".join(parts)
