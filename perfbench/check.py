"""Correctness gates, run after the timed phases (untimed).

Each returns the number of mismatches it found; every mismatch counts as a
failed operation.

* ``backtest_sinks``: the six sink tables ``write_sinks`` wrote, read back
  by DuckDB, against the DuckDB oracle chain (``spark_signals.oracle``) over
  the same ``events.parquet``, with the rounding ``spark_signals.parity``
  applies.
* ``dashboard_panels``: each panel result against the same panel in DuckDB
  over the same sink files, as ``tests/test_dashboard_reads.py`` does.
* ``live_parity``: the streamed sinks against the batch pipeline over the
  same accepted ticks (the bit-parity claim in ``streaming/features.py``).
"""

from __future__ import annotations

import duckdb

from spark_signals import oracle
from spark_signals import parity as PAR
from spark_signals.config import EngineConfig

CFG = EngineConfig()
DP, DP_PNL = PAR.DP, PAR.DP_PNL

# sink → (oracle SQL over the events view, rounding parity.py applies to
# the Spark side of the same relation)
_BACKTEST_ORACLE = {
    "prices_normalized": (PAR.SQL_NORMALIZED, {"volatility": DP}),
    "signals_decisions": (PAR.SQL_SIGNALS_DECISIONS, {"confidence": DP}),
    "strategy_executions": (
        PAR.SQL_EXECUTIONS,
        {"execution_price": DP, "transaction_cost": DP_PNL, "slippage_cost": DP_PNL},
    ),
    "strategy_positions": (
        PAR.SQL_POSITION_TRANSITIONS,
        {"transaction_cost": DP_PNL, "slippage_cost": DP_PNL, "trade_cost": DP_PNL},
    ),
    "strategy_metrics": (PAR.SQL_METRICS, PAR._METRICS_ROUND),
}

# The hourly sink is pipeline.rollup.hourly_rollup: a plain AVG over
# unrounded metrics. parity's rollup oracle grids the AVG inputs first (the
# exact twin, hourly_rollup_exact), which moves the average by up to half a
# grid step, so the sink is held to the plain aggregate here, rounded on
# both sides like every other multi-row aggregate.
_HOURLY_ROUND = {
    "sharpe_avg": DP,
    "sortino_avg": DP,
    "cumulative_return_last": DP_PNL,
    "max_drawdown": DP_PNL,
}
_SQL_HOURLY = (
    oracle.with_chain(CFG, upto="metrics")
    + """
SELECT strategy_run_id, window_label,
       time_bucket(INTERVAL '1 hour', metric_time) AS bucket,
       AVG(sharpe_ratio) AS sharpe_avg, AVG(sortino_ratio) AS sortino_avg,
       arg_max(cumulative_return, metric_time) AS cumulative_return_last,
       MAX(drawdown) AS max_drawdown,
       CAST(SUM(trades_executed) AS BIGINT) AS trades_executed_sum
FROM metrics_enriched GROUP BY 1, 2, 3"""
)


# signals_decisions carries values printed or rounded at 6 decimals
# (confidence, and the SMAs and their spread in the JSON metadata). Computed
# in different order by the engine and the oracle, some land on either side
# of a rounding boundary (seed 1: spread "-0.173688" against "-0.173687";
# seed 4: confidence 0.036687 against 0.036688), so these are compared to
# one grid step and every other column exactly.
_TOLERANT = {"signals_decisions": ("confidence", "fast_sma", "slow_sma", "spread")}
_GRID_STEP = 1.01e-6
_METADATA_FIELDS = ", ".join(
    [
        f"CAST(json_extract_string(metadata, '$.{k}') AS DOUBLE) AS {k}"
        for k in ("fast_sma", "slow_sma", "spread")
    ]
    + [
        f"json_extract_string(metadata, '$.{k}') AS {k}"
        for k in ("confirmation_window", "execution_mode")
    ]
)


def _round_sql(col: str, dp: int | None) -> str:
    # the formula parity.py's oracle side uses (rounding.sround_sql twin);
    # applying it to an already rounded value leaves the value unchanged
    if col == "metadata":
        return _METADATA_FIELDS
    if dp is None:
        return col
    return f"floor(({col}) * 1e{dp} + 0.5000001) / 1e{dp} AS {col}"


def _sink(path: str) -> str:
    return f"read_parquet('{path}/*/*.parquet', hive_partitioning = false)"


def _diff_count(con, left: str, right: str, tolerant: tuple[str, ...] = ()) -> int:
    """Rows of either relation with no equal row in the other; columns in
    ``tolerant`` need only agree to one grid step."""
    if not tolerant:
        return con.execute(
            f"SELECT (SELECT count(*) FROM ({left} EXCEPT ALL {right})) + "
            f"(SELECT count(*) FROM ({right} EXCEPT ALL {left}))"
        ).fetchone()[0]
    cols = [d[0] for d in con.execute(f"SELECT * FROM ({left}) LIMIT 0").description]
    keys = ", ".join(c for c in cols if c not in tolerant)
    apart = " OR ".join(f"abs(l.{c} - r.{c}) > {_GRID_STEP}" for c in tolerant)
    return con.execute(
        f"SELECT count(*) FROM (SELECT *, 1 AS _l FROM ({left})) l "
        f"FULL OUTER JOIN (SELECT *, 1 AS _r FROM ({right})) r USING ({keys}) "
        f"WHERE l._l IS NULL OR r._r IS NULL OR {apart}"
    ).fetchone()[0]


def backtest_sinks(events_path: str, sink_roots: list[str]) -> list[int]:
    """Mismatching rows over the six sink tables of each root (0 when
    correct). The oracle chain runs once; every root is held to it."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        plans = {**_BACKTEST_ORACLE, "strategy_metrics_hourly": (_SQL_HOURLY, _HOURLY_ROUND)}
        projections = {}
        for sink, (sql, rnd) in plans.items():
            cols = [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
            projections[sink] = ", ".join(
                _round_sql(c, None if c in _TOLERANT.get(sink, ()) else rnd.get(c)) for c in cols
            )
            con.execute(f"CREATE TEMP TABLE want_{sink} AS SELECT {projections[sink]} FROM ({sql})")
        return [
            sum(
                _diff_count(
                    con,
                    f"SELECT {projections[sink]} FROM {_sink(f'{root}/{sink}')}",
                    f"SELECT * FROM want_{sink}",
                    _TOLERANT.get(sink, ()),
                )
                for sink in plans
            )
            for root in sink_roots
        ]
    finally:
        con.close()


# ------------------------------------------------------------- dashboard
def _ticks_cte(sink_root: str) -> str:
    # the tick panels read the prices_normalized sink, with mid_price as
    # the panel's price (dashboard.panel_query)
    return (
        "WITH t AS (SELECT product_id, event_time, sequence, mid_price AS price "
        f"FROM {_sink(f'{sink_root}/prices_normalized')})"
    )


def dashboard_sql(sink_root: str) -> dict[str, str]:
    """Each panel as DuckDB SQL over the sink files (the verbatim dashboard
    SQL of tests/test_dashboard_reads.py, and serving.SQL_* for the tick
    panels)."""
    from spark_signals.serving import RECENT_N

    hourly = _sink(f"{sink_root}/strategy_metrics_hourly")
    return {
        "dashboard_cumret_series": (
            "SELECT bucket AS time, cumulative_return_last AS cumulative_return "
            f"FROM {hourly} WHERE window_label = '5m'"
        ),
        "dashboard_recent_positions": (
            "SELECT event_time, product_id, position, position_change, trade_cost, "
            f"transaction_cost, slippage_cost FROM {_sink(f'{sink_root}/strategy_positions')} "
            "ORDER BY event_time DESC, product_id LIMIT 200"
        ),
        "dashboard_execution_costs": (
            "SELECT execution_time AS time, transaction_cost + slippage_cost AS trade_cost "
            f"FROM {_sink(f'{sink_root}/strategy_executions')}"
        ),
        "dashboard_run_ids": f"SELECT DISTINCT CAST(strategy_run_id AS VARCHAR) FROM {hourly}",
        "latest_price_per_instrument": _ticks_cte(sink_root)
        + """,
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY product_id ORDER BY event_time DESC, sequence DESC) AS rn,
        max(event_time) OVER (PARTITION BY product_id) AS last_event_time,
        count(*) OVER (PARTITION BY product_id) AS n_ticks
    FROM t
)
SELECT product_id, price AS last_price, last_event_time, n_ticks FROM r WHERE rn = 1""",
        "recent_ticks_per_instrument": _ticks_cte(sink_root)
        + f""",
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY product_id ORDER BY event_time DESC, sequence DESC) AS rn
    FROM t
)
SELECT product_id, event_time, sequence, price, rn FROM r WHERE rn <= {RECENT_N}""",
    }


def dashboard_panels(sink_root: str, records: list[tuple[str, tuple[int, int]]]) -> int:
    """Panel queries whose result differs from DuckDB's over the same sink
    files (each one a failed query)."""
    from dashboard import digest

    con = duckdb.connect()
    try:
        want = {
            name: digest(con.execute(sql).fetchall())
            for name, sql in dashboard_sql(sink_root).items()
        }
    finally:
        con.close()
    return sum(1 for panel, got in records if got != want[panel])


# ------------------------------------------------------------------ live
_LIVE_SINKS = {
    "prices_normalized": ("normalized_prices", {"volatility": DP}),
    "strategy_executions": (
        "executions",
        {"execution_price": DP, "transaction_cost": DP_PNL, "slippage_cost": DP_PNL},
    ),
    "strategy_positions": (
        "position_transitions",
        {"transaction_cost": DP_PNL, "slippage_cost": DP_PNL, "trade_cost": DP_PNL},
    ),
}


def live_parity(spark, watch_dir: str, sink_root: str) -> dict[str, int]:
    """Mismatching rows per streamed sink against the batch pipeline over
    the same accepted tick files, in one Spark job (the three sinks share
    the batch pipeline's window stages). JSON metadata columns are left
    out, as in every parity projection."""
    from pyspark.sql import functions as F

    from spark_signals.io.sources import read_prices_raw
    from spark_signals.parity import _round_cols
    from spark_signals.pipeline.builder import build_pipeline

    batch = build_pipeline(read_prices_raw(spark, watch_dir, fmt="json"), CFG)
    diffs = None
    for sink, (attr, rnd) in _LIVE_SINKS.items():
        want = getattr(batch, attr)
        cols = [c for c in want.columns if c != "metadata"]

        def rows(df):
            df = _round_cols(df.select(*cols), rnd)
            return df.select(F.lit(sink).alias("sink"), F.to_json(F.struct(*cols)).alias("row"))

        got = rows(spark.read.parquet(f"{sink_root}/{sink}"))
        want = rows(want)
        d = got.exceptAll(want).unionAll(want.exceptAll(got))
        diffs = d if diffs is None else diffs.unionAll(d)
    found = dict(diffs.groupBy("sink").count().collect())
    return {sink: found.get(sink, 0) for sink in _LIVE_SINKS}
