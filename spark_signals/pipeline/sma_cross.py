"""SMA-crossover strategy stage — W5, P3, P11.

enriched ticks → crossover signals: fast/slow SMAs and the
confirmation-lagged spread come from the shared window stage
(normalize.enriched_ticks); this stage classifies LONG/SHORT/HOLD and
builds the JSON metadata.

Reference semantics: sma_cross.py:127-184. Signal classification
(sma_cross.py:155-164): LONG when spread crosses above zero relative to the
spread ``confirmation`` ticks ago, SHORT on the inverse; |spread| is the
confidence. The non-HOLD filter for the decisions sink is
sma_cross.py:380-394. The SMAs are exact-integer means
(normalize._rolling_features), identical on every engine, so the spread is
compared raw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_signals.config import EngineConfig
from spark_signals.pipeline import jsonfmt as J
from spark_signals.rounding import sql_str_lit

_LONG = "(sig_spread > 0) AND (prev_sig_spread <= 0)"
_SHORT = "(sig_spread < 0) AND (prev_sig_spread >= 0)"


def crossover_case(long: str, short: str, hold: str | None = None) -> str:
    """The debounced crossover as SQL text over ``sig_spread`` /
    ``prev_sig_spread``: ``long`` on a LONG crossing, ``short`` on a SHORT
    one, else ``hold`` (NULL when omitted)."""
    other = f" ELSE {hold}" if hold is not None else ""
    return f"CASE WHEN {_LONG} THEN {long} WHEN {_SHORT} THEN {short}{other} END"


def signal_metadata_sql(cfg: EngineConfig) -> str:
    """P11 JSON metadata as Spark-SQL text over ``fast_sma`` / ``slow_sma`` /
    ``sig_spread``. JSON_OBJECT key order
    (reference: sma_cross.py:166-172) is the struct field order; numeric
    fields use the canonical fixed-precision serialization (jsonfmt) so the
    string is hash-gateable. Shared by the batch and streaming sinks."""
    return (
        "to_json(struct("
        f"{J.fmt_fixed_sqltext('fast_sma', 6)} AS fast_sma, "
        f"{J.fmt_fixed_sqltext('slow_sma', 6)} AS slow_sma, "
        f"{J.fmt_fixed_sqltext('sig_spread', 6)} AS spread, "
        f"{sql_str_lit(cfg.confirmation)} AS confirmation_window, "
        f"{sql_str_lit(cfg.execution_mode)} AS execution_mode))"
    )


def crossover_signals_enriched(enriched: DataFrame, cfg: EngineConfig) -> DataFrame:
    """W5 + P3 + P11 — debounced crossover classification as a pure
    projection off normalize.enriched_ticks (sig_spread / prev_sig_spread
    already computed in the shared window stage), zero extra shuffles
    (reference: sma_cross.py:148-184).

    SQL-text projection (one py4j round trip; identical Catalyst
    expressions — tests/test_plan_equality.py)."""
    signal_type = crossover_case("'LONG'", "'SHORT'", "'HOLD'")
    return enriched.selectExpr(
        f"{sql_str_lit(cfg.strategy_run_id)} AS strategy_run_id",
        "product_id AS instrument_id",
        "sequence",
        "event_time AS signal_time",
        f"{signal_type} AS signal_type",
        f"{crossover_case('1.0D', '-1.0D', '0.0D')} AS position",
        "ABS(sig_spread) AS confidence",
        "fast_sma",
        "slow_sma",
        "sig_spread AS spread",
        "prev_sig_spread AS prev_spread",
        f"{signal_metadata_sql(cfg)} AS metadata",
    )


def signals_decisions(signals: DataFrame) -> DataFrame:
    """P4 — the decisions sink drops HOLD rows (reference: sma_cross.py:380-394)."""
    return signals.filter(F.col("signal_type") != "HOLD").select(
        "strategy_run_id",
        "instrument_id",
        "signal_time",
        "signal_type",
        "position",
        "confidence",
        "metadata",
    )
