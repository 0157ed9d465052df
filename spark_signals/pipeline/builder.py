"""One logical pipeline, shared by batch and streaming.

``build_pipeline(ticks, cfg)`` assembles the full dataflow as a dict of
DataFrames — the Spark analog of the reference's CREATE TEMPORARY VIEW chain
(sma_cross.py:18-395 + metrics/performance.py:10-201). The input ``ticks``
may come from ``spark.read`` (backtest/correctness) or ``spark.readStream``
(live); the window-function stages require batch, streaming wraps them via
spark_signals.streaming.

Multi-sink plan reuse (SURVEY.md §4): the reference's StatementSet merges its
5 INSERTs into one job sharing the upstream subgraph. Spark re-plans per
action, so ``persist_for_fanout`` pins the shared prefix (positions_costs)
before fanning out to multiple writes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from spark_signals.config import EngineConfig
from spark_signals.pipeline import metrics as M
from spark_signals.pipeline import positions as P
from spark_signals.pipeline import rollup as R
from spark_signals.pipeline import normalize as N
from spark_signals.pipeline import sma_cross as S


@dataclass
class PipelineOutputs:
    normalized_prices: DataFrame
    crossover_signals: DataFrame
    signals_decisions: DataFrame
    positions_costs: DataFrame
    executions: DataFrame
    position_transitions: DataFrame
    position_returns: DataFrame
    performance_windows: DataFrame
    signal_counts: DataFrame
    metrics: DataFrame
    hourly_rollup: DataFrame

    def sinks(self) -> dict[str, DataFrame]:
        """The five reference sink relations (+ rollup), by sink name
        (reference: __main__.py:76-227)."""
        return {
            "prices_normalized": self.normalized_prices,
            "signals_decisions": self.signals_decisions,
            "strategy_executions": self.executions,
            "strategy_positions": self.position_transitions,
            "strategy_metrics": self.metrics,
            "strategy_metrics_hourly": self.hourly_rollup,
        }


def assemble_outputs(
    norm: DataFrame, signals: DataFrame, base: DataFrame, cfg: EngineConfig
) -> PipelineOutputs:
    """Shared downstream machinery: forward-fill → cost model → executions/
    transitions → tumbling metrics → rollup.

    ``base`` is a positions_base-shaped DataFrame (normalized columns +
    sparse ``signal_position``); ``signals`` the strategy's signal stream
    (crossover_signals schema). Custom strategies (e.g. the pandas-UDF EWMA
    strategy) supply their own signal stage and reuse everything below it.
    """
    stream = P.positions_stream(base, cfg)
    enriched_pos = P.positions_enriched(stream, cfg)
    costs = P.positions_costs(enriched_pos, cfg)

    execs = P.executions(costs, cfg)
    transitions = P.position_transitions(costs, cfg)

    returns = M.position_returns(costs, cfg)
    perf = M.performance_windows(returns, cfg)
    counts = M.signal_counts(signals, cfg)
    metr = M.metrics_enriched(perf, counts, cfg)
    roll = R.hourly_rollup(metr, cfg)

    return PipelineOutputs(
        normalized_prices=norm,
        crossover_signals=signals,
        signals_decisions=S.signals_decisions(signals),
        positions_costs=costs,
        executions=execs,
        position_transitions=transitions,
        position_returns=returns,
        performance_windows=perf,
        signal_counts=counts,
        metrics=metr,
        hourly_rollup=roll,
    )


def build_pipeline(ticks: DataFrame, cfg: EngineConfig | None = None) -> PipelineOutputs:
    cfg = cfg or EngineConfig()
    # one shared window stage; every downstream branch is a projection off it
    # (forks reuse the exchange instead of recomputing the scan+sort)
    enriched = N.enriched_ticks(ticks, cfg)
    norm = enriched.select(*N.NORMALIZED_COLUMNS)
    signals = S.crossover_signals_enriched(enriched, cfg)
    base = P.positions_base_inline(enriched, cfg)
    return assemble_outputs(norm, signals, base, cfg)


def persist_for_fanout(outputs: PipelineOutputs) -> PipelineOutputs:
    """Pin the shared subplan before multi-sink fan-out (batch mode).

    positions_costs is the widest shared prefix: executions, transitions,
    and all metrics derive from it. Persisting it makes the 5-sink fan-out
    compute the window stages once, like the reference's single merged job.
    """
    outputs.positions_costs.persist(StorageLevel.MEMORY_AND_DISK)
    return outputs
