"""One logical pipeline, shared by batch and streaming.

``build_pipeline(ticks, cfg)`` assembles the full dataflow as a dict of
DataFrames — the Spark analog of the reference's CREATE TEMPORARY VIEW chain
(sma_cross.py:18-395 + metrics/performance.py:10-201). The input ``ticks``
may come from ``spark.read`` (backtest/correctness) or ``spark.readStream``
(live); the window-function stages require batch, streaming wraps them via
spark_signals.streaming.

Multi-sink plan reuse (SURVEY.md §4): the reference's StatementSet merges its
sink INSERTs into one job sharing the upstream subgraph. Spark re-plans per
action, so ``persist_for_fanout`` pins the two relations every sink forks
from — the strategy's window stage and ``positions_costs`` — and the six
sink writes read only those pins: the ticks are scanned, shuffled and run
through the rolling-feature windows once per backtest. The metrics chain
is the fused single-scan form: the sparse signal marker rides the
positions chain into A1's tumbling aggregate, so A2's signal count needs
no second pass over the signals and no J2 join.
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
    window_stage: DataFrame
    normalized_prices: DataFrame
    crossover_signals: DataFrame
    signals_decisions: DataFrame
    positions_costs: DataFrame
    executions: DataFrame
    position_transitions: DataFrame
    position_returns: DataFrame
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
    window: DataFrame, signals: DataFrame, base: DataFrame, cfg: EngineConfig
) -> PipelineOutputs:
    """Shared downstream machinery: forward-fill → cost model → executions/
    transitions → tumbling metrics → rollup.

    ``window`` is the strategy's window-stage relation (the
    normalize.enriched_ticks columns plus any the strategy adds); the
    prices_normalized projection, ``signals`` and ``base`` all fork from it.
    ``base`` is a positions_base-shaped DataFrame (normalized columns +
    sparse ``signal_position``); ``signals`` the strategy's signal stream
    (crossover_signals schema). Custom strategies (e.g. the pandas-UDF EWMA
    strategy) supply their own signal stage and reuse everything below it.
    """
    # the metrics chain keeps the sparse signal marker (non-null exactly on
    # non-HOLD signal rows), so A2's count fuses into A1's aggregate;
    # the sink-facing positions_costs drops it to keep the reference schema
    stream = P.positions_stream(base, cfg, keep_signal_marker=True)
    marked = P.positions_costs(P.positions_enriched(stream, cfg), cfg)
    costs = marked.drop(P.SIGNAL_MARKER)

    returns = M.position_returns(marked, cfg)
    metr = M.metrics_enriched(M.performance_windows(returns, cfg), None, cfg)

    return PipelineOutputs(
        window_stage=window,
        normalized_prices=window.select(*N.NORMALIZED_COLUMNS),
        crossover_signals=signals,
        signals_decisions=S.signals_decisions(signals),
        positions_costs=costs,
        executions=P.executions(costs, cfg),
        position_transitions=P.position_transitions(costs, cfg),
        position_returns=returns,
        metrics=metr,
        hourly_rollup=R.hourly_rollup(metr, cfg),
    )


def build_pipeline(ticks: DataFrame, cfg: EngineConfig | None = None) -> PipelineOutputs:
    cfg = cfg or EngineConfig()
    # one shared window stage; every downstream branch is a projection off it
    # (forks reuse the exchange instead of recomputing the scan+sort)
    enriched = N.enriched_ticks(ticks, cfg)
    signals = S.crossover_signals_enriched(enriched, cfg)
    base = P.positions_base_inline(enriched, cfg)
    return assemble_outputs(enriched, signals, base, cfg)


def persist_for_fanout(outputs: PipelineOutputs) -> PipelineOutputs:
    """Pin the shared subplans before multi-sink fan-out (batch mode).

    The window stage is pinned first, so the ``positions_costs`` pin reads
    it rather than the ticks: prices_normalized and signals_decisions
    project off the window stage, executions and transitions off
    positions_costs, and the marker-bearing metrics chain re-runs only the
    two position windows (forward-fill, previous position) over the pinned
    stage. No sink plan then scans the ticks — the rolling-feature stage
    runs once, like the reference's single merged job.
    """
    outputs.window_stage.persist(StorageLevel.MEMORY_AND_DISK)
    outputs.positions_costs.persist(StorageLevel.MEMORY_AND_DISK)
    return outputs
