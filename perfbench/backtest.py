"""One backtest: the calls ``python -m spark_signals --mode batch
--source-kind events`` makes (``io.sources.load_ticks``,
``pipeline.builder.build_pipeline``, ``io.sinks.write_sinks``), over the
seeded history this module sizes."""

from __future__ import annotations

import os
import time

from common import Interval, median
from trace import files_on_disk, last_stage_id, stage_bytes

# history: uniformly keyed ticks, about 200 per instrument so every
# instrument fills its 60-tick SMA window and trades
N_TICKS = 12_000
INSTRUMENTS = 60
DAYS = 1

SINKS = (
    "prices_normalized",
    "signals_decisions",
    "strategy_executions",
    "strategy_positions",
    "strategy_metrics",
    "strategy_metrics_hourly",
)


def write_history(run) -> None:
    from gen import write_events

    os.makedirs(run.input_dir, exist_ok=True)
    write_events(os.path.join(run.input_dir, "events.parquet"), run.seed, N_TICKS, INSTRUMENTS, DAYS)


def backtest(run, sink_root: str) -> Interval:
    """One backtest from ``events.parquet`` to all six sinks written;
    returns its timed interval. When the tracer is active the
    persisted ``positions_costs`` prefix is materialized on its own before
    the sink writes, so its cost is not hidden in the first write that
    reads it."""
    from spark_signals.io.sinks import write_sinks
    from spark_signals.io.sources import load_ticks
    from spark_signals.pipeline.builder import build_pipeline, persist_for_fanout

    tr, spark = run.tracer, run.spark
    iv = Interval()
    with tr.span("sources.load_ms"):
        ticks = load_ticks(spark, run.input_dir)
    with tr.span("pipeline.build_ms"):
        outputs = build_pipeline(ticks, run.cfg)
    if tr.active:
        lo = last_stage_id(spark)
        with tr.span("pipeline.prefix_ms"):
            persist_for_fanout(outputs)
            tr.spans["pipeline.prefix_rows"].append(outputs.positions_costs.count())
    with tr.sink_writes():
        write_sinks(outputs, sink_root)
    iv.stop()
    if tr.active:
        tr.stage_ranges.append((lo, last_stage_id(spark)))
    return iv


def layer_metrics(run, sink_root: str) -> dict:
    """Spans and stage counters of the traced backtests, and the files of
    the sinks under ``sink_root``."""
    tr = run.tracer
    time.sleep(1.0)  # let the status store catch up with the last stages
    pairs = [stage_bytes(run.spark, lo, hi) for lo, hi in tr.stage_ranges]
    out = {
        "sources.rows": N_TICKS,
        "pipeline.shuffle_bytes": median([p[0] for p in pairs]),
        "pipeline.spill_bytes": median([p[1] for p in pairs]),
    }
    for name in ("sources.load_ms", "pipeline.build_ms", "pipeline.prefix_ms", "pipeline.prefix_rows"):
        out[name] = median(tr.spans[name])
    for sink in SINKS:
        files, size = files_on_disk(os.path.join(sink_root, sink))
        out[f"sinks.{sink}.write_ms"] = median(tr.spans[f"sinks.{sink}.write_ms"])
        out[f"sinks.{sink}.files"] = files
        out[f"sinks.{sink}.bytes"] = size
    return out
