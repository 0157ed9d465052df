"""Backtest fan-out: the fused metrics chain every strategy takes, and the
six sink writes ``write_sinks`` runs concurrently over the pinned window
stage (tests/test_plans.py pins the plans themselves)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_signals.config import EngineConfig
from spark_signals.io.sinks import write_sinks
from spark_signals.io.sources import load_ticks
from spark_signals.pipeline import metrics as M
from spark_signals.pipeline import positions as P
from spark_signals.pipeline.builder import build_pipeline
from spark_signals.strategies import get_strategy_module
from tests.conftest import persistent_rdd_ids

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("strategy", ["sma_cross", "breakout", "ewma_zscore"])
def test_fused_metrics_equal_join_form(spark, strategy):
    """The fused metrics (COUNT of the sparse signal marker inside A1's
    aggregate) equal the J2 join form over M.signal_counts of the
    strategy's own signal stream, window by window and column by column:
    the marker count is the non-HOLD signal count for every strategy."""
    cfg = EngineConfig()
    out = get_strategy_module(strategy).build_pipeline(load_ticks(spark, SF), cfg)
    perf = M.performance_windows(out.position_returns.drop(P.SIGNAL_MARKER), cfg)
    joined = M.metrics_enriched(perf, M.signal_counts(out.crossover_signals, cfg), cfg)

    fused = out.metrics.orderBy("window_start").collect()
    want = joined.orderBy("window_start").collect()
    assert sum(r.trades_executed for r in fused) > 0
    assert fused == want


def test_write_sinks_failure_completes_other_sinks_and_releases_pins(spark, tmp_path):
    """One sink's job fails: write_sinks re-raises it, the other five
    tables are written in full, and both fan-out pins are released."""
    out = build_pipeline(load_ticks(spark, SF))
    out.metrics = out.metrics.filter(F.raise_error(F.lit("injected sink failure")).isNull())
    before = persistent_rdd_ids(spark)
    with pytest.raises(Exception, match="injected sink failure"):
        write_sinks(out, str(tmp_path))
    assert persistent_rdd_ids(spark) == before
    for name, df in out.sinks().items():
        if name == "strategy_metrics":
            continue
        assert (tmp_path / name / "_SUCCESS").exists(), name
        assert spark.read.parquet(str(tmp_path / name)).count() == df.count() > 0, name


def test_write_sinks_jobs_inherit_callers_job_group(spark, tmp_path):
    """The pool threads carry the caller's local properties: every sink
    write runs as a job of the caller's job group."""
    sc = spark.sparkContext
    sc.setJobGroup("write-sinks-fanout", "job group propagation")
    try:
        write_sinks(build_pipeline(load_ticks(spark, SF)), str(tmp_path))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert len(sc.statusTracker().getJobIdsForGroup("write-sinks-fanout")) >= 6
