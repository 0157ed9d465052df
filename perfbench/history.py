"""Workload ``history``: a backtest over a seeded history, then dashboard
reads of the sink tables it wrote.

* The first backtest runs in a fresh JVM (``first_s``). It makes the calls
  ``python -m spark_signals --mode batch --source-kind events`` makes. CLI
  users pay this on every run.
* ``WARM_BACKTESTS`` warm backtests follow in the same session
  (``throughput_per_s``, in ticks/s).
* Then ``dashboard.CLIENTS`` closed-loop client threads refresh a
  dashboard of the six ``serving`` panels over the first backtest's sink
  tables for ``--seconds`` (``p50_ms`` and ``p90_ms`` per refresh: the six
  panel queries one after the other).

Why: the ``pipeline`` window stages and the bulk ``io.sinks`` writes do the
backtest's work, and ``serving`` with scan planning does the reads; the
``streaming`` layer stays idle. A write-side change that fragments files or
slows reads shows in the query latencies even when it speeds the
backtest.
"""

from __future__ import annotations

import os

import backtest
import dashboard
from common import Interval, median, pct
from trace import files_on_disk

WARM_BACKTESTS = 3


def run(run, seconds: float) -> dict:
    import check

    tr = run.tracer
    setup_s = run.setup(lambda: backtest.write_history(run))
    roots = [os.path.join(run.work, "sinks", f"backtest-{i}") for i in range(1 + WARM_BACKTESTS)]
    # the per-layer backtest figures are those of the warm traced backtests
    tr.active = False
    first = backtest.backtest(run, roots[0])
    walls = {True: [], False: []}
    for i, root in enumerate(roots[1:]):
        # in the traced run: untraced, traced, untraced, ...
        tr.active = tr.enabled and i % 2 == 1
        walls[tr.active].append(backtest.backtest(run, root).seconds)
    tr.active = tr.enabled
    reads = Interval()
    records, refreshes, wall = dashboard.clients(run, roots[0], seconds)
    reads.stop()
    peak_mb = run.peak.stop_mb()
    layer = {}
    if tr.enabled:
        layer = backtest.layer_metrics(run, roots[0])
        layer["trace.overhead_pct"] = 100.0 * (median(walls[True]) / median(walls[False]) - 1.0)
        layer.update({k: median(v) for k, v in tr.spans.items() if k.startswith("serving.")})
        layer["serving.scan_files"] = sum(
            files_on_disk(os.path.join(roots[0], dashboard.PANEL_TABLES[p]))[0]
            for p in dashboard.PANELS
        )

    bad = check.backtest_sinks(os.path.join(run.input_dir, "events.parquet"), roots)
    bad_queries = check.dashboard_panels(roots[0], records)
    warm = walls[True] + walls[False]
    latencies = [ms * reads.factor for ms in refreshes]
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "first_s": first.seconds,
        "p50_ms": pct(latencies, 50),
        "p90_ms": pct(latencies, 90),
        "throughput_per_s": backtest.N_TICKS / median(warm),
        "attempted": len(roots) + len(records),
        "failed": sum(1 for n in bad if n) + bad_queries,
        "layer": layer,
        "notes": [
            f"backtests: {len(roots)} of {backtest.N_TICKS} ticks "
            f"({backtest.INSTRUMENTS} instruments, {backtest.DAYS} day); "
            "throughput is warm-backtest ticks/s",
            f"dashboard refreshes: {len(refreshes)} ({len(records)} panel queries) by "
            f"{dashboard.CLIENTS} clients in {wall:.1f} s",
            f"share of CPU time not stolen: first backtest {first.factor:.3f}, "
            f"reads {reads.factor:.3f}; first backtest wall {first.wall:.2f} s",
            f"sink rows differing from the DuckDB oracle, per backtest: {bad}",
            f"queries whose result differs from DuckDB's: {bad_queries}",
        ],
    }
