"""Dashboard reads: a closed loop of client threads, each refreshing a
dashboard of the six panels of the ``serving`` layer over sink tables
``write_sinks`` produced. One query is plan plus ``collect``, read from the
files on every query as a dashboard refresh does."""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

PANELS = (
    "dashboard_cumret_series",
    "dashboard_recent_positions",
    "dashboard_execution_costs",
    "dashboard_run_ids",
    "latest_price_per_instrument",
    "recent_ticks_per_instrument",
)
CLIENTS = 2
# the sink table each panel reads
PANEL_TABLES = {
    "dashboard_cumret_series": "strategy_metrics_hourly",
    "dashboard_recent_positions": "strategy_positions",
    "dashboard_execution_costs": "strategy_executions",
    "dashboard_run_ids": "strategy_metrics_hourly",
    "latest_price_per_instrument": "prices_normalized",
    "recent_ticks_per_instrument": "prices_normalized",
}


def panel_query(spark, sink_root: str, panel: str):
    """The panel's DataFrame, planned from the sink files."""
    from pyspark.sql import functions as F

    from spark_signals import serving

    df = spark.read.parquet(os.path.join(sink_root, PANEL_TABLES[panel]))
    if panel in ("latest_price_per_instrument", "recent_ticks_per_instrument"):
        # the tick panels take the normalized mid price as the price
        df = df.select("product_id", "event_time", "sequence", F.col("mid_price").alias("price"))
    return getattr(serving, panel)(df)


def _plain(v):
    # DuckDB hands back UTC-aware timestamps, Spark naive UTC ones
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def digest(rows) -> tuple[int, int]:
    """Order-independent fingerprint of a result: row count and the sum of
    the rows' hashes (stable within one process)."""
    h = 0
    n = 0
    for r in rows:
        h = (h + hash(repr(tuple(_plain(v) for v in r)))) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, h


def query(run, sink_root: str, panel: str) -> tuple[int, int]:
    """One panel query; returns its result's digest."""
    with run.tracer.span(f"serving.{panel}_ms"):
        rows = panel_query(run.spark, sink_root, panel).collect()
    return digest(rows)


def clients(run, sink_root: str, seconds: float) -> tuple[list, list[float], float]:
    """Run the clients for ``seconds``. A client refreshes the dashboard:
    it runs the six panel queries one after the other, then starts over; a
    refresh begun before the deadline is finished. Returns (panel, digest)
    per query, the latency of each refresh in ms, and the wall time."""
    records: list[tuple[str, tuple[int, int]]] = []
    refreshes: list[float] = []
    lock = threading.Lock()
    errors: list[BaseException] = []
    end = time.perf_counter() + seconds

    def client(offset: int) -> None:
        try:
            order = PANELS[offset:] + PANELS[:offset]
            while time.perf_counter() < end:
                t = time.perf_counter()
                done = [(panel, query(run, sink_root, panel)) for panel in order]
                ms = (time.perf_counter() - t) * 1000.0
                with lock:
                    records.extend(done)
                    refreshes.append(ms)
        except BaseException as e:  # re-raised by the caller after the join
            errors.append(e)
            raise

    threads = [
        threading.Thread(target=client, args=(k * len(PANELS) // CLIENTS,))
        for k in range(CLIENTS)
    ]
    t0 = time.perf_counter()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    wall = time.perf_counter() - t0
    if errors:
        raise errors[0]
    return records, refreshes, wall
