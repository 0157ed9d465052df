"""Batch sinks + storage maintenance — S2-S7, D1, D2.

The reference fans out to Kafka topics and TimescaleDB hypertables with
date-chunked, instrument-subpartitioned layout, 12h compression and 90-day
retention (reference __main__.py:76-227, 02_schema.sql:48-66). The Spark
analog (SURVEY.md §2.10): date-partitioned parquet per sink table —
natively columnar-compressed (D2's compression policy is free), partition
pruning standing in for chunk exclusion (D1), and retention as a partition
delete job. JDBC sinks are the same `df.write` call behind an option
(`jdbc_url`) — buffered/batched writes map to the JDBC `batchsize` option
(reference's sink.buffer-flush.max-rows=100-200, __main__.py:168-224).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_signals.pipeline.builder import PipelineOutputs, persist_for_fanout

_Sink = TypeVar("_Sink")

# per-sink event-time column for date partitioning (D1 chunking analog)
SINK_TIME_COLUMNS = {
    "prices_normalized": "event_time",
    "signals_decisions": "signal_time",
    "strategy_executions": "signal_time",
    "strategy_positions": "event_time",
    "strategy_metrics": "metric_time",
    "strategy_metrics_hourly": "bucket",
}


def write_sinks(
    outputs: PipelineOutputs,
    root: str,
    jdbc_url: str | None = None,
    jdbc_batchsize: int = 200,
) -> dict[str, str]:
    """Batch multi-sink fan-out with shared-prefix reuse.

    persist_for_fanout pins the window stage and positions_costs, so the six
    sink writes compute the window stages once (the reference StatementSet
    merge, SURVEY.md §4). Each write is a small job whose cost is mostly
    fixed per job, so the six run concurrently, one pool thread per sink;
    a sink's JDBC append follows its own parquet write in the same thread.
    The pins are released once every write has returned, and the first
    failure (in sink order) is re-raised. Each table is written
    date-partitioned; at 100 TB this is what makes retention (partition
    delete) and time-ranged reads (partition pruning) O(touched days), not
    O(history).
    """
    sinks = outputs.sinks()
    paths = {name: os.path.join(root, name) for name in sinks}

    def write(name: str, df: DataFrame) -> None:
        out = df.withColumn("event_date", F.to_date(F.col(SINK_TIME_COLUMNS[name])))
        out.write.mode("overwrite").partitionBy("event_date").parquet(paths[name])
        if jdbc_url is not None:
            # buffered JDBC append (S5-S7): batchsize = the reference's
            # sink.buffer-flush.max-rows. Exercised end-to-end against
            # an embedded Derby database (bundled with Spark) in
            # tests/test_jdbc_sink.py; a Postgres URL drops in unchanged.
            df.write.format("jdbc").option("url", jdbc_url).option(
                "dbtable", name
            ).option("batchsize", jdbc_batchsize).mode("append").save()

    persist_for_fanout(outputs)
    try:
        _fan_out(outputs.window_stage.sparkSession, write, sinks)
    finally:
        # dependent pin first: releasing the window stage while the
        # positions_costs pin is unbuilt would re-plan that pin
        outputs.positions_costs.unpersist()
        outputs.window_stage.unpersist()
    return paths


def _fan_out(
    spark: SparkSession,
    write: Callable[[str, _Sink], None],
    sinks: dict[str, _Sink],
) -> None:
    """Run ``write(name, sink)`` for every entry of ``sinks`` concurrently,
    one pool thread per sink, and wait for all of them; the first failure,
    in sink order, is then re-raised.

    The threads carry the caller's local properties (job group, scheduler
    pool) and session tags, so cancelling the caller's job group cancels
    every write.
    """
    target = inheritable_thread_target(spark)(write)
    with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
        futures = [pool.submit(target, name, sink) for name, sink in sinks.items()]
    for future in futures:
        future.result()


def apply_retention(spark: SparkSession, table_path: str, keep_days: int, now=None) -> int:
    """D2 retention policy analog: drop date partitions older than the
    horizon (reference: add_retention_policy '90 days', 02_schema.sql:63).

    Partition-level deletes — no data rewrite, no scan of survivors.
    Returns the number of dropped partitions.
    """
    import datetime as dt

    now = now or dt.date.today()
    horizon = now - dt.timedelta(days=keep_days)
    dropped = 0
    if not os.path.isdir(table_path):
        return 0
    for entry in os.listdir(table_path):
        if not entry.startswith("event_date="):
            continue
        try:
            pdate = dt.date.fromisoformat(entry.split("=", 1)[1])
        except ValueError:
            continue
        if pdate < horizon:
            shutil.rmtree(os.path.join(table_path, entry))
            dropped += 1
    return dropped


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str = "product_id",
    buckets: int = 32,
) -> str:
    """Hash-bucketed, per-bucket-sorted table layout (D1's hash
    subpartitioning, reference 02_schema.sql:48-55, as a *join co-location*
    lever).

    Two tables bucketed on the same key with the same bucket count
    equi-join with ZERO exchanges — at 100 TB this converts the nightly
    fact⋈fact joins (e.g. positions ⋈ executions by instrument) from a
    full dual shuffle into a local zipper per bucket. The write itself
    shuffles once into `buckets` output tasks; reads are shuffle-free
    forever after (write-once, join-many amortization).
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )
    return table
