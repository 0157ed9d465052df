"""Streaming job assembly: sources → stateful features → windowed metrics →
multi-sink fan-out.

Mirrors the reference's streaming topology (reference: __main__.py:35-241):
watermarked event-time source (T1), the stateful rolling-feature stage
(features.py, T4), native tumbling aggregations (T2/T3 — Spark drops
late-beyond-watermark rows exactly like Flink's default), and a
``foreachBatch`` multi-sink writer standing in for the StatementSet fan-out
(S2-S7): one micro-batch computes the shared prefix once, persists it, and
writes it to every sink table as that batch's own ``_batch_id=<id>``
directory, overwritten on a replay (exactly-once-ish delivery on retries,
the Spark analog of the reference's JDBC retry + checkpoint contract, T5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_signals.config import EngineConfig
from spark_signals.io.sinks import _fan_out
from spark_signals.io.sources import PRICES_RAW_SCHEMA, ensure_session_confs
from spark_signals.pipeline import normalize as N
from spark_signals.pipeline import positions as P
from spark_signals.pipeline import sma_cross as S
from spark_signals.rounding import micro_units, sql_str_lit
from spark_signals.streaming.features import stateful_features


def read_tick_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source in the prices_raw contract (S1 analog).

    In production this is `format("kafka")` + from_json with the same schema
    (reference DDL __main__.py:51-74); file streams keep tests hermetic. The
    5s watermark is applied by the caller after any adaptation.
    """
    ensure_session_confs(spark)
    reader = spark.readStream.schema(PRICES_RAW_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "json":
        return reader.json(path)
    raise ValueError(f"unsupported stream format: {fmt}")


def dedup_tick_stream(ticks: DataFrame, cfg: EngineConfig) -> DataFrame:
    """At-least-once input hygiene: drop redelivered ticks by identity key.

    The reference's Kafka producer is at-least-once (send-and-wait, reference
    producer/kafka_producer.py:15-53), so replays/reconnects can redeliver
    the same (product_id, sequence) tick; downstream stateful stages would
    double-count it. ``dropDuplicatesWithinWatermark`` keeps the first
    arrival per key and holds each key's fingerprint in state only for the
    watermark delay — bounded state, unlike a global ``dropDuplicates`` whose
    key set grows forever at 100 TB stream scale.

    Expects an un-watermarked stream; applies the engine watermark itself
    (a watermark is required for the within-watermark dedup operator).
    """
    return ticks.withWatermark("event_time", cfg.watermark_delay).dropDuplicatesWithinWatermark(
        ["product_id", "sequence"]
    )


def streaming_metrics(features: DataFrame, cfg: EngineConfig) -> DataFrame:
    """A1 on the stream: watermark + native tumbling aggregation.

    Structured Streaming's windowed agg holds per-window state and emits on
    watermark passage — the exact Flink TUMBLE semantics (late rows beyond
    the 5s watermark are dropped, T3).
    """
    pnl = (
        F.coalesce(F.col("prev_position"), F.lit(0.0))
        * F.coalesce(F.col("returns"), F.lit(0.0))
        - F.abs(F.col("position_change")) * F.col("mid_price") * F.col("trade_cost_rate")
    )
    with_pnl = features.withColumn("realized_pnl", pnl).withWatermark(
        "event_time", cfg.watermark_delay
    )
    p = F.col("realized_pnl")
    return (
        with_pnl.groupBy(F.window("event_time", cfg.metrics_window).alias("w"))
        .agg(
            F.avg(p).alias("avg_return"),
            F.stddev_pop(p).alias("volatility"),
            F.sum(p).alias("cumulative_return"),
            # exact integer micro-unit sum — mirrors pipeline.metrics (the
            # raw double SUM's ulp straddled the dp=6 output grid at sf0.1)
            (
                F.sum(F.when(p < 0, micro_units(p * p, 6)).otherwise(F.lit(0)))
                .cast("double") / F.lit(1e6)
            ).alias("downside_sum"),
            F.count(p).alias("sample_size"),
            F.count(F.when(p < 0, F.lit(1))).alias("negative_samples"),
            F.min(p).alias("min_return"),
            F.sum(F.abs(F.col("position_change")) * F.col("mid_price") * F.col("trade_cost_rate")).alias(
                "total_trade_cost"
            ),
        )
        .select(
            F.col("w").alias("window"),
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "avg_return",
            "volatility",
            "cumulative_return",
            "downside_sum",
            "sample_size",
            "negative_samples",
            "min_return",
            "total_trade_cost",
        )
    )


def streaming_hourly_rollup(metrics5: DataFrame, cfg: EngineConfig) -> DataFrame:
    """A4 in streaming: a SECOND stateful aggregation chained on the first —
    the Structured Streaming form of TimescaleDB's continuous aggregate
    (reference 03_continuous_aggregates.sql:3-22).

    Chaining requires ``window_time(window)`` (window.end − 1µs) as the
    event-time column of the upstream aggregate so the watermark propagates;
    an hourly window finalizes only when every 5-minute child has finalized.

    The float SUMs use the same order-independent arithmetic as the batch
    rollup (pipeline.rollup.hourly_rollup_exact): inputs are expected
    pre-gridded at dp=9, recovered as exact BIGINT micro-units, summed as
    integers (exact + associative — micro-batch boundaries, partition count,
    and engine cannot move the result by even 1 ulp), with ONE division at
    the end. MIN/SUM(int)/COUNT are already order-independent.
    """
    w = F.window(F.window_time("window"), cfg.rollup_window).alias("w")
    scale = F.lit(1e9)
    return (
        metrics5.groupBy(w)
        .agg(
            F.sum(micro_units(F.col("cumulative_return"), 9)).alias("cr_sum_u"),
            F.min("min_return").alias("min_return"),
            F.sum("sample_size").alias("sample_size_sum"),
            F.sum(micro_units(F.col("total_trade_cost"), 9)).alias("tc_sum_u"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            (F.col("cr_sum_u").cast("double") / scale).alias("cumulative_return_sum"),
            "min_return",
            "sample_size_sum",
            (F.col("tc_sum_u").cast("double") / scale).alias("total_trade_cost_sum"),
            "n_windows",
        )
    )


def build_streaming_features(ticks: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Watermarked tick stream → stateful per-key feature stream."""
    return stateful_features(ticks.withWatermark("event_time", cfg.watermark_delay), cfg)


def _signals_decisions(features: DataFrame, cfg: EngineConfig) -> DataFrame:
    """The batch ``signals_decisions`` sink projection over the feature
    stream, P11 JSON metadata included: the stream surfaces
    fast_sma/slow_sma (OUTPUT_SCHEMA) and the metadata is the batch sink's
    own SQL text (sma_cross.signal_metadata_sql), so a consumer diffing
    the two sink schemas sees no gap."""
    return features.filter(F.col("signal_type") != "HOLD").selectExpr(
        "*", "fast_sma - slow_sma AS sig_spread"
    ).selectExpr(
        f"{sql_str_lit(cfg.strategy_run_id)} AS strategy_run_id",
        "product_id AS instrument_id",
        "event_time AS signal_time",
        "signal_type",
        "position",
        "confidence",
        f"{S.signal_metadata_sql(cfg)} AS metadata",
    )


def multi_sink_writer(out_dir: str, cfg: EngineConfig):
    """foreachBatch callback fanning one micro-batch out to the reference's
    sink tables (S2/S3/S6/S7 analogs) as parquet, one ``_batch_id=<id>``
    directory per batch under each sink.

    The batch is persisted once — the hand-managed equivalent of the
    reference StatementSet's common-subplan reuse (SURVEY.md §4).
    ``prices_normalized`` keeps every row, so its write builds the pinned
    batch and runs the stateful operator exactly once; the other three
    sinks then read the pin concurrently, one task and one file each. Each
    sink overwrites its own ``_batch_id=<id>`` directory, so a replayed
    batch replaces exactly its previous attempt's rows, even with an empty
    replay, and readers still discover ``_batch_id`` as a partition column.
    A failed write leaves that sink's batch directory missing until the
    replay.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        def write(name: str, df: DataFrame) -> None:
            # overwriting the batch's own directory, not appending: the
            # exactly-once-ish contract of the reference's checkpoint +
            # retrying JDBC sinks (T5)
            df.write.mode("overwrite").parquet(
                os.path.join(out_dir, name, f"_batch_id={batch_id}")
            )

        batch_df.persist()
        try:
            # the feature stream is positions_costs-shaped, so the batch sink
            # projections apply verbatim — streaming and batch modes write
            # the SAME schema to the shared sink names
            write("prices_normalized", batch_df.select(*N.NORMALIZED_COLUMNS))
            # each pool thread builds its own projection, so the three
            # plans are analysed concurrently too; these sinks keep only the
            # signal and position-change rows, so one task (one file, one
            # task commit) per sink and batch is plenty
            _fan_out(
                batch_df.sparkSession,
                lambda name, project: write(name, project(batch_df, cfg).coalesce(1)),
                {
                    "signals_decisions": _signals_decisions,
                    "strategy_executions": P.executions,
                    "strategy_positions": P.position_transitions,
                },
            )
        finally:
            batch_df.unpersist()

    return write_batch


def run_streaming_job(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    cfg: EngineConfig | None = None,
    available_now: bool = True,
    dedupe: bool = False,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
):
    """End-to-end streaming run: source → features → multi-sink fan-out.

    ``available_now=True`` drains existing files then stops (deterministic
    backtest / test mode — T7); otherwise it runs continuously with the
    60s-checkpoint cadence of the reference.
    """
    cfg = cfg or EngineConfig()
    ticks = read_tick_stream(spark, source_dir, fmt=fmt, max_files_per_trigger=max_files_per_trigger)
    if dedupe:
        # dedup_tick_stream declares the watermark itself; re-declaring it
        # downstream is disallowed once multiple stateful operators chain
        features = stateful_features(dedup_tick_stream(ticks, cfg), cfg)
    else:
        features = build_streaming_features(ticks, cfg)
    writer = (
        features.writeStream.foreachBatch(multi_sink_writer(out_dir, cfg))
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        return query
    return writer.trigger(processingTime="60 seconds").start()
