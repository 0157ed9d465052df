"""Streaming-mode tests: stateful features vs batch ground truth, state
carry-over across micro-batches, watermark late-data handling, multi-sink
fan-out."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from spark_signals.config import EngineConfig
from spark_signals.io.sources import load_ticks
from spark_signals.parity import q_positions_costs
from spark_signals.streaming.features import stateful_features
from spark_signals.streaming.job import (
    read_tick_stream,
    run_streaming_job,
    streaming_metrics,
)
from tests.conftest import persistent_rdd_ids

SF = "/root/testdata/sf0.001"


def _drain(df, spark, mode="append"):
    import uuid

    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy("product_id", "sequence").collect()]


CHECK_COLS = [
    "product_id", "sequence", "mid_price", "returns", "volatility",
    "position", "prev_position", "position_change", "slippage_rate",
    "fill_latency_ms",
]


def test_streaming_matches_batch_single_batch(spark, tmp_path):
    cfg = EngineConfig()
    src = str(tmp_path / "ticks")
    load_ticks(spark, SF).orderBy("event_time", "sequence").coalesce(1).write.parquet(src)
    feats = stateful_features(
        read_tick_stream(spark, src).withWatermark("event_time", cfg.watermark_delay), cfg
    )
    got = _sorted_rows(_drain(feats, spark), CHECK_COLS)
    want = _sorted_rows(q_positions_costs(spark, SF), CHECK_COLS)
    # q_positions_costs rounds some cols; re-derive unrounded batch truth
    from spark_signals.parity import _costs

    want = _sorted_rows(_costs(spark, SF), CHECK_COLS)
    assert got == want  # bit-identical, not approximately equal


def test_streaming_state_carries_across_microbatches(spark, tmp_path):
    """Split the stream into 3 time-ordered files, force one file per
    micro-batch — per-key state (frames, forward-fill) must carry over and
    reproduce the batch result exactly."""
    cfg = EngineConfig()
    ticks = load_ticks(spark, SF).orderBy("event_time", "sequence").collect()
    n = len(ticks)
    src = str(tmp_path / "ticks_split")
    os.makedirs(src)
    schema = load_ticks(spark, SF).schema
    for i, chunk in enumerate([ticks[: n // 3], ticks[n // 3 : 2 * n // 3], ticks[2 * n // 3 :]]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(f"{src}/part{i}")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(f"{src}/part*")
    )
    feats = stateful_features(stream.withWatermark("event_time", cfg.watermark_delay), cfg)
    got = _sorted_rows(_drain(feats, spark), CHECK_COLS)
    from spark_signals.parity import _costs

    want = _sorted_rows(_costs(spark, SF), CHECK_COLS)
    assert got == want


def test_streaming_metrics_drop_late_rows(spark, tmp_path):
    """Rows later than the watermark at their arrival are dropped from the
    tumbling aggregation (T3) — feed a second file whose events are far
    behind the first file's watermark."""
    import datetime as dt

    from tests.conftest import make_ticks

    cfg = EngineConfig()
    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    on_time = make_ticks(spark, [100.0 + i for i in range(100)], start=t0)
    late = make_ticks(
        spark, [50.0], product_id="BTC-USD", start=t0 - dt.timedelta(hours=2)
    ).withColumn("sequence", F.lit(999))
    src = str(tmp_path / "late")
    os.makedirs(src)
    on_time.coalesce(1).write.parquet(f"{src}/f0")
    late.coalesce(1).write.parquet(f"{src}/f1")
    stream = (
        spark.readStream.schema(on_time.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(f"{src}/f*")
    )
    feats = stateful_features(stream.withWatermark("event_time", cfg.watermark_delay), cfg)
    metr = _drain(streaming_metrics(feats, cfg), spark, mode="complete")
    starts = [r.window_start for r in metr.collect()]
    # the 2-hour-late row is dropped at the stateful feature stage (Flink
    # OVER-aggregate semantics), so its window never appears downstream
    assert min(starts) >= t0 - dt.timedelta(minutes=5)


def test_multi_sink_writer_idempotent_on_batch_replay(spark, tmp_path):
    """Re-processing a micro-batch (failure recovery) must not duplicate
    sink rows — the batch-id partition is overwritten, not appended."""
    from spark_signals.config import EngineConfig
    from spark_signals.streaming.job import multi_sink_writer
    from spark_signals.parity import _costs
    import os as _os

    cfg = EngineConfig()
    out = str(tmp_path / "idem")
    feats = (
        _costs(spark, SF)
        .withColumn(
            "signal_type",
            F.when(F.col("position_change") > 0, F.lit("LONG"))
            .when(F.col("position_change") < 0, F.lit("SHORT"))
            .otherwise(F.lit("HOLD")),
        )
        .withColumn("confidence", F.abs(F.col("position_change")))
        # the real feature stream surfaces the SMA accumulators
        # (OUTPUT_SCHEMA); stand-ins suffice for the idempotency property
        .withColumn("fast_sma", F.col("mid_price"))
        .withColumn("slow_sma", F.col("mid_price"))
    )
    writer = multi_sink_writer(out, cfg)
    sink_names = [
        "prices_normalized", "signals_decisions",
        "strategy_executions", "strategy_positions",
    ]

    def snapshot():
        return {
            name: sorted(
                tuple(r)
                for r in spark.read.parquet(_os.path.join(out, name)).collect()
            )
            for name in sink_names
        }

    writer(feats, 7)
    first = snapshot()
    writer(feats, 7)  # same batch id replayed (at-least-once redelivery)
    second = snapshot()
    # byte-identical, not merely same-count: replay rewrites its own
    # partition, values included
    assert first == second
    assert len(first["prices_normalized"]) == 1000
    writer(feats, 8)  # a new batch id appends
    n3 = spark.read.parquet(_os.path.join(out, "prices_normalized")).count()
    assert n3 == 2000


def test_run_streaming_job_multi_sink(spark, tmp_path):
    out = str(tmp_path / "out")
    src = str(tmp_path / "src")
    load_ticks(spark, SF).orderBy("event_time", "sequence").coalesce(1).write.parquet(src)
    run_streaming_job(spark, src, out)
    norm = spark.read.parquet(os.path.join(out, "prices_normalized"))
    sigs = spark.read.parquet(os.path.join(out, "signals_decisions"))
    poss = spark.read.parquet(os.path.join(out, "strategy_positions"))
    assert norm.count() == 1000
    assert sigs.count() > 0
    assert poss.count() > 0
    assert set(sigs.select("signal_type").distinct().toPandas()["signal_type"]) <= {
        "LONG",
        "SHORT",
    }
    # the streaming decisions sink must expose the SAME schema as the batch
    # sink, metadata included (a consumer diffing the two sinks sees no gap)
    from spark_signals.pipeline.builder import build_pipeline

    batch_sigs = build_pipeline(load_ticks(spark, SF), EngineConfig()).signals_decisions
    assert [c for c in sigs.columns if c != "_batch_id"] == batch_sigs.columns
    meta = json.loads(sigs.select("metadata").first()["metadata"])
    assert list(meta) == [
        "fast_sma", "slow_sma", "spread", "confirmation_window", "execution_mode",
    ]


def test_streaming_union_live_replay(spark, tmp_path):
    """U1 in streaming mode: two file streams (live + replay topics) union
    into one pipeline input (reference sma_cross.py:43-52)."""
    from spark_signals.config import EngineConfig

    cfg = EngineConfig()
    live_dir = str(tmp_path / "live")
    replay_dir = str(tmp_path / "replay")
    ticks = load_ticks(spark, SF).orderBy("event_time", "sequence")
    ticks.filter(F.col("sequence") % 2 == 0).coalesce(1).write.parquet(live_dir)
    ticks.filter(F.col("sequence") % 2 == 1).withColumn(
        "source", F.lit("replay")
    ).coalesce(1).write.parquet(replay_dir)

    live = read_tick_stream(spark, live_dir)
    replay = read_tick_stream(spark, replay_dir)
    union = live.unionByName(replay).withWatermark("event_time", cfg.watermark_delay)
    feats = stateful_features(union, cfg)
    got = _drain(feats, spark)
    assert got.count() == 1000
    # union fed both halves through one keyed state: sequences are complete
    seqs = {r.sequence for r in got.select("sequence").collect()}
    assert seqs == set(range(1000))


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """At-least-once redelivery: every tick written twice; the dedup stage
    keeps one arrival per (product_id, sequence) so the stateful features
    match the batch truth computed on the clean stream."""
    from spark_signals.streaming.job import dedup_tick_stream

    cfg = EngineConfig()
    src = str(tmp_path / "dup_ticks")
    ticks = load_ticks(spark, SF).orderBy("event_time", "sequence")
    ticks.unionAll(ticks).coalesce(1).write.parquet(src)

    deduped = dedup_tick_stream(read_tick_stream(spark, src), cfg)
    feats = stateful_features(deduped, cfg)
    got = _sorted_rows(_drain(feats, spark), CHECK_COLS)
    from spark_signals.parity import _costs

    want = _sorted_rows(_costs(spark, SF), CHECK_COLS)
    assert got == want


def test_run_streaming_job_dedupe(spark, tmp_path):
    """Full job with dedupe=True: duplicated source collapses to one row per
    tick across all sinks (chained stateful operators: dedup → features)."""
    from spark_signals.streaming.job import run_streaming_job

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    t = load_ticks(spark, SF).orderBy("event_time", "sequence")
    t.unionAll(t).coalesce(1).write.parquet(src)
    run_streaming_job(spark, src, out, dedupe=True)
    assert spark.read.parquet(f"{out}/prices_normalized").count() == t.count()


def test_streaming_breakout_rule_matches_batch_strategy(spark, tmp_path):
    """Pluggable streaming rule: the breakout STREAMING_RULES entry must be
    bit-identical to strategies.breakout's batch plan — positions/costs AND
    the sparse signal set (type + confidence)."""
    from spark_signals.strategies import get_strategy_module

    cfg = EngineConfig()
    src = str(tmp_path / "ticks_bk")
    load_ticks(spark, SF).orderBy("event_time", "sequence").coalesce(1).write.parquet(src)
    feats = stateful_features(
        read_tick_stream(spark, src).withWatermark("event_time", cfg.watermark_delay),
        cfg,
        strategy="breakout",
    )
    got_df = _drain(feats, spark)
    got = _sorted_rows(got_df, CHECK_COLS)

    out = get_strategy_module("breakout").build_pipeline(load_ticks(spark, SF), cfg)
    want = _sorted_rows(out.positions_costs, CHECK_COLS)
    assert got == want

    sig_cols = ["sequence", "signal_type", "confidence"]
    got_sig = [
        tuple(r)
        for r in got_df.filter(got_df.signal_type != "HOLD")
        .select(*sig_cols)
        .orderBy("sequence")
        .collect()
    ]
    want_sig = [
        tuple(r)
        for r in out.crossover_signals.filter("signal_type <> 'HOLD'")
        .select(*sig_cols)
        .orderBy("sequence")
        .collect()
    ]
    assert got_sig == want_sig and len(got_sig) > 0


def test_streaming_hourly_rollup_microbatch_invariant(spark, tmp_path):
    """The chained rollup's integer micro-unit arithmetic makes the result
    independent of micro-batch cuts: draining the same ticks as ONE batch vs
    one-file-per-trigger chunks must produce bit-identical hourly rows (the
    r01-r03 flake class was exactly a batch-boundary-dependent double SUM)."""
    from spark_signals.parity import _round_cols
    from spark_signals.streaming.job import streaming_hourly_rollup, streaming_metrics

    cfg = EngineConfig()
    ticks = load_ticks(spark, SF).orderBy("event_time", "sequence").collect()
    schema = load_ticks(spark, SF).schema
    n = len(ticks)

    one = str(tmp_path / "one")
    spark.createDataFrame(ticks, schema).coalesce(1).write.parquet(one)
    chunked = str(tmp_path / "chunked")
    os.makedirs(chunked)
    step = n // 4 + 1
    for i in range(0, n, step):
        spark.createDataFrame(ticks[i : i + step], schema).coalesce(1).write.parquet(
            f"{chunked}/part{i:06d}"
        )

    def run(path, pattern, per_trigger):
        reader = spark.readStream.schema(schema)
        if per_trigger:
            reader = reader.option("maxFilesPerTrigger", 1).option("latestFirst", "false")
        feats = stateful_features(
            reader.parquet(pattern or path).withWatermark("event_time", cfg.watermark_delay),
            cfg,
        )
        metr5 = _round_cols(
            streaming_metrics(feats, cfg),
            {"cumulative_return": 9, "min_return": 9, "total_trade_cost": 9},
        )
        roll = streaming_hourly_rollup(metr5, cfg)
        return sorted(tuple(r) for r in _drain(roll, spark).collect())

    got_one = run(one, None, per_trigger=False)
    got_chunked = run(chunked, f"{chunked}/part*", per_trigger=True)
    assert len(got_one) > 10
    assert got_one == got_chunked  # bit-identical, not approximately equal


def test_streaming_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill-and-restart recovery (T5/T7): drain half the stream, stop, add
    the rest, restart the SAME query against the SAME checkpoint. The sink
    must hold every row exactly once and the per-key rolling state must
    resume mid-stream — together equal to the batch truth bit-for-bit.
    Proves both no-reprocessing (A files skipped on restart) and state
    restore (B rows continue A's frames, not restart them)."""
    cfg = EngineConfig()
    ticks = load_ticks(spark, SF).orderBy("event_time", "sequence").collect()
    n = len(ticks)
    schema = load_ticks(spark, SF).schema
    src = str(tmp_path / "ticks_restart")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("latestFirst", "false")
            .parquet(f"{src}/part*")
        )
        feats = stateful_features(
            stream.withWatermark("event_time", cfg.watermark_delay), cfg
        )
        q = (
            feats.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(ticks[: n // 2], schema).coalesce(1).write.parquet(
        f"{src}/part0"
    )
    run_once()
    first = spark.read.parquet(out).count()
    assert 0 < first < n  # half drained, nothing more

    spark.createDataFrame(ticks[n // 2 :], schema).coalesce(1).write.parquet(
        f"{src}/part1"
    )
    run_once()

    got = _sorted_rows(spark.read.parquet(out), CHECK_COLS)
    from spark_signals.parity import _costs

    want = _sorted_rows(_costs(spark, SF), CHECK_COLS)
    assert got == want


STREAMING_SINKS = [
    "prices_normalized", "signals_decisions",
    "strategy_executions", "strategy_positions",
]


def _stand_in_features(spark):
    """A positions_costs-shaped frame in the feature stream's schema, with
    stand-ins for the signal columns the stateful operator adds."""
    from spark_signals.parity import _costs

    return (
        _costs(spark, SF)
        .withColumn(
            "signal_type",
            F.when(F.col("position_change") > 0, F.lit("LONG"))
            .when(F.col("position_change") < 0, F.lit("SHORT"))
            .otherwise(F.lit("HOLD")),
        )
        .withColumn("confidence", F.abs(F.col("position_change")))
        .withColumn("fast_sma", F.col("mid_price"))
        .withColumn("slow_sma", F.col("mid_price"))
    )


def _sink_rows(spark, out, name, batch_id):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, name))
        .filter(F.col("_batch_id") == batch_id)
        .collect()
    )


def test_multi_sink_writer_replay_replaces_the_whole_batch(spark, tmp_path):
    """A replayed batch leaves exactly the replay's rows in every sink:
    fewer rows replace more, and an empty replay leaves none, with the
    read schema (``_batch_id`` a partition column) unchanged."""
    from spark_signals.streaming.job import multi_sink_writer

    cfg = EngineConfig()
    feats = _stand_in_features(spark)
    fewer = feats.filter(F.col("sequence") < 300)
    out, fresh = str(tmp_path / "replayed"), str(tmp_path / "fresh")
    writer = multi_sink_writer(out, cfg)
    writer(feats, 7)
    columns = {n: spark.read.parquet(os.path.join(out, n)).columns for n in STREAMING_SINKS}
    assert "_batch_id" in columns["prices_normalized"]

    writer(fewer, 7)
    multi_sink_writer(fresh, cfg)(fewer, 7)
    for name in STREAMING_SINKS:
        assert _sink_rows(spark, out, name, 7) == _sink_rows(spark, fresh, name, 7), name
    assert len(_sink_rows(spark, out, "prices_normalized", 7)) == 300

    writer(feats.filter(F.lit(False)), 7)
    for name in STREAMING_SINKS:
        assert _sink_rows(spark, out, name, 7) == [], name
        assert spark.read.parquet(os.path.join(out, name)).columns == columns[name], name


def test_multi_sink_writer_failure_completes_other_sinks_and_releases_pin(
    spark, tmp_path, monkeypatch
):
    """One overlapped sink's job fails: the writer re-raises it, the other
    three sinks' batch directories are written in full, and the pinned
    batch is released."""
    from spark_signals.pipeline import positions as P
    from spark_signals.streaming.job import multi_sink_writer

    cfg = EngineConfig()
    feats = _stand_in_features(spark)
    executions = P.executions
    monkeypatch.setattr(
        P,
        "executions",
        lambda df, cfg: executions(df, cfg).filter(
            F.raise_error(F.lit("injected sink failure")).isNull()
        ),
    )
    out = str(tmp_path / "failed")
    before = persistent_rdd_ids(spark)
    with pytest.raises(Exception, match="injected sink failure"):
        multi_sink_writer(out, cfg)(feats, 3)
    assert persistent_rdd_ids(spark) == before

    monkeypatch.undo()
    fresh = str(tmp_path / "fresh")
    multi_sink_writer(fresh, cfg)(feats, 3)
    for name in STREAMING_SINKS:
        if name == "strategy_executions":
            continue
        assert os.path.exists(os.path.join(out, name, "_batch_id=3", "_SUCCESS")), name
        want = _sink_rows(spark, fresh, name, 3)
        assert _sink_rows(spark, out, name, 3) == want and len(want) > 0, name


def test_multi_sink_writer_jobs_run_in_the_query_job_group(spark, tmp_path):
    """Every job of a streaming query, the overlapped sink writes included,
    runs in the query's job group (its run id), the group
    ``StreamingQuery.stop()`` cancels: the pool threads inherit the
    stream thread's local properties."""
    src = str(tmp_path / "src")
    load_ticks(spark, SF).orderBy("event_time", "sequence").coalesce(1).write.parquet(src)
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup())
    query = run_streaming_job(spark, src, str(tmp_path / "out"))
    assert len(tracker.getJobIdsForGroup(str(query.runId))) >= 4
    assert set(tracker.getJobIdsForGroup()) <= ungrouped


def test_serializer_concat_warning_is_filtered_only_there():
    """pyspark's applyInPandasWithState serializer makes pandas emit one
    concatenation FutureWarning per micro-batch. Importing the feature
    module silences exactly that message from exactly that module; every
    other FutureWarning still gets through. Runs in a fresh interpreter:
    pytest discards filters installed while it collects (imports) tests."""
    import subprocess
    import sys

    probe = """
import warnings
import spark_signals.streaming.features
concat = ("The behavior of DataFrame concatenation with empty or all-NA entries is"
          " deprecated. In a future version, this will no longer exclude empty or"
          " all-NA columns when determining the result dtype.")
serializers = "pyspark.sql.pandas.serializers"
with warnings.catch_warnings(record=True) as caught:
    # show anything the module's filter does not match
    warnings.filterwarnings("always", category=FutureWarning, append=True)
    warnings.warn_explicit(concat, FutureWarning, "serializers.py", 1696, serializers)
    warnings.warn_explicit(concat, FutureWarning, "frame.py", 1, "spark_signals.other")
    warnings.warn_explicit("Another change", FutureWarning, "serializers.py", 1, serializers)
    warnings.warn_explicit(concat, FutureWarning, "x.py", 1, serializers + ".sub")
print([(str(w.message)[:15], w.filename) for w in caught])
"""
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, check=True
    ).stdout
    assert out.strip() == repr(
        [
            ("The behavior of", "frame.py"),
            ("Another change", "serializers.py"),
            ("The behavior of", "x.py"),
        ]
    )
