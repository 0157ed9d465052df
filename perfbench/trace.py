"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded by the benchmark around its own calls into each layer
of ``spark_signals``; nothing inside the package is instrumented. The
counters come from what Spark already exposes: the status store's stage
metrics (shuffle and spill bytes), ``StreamingQuery.recentProgress`` and
the files the sinks leave on disk. Everything is kept in memory and
summarized once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections import defaultdict


class Tracer:
    """Named spans (milliseconds). ``active`` switches recording
    on and off inside one traced run, so the run can alternate traced and
    untraced operations and report the difference as tracing overhead."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = enabled
        self.spans: dict[str, list[float]] = defaultdict(list)
        # (last stage id before, last stage id after) each traced backtest
        self.stage_ranges: list[tuple[int, int]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        t = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name].append((time.perf_counter() - t) * 1000.0)

    @contextlib.contextmanager
    def sink_writes(self):
        """Time each parquet write ``io.sinks.write_sinks`` makes, one span
        per sink table (named by its directory), by wrapping pyspark's
        ``DataFrameWriter.parquet`` for the duration of the block."""
        if not self.active:
            yield
            return
        from pyspark.sql.readwriter import DataFrameWriter

        original = DataFrameWriter.parquet

        def timed(writer, path, *args, **kwargs):
            t = time.perf_counter()
            try:
                return original(writer, path, *args, **kwargs)
            finally:
                name = os.path.basename(os.path.normpath(path))
                self.spans[f"sinks.{name}.write_ms"].append((time.perf_counter() - t) * 1000.0)

        DataFrameWriter.parquet = timed
        try:
            yield
        finally:
            DataFrameWriter.parquet = original


# ------------------------------------------------------ Spark's counters
def _stages(spark):
    """Every stage the status store still holds, newest first."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    return store.stageList(
        None,
        False,
        False,
        spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )


def last_stage_id(spark) -> int:
    stages = _stages(spark)
    return stages.apply(0).stageId() if stages.size() else -1


def stage_bytes(spark, lo: int, hi: int) -> tuple[int, int]:
    """Shuffle-write and spilled (memory + disk) bytes of the stages with
    ``lo < stageId <= hi``. The status store is fed asynchronously, so call
    this a moment after the work ends."""
    stages = _stages(spark)
    shuffle = spill = 0
    for i in range(stages.size()):
        s = stages.apply(i)
        sid = s.stageId()
        if sid <= lo:
            break
        if sid <= hi:
            shuffle += s.shuffleWriteBytes()
            spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return shuffle, spill


def files_on_disk(path: str) -> tuple[int, int]:
    """Data files and their bytes under a table directory."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
