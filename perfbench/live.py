"""Workload ``live``: an open loop from one separate generator process
(``livegen.py``) into the streaming query ``run_streaming_job`` composes
(``read_tick_stream`` → ``build_streaming_features`` →
``multi_sink_writer``), on the default as-soon-as-possible trigger:
``run_streaming_job`` hard-codes a 60 s processing-time trigger, which
would make latency measure only the trigger period.

Input: 200 instruments, Zipf-skewed so one hot key dominates, about 1%
malformed payloads. A nominal phase at a fixed 2,000 ticks/s (about 10
ticks/s per instrument), then one reconnect-style burst.

A tick's latency is the time its micro-batch's sink writes returned minus
the time the tick was due at the generator. Which batch wrote which tick is
read back from the ``_batch_id`` partitions of the sink, after the run.

Why: Python stateful features and small, frequent sink writes do the work;
the batch window plan stays idle. Rate, burstiness and key skew vary.
"""

from __future__ import annotations

import bisect
import json
import os
import subprocess
import sys
import time

from common import Interval, median, pct

INSTRUMENTS = 200
ZIPF_S = 1.1
RATE = 500  # ticks/s in the nominal phase
CHUNK = 200  # ticks per published file in the nominal phase (100 ms)
BURST_TICKS = 15_000  # one burst, published as one file
MALFORMED = 0.01
LATE_LIMIT_MS = 250.0  # a nominal file published later than this fails its ticks
HERE = os.path.dirname(os.path.abspath(__file__))

STREAMING = (
    "batches",
    "batch_rows",
    "trigger_ms",
    "addBatch_ms",
    "queryPlanning_ms",
    "walCommit_ms",
    "commitOffsets_ms",
    "writer_ms",
    "state_rows",
    "state_bytes",
    "state_commit_ms",
    "backlog_ticks",
)


class Generator:
    """The generator process and its line protocol (see livegen.py)."""

    def __init__(self, spec: dict):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "livegen.py"), json.dumps(spec)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.ready = self._read()

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"live generator exited with {self.proc.wait()}")
        return json.loads(line)

    def ask(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


class Query:
    """The streaming query, with the wall time each batch's sink writes
    returned."""

    def __init__(self, run, watch: str, base: str):
        from spark_signals.streaming.job import (
            build_streaming_features,
            multi_sink_writer,
            read_tick_stream,
        )

        self.sink_root = os.path.join(base, "sinks")
        writer = multi_sink_writer(self.sink_root, run.cfg)
        self.done: dict[int, float] = {}

        def on_batch(batch_df, batch_id: int) -> None:
            with run.tracer.span("streaming.writer_ms"):
                writer(batch_df, batch_id)
            self.done[batch_id] = time.time()

        ticks = read_tick_stream(run.spark, watch, fmt="json")
        self.query = (
            build_streaming_features(ticks, run.cfg)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(base, "checkpoint"))
            .outputMode("append")
            .start()
        )

    def written(self, first_batch: int) -> dict[int, float]:
        """Sequence → write time of every tick that batches from
        ``first_batch`` on wrote."""
        import pyarrow.parquet as pq

        out = {}
        for bid in sorted(b for b in self.done if b >= first_batch):
            part = os.path.join(self.sink_root, "prices_normalized", f"_batch_id={bid}")
            if os.path.isdir(part):
                for s in pq.read_table(part, columns=["sequence"]).column(0).to_pylist():
                    out[s] = self.done[bid]
        return out


def run(run, seconds: float) -> dict:
    """Set-up (each repetition starts a generator, which builds and stages
    its payloads; the pre-state is the started query), the warm-up file as
    the first operation, the nominal phase for ``seconds``, then the
    burst."""
    import check

    tr = run.tracer
    gens: list[Generator] = []
    base = os.path.join(run.work, "live")

    def make_inputs() -> None:
        if gens:
            gens[-1].close()
        d = os.path.join(base, f"input-{len(gens)}")
        spec = {
            "repo": run.root,
            "seed": run.seed,
            "instruments": INSTRUMENTS,
            "zipf_s": ZIPF_S,
            "rate": RATE,
            "chunk": CHUNK,
            "nominal_s": seconds,
            "burst_ticks": BURST_TICKS,
            "malformed": MALFORMED,
            "watch": os.path.join(d, "watch"),
            "stage": os.path.join(d, "stage"),
        }
        gens.append(Generator(spec))
        run.peak.exclude.add(gens[-1].proc.pid)

    queries: list[Query] = []
    try:
        setup_s = run.setup(
            make_inputs, lambda: queries.append(Query(run, gens[-1].ready["watch"], base))
        )
        gen, q = gens[-1], queries[-1]
        first = Interval()
        published = gen.ask(cmd="warmup")["published"]
        q.query.processAllAvailable()
        first.stop()
        tr.spans.pop("streaming.writer_ms", None)
        first_timed = max(q.done) + 1

        t0 = time.time() + 0.2
        nominal_iv = Interval()
        gen.ask(cmd="nominal", t0=t0)
        q.query.processAllAvailable()
        nominal_iv.stop()
        landed = time.time() + 0.2
        burst_iv = Interval()
        gen.ask(cmd="burst", t=landed)
        q.query.processAllAvailable()
        burst_iv.stop()
        progress = [p for p in q.query.recentProgress if p.batchId >= first_timed]
        log = gen.ask(cmd="stop")["log"]
    finally:
        for query in queries:
            query.query.stop()
        for g in gens:
            g.close()
    peak_mb = run.peak.stop_mb()

    seq_done = q.written(first_timed)
    nominal = [f for f in log if f["phase"] == "nominal"]
    [burst] = [f for f in log if f["phase"] == "burst"]
    lo = nominal[0]["lo"]
    lat = [
        (seq_done[s] - (t0 + (s - lo) / RATE)) * 1000.0 * nominal_iv.factor
        for s in range(lo, nominal[-1]["hi"])
        if s in seq_done
    ]
    burst_seqs = [s for s in range(burst["lo"], burst["hi"]) if s in seq_done]
    late = [(f["published"] - f["due"]) * 1000.0 for f in nominal]
    layer = {}
    if tr.enabled:
        layer = layer_metrics(progress, log, late, nominal_backlog(nominal, seq_done))
        layer["streaming.writer_ms"] = median(tr.spans["streaming.writer_ms"])

    # ---- correctness gates: feeder drops, sink rows, streamed == batch
    accepted = sum(f["accepted"] for f in log)
    well_formed = sum(f["expected"] for f in log)
    written = run.spark.read.parquet(os.path.join(q.sink_root, "prices_normalized")).count()
    parity = check.live_parity(run.spark, gen.ready["watch"], q.sink_root)
    late_ticks = sum(f["accepted"] for f, ms in zip(nominal, late) if ms > LATE_LIMIT_MS)
    failed = min(
        accepted,
        abs(accepted - well_formed) + abs(accepted - written) + sum(parity.values()) + late_ticks,
    )
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "first_s": (q.done[0] - published) * first.factor,
        "p50_ms": pct(lat, 50),
        "p90_ms": pct(lat, 90),
        "throughput_per_s": len(burst_seqs)
        / ((max(seq_done[s] for s in burst_seqs) - landed) * burst_iv.factor),
        "attempted": accepted,
        "failed": failed,
        "layer": layer,
        "notes": [
            f"ticks: {len(lat)} nominal at {RATE}/s, burst of {len(burst_seqs)}; "
            "throughput is burst ticks/s",
            f"accepted {accepted} of {well_formed} well-formed payloads, {written} written, "
            f"{late_ticks} published late",
            f"streamed rows differing from the batch pipeline: {parity}",
            f"share of CPU time not stolen: first {first.factor:.3f}, "
            f"nominal {nominal_iv.factor:.3f}, burst {burst_iv.factor:.3f}",
        ],
    }


def nominal_backlog(nominal: list[dict], seq_done: dict[int, float]) -> int:
    """Most nominal ticks published but not yet written, seen as each batch
    ends; it keeps growing when the query cannot keep up with the rate."""
    written = sorted(seq_done[s] for f in nominal for s in range(f["lo"], f["hi"]) if s in seq_done)
    worst = 0
    for t in sorted(set(written)):
        published = sum(f["accepted"] for f in nominal if f["published"] <= t)
        worst = max(worst, published - bisect.bisect_right(written, t))
    return worst


def layer_metrics(progress, log, late, backlog) -> dict:
    """Streaming counters from ``recentProgress``, the feeder's counts from
    the generator's staging log, and the generator's lateness."""

    def durations(key):
        return median([p.durationMs.get(key, 0) for p in progress])

    def state(key):
        return [sum(op[key] for op in p.stateOperators) for p in progress if p.stateOperators]

    staged = [f for f in log if f["phase"] in ("nominal", "burst")]
    accepted = sum(f["accepted"] for f in staged)
    offered = sum(f["hi"] - f["lo"] for f in staged)
    return {
        "streaming.batches": len(progress),
        "streaming.batch_rows": median([p.numInputRows for p in progress]),
        "streaming.trigger_ms": durations("triggerExecution"),
        "streaming.addBatch_ms": durations("addBatch"),
        "streaming.queryPlanning_ms": durations("queryPlanning"),
        "streaming.walCommit_ms": durations("walCommit"),
        "streaming.commitOffsets_ms": durations("commitOffsets"),
        "streaming.state_rows": state("numRowsTotal")[-1],
        "streaming.state_bytes": state("memoryUsedBytes")[-1],
        "streaming.state_commit_ms": median(state("commitTimeMs")),
        "streaming.backlog_ticks": backlog,
        "feeder.publish_ms": median([f["stage_ms"] for f in staged]),
        "feeder.accepted": accepted,
        "feeder.dropped": offered - accepted,
        "feeder.accept_ratio": accepted / offered,
        "gen.late_p99_ms": pct(late, 99),
    }
