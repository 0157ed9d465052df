"""Signal-path benchmark for spark_signals.

    python3 perfbench/run.py --workload {history,live} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository. ``history`` runs
backtests and then dashboard reads of what they wrote (history.py);
``live`` streams ticks from a generator process (live.py). Every run goes
through:

1. set-up: session start and input generation, three times (the first
   also launches the JVM), then the workload's pre-state once;
2. the first operation after set-up, in the fresh session;
3. operations for ``--seconds``;
4. the correctness gates (check.py), untimed.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer ones). The exit code is 1 when a gate failed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SETUPS = 3

# end-to-end metrics; every workload reports each for its own operation
UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "first_s": "s",
    "p50_ms": "ms",
    "p90_ms": "ms",
    "throughput_per_s": "1/s",
}


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args, work: str):
        from common import PeakRss
        from trace import Tracer

        from spark_signals.config import EngineConfig

        self.root = ROOT
        self.work = work
        self.seed = args.seed
        self.tracer = Tracer(bool(args.trace))
        self.cfg = EngineConfig()
        self.input_dir = os.path.join(work, "input")
        self.spark = None
        self.peak = PeakRss(exclude=set()).start()

    def restart_session(self) -> None:
        """Stop the session if there is one and start a new one; the first
        call also launches the JVM."""
        from spark_signals.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")

    def setup(self, make_inputs, pre_state=None) -> float:
        """Set-up time: the median of ``SETUPS`` session starts each
        followed by ``make_inputs()``, plus one ``pre_state()`` (steal
        taken out, see common.Interval)."""
        from common import Interval, median

        times = []
        for _ in range(SETUPS):
            iv = Interval()
            self.restart_session()
            make_inputs()
            times.append(iv.stop().seconds)
        iv = Interval()
        if pre_state is not None:
            pre_state()
        return median(times) + iv.stop().seconds

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    import history
    import live

    workloads = {"history": history, "live": live}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "spark_signals", "__init__.py")):
        print(f"perfbench: no spark_signals package under {ROOT}", file=sys.stderr)
        return 2

    from common import configure_env, versions

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        env = configure_env(work, ROOT)
        sys.path.insert(0, ROOT)
        info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds}
        print("# " + json.dumps({**info, "trace": args.trace, **env, **versions()}))
        run = Run(args, work)
        try:
            res = workloads[args.workload].run(run, args.seconds)
        finally:
            run.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work))

    for line in res["notes"]:
        print(f"# {line}")
    if args.trace:
        metrics = {name: (value, unit_of(name)) for name, value in per_layer(res).items()}
    else:
        metrics = {name: (res[name], unit) for name, unit in UNITS.items()}
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {name: {"value": float(v), "unit": u} for name, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if res["failed"] == 0 else 1


def per_layer_names() -> list[str]:
    """Every per-layer metric; a traced run prints all of them, and a layer
    the workload does not call reads 0 (README.md maps each metric to the
    workload it moves on)."""
    from backtest import SINKS
    from dashboard import PANELS
    from live import STREAMING

    return (
        ["sources.load_ms", "sources.rows"]
        + [
            f"pipeline.{m}"
            for m in ("build_ms", "prefix_ms", "prefix_rows", "shuffle_bytes", "spill_bytes")
        ]
        + [f"sinks.{sink}.{m}" for sink in SINKS for m in ("write_ms", "files", "bytes")]
        + ["feeder.publish_ms", "feeder.accepted", "feeder.dropped", "feeder.accept_ratio"]
        + [f"streaming.{m}" for m in STREAMING]
        + [f"serving.{panel}_ms" for panel in PANELS]
        + ["serving.scan_files", "gen.late_p99_ms", "trace.overhead_pct"]
    )


def per_layer(res: dict) -> dict:
    names = per_layer_names()
    layer = res["layer"]
    unknown = set(layer) - set(names)
    if unknown:
        raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return {name: layer.get(name, 0.0) for name in names}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
