"""Open-loop tick generator for the live phase, run as its own process.

    python3 perfbench/livegen.py '<spec json>'

Before it reports ready, it builds every raw ticker payload
(gen.live_payloads) and stages every file it will publish: each chunk goes
through the engine's feeder, ``io.feeder.write_json_ticks``, which validates
each payload and drops the malformed ones, into a private directory. So the
timed phases only rename files. Each rename is atomic and into the watched
directory under a name never used before, so the file source never sees a
partial or overwritten file (``write_json_ticks`` itself writes in place and
restarts its numbering at ``ticks-00000.json`` on every call).

Commands arrive on stdin and replies leave on stdout, one JSON object per
line:

    {"cmd": "warmup"}             publish the warm-up file now
    {"cmd": "nominal", "t0": T}   open loop from wall time T: each file of
                                  ``chunk`` ticks is published when its last
                                  tick is due, at ``rate`` ticks/s, for
                                  ``nominal_s`` seconds
    {"cmd": "burst", "t": T}      land the burst at wall time T
    {"cmd": "stop"}               reply with the publish log and exit

Every publish is logged with its due and actual wall times (``time.time``,
the clock the benchmark stamps commits with).
"""

from __future__ import annotations

import json
import os
import sys
import time

WARMUP_TICKS = 1000  # one file


def main() -> int:
    spec = json.loads(sys.argv[1])
    sys.path.insert(0, spec["repo"])
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from gen import live_payloads
    from spark_signals.io.feeder import write_json_ticks

    rate, chunk = spec["rate"], spec["chunk"]
    nominal_n = int(rate * spec["nominal_s"])
    burst_n = spec["burst_ticks"]
    warm_n = WARMUP_TICKS
    total = warm_n + nominal_n + burst_n

    payloads, broken = live_payloads(
        spec["seed"], total, spec["instruments"], spec["zipf_s"], rate, spec["malformed"]
    )

    watch, stage = spec["watch"], spec["stage"]
    os.makedirs(watch, exist_ok=True)
    os.makedirs(stage, exist_ok=True)

    def stage_files(start: int, n: int, per_file: int) -> list[dict]:
        """Feed payloads [start, start + n) through the feeder, ``per_file``
        to a file, into private directories."""
        files = []
        for lo in range(start, start + n, per_file):
            hi = min(lo + per_file, start + n)
            name = f"ticks-{lo:08d}.json"
            t = time.perf_counter()
            [path] = write_json_ticks(payloads[lo:hi], os.path.join(stage, name), batch_size=hi - lo)
            took = time.perf_counter() - t
            with open(path) as f:
                accepted = sum(1 for _ in f)
            files.append(
                {
                    "path": path,
                    "final": os.path.join(watch, name),
                    "lo": lo,
                    "hi": hi,
                    "accepted": accepted,
                    "expected": int((~broken[lo:hi]).sum()),
                    "stage_ms": took * 1000.0,
                }
            )
        return files

    [warm] = stage_files(0, warm_n, warm_n)
    nominal = stage_files(warm_n, nominal_n, chunk)
    # one file, so the whole burst lands at once
    burst = stage_files(warm_n + nominal_n, burst_n, burst_n)
    log: list[dict] = []

    def publish(f: dict, phase: str, due: float) -> None:
        os.rename(f["path"], f["final"])
        published = time.time()
        os.rmdir(os.path.dirname(f["path"]))
        log.append(
            {
                "phase": phase,
                **{k: f[k] for k in ("lo", "hi", "accepted", "expected", "stage_ms")},
                "due": due,
                "published": published,
            }
        )

    def sleep_until(wall: float) -> None:
        delay = wall - time.time()
        if delay > 0:
            time.sleep(delay)

    def reply(obj: dict) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    reply({"watch": watch})
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "warmup":
            publish(warm, "warmup", time.time())
            reply({"accepted": warm["accepted"], "published": log[-1]["published"]})
        elif cmd["cmd"] == "nominal":
            t0 = cmd["t0"]
            for f in nominal:
                # a file is due when its last tick is
                due = t0 + (f["hi"] - 1 - warm_n) / rate
                sleep_until(due)
                publish(f, "nominal", due)
            reply({"accepted": sum(f["accepted"] for f in nominal)})
        elif cmd["cmd"] == "burst":
            sleep_until(cmd["t"])
            [f] = burst
            publish(f, "burst", cmd["t"])
            reply({"accepted": f["accepted"]})
        elif cmd["cmd"] == "stop":
            reply({"log": log})
            return 0
        else:
            raise ValueError(f"unknown command: {cmd}")
    return 1


if __name__ == "__main__":
    sys.exit(main())
