"""Seeded input generators owned by the benchmark.

The program under test only ever receives what these functions produce:

* ``write_events`` writes an ``events.parquet`` in the events schema
  (event_id, ts, user_id, event_type, value, props), which
  ``spark_signals.io.sources.load_ticks`` and the DuckDB oracle chain
  (``spark_signals.oracle.ticks_cte``) both read, so the two engines see
  bit-identical input.
* ``live_payloads`` returns raw ticker payloads in the shape the feeder
  validates (``spark_signals.io.feeder.prepare_payload``), including a share
  of malformed ones the feeder must drop.

Each workload sets its own instrument count; the history is keyed
uniformly, the live payloads with a Zipf skew. The same seed always gives
the same inputs.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
# share of 'error' rows: load_ticks nulls best_bid/best_ask on them, which
# exercises the mid-price fallback in pipeline.normalize
EVENT_TYPE_P = np.array([0.25, 0.25, 0.2, 0.15, 0.15])

HISTORY_START = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
LIVE_START = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)


def instrument_keys(
    rng: np.random.Generator, n: int, n_instruments: int, zipf_s: float
) -> np.ndarray:
    """n instrument indices in [0, n_instruments): uniform when ``zipf_s`` is
    0, else Zipf-skewed with exponent ``zipf_s`` so index 0 is the hot key."""
    if zipf_s <= 0:
        return rng.integers(0, n_instruments, size=n)
    weights = 1.0 / np.arange(1, n_instruments + 1) ** zipf_s
    return rng.choice(n_instruments, size=n, p=weights / weights.sum())


def random_walk_prices(
    rng: np.random.Generator, keys: np.ndarray, n_instruments: int, vol: float
) -> np.ndarray:
    """Per-instrument geometric random walk, in tick order, rounded to cents.

    Ticks are assumed to be in time order; each instrument's path is the
    cumulative sum of its own log-returns. Start prices stay in the range
    the engine's exact-integer volatility grid is sized for
    (pipeline.normalize.VOL_DP)."""
    start = rng.uniform(20.0, 400.0, size=n_instruments)
    steps = rng.normal(0.0, vol, size=len(keys))
    order = np.argsort(keys, kind="stable")
    sorted_keys = keys[order]
    cum = np.cumsum(steps[order])
    # subtract each instrument's running total before its first tick so
    # every path restarts from zero
    first = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    offsets = np.repeat(cum[first] - steps[order][first], np.diff(np.r_[first, len(keys)]))
    walk = np.empty(len(keys))
    walk[order] = cum - offsets
    return np.maximum(np.round(start[keys] * np.exp(walk), 2), 0.01)


def write_events(
    path: str,
    seed: int,
    n_ticks: int,
    n_instruments: int,
    days: int,
) -> int:
    """Write a history of ``n_ticks`` ticks over ``days`` days, keyed
    uniformly over ``n_instruments``, as ``events.parquet`` (timestamp[us],
    the flavour ``load_ticks`` normalizes to UTC TIMESTAMP). Returns the row
    count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    span_us = days * 86_400_000_000
    offsets = np.sort(rng.integers(0, span_us, size=n_ticks))
    base_us = int(HISTORY_START.timestamp() * 1_000_000)
    keys = instrument_keys(rng, n_ticks, n_instruments, 0.0)
    prices = random_walk_prices(rng, keys, n_instruments, vol=0.002)
    event_types = EVENT_TYPES[rng.choice(len(EVENT_TYPES), size=n_ticks, p=EVENT_TYPE_P)]
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ticks).astype(str)), "}")
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_ticks, dtype=np.int64)),
            "ts": pa.array(base_us + offsets, type=pa.timestamp("us")),
            "user_id": pa.array(keys.astype(np.int64)),
            "event_type": pa.array(event_types.tolist(), type=pa.string()),
            "value": pa.array(prices, type=pa.float64()),
            "props": pa.array(props.tolist(), type=pa.string()),
        }
    )
    pq.write_table(table, path)
    return n_ticks


# ------------------------------------------------------------------ live
def _malform(rng: np.random.Generator, payload: dict) -> dict:
    """One of the ways a ticker payload arrives broken; each one is a drop
    under the feeder's contract."""
    kind = int(rng.integers(0, 4))
    bad = dict(payload)
    if kind == 0:
        del bad["price"]
    elif kind == 1:
        bad["price"] = "n/a"
    elif kind == 2:
        bad["event_time"] = "not-a-time"
    else:
        bad["price"] = "nan"
    return bad


def live_payloads(
    seed: int,
    n: int,
    n_instruments: int,
    zipf_s: float,
    rate: float,
    malformed: float,
) -> tuple[list[dict], np.ndarray]:
    """``n`` raw ticker payloads, sequence 0..n-1, event time advancing by
    ``1/rate`` seconds per tick (millisecond resolution), Coinbase-style
    string prices, and the mask of the ones deliberately broken (about
    ``malformed`` of them)."""
    rng = np.random.default_rng(seed)
    keys = instrument_keys(rng, n, n_instruments, zipf_s)
    prices = random_walk_prices(rng, keys, n_instruments, vol=0.0005)
    broken = rng.random(n) < malformed
    sides = np.where(rng.random(n) < 0.5, "buy", "sell")
    volumes = np.round(rng.uniform(100.0, 1000.0, n), 2)
    out = []
    for i in range(n):
        px = float(prices[i])
        t = LIVE_START + dt.timedelta(milliseconds=int(i * 1000 / rate))
        payload = {
            "product_id": f"I{int(keys[i]):04d}-USD",
            "price": f"{px:.2f}",
            "best_bid": f"{px * 0.9995:.4f}",
            "best_ask": f"{px * 1.0005:.4f}",
            "volume_24h": f"{volumes[i]:.2f}",
            "sequence": i,
            "side": str(sides[i]),
            "event_time": t.isoformat(timespec="milliseconds").replace("+00:00", "Z"),
            "source": "perfbench",
        }
        out.append(_malform(rng, payload) if broken[i] else payload)
    return out, broken
