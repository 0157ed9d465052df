"""Stateful per-key rolling features for Structured Streaming — T4.

Flink SQL runs `LAG` / `LAST_VALUE` / rows-frame `AVG` / `STDDEV_POP`
incrementally on an unbounded keyed stream (reference: sma_cross.py:89-143,
223-230); Spark Structured Streaming forbids window *functions* on streaming
DataFrames (SURVEY.md §7 "What's hard"). This module reproduces them with
``applyInPandasWithState``: per product key, the state carries

  * the exact dp=5 integer micro-units of the last ``max(slow_window,
    volatility_window)`` mids (the Spark analog of Flink's 6h-TTL keyed
    state, reference __main__.py:45),
  * the signal rule's state (the trailing ``confirmation`` spreads for the
    debounce lag),
  * the forward-fill position and previous position.

**Bit-parity with batch:** the batch plan derives every rolling feature
from exact integer window sums (pipeline.normalize._rolling_features). The
replay keeps the same sums — Σu over the fast and slow windows, Σu and Σu²
over the volatility window — as O(1)-per-row running Python ints (add the
entering unit, subtract the evicted one) and applies the same IEEE
operation chain, so the streaming output is identical to the batch window
plan and hash-matches the same DuckDB oracle at any quote magnitude.

Scale: state is O(slow_window) integers per instrument; throughput is
bounded by instrument-key parallelism (thousands of keys ≫ executor slots at
production scale) and Arrow batch transfer — rows reach the processor in
columnar batches.
"""

from __future__ import annotations

import math
import warnings
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from spark_signals.config import EngineConfig
from spark_signals.pipeline.normalize import VOL_DP as _VOL_DP

# Every applyInPandasWithState micro-batch, pyspark's serializer pads its
# output with an all-NA frame it builds itself and concatenates it, which
# makes pandas emit this FutureWarning once per batch. The padding is not
# ours to change, so the one message is ignored, from that module only.
warnings.filterwarnings(
    "ignore",
    message="The behavior of DataFrame concatenation with empty or all-NA entries is deprecated",
    category=FutureWarning,
    module=r"pyspark\.sql\.pandas\.serializers\Z",
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("units", T.ArrayType(T.LongType()), True),
        T.StructField("spreads", T.ArrayType(T.DoubleType()), True),
        T.StructField("position", T.DoubleType(), True),
        T.StructField("has_prev_position", T.BooleanType(), True),
        T.StructField("prev_mid", T.DoubleType(), True),
        T.StructField("has_prev_mid", T.BooleanType(), True),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.StringType(), False),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("sequence", T.LongType(), True),
        T.StructField("mid_price", T.DoubleType(), True),
        T.StructField("returns", T.DoubleType(), True),
        T.StructField("volatility", T.DoubleType(), True),
        T.StructField("best_bid", T.DoubleType(), True),
        T.StructField("best_ask", T.DoubleType(), True),
        T.StructField("spread", T.DoubleType(), True),
        T.StructField("position", T.DoubleType(), True),
        T.StructField("prev_position", T.DoubleType(), True),
        T.StructField("position_change", T.DoubleType(), True),
        T.StructField("volatility_ratio", T.DoubleType(), True),
        T.StructField("spread_ratio", T.DoubleType(), True),
        T.StructField("slippage_rate", T.DoubleType(), True),
        T.StructField("transaction_cost_rate", T.DoubleType(), True),
        T.StructField("trade_cost_rate", T.DoubleType(), True),
        T.StructField("fill_latency_ms", T.LongType(), True),
        T.StructField("signal_type", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
        # SMA accumulator values surfaced so the streaming signals_decisions
        # sink can emit the same P11 JSON metadata as the batch sink
        # (reference wires them onto the sink: sma_cross.py:166-172 via
        # __main__.py:97-115); appended last so positional consumers of the
        # cost columns are undisturbed.
        T.StructField("fast_sma", T.DoubleType(), True),
        T.StructField("slow_sma", T.DoubleType(), True),
    ]
)


FRESH_STATE: tuple = ([], [], 0.0, False, 0.0, False)


# ------------------------------------------------------------ signal rules
# A rule is cfg -> step(mid, fast_sma, slow_sma, volatility, rule_state) ->
# (signal_type, signal_position, confidence, new_rule_state). The
# ``rule_state`` list rides in the STATE_SCHEMA ``spreads`` slot, so adding
# a rule needs no state-schema migration. Each rule replays its batch
# strategy's exact FP operation order — streaming stays bit-identical to
# the corresponding batch plan for every registered strategy.


def sma_rule(cfg: EngineConfig):
    """Debounced SMA crossover (pipeline.sma_cross) — rule_state is the
    trailing ``confirmation`` spread deque (W5's lag)."""
    confirmation = cfg.confirmation

    def step(mid, fast_sma, slow_sma, volatility, rule_state):
        spread = fast_sma - slow_sma
        prev_spread = rule_state[-confirmation] if len(rule_state) >= confirmation else None
        rule_state = (rule_state + [spread])[-confirmation:]
        signal_type = "HOLD"
        signal_position = None
        if prev_spread is not None:
            if spread > 0 and prev_spread <= 0:
                signal_type, signal_position = "LONG", 1.0
            elif spread < 0 and prev_spread >= 0:
                signal_type, signal_position = "SHORT", -1.0
        return signal_type, signal_position, abs(spread), rule_state

    return step


def breakout_rule(cfg: EngineConfig):
    """Bollinger-band breakout (strategies.breakout) — rule_state is the
    single previous band state [-1, 0, +1]."""
    from spark_signals.strategies.breakout import K_BANDS

    def step(mid, fast_sma, slow_sma, volatility, rule_state):
        upper = slow_sma + K_BANDS * volatility
        lower = slow_sma - K_BANDS * volatility
        state = 1.0 if mid > upper else (-1.0 if mid < lower else 0.0)
        prev = rule_state[0] if rule_state else 0.0
        entering = state != 0.0 and prev != state
        if entering:
            signal_type = "LONG" if state == 1.0 else "SHORT"
            signal_position = state
            band = upper if state > 0 else lower
            confidence = abs(mid - band) / volatility if volatility > 0 else 0.0
        else:
            signal_type, signal_position, confidence = "HOLD", None, 0.0
        return signal_type, signal_position, confidence, [state]

    return step


STREAMING_RULES = {
    "sma_cross": sma_rule,
    "breakout": breakout_rule,
}


def prepare_batch(batch: pd.DataFrame, watermark_ms: int) -> pd.DataFrame:
    """Late-row drop + deterministic event-time order for one micro-batch.

    Flink's streaming OVER-aggregates discard rows behind the watermark (T3,
    reference __main__.py:63); Spark's arbitrary-state operators do not do
    this automatically, so enforce it here. The sort bounds within-batch
    disorder, as the reference's 5s watermark contract does across batches.
    """
    if watermark_ms > 0:
        batch = batch[batch["event_time"].astype("int64") // 1_000_000 >= watermark_ms]
    # na_position='first' matches the batch window spec's ascending NULLS
    # FIRST ordering — a null-sequence tick must replay in the same slot as
    # the batch plan or every downstream accumulator diverges
    return batch.sort_values(
        ["event_time", "sequence"], kind="mergesort", na_position="first"
    )


def replay_batch(
    cfg: EngineConfig,
    product_id: str,
    batch: pd.DataFrame,
    state_tuple: tuple,
    rule=None,
) -> tuple[list[dict], tuple]:
    """Run the per-row accumulator replay over one prepared micro-batch.

    Shared core of both arbitrary-state operators (applyInPandasWithState
    and transformWithStateInPandas) so they stay bit-identical. ``rule``
    is a signal-rule step function (see STREAMING_RULES); None = the
    default SMA crossover. Returns (output rows, new state tuple)."""
    rule = rule or sma_rule(cfg)
    slow = cfg.sma_slow_window
    fast = cfg.sma_fast_window
    vol_w = cfg.volatility_window
    keep = max(slow, vol_w)
    tx_rate = cfg.transaction_cost_rate
    slip_base = cfg.slippage_rate
    slip_max = cfg.slippage_max_rate
    vol_mult = cfg.slippage_volatility_multiplier
    spread_mult = cfg.slippage_spread_multiplier
    lat_base = cfg.fill_latency_ms
    lat_hi = cfg.fill_latency_ms + cfg.fill_latency_jitter_ms
    lat_vol = float(cfg.fill_latency_volatility_ms)

    units, rule_state, position, has_prev_pos, prev_mid, has_prev_mid = state_tuple
    # Python ints: a numpy int64 from the state row would overflow on u²
    units = [int(u) for u in units]
    rule_state = list(rule_state)
    out_rows: list[dict] = []

    # Exact window sums, updated in O(1) per row: the batch plan's Σu over
    # the fast and slow windows and Σu / Σu² over the volatility window
    # (pipeline.normalize._rolling_features), as unbounded Python ints.
    scale = float(10**_VOL_DP)
    fast_sum = sum(units[-fast:])
    slow_sum = sum(units[-slow:])
    vol_sum = sum(units[-vol_w:])
    vol_sq = sum(u * u for u in units[-vol_w:])

    for row in batch.itertuples(index=False):
        bid = None if pd.isna(row.best_bid) else float(row.best_bid)
        ask = None if pd.isna(row.best_ask) else float(row.best_ask)
        price = float(row.price)
        mid = (bid + ask) / 2 if (bid is not None and ask is not None) else price

        returns = None
        if has_prev_mid and prev_mid != 0:
            returns = (mid - prev_mid) / prev_mid

        # evict the unit each window drops, then add the entering one
        u = math.floor(mid * scale + 0.5000001)
        seen = len(units)
        if seen >= fast:
            fast_sum -= units[-fast]
        if seen >= slow:
            slow_sum -= units[-slow]
        if seen >= vol_w:
            old = units[-vol_w]
            vol_sum -= old
            vol_sq -= old * old
        units.append(u)
        if seen == keep:
            del units[0]
        fast_sum += u
        slow_sum += u
        vol_sum += u
        vol_sq += u * u

        # the batch plan's IEEE chain: one exact int → DOUBLE conversion per
        # operand, then the divisions (float() explicitly — int / int in
        # Python rounds the exact quotient, not the converted operands)
        fast_sma = float(fast_sum) / float(min(seen + 1, fast)) / scale
        slow_sma = float(slow_sum) / float(min(seen + 1, slow)) / scale
        n = min(seen + 1, vol_w)
        volatility = math.sqrt(float(n * vol_sq - vol_sum * vol_sum) / float(n * n)) / scale

        signal_type, signal_position, confidence, rule_state = rule(
            mid, fast_sma, slow_sma, volatility, rule_state
        )

        prev_position = position if has_prev_pos else None
        if signal_position is not None:
            position = signal_position
        # else: forward-fill (position unchanged)

        quote_spread = (ask - bid) if (bid is not None and ask is not None) else None
        mid_bad = mid == 0
        volatility_ratio = 0.0 if mid_bad else (volatility if volatility is not None else 0.0) / mid
        spread_ratio = 0.0 if (mid_bad or quote_spread is None) else quote_spread / mid

        slip_raw = slip_base + volatility_ratio * vol_mult + spread_ratio * spread_mult
        slippage_rate = 0.0 if slip_raw < 0 else (slip_max if slip_raw > slip_max else slip_raw)
        # same inner dp=6 grid as the batch plan (positions.py latency)
        lat_raw = lat_base + int(math.floor(math.floor(lat_vol * volatility_ratio * 1e6 + 0.5000001) / 1e6))
        fill_latency = lat_base if lat_raw < lat_base else (lat_hi if lat_raw > lat_hi else lat_raw)

        out_rows.append(
            {
                "product_id": product_id,
                "event_time": row.event_time,
                "sequence": row.sequence,
                "mid_price": mid,
                "returns": returns,
                "volatility": volatility,
                "best_bid": bid,
                "best_ask": ask,
                "spread": quote_spread,
                "position": position,
                "prev_position": prev_position,
                "position_change": position - (prev_position if prev_position is not None else 0.0),
                "volatility_ratio": volatility_ratio,
                "spread_ratio": spread_ratio,
                "slippage_rate": slippage_rate,
                "transaction_cost_rate": tx_rate,
                "trade_cost_rate": slippage_rate + tx_rate,
                "fill_latency_ms": fill_latency,
                "signal_type": signal_type,
                "confidence": confidence,
                "fast_sma": fast_sma,
                "slow_sma": slow_sma,
            }
        )

        prev_mid, has_prev_mid = mid, True
        has_prev_pos = True

    return out_rows, (units, rule_state, position, has_prev_pos, prev_mid, has_prev_mid)


def rows_to_frame(out_rows: list[dict]) -> pd.DataFrame:
    return pd.DataFrame(out_rows, columns=[f.name for f in OUTPUT_SCHEMA.fields])


def make_feature_processor(cfg: EngineConfig, strategy: str = "sma_cross"):
    """Build the applyInPandasWithState function for the given config and
    registered signal rule."""
    rule = STREAMING_RULES[strategy](cfg)

    def process(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        state_tuple = state.get if state.exists else FRESH_STATE
        batch = prepare_batch(
            pd.concat(list(pdfs), ignore_index=True), state.getCurrentWatermarkMs()
        )
        out_rows, new_state = replay_batch(cfg, key[0], batch, state_tuple, rule)
        state.update(new_state)
        yield rows_to_frame(out_rows)

    return process


def stateful_features(
    ticks: DataFrame, cfg: EngineConfig, strategy: str = "sma_cross"
) -> DataFrame:
    """ticks (streaming or batch grouped) → positions_costs-parity rows.

    ``strategy`` selects a STREAMING_RULES entry — the streaming analog of
    the batch strategy registry; each rule is held to the same
    bit-identical-to-batch gate as the default SMA crossover."""
    return (
        ticks.groupBy("product_id")
        .applyInPandasWithState(
            make_feature_processor(cfg, strategy),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
