"""BTC-scale quotes: batch plan, DuckDB oracle and streaming replay agree.

The reference's main instrument is BTC-USD, quoted far above $30k. The
rolling features square dp=5 micro-units of the mid (≈ 9.7e9 at $97k), so
any 64-bit square overflows there. This builds an 80-tick series around
$97k on two instruments and holds the two sinks the rolling features feed
to the oracle with no tolerance, and the streaming replay to the batch
positions_costs rows bit for bit.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spark_signals import parity as PAR
from spark_signals.config import EngineConfig
from spark_signals.io.sources import load_ticks
from spark_signals.pipeline.builder import build_pipeline
from spark_signals.streaming.features import FRESH_STATE, prepare_batch, replay_batch

N_TICKS = 80


@pytest.fixture(scope="module")
def btc_dir(tmp_path_factory):
    """events.parquet of 80 ticks: two instruments random-walking around
    $97k in cents, every fifth tick an 'error' row (bid/ask NULL, so the
    mid falls back to the trade price)."""
    rng = np.random.default_rng(97)
    keys = np.arange(N_TICKS) % 2
    walk = np.cumsum(rng.normal(0.0, 150.0, size=N_TICKS))
    prices = np.round(97_000.0 + 40.0 * keys + walk, 2)
    t0 = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(N_TICKS, dtype=np.int64)),
            "ts": pa.array(t0 + np.arange(N_TICKS) * 1_000_000, type=pa.timestamp("us")),
            "user_id": pa.array(keys.astype(np.int64)),
            "event_type": pa.array(
                ["error" if i % 5 == 4 else "purchase" for i in range(N_TICKS)]
            ),
            "value": pa.array(prices, type=pa.float64()),
            "props": pa.array(['{"k": 0}'] * N_TICKS),
        }
    )
    d = tmp_path_factory.mktemp("btc")
    pq.write_table(table, d / "events.parquet")
    return str(d)


def _oracle(btc_dir: str, sql: str, columns: list[str]) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{btc_dir}/events.parquet')"
        )
        # the oracle's column order differs from the sink's; select by name
        return sorted(
            con.execute(f"SELECT {', '.join(columns)} FROM ({sql})").fetchall(), key=repr
        )
    finally:
        con.close()


# sink → (oracle SQL, the rounding parity.py applies to the Spark side)
_ORACLE = {
    "prices_normalized": (PAR.SQL_NORMALIZED, {"volatility": PAR.DP}),
    "signals_decisions": (PAR.SQL_SIGNALS_DECISIONS, {"confidence": PAR.DP}),
}


@pytest.mark.parametrize("sink", sorted(_ORACLE))
def test_btc_scale_sinks_equal_oracle(spark, btc_dir, sink):
    sql, rounding = _ORACLE[sink]
    got_df = PAR._round_cols(
        build_pipeline(load_ticks(spark, btc_dir), EngineConfig()).sinks()[sink], rounding
    )
    got = sorted((tuple(r) for r in got_df.collect()), key=repr)
    assert len(got) > 0
    assert got == _oracle(btc_dir, sql, got_df.columns)


def test_btc_scale_replay_equals_batch(spark, btc_dir):
    """The streaming replay over the same ticks equals the batch
    positions_costs rows, and its signals the batch crossover signals."""
    cfg = EngineConfig()
    ticks = load_ticks(spark, btc_dir)
    out = build_pipeline(ticks, cfg)
    pdf = ticks.toPandas()
    got = []
    for pid, group in pdf.groupby("product_id"):
        rows, _ = replay_batch(cfg, pid, prepare_batch(group, -1), FRESH_STATE)
        got += rows
    got = pd.DataFrame(got).sort_values(["product_id", "sequence"]).reset_index(drop=True)

    cost_cols = [c for c in out.positions_costs.columns if c != "event_time"]
    want = (
        out.positions_costs.select(*cost_cols)
        .toPandas()
        .sort_values(["product_id", "sequence"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[cost_cols], want, check_dtype=False, check_exact=True
    )

    sig_cols = ["signal_type", "confidence", "fast_sma", "slow_sma"]
    want_sig = (
        out.crossover_signals.selectExpr("instrument_id AS product_id", "sequence", *sig_cols)
        .toPandas()
        .sort_values(["product_id", "sequence"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["product_id", "sequence", *sig_cols]], want_sig, check_exact=True
    )
    assert (want_sig.signal_type != "HOLD").any()
