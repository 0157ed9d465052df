"""Three-implementation equivalence of the rounding primitives.

Every cross-engine parity claim now rests on `spark_signals.rounding`:
sround / micro_units in Spark expressions, the same formulas inline in the
DuckDB oracle SQL, and sround_py in the streaming Python replay. This
property test pins all three to bit-identical outputs over adversarial
doubles (grid-boundary neighborhoods, huge/tiny magnitudes, negatives) so
a drift in any one implementation fails loudly here instead of as a
once-a-round hash flake.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_signals.rounding import micro_units, sql_str_lit, sround, sround_py

# values around grid boundaries at several dp, plus wide-range floats
_boundaryish = st.integers(-10**7, 10**7).flatmap(
    lambda k: st.sampled_from(
        [k / 1e3, k / 1e3 + 5e-4, k / 1e3 - 5e-4, k / 1e6, k / 1e9]
    )
)
_wide = st.floats(
    min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False
)
_vals = st.one_of(_boundaryish, _wide)


def _duck_sround(con, x: float, dp: int) -> float:
    return con.execute(
        f"SELECT floor(CAST(? AS DOUBLE) * 1e{dp} + 0.5000001) / 1e{dp}", [x]
    ).fetchone()[0]


@settings(max_examples=300, deadline=None)
@given(x=_vals, dp=st.sampled_from([2, 4, 6, 9]))
def test_sround_py_matches_duckdb(x, dp):
    con = duckdb.connect()
    got = sround_py(x, dp)
    want = _duck_sround(con, x, dp)
    assert got == want or (math.isnan(got) and math.isnan(want)), (x, dp)


@pytest.mark.parametrize("dp", [2, 4, 6, 9])
def test_sround_spark_matches_python_and_duckdb(spark, dp):
    xs = [
        0.0, -0.0, 1.005, -1.005, 2.675, 49.8683083, 560.21, -560.21,
        381226145.205271, 2019710426.07, 1e-12, -1e-12, 123456.4999995,
        123456.5000005, 7.0 / 3.0, -7.0 / 3.0,
    ]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [
        r[0]
        for r in df.select(sround(F.col("x"), dp)).collect()
    ]
    con = duckdb.connect()
    for x, g in zip(xs, got):
        assert g == sround_py(x, dp), (x, dp)
        assert g == _duck_sround(con, x, dp), (x, dp)


def test_micro_units_exact_integer_recovery(spark):
    """micro_units of an n-decimal value recovers the exact scaled integer
    (the lossless-money-grid claim behind the revenue sum)."""
    rows = [(i / 100.0 * (1.0 - j / 100.0)) for i in range(1, 50) for j in (0, 5, 10)]
    df = spark.createDataFrame([(x,) for x in rows], "x double")
    got = [r[0] for r in df.select(micro_units(F.col("x"), 4)).collect()]
    for x, g in zip(rows, got):
        assert g == math.floor(x * 1e4 + 0.5000001), x
        # lossless: round-tripping the integer reproduces the 4-decimal value
        assert abs(g / 1e4 - x) < 1e-9, x


@pytest.mark.parametrize(
    "val",
    ["back\\slash", "trail\\", "\\'", "a\\nb", "\\\\", "o'brien\\"],
    ids=["inner", "trailing", "before_quote", "before_n", "double", "quote_trailing"],
)
def test_sql_str_lit_round_trips_backslashes(spark, val):
    """Spark's parser reads backslash escapes in string literals, so an
    unescaped value ending in a backslash breaks the SQL text and
    'back\\slash' comes back as 'backslash'."""
    got = spark.range(1).selectExpr(f"{sql_str_lit(val)} AS s").first().s
    assert got == val


def test_backslash_run_id_survives_signal_plan(spark):
    """The signal plan interpolates strategy_run_id into its SQL text."""
    from spark_signals.config import EngineConfig
    from spark_signals.pipeline import build_pipeline
    from tests.conftest import make_ticks

    cfg = EngineConfig(
        sma_fast_window=2, sma_slow_window=4, strategy_run_id="run\\"
    )
    mids = [100.0] * 5 + [110.0] * 5 + [90.0] * 5
    out = build_pipeline(make_ticks(spark, mids), cfg)
    ids = {r.strategy_run_id for r in out.signals_decisions.collect()}
    assert ids == {"run\\"}
