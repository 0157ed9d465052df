"""Normalization + rolling-feature stage — P1, P2, W1-W4.

prices_raw → enriched ticks: typed projection, mid-price with bid/ask
fallback, previous-tick lag, percent return with null/zero guard, and the
rolling features — 60-tick population-stddev volatility and the fast/slow
SMAs — from one set of exact integer running sums.

Reference semantics: sma_cross.py:57-105 (normalized_base / normalized_prices
views). One deliberate strengthening: all window orderings add ``sequence`` as
a tiebreaker after ``event_time`` — the reference orders by event_time alone,
which is nondeterministic under timestamp ties; with the tiebreaker the plan
is deterministic and oracle-checkable.

Scale notes: a single window spec (partitionBy product_id, orderBy event_time,
sequence) is shared by every rolling feature in this stage and the strategy
stage, so Catalyst plans ONE shuffle + ONE sort for all of W1-W7. Instrument
key cardinality is the parallelism bound — at 100 TB the stream has thousands
of instruments, far more keys than executor slots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_signals.config import EngineConfig


def tick_window(cfg: EngineConfig | None = None):
    """The per-instrument event-time window every rolling feature shares."""
    return Window.partitionBy("product_id").orderBy("event_time", "sequence")


# The same window spec as SQL OVER-clause text. The rolling-feature
# expressions below are built as SQL strings (ONE py4j round trip each via
# selectExpr instead of dozens of Column calls — plan construction was
# 30-60% of pipeline-query wall at sf0.1, r16); parameterizing the
# PARTITION BY keeps the single-key and skew-rekeyed plans on literally the
# same expression text. Parses to the identical Catalyst operators as the
# former Column DSL — pinned by tests/test_plan_equality.py.
TICK_OVER = "PARTITION BY product_id ORDER BY event_time, sequence"
TICK_OVER_REKEYED = "PARTITION BY product_id, bucket_ts ORDER BY event_time, sequence"


def normalized_base(ticks: DataFrame) -> DataFrame:
    """P1 — typed casts + mid-price (reference: sma_cross.py:57-73)."""
    return ticks.selectExpr(
        "product_id",
        "event_time",
        "CAST(sequence AS BIGINT) AS sequence",
        "CAST(price AS DOUBLE) AS price",
        "CAST(best_bid AS DOUBLE) AS best_bid",
        "CAST(best_ask AS DOUBLE) AS best_ask",
        "CASE WHEN (best_bid IS NOT NULL) AND (best_ask IS NOT NULL)"
        " THEN (best_bid + best_ask) / 2.0D"
        " ELSE CAST(price AS DOUBLE) END AS mid_price",
    )


# Rolling-feature grid: mids are recovered as exact dp=5 integer
# micro-units u, and every rolling feature (fast/slow SMA, volatility) is
# derived from exact integer window sums (Σu, Σu², n) — the same integers
# on every engine and in the streaming replay, so each feature is
# bit-identical regardless of accumulation order, and decisions comparing
# them (crossovers, band touches) need no decision grid.
# Range: the dp=5 grid (1e-5 quote resolution) bounds the SMAs as well as
# volatility — they are means of gridded mids. The running Σu is BIGINT
# (rows per key · max_mid · 10^5 < 2^63: ~9.5e8 rows per key at $97k), a
# window's Σu converts to DOUBLE exactly while w · max_mid · 10^5 < 2^53
# (max_mid ≲ 1.5e9 over 60 rows), and squares are taken in DECIMAL(38,0),
# so BTC-scale quotes are far inside every bound.
VOL_DP = 5


def _rolling_features(over: str, cfg: EngineConfig):
    """The shared rolling-feature expressions, as SQL text over an OVER
    clause ``over`` — factored so the single-key plan (enriched_ticks) and
    the skew-re-keyed plan (enriched_ticks_rekeyed) compute literally the
    same expressions. SQL strings parse to the identical Catalyst
    expressions a Column DSL build would (tests/test_plan_equality.py).

    Returns ``(cum_exprs, returns, volatility, fast, slow)``: callers add
    the three ``cum_exprs`` running-sum columns in a projection FIRST, then
    compute the features (which consume ``_c1/_c2/_cn``) and drop them.

    **Running sums + lag instead of bounded frames** (r16): Spark
    re-evaluates a bounded sliding frame from scratch for every row —
    O(rows x frame) aggregate updates. An UNBOUNDED PRECEDING frame updates
    incrementally (O(1)/row), and a w-row window sum is recovered exactly
    as cum(i) - cum(i-w) via lag — the operands are exact integers, so the
    difference is the window sum to the bit. All three features read the
    same running sums:

    * SMA over w rows = (Σu / n) / 10^VOL_DP — both operands exact in
      DOUBLE, one IEEE division chain;
    * volatility = sqrt((n·Σu² − (Σu)²) / n²) / 10^VOL_DP — the variance
      numerator is formed exactly in DECIMAL(38,0), then converted once
      (correctly rounded, as DuckDB's HUGEINT and Python's int are) and
      divided once in DOUBLE.

    Overflow budget: u is widened to DECIMAL(38,0) *before* squaring (u² at
    $97k is ~9.4e19, past BIGINT), so _c2 = Σu² and the numerator are
    exact at any quote magnitude the VOL_DP note admits. _c1 = Σu stays
    BIGINT (see VOL_DP) and _cn counts rows per key.
    """
    from spark_signals.rounding import micro_units_sql

    u = micro_units_sql("mid_price", VOL_DP)
    wide_u = f"CAST({u} AS DECIMAL(38,0))"
    scale = f"{float(10**VOL_DP)!r}D"
    unbounded = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    cum_exprs = [
        f"sum({u}) OVER ({over} {unbounded}) AS _c1",
        f"sum({wide_u} * {wide_u}) OVER ({over} {unbounded}) AS _c2",
        f"count(mid_price) OVER ({over} {unbounded}) AS _cn",
    ]

    def last(cum: str, w: int, zero: str = "0L") -> str:
        """The sum over the last ``w`` rows of running-sum column ``cum``."""
        return f"({cum} - COALESCE(lag({cum}, {w}) OVER ({over}), {zero}))"

    def sma(w: int) -> str:
        return (
            f"CAST({last('_c1', w)} AS DOUBLE)"
            f" / CAST({last('_cn', w)} AS DOUBLE) / {scale}"
        )

    prev_mid = f"lag(mid_price) OVER ({over})"
    returns = (
        f"CASE WHEN (({prev_mid}) IS NULL) OR (({prev_mid}) = 0)"
        f" THEN CAST(NULL AS DOUBLE)"
        f" ELSE (mid_price - ({prev_mid})) / ({prev_mid}) END"
    )
    V = cfg.volatility_window
    n = last("_cn", V)
    s1 = f"CAST({last('_c1', V)} AS DECIMAL(38,0))"
    s2 = last("_c2", V, "CAST(0 AS DECIMAL(38,0))")
    numerator = f"CAST({n} AS DECIMAL(38,0)) * {s2} - {s1} * {s1}"
    volatility = f"SQRT(CAST({numerator} AS DOUBLE) / CAST({n} * {n} AS DOUBLE)) / {scale}"
    return cum_exprs, returns, volatility, sma(cfg.sma_fast_window), sma(cfg.sma_slow_window)


#: The prices_normalized sink's columns, projected off enriched_ticks.
NORMALIZED_COLUMNS = (
    "product_id", "event_time", "sequence", "mid_price",
    "best_bid", "best_ask", "returns", "volatility",
)


def enriched_ticks(ticks: DataFrame, cfg: EngineConfig) -> DataFrame:
    """All per-tick window-derived columns in ONE window stage.

    returns, volatility, both SMAs and the crossover lag — every rolling
    feature shares the same (partitionBy product_id, orderBy event_time,
    sequence) spec, so Catalyst plans a single shuffle + sort and stacks the
    Window operators on top. Downstream stages (signals, positions, metrics,
    counts) are pure projections off this one frame; branches that fork from
    it share the exchange via ReuseExchange instead of recomputing the scan.
    """
    base = normalized_base(ticks)
    cum_exprs, returns, volatility, fast, slow = _rolling_features(TICK_OVER, cfg)
    cum = base.selectExpr("*", *cum_exprs)
    df = cum.selectExpr(
        "product_id",
        "event_time",
        "sequence",
        "mid_price",
        "best_bid",
        "best_ask",
        f"{returns} AS returns",
        f"{volatility} AS volatility",
        f"{fast} AS fast_sma",
        f"{slow} AS slow_sma",
    )
    # one projection for both spread columns (driver-side analysis is paid
    # per DataFrame op): sig_spread materializes fast-slow, and the lag takes
    # the same subtraction as its argument directly — Catalyst extracts it
    # into the identical pre-window projection a lag over the materialized
    # column would use, so plan and values are unchanged vs the former
    # withColumn pair.
    return df.selectExpr(
        "*",
        "fast_sma - slow_sma AS sig_spread",
        f"lag(fast_sma - slow_sma, {cfg.confirmation}) OVER ({TICK_OVER})"
        " AS prev_sig_spread",
    )


def lookback_rows(cfg: EngineConfig) -> int:
    """Rows of history any feature in the stage can reach: the confirmation
    lag chains onto the deepest rolling frame."""
    return cfg.confirmation + max(cfg.volatility_window, cfg.sma_slow_window)


def enriched_ticks_rekeyed(
    ticks: DataFrame, cfg: EngineConfig, bucket: str = "DAY"
) -> DataFrame:
    """The hot-key scale lever: enriched_ticks re-keyed on (product_id,
    time-bucket) with lookback carry, so one pathological instrument (BTC)
    no longer serializes on a single task.

    The per-key window stage is sequential by semantics (Flink shares the
    property), so parallelism is bounded by key cardinality. Re-keying on
    symbol×day multiplies the key space by the day count; to keep rolling
    frames exact across bucket boundaries, the last ``lookback_rows(cfg)``
    rows of each key's bucket are replicated into that key's NEXT bucket
    (skipping empty buckets), features are computed on the finer key, and
    the carry rows are dropped after. Every frame then sees the identical
    ordered predecessor rows as the global plan, so the output is
    bit-identical — asserted by tests/test_skew_rekey.py.

    Contract: each (product_id, bucket) with a successor must hold at least
    ``lookback_rows(cfg)`` rows (one bucket of carry is chained, not a
    recursive history). That always holds in the hot-key regime this lever
    exists for; sparse keys should stay on the single-key plan — at scale
    you route keys by observed cardinality.

    Cost: one extra shuffle of the tiny tail relation (≤ L rows per
    key-bucket) plus the bucket-list window; the body shuffles once on the
    finer key, same as the single-key plan shuffles once on the coarse key.
    """
    L = lookback_rows(cfg)
    base = normalized_base(ticks).withColumn(
        "bucket_ts", F.date_trunc(bucket, F.col("event_time"))
    )

    # last L rows of each (product, bucket), candidates to carry forward
    w_desc = Window.partitionBy("product_id", "bucket_ts").orderBy(
        F.desc("event_time"), F.desc("sequence")
    )
    tail = (
        base.withColumn("_rn", F.row_number().over(w_desc))
        .filter(F.col("_rn") <= L)
        .drop("_rn")
    )
    # route each bucket's tail to the key's next non-empty bucket
    buckets = base.select("product_id", "bucket_ts").distinct()
    w_next = Window.partitionBy("product_id").orderBy("bucket_ts")
    nxt = buckets.withColumn("_next", F.lead("bucket_ts").over(w_next)).filter(
        F.col("_next").isNotNull()
    )
    carry = (
        tail.join(nxt, ["product_id", "bucket_ts"], "inner")
        .withColumn("bucket_ts", F.col("_next"))
        .drop("_next")
        .withColumn("_carry", F.lit(1))
    )

    allrows = base.withColumn("_carry", F.lit(0)).unionByName(carry)
    cum_exprs, returns, volatility, fast, slow = _rolling_features(
        TICK_OVER_REKEYED, cfg
    )
    allrows = allrows.selectExpr("*", *cum_exprs)
    df = allrows.selectExpr(
        "product_id",
        "event_time",
        "sequence",
        "mid_price",
        "best_bid",
        "best_ask",
        f"{returns} AS returns",
        f"{volatility} AS volatility",
        f"{fast} AS fast_sma",
        f"{slow} AS slow_sma",
        "bucket_ts",
        "_carry",
    )
    df = df.selectExpr("*", "fast_sma - slow_sma AS sig_spread")
    df = df.selectExpr(
        "*",
        f"lag(sig_spread, {cfg.confirmation}) OVER ({TICK_OVER_REKEYED})"
        " AS prev_sig_spread",
    )
    return df.filter(F.col("_carry") == 0).drop("_carry", "bucket_ts")


# Default hot-key threshold for auto-routing: rows one task can sort +
# window-scan inside a comfortable memory/latency envelope. A window-stage
# task over k rows is O(k log k) sort + O(k) scan of ~6 numeric columns
# (~80 B/row → 10M rows ≈ 800 MB spill-managed sort, minutes of task time).
# Beyond that a single pathological key (BTC) serializes the stage; below
# it the extra carry shuffle of the re-keyed plan is pure overhead.
HOT_KEY_ROWS_DEFAULT = 10_000_000


def choose_tick_plan(
    ticks: DataFrame, cfg: EngineConfig, hot_key_rows: int = HOT_KEY_ROWS_DEFAULT
) -> str:
    """Decide 'single' vs 'rekeyed' from the OBSERVED hottest-key row count.

    SCALE.md documents the routing policy ("at scale you route keys by
    observed cardinality"); this makes the policy executable instead of
    leaving the choice to every caller. The statistic is one cheap
    partial-aggregated job — a per-key count (map-side combined, shuffles
    #keys rows) reduced to a single max on the driver, the same shape of
    stats collection AQE itself performs. It reads only ``product_id``
    (column-pruned scan), so at 100 TB the stats pass touches one thin
    column, not the tick payload.

    Deliberately a scalar ``.first()`` — NOT a ``.collect()`` loop over
    data; tests/test_plans.py's no-driver-side-iteration audit stays valid.
    """
    row = (
        ticks.groupBy("product_id")
        .count()
        .agg(F.max("count").alias("max_rows"))
        .first()
    )
    hottest = row["max_rows"] or 0
    return "rekeyed" if hottest > hot_key_rows else "single"


def enriched_ticks_auto(
    ticks: DataFrame,
    cfg: EngineConfig,
    hot_key_rows: int = HOT_KEY_ROWS_DEFAULT,
    bucket: str = "DAY",
) -> DataFrame:
    """enriched_ticks with the hot-key lever engaged automatically.

    Routes to :func:`enriched_ticks_rekeyed` when the hottest instrument
    exceeds ``hot_key_rows`` rows, else the cheaper single-key plan. Both
    plans are bit-identical in output (tests/test_skew_rekey.py), so the
    route changes only the physical shape, never the result.
    """
    if choose_tick_plan(ticks, cfg, hot_key_rows) == "rekeyed":
        return enriched_ticks_rekeyed(ticks, cfg, bucket=bucket)
    return enriched_ticks(ticks, cfg)
