"""SQL-text expression builders must parse to the Column DSL's trees.

r16 rewrote the hot pipeline-chain projections from Column-DSL construction
to SQL-text (selectExpr / F.expr): one py4j round trip per expression
instead of dozens, which removed 30-60% of per-query plan-construction wall
at sf0.1. The rewrite is only safe because the SQL text parses to the
IDENTICAL Catalyst expressions — this file pins that equivalence for the
shared primitives, and pins the two literal-typing gotchas that could
silently change arithmetic:

* a bare SQL ``0.5000001`` parses as DECIMAL(8,7), not DOUBLE — the
  builders must emit the ``D`` suffix;
* ``1e6``-style scales must stay double literals.

The full-chain equivalence was proven at rewrite time by canonicalized-
optimizedPlan comparison against the Column-DSL implementations (all
pipeline/relational/serving/temporal queries byte-identical up to
commutative operand order, which is IEEE-value-identical); these pins keep
the primitives from drifting afterwards.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_signals.pipeline.jsonfmt import fmt_fixed, fmt_fixed_sqltext
from spark_signals.rounding import micro_units, micro_units_sql, sround, sround_sql


def _canon(df):
    return df._jdf.queryExecution().optimizedPlan().canonicalized().toString()


@pytest.fixture(scope="module")
def frame(spark):
    return spark.range(3).selectExpr("CAST(id AS DOUBLE) AS x")


@pytest.mark.parametrize("dp", [1, 2, 6, 9])
def test_sround_sql_matches_column_form(frame, dp):
    a = frame.select(sround(F.col("x"), dp).alias("r"))
    b = frame.select(F.expr(sround_sql("x", dp)).alias("r"))
    assert _canon(a) == _canon(b)


@pytest.mark.parametrize("dp", [5, 6])
def test_micro_units_sql_matches_column_form(frame, dp):
    a = frame.select(micro_units(F.col("x"), dp).alias("u"))
    b = frame.select(F.expr(micro_units_sql("x", dp)).alias("u"))
    assert _canon(a) == _canon(b)


@pytest.mark.parametrize("dp", [1, 6, 9])
def test_fmt_fixed_sqltext_matches_column_form(frame, dp):
    a = frame.select(fmt_fixed(F.col("x"), dp).alias("s"))
    b = frame.select(F.expr(fmt_fixed_sqltext("x", dp)).alias("s"))
    assert _canon(a) == _canon(b)


def test_nudge_literal_stays_double(spark):
    """The 0.5000001 nudge must be a DOUBLE literal: a bare SQL decimal
    parses as DECIMAL(8,7) and promotes the whole grid arithmetic to
    decimal, changing results. The D suffix in the builders prevents it;
    this test fails if someone drops it."""
    row = spark.range(1).select(
        F.expr(sround_sql("CAST(id AS DOUBLE)", 6)).alias("r"),
        F.expr(micro_units_sql("CAST(id AS DOUBLE)", 6)).alias("u"),
        F.expr("0.5000001D").alias("lit_d"),
        F.expr("0.5000001").alias("lit_bare"),
    )
    sch = {f.name: f.dataType for f in row.schema.fields}
    assert isinstance(sch["lit_d"], T.DoubleType)
    assert isinstance(sch["lit_bare"], T.DecimalType)  # the gotcha is real
    assert isinstance(sch["r"], T.DoubleType)
    assert isinstance(sch["u"], T.LongType)


def test_sql_str_lit_escapes_quotes(spark):
    """Interpolated config strings must survive embedded quotes: the bare
    f-string literal the r16 rewrite used raises a parse error (or injects
    SQL) on a value like "o'brien" where the former F.lit handled arbitrary
    strings (r16 advisory)."""
    from spark_signals.rounding import sql_str_lit

    for val in ["plain", "o'brien", "a''b", "'", ""]:
        got = spark.range(1).selectExpr(f"{sql_str_lit(val)} AS s").first().s
        assert got == val
    # and the quote-free path emits the identical literal text the old
    # f-string produced, so committed plans are unchanged
    assert sql_str_lit("paper") == "'paper'"


def test_enriched_ticks_sqltext_matches_column_witness(spark):
    """Full-chain pin (r16 advisory #4): the SQL-text rolling-feature
    projection must parse to the identical Catalyst tree as a Column-DSL
    witness of the same expressions. Guards the _rolling_features strings
    against silent semantic drift — the primitive pins above can't see a
    typo inside the chain's CASE/lag/frame wiring."""
    from pyspark.sql import Window

    from spark_signals.config import EngineConfig
    from spark_signals.pipeline.normalize import TICK_OVER, VOL_DP, _rolling_features

    cfg = EngineConfig()
    base = spark.createDataFrame(
        [("P-1", 1, 1.0)], "product_id string, sequence long, mid_price double"
    ).withColumn("event_time", F.col("sequence").cast("timestamp"))

    cum_exprs, returns, volatility, fast, slow = _rolling_features(TICK_OVER, cfg)
    sql_df = base.selectExpr("*", *cum_exprs).selectExpr(
        "product_id",
        f"{returns} AS returns",
        f"{volatility} AS volatility",
        f"{fast} AS fast_sma",
        f"{slow} AS slow_sma",
    )

    # Column-DSL witness of the same running-sum + lag-difference features
    w = Window.partitionBy("product_id").orderBy("event_time", "sequence")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec = T.DecimalType(38, 0)
    u = micro_units(F.col("mid_price"), VOL_DP)
    scale = float(10**VOL_DP)
    col_df = base.select(
        "*",
        F.sum(u).over(wcum).alias("_c1"),
        F.sum(u.cast(dec) * u.cast(dec)).over(wcum).alias("_c2"),
        F.count("mid_price").over(wcum).alias("_cn"),
    )
    zero = F.lit(0).cast("long")

    def last(c, rows, z=zero):
        return F.col(c) - F.coalesce(F.lag(c, rows).over(w), z)

    def sma(rows):
        return last("_c1", rows).cast("double") / last("_cn", rows).cast("double") / F.lit(scale)

    prev = F.lag("mid_price").over(w)
    n = last("_cn", cfg.volatility_window)
    s1 = last("_c1", cfg.volatility_window).cast(dec)
    s2 = last("_c2", cfg.volatility_window, F.lit(0).cast(dec))
    numerator = n.cast(dec) * s2 - s1 * s1
    col_df = col_df.select(
        "product_id",
        F.when(prev.isNull() | (prev == 0), F.lit(None).cast("double"))
        .otherwise((F.col("mid_price") - prev) / prev)
        .alias("returns"),
        (F.sqrt(numerator.cast("double") / (n * n).cast("double")) / F.lit(scale)).alias(
            "volatility"
        ),
        sma(cfg.sma_fast_window).alias("fast_sma"),
        sma(cfg.sma_slow_window).alias("slow_sma"),
    )
    assert _canon(sql_df) == _canon(col_df)


def test_km_row_sigs_sqltext_matches_column_witness(spark):
    """The r17 SQL-text MinHash signature/band builders must parse to the
    identical Catalyst trees as the Column form (_km_perm is the retained
    Column witness) — the banded-fingerprint operators all build through
    these strings."""
    from spark_signals.datapipe.dedup import _band_keys, _km_perm, _km_row_sigs

    rel = spark.createDataFrame(
        [(1, ["ab", "cd"])], "doc_id long, shingles array<string>"
    )
    n = 4
    sql_df = _km_row_sigs(rel, "shingles", n, "shingles")
    hs = rel.withColumn(
        "_hs",
        F.transform(
            F.col("shingles"),
            lambda s: F.struct(
                F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long").alias("h1"),
                F.conv(F.substring(F.md5(s), 9, 8), 16, 10).cast("long").alias("h2"),
            ),
        ),
    )
    ms = [F.array_min(F.transform("_hs", _km_perm(i))).alias(f"m{i}") for i in range(n)]
    col_df = hs.select("doc_id", "shingles", *ms)
    assert _canon(sql_df) == _canon(col_df)

    sigs = sql_df.drop("shingles")
    band_sql = _band_keys(sigs, n_bands=2)
    pieces = [
        F.struct(
            F.lit(b).alias("band"),
            F.col(f"m{2 * b}").alias("k1"),
            F.col(f"m{2 * b + 1}").alias("k2"),
        )
        for b in range(2)
    ]
    band_col = sigs.select("doc_id", F.explode(F.array(*pieces)).alias("bb")).select(
        "doc_id", "bb.band", "bb.k1", "bb.k2"
    )
    assert _canon(band_sql) == _canon(band_col)


def test_values_match_python_twin(spark):
    """sround_sql grids exactly like sround_py on representative values
    (including a half-way double where engine-native round() diverges)."""
    from spark_signals.rounding import sround_py

    vals = [0.5, 1.005, 2.675, -1.0000005, 123.4567894999, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r.r for r in df.select(F.expr(sround_sql("x", 6)).alias("r")).collect()]
    want = [sround_py(v, 6) for v in vals]
    assert got == want
