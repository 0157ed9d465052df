from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import SparkSession

from spark_signals.compat import pbshim
from spark_signals.io.sources import PRICES_RAW_SCHEMA
from spark_signals.session import get_spark

# Must happen before the first SparkSession: worker pythons inherit the
# driver's env, and vendor/pbshim/sitecustomize.py needs to be on their
# PYTHONPATH so transformWithState workers can import google.protobuf in
# this protobuf-less sandbox (no-op wherever real protobuf exists).
os.environ.update(pbshim.worker_env())
pbshim.install()


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark("spark-signals-tests", shuffle_partitions=4)
    yield s


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of the RDDs the session holds persisted (each pinned relation)."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


T0 = dt.datetime(2024, 6, 1, 12, 0, 0)


def make_ticks(spark: SparkSession, mids, product_id="BTC-USD", spread_bps=10.0, start=T0):
    """Build a prices_raw DataFrame from a list of mid prices (1 tick/sec).

    Entries may be floats, or (mid, best_bid, best_ask) tuples to control
    quotes explicitly (None = null quote).
    """
    rows = []
    for i, m in enumerate(mids):
        if isinstance(m, tuple):
            mid, bid, ask = m
        else:
            half = m * spread_bps / 2e4
            mid, bid, ask = m, m - half, m + half
        rows.append(
            (
                product_id,
                float(mid),
                None if bid is None else float(bid),
                None if ask is None else float(ask),
                None,
                i,
                "buy",
                start + dt.timedelta(seconds=i),
                "test",
            )
        )
    return spark.createDataFrame(rows, PRICES_RAW_SCHEMA)
