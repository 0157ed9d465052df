"""Fixed-source reads: the inferred-schema cache must never serve a stale
schema."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from spark_signals.io.sources import _schema_cache_key, read_table


def test_directory_table_rewritten_in_place_is_reinferred(spark, tmp_path):
    """Rewriting a data file inside a directory table leaves the
    directory's own mtime and size unchanged, so a directory must not be
    keyed on them."""
    table_dir = tmp_path / "tbl.parquet"
    table_dir.mkdir()
    part = table_dir / "part-0.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    assert read_table(spark, str(tmp_path), "tbl").columns == ["a"]

    dir_stat = table_dir.stat()
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), part)
    assert table_dir.stat().st_mtime_ns == dir_stat.st_mtime_ns

    df = read_table(spark, str(tmp_path), "tbl")
    assert df.columns == ["a", "b"]
    assert sorted(r.b for r in df.collect()) == ["x", "y"]


def test_single_file_table_stays_cached(tmp_path):
    path = tmp_path / "events.parquet"
    pq.write_table(pa.table({"a": [1]}), path)
    key = _schema_cache_key(str(path))
    assert key[1] >= 0  # a real stat token: cacheable
    assert _schema_cache_key(str(tmp_path))[1] < 0  # a directory: never
