"""JSONL round-trip: export sink (S6) + null-forcing reader (S4/X5); Tables
handles and the scan-widening guard."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from importer_spark.io import export_jsonl_snapshot, read_jsonl
from tests.conftest import SF_DIR


def test_jsonl_export_and_reimport(spark, tmp_path):
    path = str(tmp_path / "hist")
    df = spark.createDataFrame(
        [
            Row(item="a", snapshot_date="2024-01-01", qty=1, note="x"),
            Row(item="b", snapshot_date="2024-02-01", qty=2, note=None),
        ]
    )
    export_jsonl_snapshot(df, path, "snapshot_date", order_by=["item", "snapshot_date"])
    # Incremental export: only rows after the last snapshot.
    more = spark.createDataFrame(
        [
            Row(item="a", snapshot_date="2024-01-15", qty=9, note="old"),  # filtered
            Row(item="c", snapshot_date="2024-03-01", qty=3, note="new"),
        ]
    )
    export_jsonl_snapshot(more, path, "snapshot_date", after="2024-02-01")
    back = read_jsonl(spark, path)
    rows = {r.item: (r.snapshot_date, r.note) for r in back.collect()}
    assert set(rows) == {"a", "b", "c"}
    # read_jsonl forces nulls on string columns to '' (dlt behavior, X5).
    assert rows["b"][1] == ""
    # P2 SELECT * EXCEPT — drop on reimport.
    assert "note" not in back.drop("note").columns


def test_tables_unknown_attribute_raises(spark):
    from importer_spark.io import Tables

    with pytest.raises(AttributeError, match="unknown table"):
        Tables(spark, SF_DIR).no_such_table


def test_tables_missing_dir_raises_path_not_found(spark):
    from pyspark.errors import AnalysisException

    from importer_spark.io import Tables

    t = Tables(spark, "/root/testdata/sf-does-not-exist")
    with pytest.raises(AnalysisException):
        t.orders.count()


def test_widen_skips_scan_already_at_spread_width(spark, tmp_path, monkeypatch):
    """The skip threshold is the width the guard would repartition to
    (half the session parallelism), not the full parallelism: a scan
    estimated at 3 splits on local[4] already reaches width 2."""
    from importer_spark import io

    path = str(tmp_path / "t.parquet")
    spark.range(100).write.parquet(path)
    df = spark.read.parquet(path)
    size = sum(f.stat().st_size for f in (tmp_path / "t.parquet").rglob("*"))
    monkeypatch.setattr(io, "_WIDEN_SPLIT_BYTES", size // 3)
    assert size // io._WIDEN_SPLIT_BYTES == 3
    assert spark.sparkContext.defaultParallelism == 4
    assert io.widen_narrow_scan(df, path) is df
