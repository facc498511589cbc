"""The storage shim's commit rule: the write mode alone decides what a
table manifest records, and a partition-scoped rewrite touches only the
partitions it names."""

import hashlib
import pathlib

import pytest
from pyspark.sql import functions as F

from indra_db_spark.sources.storage import (
    Layout,
    read_manifest,
    read_table,
    scoped_overwrite,
    write_table,
)


def _files(part_dir: pathlib.Path) -> dict:
    return {
        p.name: hashlib.sha256(p.read_bytes()).hexdigest()
        for p in part_dir.iterdir()
        if p.is_file()
    }


def test_scoped_overwrite_drops_rows_outside_scope(spark, tmp_path):
    """A frame row in a partition outside ``scope_values`` must not reach
    the table: dynamic overwrite would replace that whole partition with
    just the stray row, losing the partition's other rows."""
    path = tmp_path / "t"
    base = spark.createDataFrame(
        [(p, v) for p in ("a", "b") for v in range(3)], "p string, v int"
    )
    write_table(base, str(path), Layout("p"))
    before = _files(path / "p=b")

    frame = spark.createDataFrame([("a", 10), ("b", 99)], "p string, v int")
    scoped_overwrite(frame, str(path), Layout("p"), ["a"])

    assert _files(path / "p=b") == before
    rows = sorted(map(tuple, read_table(spark, str(path)).select("p", "v").collect()))
    assert rows == [("a", 10), ("b", 0), ("b", 1), ("b", 2)]


def test_commit_rule_per_mode(spark, tmp_path):
    """Full overwrites carry the table-wide fields, appends carry
    ``row_count`` forward without hashing, and partition-scoped writes
    record only ``rows_written``."""
    df = spark.range(6).select((F.col("id") % 2).alias("p"), F.col("id").alias("v"))
    path = str(tmp_path / "t")

    full = write_table(df, path, Layout("p"), compute_signature=True)
    assert full["row_count"] == 6 and "snapshot_id" in full

    appended = write_table(df, path, Layout("p"), mode="append")
    assert appended["row_count"] == 12 and appended["rows_written"] == 6
    assert "snapshot_id" not in appended

    scoped = write_table(
        df.where("p = 0"), path, Layout("p"), mode="overwrite_partitions"
    )
    assert scoped["rows_written"] == 3
    assert "row_count" not in scoped and "snapshot_id" not in scoped
    assert read_manifest(path) == scoped

    for mode in ("append", "overwrite_partitions"):
        with pytest.raises(ValueError, match="compute_signature"):
            write_table(df, path, Layout("p"), mode=mode, compute_signature=True)
    assert read_manifest(path) == scoped
