"""Table storage shim — Iceberg-compatible layout on plain Parquet.

At deployment scale the landing tables are Iceberg (partitioned, snapshot
commits, MERGE INTO). This sandbox has no iceberg-spark-runtime jar, so the
shim writes **partitioned Parquet with a JSON table manifest** carrying the
same information an Iceberg snapshot would: schema, partition spec, snapshot
id (content hash), row count, and parent snapshot — giving atomic-pointer
semantics (manifest written last) and idempotent overwrite-by-partition.

Write modes mirror indra_db/databases.py::DatabaseManager.copy_* bulk-load
semantics. The mode alone decides what the manifest costs — every
manifest records ``rows_written`` (this job's rows, observed on the
write itself), and only a full overwrite may re-read the table:
  * ``overwrite``            — copy_push (replace). ``row_count`` is the
    write's own observed count; ``snapshot_id`` (a content hash that
    re-reads the whole table) only when ``compute_signature`` is set —
    determinism evidence for rebuilds.
  * ``append``               — copy. ``row_count`` carries forward
    (prior count + rows written; omitted once any prior commit omitted
    it); never hashed.
  * ``append_lazy``          — copy_lazy: left-anti on key before append.
  * ``overwrite_partitions`` — dynamic partition overwrite, a
    per-partition idempotent rewrite (``scoped_overwrite``). Records
    ``rows_written`` only.
Appends and partition-scoped writes therefore always commit in
O(batch): an incremental caller (the supplement, the dedup store) never
re-hashes or recounts a corpus to commit a batch.

The layout rule: a partitioned table's ``Layout`` — its partition
column, the column that column's value is computed from, and the in-file
sort — is the table's metadata (Iceberg's partition spec and write sort
order), and every writer follows it. ``LAYOUT`` declares it once per
corpus table; ``write_table`` computes the partition column from the
layout and sorts each file as it says, so the build and every
incremental rewrite of a table lay out their files the same way.
"""

from __future__ import annotations

import json
import os
import time
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Files per partition value of a partitioned write (the within-partition
# splitter below)
FILES_PER_PARTITION = 8

# Hash buckets of the pa tables, pa_link and pa_groups (``bucket``)
PA_BUCKETS = 16

# Buckets (and files) per table of the serving publish
# (``write_bucketed_table``)
SERVING_BUCKETS = 16


def day(col):
    """The day-partition value of a crawl timestamp column
    (raw_statements, evidence): ``yyyy-MM-dd``, or the literal
    ``undated`` when the timestamp is NULL (knowledgebase loads, pages
    without a capture time).

    Never NULL, because a NULL partition value never equi-matches in the
    supplement's partition-scoping joins and ``isin`` filters: an
    affected hash's null-day evidence would be left out of the rewrite
    frame while dynamic overwrite still replaced the
    ``__HIVE_DEFAULT_PARTITION__`` directory (silent data loss), and a
    partial resume would drop undated pages. Nor can NULL be sorted next
    to the dated values, which the supplement does with a batch's days."""
    return F.coalesce(F.date_format(col, "yyyy-MM-dd"), F.lit("undated"))


def bucket(col):
    """The bucket-partition value of a hash column (pa tables, pa_link,
    pa_groups)."""
    return F.pmod(col, F.lit(PA_BUCKETS))


class Layout(NamedTuple):
    """How a partitioned table lies on disk. ``part_col`` is the
    partition column: ``day`` or ``bucket`` of the ``source`` column, or
    a column every writer's frame already carries (``source`` None).
    ``sort_by`` is the in-file sort — parquet min/max stats then prune
    row groups for lookups on those columns (the shim's stand-in for an
    Iceberg write sort order)."""

    part_col: str
    source: str | None = None
    sort_by: tuple[str, ...] = ()


# The six partitioned corpus tables. raw_statements is url-sorted so the
# supplement's filter-pushed evidence gather skips untouched urls' row
# groups; evidence and the pa tables are mk_hash-sorted for hash lookups.
# evidence's producer (``dedup.build_evidence``) already emits ``day``.
LAYOUT = {
    "raw_statements": Layout("day", "warc_ts", ("url",)),
    "evidence": Layout("day", None, ("mk_hash",)),
    "pa_statements_base": Layout("bucket", "mk_hash", ("mk_hash",)),
    "pa_statements": Layout("bucket", "mk_hash", ("mk_hash",)),
    "pa_link": Layout("bucket", "supported_mk_hash"),
    "pa_groups": Layout("bucket", "mk_hash"),
}

_TRANSFORMS = {"day": day, "bucket": bucket}


def with_partition(df: DataFrame, layout: Layout) -> DataFrame:
    """``df`` with ``layout``'s partition column computed from its
    source column."""
    if layout.source is None:
        return df
    return df.withColumn(
        layout.part_col, _TRANSFORMS[layout.part_col](layout.source)
    )


def _hashable(df: DataFrame) -> list:
    """xxhash64 rejects MAP columns (map iteration order is unspecified) —
    canonicalize them to sorted entry arrays first."""
    from pyspark.sql.types import MapType

    cols = []
    for f_ in df.schema.fields:
        c = F.col(f_.name)
        if isinstance(f_.dataType, MapType):
            c = F.array_sort(F.map_entries(c))
        cols.append(c)
    return cols


def _write_json_atomic(path: str, obj: dict) -> None:
    """temp-file + rename: the manifest is the commit pointer, so a crash
    mid-write must leave either the old manifest or none — never truncated
    JSON that poisons every later resume."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def _content_signature(df: DataFrame) -> tuple[int, int]:
    """(row_count, order-insensitive value hash) in one agg pass."""
    row = df.agg(
        F.count(F.lit(1)).alias("c"),
        # decimal sum: no ANSI long-overflow, still order-insensitive
        F.coalesce(
            F.sum(F.xxhash64(*_hashable(df)).cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["c"]), int(row["h"])


def write_table(
    df: DataFrame,
    path: str,
    layout: Layout | None = None,
    mode: str = "overwrite",
    compute_signature: bool = False,
    input_clustered: bool = False,
) -> dict:
    """Write a table + manifest; returns the manifest dict. What the
    manifest records per ``mode`` is the module docstring's commit rule;
    how the files lie is ``layout``'s (the layout rule), or one
    unpartitioned, unsorted table without one. Sorted files are the
    shim's stand-in for Iceberg sorted writes / Z-order; the reference
    builds btree indexes instead (schemas/indexes.py).

    ``input_clustered``: the incoming partitioning already groups rows by
    the partition column (e.g. the frame derives 1:1 from a table read
    back from disk with the same partition layout) — skip the
    anti-small-file repartition, saving a full shuffle of the table. Each
    task then writes files only for the few partition values it actually
    holds.
    """
    from pyspark.sql import Observation

    if mode not in ("overwrite", "append", "overwrite_partitions"):
        raise ValueError(f"unknown write mode {mode!r}")
    if mode == "overwrite_partitions" and layout is None:
        raise ValueError("overwrite_partitions requires a layout")
    if compute_signature and mode != "overwrite":
        raise ValueError(
            f"compute_signature requires mode='overwrite', not {mode!r}"
        )
    partition_by = [layout.part_col] if layout else []
    if layout:
        df = with_partition(df, layout)
    if partition_by and not input_clustered:
        # Cluster rows by partition value before a partitioned write:
        # otherwise every task emits one file per partition value
        # (tasks × values files) and the driver-side commit of thousands
        # of small files serializes the job. A within-partition splitter
        # keeps write parallelism above the distinct-value count (a pure
        # repartition(day) caps encoding at #days concurrent tasks).
        # Hash a spread of NON-partition columns (first-column-only
        # degenerates to constant when that column is the partition key or
        # a per-partition constant, collapsing write parallelism).
        split_cols = _hashable(df.drop(*partition_by))[:4] or [F.lit(1)]
        split = F.pmod(F.xxhash64(*split_cols), F.lit(FILES_PER_PARTITION))
        df = df.repartition(*partition_by, split)
    if layout and layout.sort_by:
        df = df.sortWithinPartitions(*layout.sort_by)
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    writer = observed.write.mode("overwrite" if mode != "append" else "append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if mode == "overwrite_partitions":
        # Replace ONLY the partitions present in df (idempotent partial
        # resume: re-writing a day replaces whatever a crashed run left
        # there — append would stack duplicates). Conf is scoped to this
        # write; full-table overwrite stays static (ADVICE r2: dynamic
        # overwrite on an invalidated rerun preserves stale partitions).
        spark = df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            writer.parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    else:
        writer.parquet(path)
    rows_written = obs.get["rows"]
    manifest = {
        "format": "parquet-shim-v1",
        "schema": df.schema.jsonValue(),
        "partition_by": partition_by,
        "committed_at_unix": int(time.time()),
        "rows_written": rows_written,
    }
    if mode == "overwrite":
        manifest["row_count"] = rows_written
    elif mode == "append":
        # the manifest describes the TABLE, not the batch — accumulate the
        # prior manifest's count so audits reading row_count stay truthful;
        # a prior commit that omitted row_count leaves it unknown
        # (accumulating from 0 would silently undercount)
        prior = read_manifest(path)
        if prior is None:
            manifest["row_count"] = rows_written
        elif prior.get("row_count") is not None:
            manifest["row_count"] = rows_written + prior["row_count"]
    if compute_signature:
        back = df.sparkSession.read.schema(df.schema).parquet(path)
        _, h = _content_signature(back.select(*sorted(back.columns)))
        manifest["snapshot_id"] = h
    _write_json_atomic(os.path.join(path, "_table_manifest.json"), manifest)
    return manifest


def write_bucketed_table(
    df: DataFrame, table: str, path: str | None = None
) -> None:
    """Materialize a catalog table bucketed and sorted on ``mk_hash`` —
    the Iceberg ``bucket(N, mk_hash)`` partition-transform analog this
    sandbox can actually execute (no Iceberg jar; Spark's native bucketing
    carries the same co-location contract through the session catalog).

    Joins/aggregations between tables bucketed the same way on the same
    key need NO exchange: the hash-keyed stages of the pipeline
    (refine pa×pa, belief pa×link, evidence hydration ev×pa) read
    pre-clustered buckets instead of shuffling the corpus
    (asserted exchange-free in tests/test_bucketing.py).

    One file per bucket: Spark's bucket id is ``pmod(murmur3(col), N)``,
    the same expression ``repartition(N, col)`` partitions on, so each
    write task holds exactly one bucket and a lookup on ``mk_hash``
    opens one file per selected bucket (without the repartition every
    task writes a file for every bucket it sees: tasks × N files). The
    bucket count is therefore also the write's parallelism.
    """
    w = (
        df.repartition(SERVING_BUCKETS, "mk_hash")
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(SERVING_BUCKETS, "mk_hash")
        .sortBy("mk_hash")
    )
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def scoped_overwrite(
    df: DataFrame, table_path: str, layout: Layout, scope_values: list
) -> None:
    """Replace the ``scope_values`` partitions of ``table_path`` (laid
    out as ``layout``) with ``df``'s rows in them, as an O(batch)
    ``overwrite_partitions`` commit.

    Rows of ``df`` outside the scope are dropped: dynamic overwrite would
    otherwise replace each such row's whole partition with just that
    row. A scoped partition whose every row vanished is deleted — dynamic
    overwrite can only REPLACE partitions present in the frame, so an
    emptied partition would otherwise survive as a stale directory (the
    shim analog of Iceberg's delete-files). ``df`` must be materialized
    (checkpointed) by the caller: the plan reads the very files this
    write deletes."""
    import shutil

    part_col = layout.part_col
    df = with_partition(df, layout).where(F.col(part_col).isin(list(scope_values)))
    surviving = {r[part_col] for r in df.select(part_col).distinct().collect()}
    for v in scope_values:
        if v not in surviving:
            shutil.rmtree(f"{table_path}/{part_col}={v}", ignore_errors=True)
    write_table(df, table_path, layout, mode="overwrite_partitions")


def append_lazy(df: DataFrame, path: str, key_cols: list[str]) -> dict:
    """copy_lazy analog: append only rows whose key is not present."""
    spark = df.sparkSession
    if os.path.exists(os.path.join(path, "_table_manifest.json")):
        # read_table, not spark.read.parquet: an existing-but-empty table
        # has no parquet footers to infer a schema from
        existing = read_table(spark, path).select(*key_cols)
        cols = df.columns
        # the USING anti-join moves key_cols first — restore the caller's
        # order so the appended manifest schema matches the first write's
        df = df.join(existing, key_cols, "left_anti").select(*cols)
    return write_table(df, path, mode="append")


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a table back, schema-from-manifest (handles empty tables —
    zero data files can't be schema-inferred — and pins types exactly)."""
    m = read_manifest(path)
    if m and "schema" in m:
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(m["schema"])
        return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def read_manifest(path: str) -> dict | None:
    p = os.path.join(path, "_table_manifest.json")
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            return json.load(f)
    except json.JSONDecodeError:
        return None  # torn write from a pre-atomic version: uncommitted
