"""SparkSession factory with scale-aware defaults.

Local-mode knobs mirror what a 1000-executor cluster deployment would set:
AQE on (runtime re-plan + skew-join splitting), shuffle partitions sized to
parallelism, Arrow enabled for pandas-UDF exchange, UTC timezone for
deterministic timestamp semantics. ``local_df`` builds small frames from
driver rows without a Python worker behind them.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Mapping

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def get_spark(
    app_name: str = "indra_db_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    Shuffle partitions are 2× the local parallelism — on a real cluster
    this would be sized to executor-cores × executors (and AQE coalesces
    down at runtime anyway); ``extra_conf`` overrides any conf set here.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
    # local[N,maxFailures] is a legal master URL — only N sizes shuffles
    n = n.split(",")[0].strip()
    shuffle_partitions = 64 if not n.isdigit() else max(8, 2 * int(n))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-split size (guide §6). The bench/test inputs are MB-scale
        # parquet files whose row groups are ~20 MB, and the default 128 MB
        # split puts a whole multi-row-group file (e.g. the 126 MB sf1.0
        # lineitem) into ONE task; 16 MB splits let every row group scan in
        # parallel. On a production cluster reading TB-scale inputs set
        # SPARK_GRAFT_MAX_PARTITION_BYTES=512m-1g instead (large sequential
        # scans want fewer, bigger map tasks feeding any shuffle - §2.2).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(
    spark: SparkSession, rows: Iterable, schema: T.StructType | str
) -> DataFrame:
    """Driver rows → a DataFrame over an Arrow-backed JVM ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` pickles the rows into a PythonRDD, so
    every later scan of the frame starts a Python-worker job. Handing it a
    ``pyarrow.Table`` instead puts the rows in the plan itself: scans run in
    the JVM. Rows are tuples (in ``schema`` field order) or mappings.

    pyarrow does not enforce nullability or Python types, so each row goes
    through the same verifier ``createDataFrame(<list>)`` applies: a bad row
    raises here, as it did before.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.names
    verify = T._make_type_verifier(schema)
    tuples = []
    for r in rows:
        verify(r)
        tuples.append(tuple(r.get(n) for n in names) if isinstance(r, Mapping) else r)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*tuples)) or [()] * len(names)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
