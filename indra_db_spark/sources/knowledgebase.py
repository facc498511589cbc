"""Curated knowledge-base ingestion (readings vs databases provenance).

Reference: indra_db/cli/knowledgebase.py — ~15 KnowledgebaseManager
subclasses (TAS, SIGNOR, BioGRID, CBN/BEL, PathwayCommons, TRRUST, CTD,
DrugBank, …) each load curated statements into ``raw_statements`` with a
``db_info`` provenance row instead of a ``reading``. Here a KB batch is a
DataFrame of pre-grounded triples that is normalized into the
raw_statements shape with ``source = kb_<name>`` (sources with the ``kb_``
prefix count as databases: has_db/HasDatabases; everything else as
readings — meta.py::KB_PREFIX).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from indra_db_spark import schemas
from indra_db_spark.functions.hashing import (
    fold_md5_64,
    matches_key_expr,
    source_hash_expr,
)
from indra_db_spark.session import local_df

KB_TRIPLE = T.StructType(
    [
        T.StructField("type", T.StringType(), False),
        T.StructField("subj_ns", T.StringType(), False),
        T.StructField("subj_id", T.StringType(), False),
        T.StructField("subj_name", T.StringType(), True),
        T.StructField("obj_ns", T.StringType(), False),
        T.StructField("obj_id", T.StringType(), False),
        T.StructField("obj_name", T.StringType(), True),
    ]
)


def load_knowledgebase(
    spark: SparkSession,
    name: str,
    triples: list[tuple] | DataFrame,
    kb_version: str = "1",
) -> DataFrame:
    """Curated triples → raw_statements-shaped DataFrame (source=kb_<name>)."""
    df = (
        triples
        if isinstance(triples, DataFrame)
        else local_df(spark, triples, KB_TRIPLE)
    )
    source = f"kb_{name}"
    no_muts = F.array().cast(T.ArrayType(schemas.MUT))
    no_act = F.lit(None).cast(schemas.ACTIVITY)
    no_bounds = F.array().cast(T.ArrayType(schemas.BOUND))
    from indra_db_spark.operators.grounding import regularize_agent_id

    # Regularize ids exactly like the reading path (grounding.py::
    # resolve_grounding_map): a KB triple with a redundant '<ns>:' prefix
    # must hash to the same mk_hash as the identical read statement, or
    # the two provenances never merge (ev_count splits, HasDatabases &
    # HasReadings misses, no KB belief boost).
    agent = lambda p: F.struct(
        F.col(f"{p}_name").alias("text"),
        F.col(f"{p}_ns").alias("db_ns"),
        regularize_agent_id(F.col(f"{p}_id"), F.col(f"{p}_ns")).alias("db_id"),
        F.coalesce(F.col(f"{p}_name"), F.col(f"{p}_id")).alias("name"),
        no_muts.alias("muts"),
        no_act.alias("activity"),
        no_bounds.alias("bounds"),
    )
    empty_mods = F.array().cast(T.ArrayType(schemas.MOD))
    df = (
        df.withColumn("subj", agent("subj"))
        .withColumn("obj", agent("obj"))
        .withColumn("mods", empty_mods)
        .withColumn(
            "matches_key",
            matches_key_expr(F.col("type"), F.col("subj"), F.col("obj"), F.col("mods")),
        )
        .withColumn("url", F.concat(F.lit(f"kb://{name}/"), F.col("matches_key")))
        .withColumn("extractor", F.lit(f"kb_{name}"))
        .withColumn("extractor_version", F.lit(kb_version))
        .withColumn("source", F.lit(source))
        .withColumn("evidence_text", F.col("matches_key"))
        .withColumn("mk_hash", fold_md5_64(F.col("matches_key")))
        .withColumn("source_hash", source_hash_expr(F.col("source"), F.col("evidence_text")))
        .withColumn(
            "raw_id",
            fold_md5_64(F.concat_ws("|", F.lit(source), F.lit(kb_version), F.col("matches_key"))),
        )
        .withColumn("warc_ts", F.lit(None).cast("timestamp"))
        .withColumn("lang", F.lit("en"))
    )
    return df.select(*schemas.RAW_STATEMENTS.names)
