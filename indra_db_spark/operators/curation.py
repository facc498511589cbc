"""Curation store + statement flagging.

Reference: indra_db/schemas/principal_schema.py::Curation — rows
``(pa_hash, source_hash, tag, text, curator, date)`` recording human
verdicts on (statement, evidence) pairs — and
indra_db/client/principal/curation.py::submit_curation / get_curations
(insert + filtered select). The readonly path uses curations to flag
statements whose evidence was curated incorrect.

Spark shape: an append-only parquet table via the storage shim (the
reference's Postgres insert path becomes idempotent appends keyed by a
deterministic curation_id); flag derivation is one groupBy over what is a
tiny table relative to the corpus — always broadcastable into the DSL.

Tag vocabulary mirrors the reference's curation tags: ``correct`` plus the
incorrect family (``entity_boundaries grounding polarity wrong_relation
act_vs_amt negative_result hypothesis other``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from indra_db_spark.functions.hashing import fold_md5_64
from indra_db_spark.session import local_df
from indra_db_spark.sources import storage

CORRECT_TAGS = {"correct"}
INCORRECT_TAGS = {
    "entity_boundaries", "grounding", "polarity", "wrong_relation",
    "act_vs_amt", "negative_result", "hypothesis", "other",
}

CURATIONS = T.StructType(
    [
        T.StructField("curation_id", T.LongType(), False),
        T.StructField("pa_hash", T.LongType(), False),
        T.StructField("source_hash", T.LongType(), True),
        T.StructField("tag", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("curator", T.StringType(), False),
        T.StructField("curated_at", T.StringType(), True),  # caller-supplied (G10)
    ]
)


def submit_curations(
    spark: SparkSession,
    path: str,
    rows: list[tuple],
) -> DataFrame:
    """Append curations ``(pa_hash, source_hash, tag, text, curator,
    curated_at)``; returns the updated table.

    Analog of client/principal/curation.py::submit_curation. The
    curation_id is a deterministic hash of the row content, so re-submits
    of the same curation are dropped (idempotent under retry — the
    reference dedups on the serial id instead).
    """
    bad = {r[2] for r in rows} - (CORRECT_TAGS | INCORRECT_TAGS)
    if bad:
        raise ValueError(f"unknown curation tags: {sorted(bad)}")
    df = local_df(
        spark,
        rows,
        "pa_hash long, source_hash long, tag string, text string, "
        "curator string, curated_at string",
    ).withColumn(
        "curation_id",
        # to_json escapes delimiters and distinguishes null from any
        # string value — concat_ws-style keys collide when free text
        # contains the separator or equals the null sentinel.
        fold_md5_64(
            F.to_json(
                F.struct(
                    "pa_hash", "source_hash", "tag", "text", "curator",
                    "curated_at",
                )
            )
        ),
    ).dropDuplicates(["curation_id"]).select([f.name for f in CURATIONS.fields])
    # append_lazy handles the fresh-table case itself; dropDuplicates
    # above makes within-batch resubmits idempotent too.
    storage.append_lazy(df, path, ["curation_id"])
    return storage.read_table(spark, path)


def list_curations(
    spark: SparkSession,
    path: str,
    pa_hash: int | None = None,
    source_hash: int | None = None,
    tag: str | None = None,
    curator: str | None = None,
) -> DataFrame:
    """Filtered curation listing (client/principal/curation.py::
    get_curations semantics: every given key must match)."""
    df = storage.read_table(spark, path)
    if pa_hash is not None:
        df = df.where(F.col("pa_hash") == pa_hash)
    if source_hash is not None:
        df = df.where(F.col("source_hash") == source_hash)
    if tag is not None:
        df = df.where(F.col("tag") == tag)
    if curator is not None:
        df = df.where(F.col("curator") == curator)
    return df


def curation_flags(curations: DataFrame) -> DataFrame:
    """Per pa_hash rollup → (mk_hash, n_correct, n_incorrect, is_flagged).

    A statement is flagged incorrect when it has ≥1 incorrect-family
    curation and no correct curation — the readonly build's rule for
    dropping curated-wrong statements from serving.
    """
    return (
        curations.groupBy(F.col("pa_hash").alias("mk_hash"))
        .agg(
            F.sum(
                F.when(F.col("tag").isin(sorted(CORRECT_TAGS)), 1).otherwise(0)
            ).alias("n_correct"),
            F.sum(
                F.when(F.col("tag").isin(sorted(INCORRECT_TAGS)), 1).otherwise(0)
            ).alias("n_incorrect"),
        )
        .withColumn(
            "is_flagged",
            (F.col("n_incorrect") > 0) & (F.col("n_correct") == 0),
        )
    )
