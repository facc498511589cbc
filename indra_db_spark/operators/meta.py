"""Readonly-style meta tables (materialization operators).

Reference: indra_db/schemas/readonly_schema.py — each readonly table is a
``CREATE TABLE AS SELECT`` built in dependency order by
databases.py::ReadonlyDatabaseManager.generate_readonly. Here each is one
DataFrame materialization; Catalyst owns join order and pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from indra_db_spark.functions.hashing import agent_key

KB_PREFIX = "kb_"  # curated-knowledgebase sources (db_info analog)


def build_name_meta(pa_statements: DataFrame) -> DataFrame:
    """NameMeta analog: one row per (statement, agent) with rollup columns.

    readonly_schema.py::NameMeta — pa_agents ⋈ pa_statements ⋈ belief ⋈
    evidence_counts, denormalized. Our pa_statements already carries the
    rollups, so this is a posexplode, no join at all.
    """
    agents = F.array(F.col("subj"), F.col("obj"))
    return pa_statements.select(
        "mk_hash",
        F.posexplode(agents).alias("ag_num", "_agent"),
        "type",
        "ev_count",
        "belief",
        "agent_count",
    ).select(
        "mk_hash",
        "ag_num",
        F.when(F.col("ag_num") == 0, F.lit("SUBJECT"))
        .otherwise(F.lit("OBJECT"))
        .alias("role"),
        F.col("_agent.db_ns").alias("db_ns"),
        F.col("_agent.db_id").alias("db_id"),
        F.col("_agent.name").alias("name"),
        "type",
        "ev_count",
        "belief",
        "agent_count",
    )


def build_source_meta(pa_statements: DataFrame) -> DataFrame:
    """SourceMeta analog: per-hash source map + has_rd/has_db/num_srcs."""
    srcs = F.map_keys("src_counts")
    return pa_statements.select(
        "mk_hash",
        "src_counts",
        F.size(srcs).alias("num_srcs"),
        F.exists(srcs, lambda s: ~s.startswith(KB_PREFIX)).alias("has_rd"),
        F.exists(srcs, lambda s: s.startswith(KB_PREFIX)).alias("has_db"),
        "type",
        "ev_count",
        "belief",
        "agent_count",
    )


def export_sif(pa_statements: DataFrame, path: str) -> None:
    """SIF dump analog (indra_db/util/dump_sif.py): one
    ``subj<TAB>type<TAB>obj`` interaction row per (pair, type), strongest
    evidence first. Plain CSV so downstream network tools ingest directly."""
    (
        pa_statements.groupBy(
            agent_key(F.col("subj")).alias("subj_key"),
            F.col("type"),
            agent_key(F.col("obj")).alias("obj_key"),
        )
        .agg(F.sum("ev_count").alias("total_ev"))
        .orderBy(F.desc("total_ev"), "subj_key", "obj_key")
        .coalesce(1)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", "true")
        .csv(path)
    )


def build_topic_ref_counts(page_topics: DataFrame, evidence: DataFrame) -> DataFrame:
    """Mesh*RefCounts analog (readonly_schema.py::MeshTermRefCounts):
    per topic, distinct annotated pages and distinct statements with
    evidence on them; ``topic_num`` strips the prefix (mesh_num analog, G7)
    and ``topic_kind`` keeps it ('T' term vs 'C' concept — the reference
    likewise splits mesh_term_* from mesh_concept_* tables, so the numeric
    id alone is ambiguous across kinds and must never be a join key
    without the kind)."""
    joined = page_topics.join(evidence.select("url", "mk_hash"), "url")
    return (
        joined.groupBy("topic_id")
        .agg(
            F.countDistinct("url").alias("ref_count"),
            F.countDistinct("mk_hash").alias("stmt_count"),
        )
        .withColumn(
            "topic_num", F.regexp_extract("topic_id", r"[TC](\d+)", 1).cast("int")
        )
        .withColumn("topic_kind", F.substring("topic_id", 1, 1))
    )


def build_agent_interactions(pa_statements: DataFrame) -> DataFrame:
    """AgentInteractions analog: per (subj, obj, type) rollup."""
    return (
        pa_statements.groupBy(
            agent_key(F.col("subj")).alias("subj_key"),
            agent_key(F.col("obj")).alias("obj_key"),
            "type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_statements"),
            F.sum("ev_count").alias("total_ev"),
            F.max("belief").alias("max_belief"),
        )
    )
