"""Grounding / entity linking — broadcast-join against the grounding map.

Reference: indra.preassembler.grounding_mapper (gilda-style scored
candidates), applied during indra_db preassembly; agent-id cleanup is
indra_db/util/__init__.py::regularize_agent_id (strips redundant
``CHEBI:CHEBI:``-style prefixes).

Plan shape (scale-critical): the grounding map is a small dim → it is
resolved FIRST (best candidate per mention text: score desc, then
lexicographic ``(db_ns, db_id)`` — SURVEY.md W3) so the fact-side join is a
1:1 **broadcast hash join**, never a shuffle and never a row-multiplying
join followed by a window over the fact table.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from indra_db_spark import schemas
from indra_db_spark.functions.hashing import (
    fold_md5_64,
    matches_key_expr,
    raw_id_expr,
    source_hash_expr,
)
from indra_db_spark.functions.textnorm import normalize_text_expr


def regularize_agent_id(db_id, db_ns):
    """Strip a redundant leading ``<ns>:`` from the id (G4). Built from
    the PASSED Columns — an F.expr with hardcoded names would silently
    read (or fail on) the caller's unrelated db_id/db_ns columns."""
    prefix = F.concat(db_ns, F.lit(":"))
    stripped = db_id.substr(F.length(db_ns) + F.lit(2), F.length(db_id))
    return F.when(db_id.startswith(prefix), stripped).otherwise(db_id)


def resolve_grounding_map(grounding_map: DataFrame) -> DataFrame:
    """Best grounding per text_norm (W3 tie-break), ids regularized.

    Runs on the dim side only — thousands of rows, one tiny shuffle.
    """
    gm = grounding_map.withColumn(
        "db_id", regularize_agent_id(F.col("db_id"), F.col("db_ns"))
    )
    w = Window.partitionBy("text_norm").orderBy(
        F.col("score").desc(), F.col("db_ns").asc(), F.col("db_id").asc()
    )
    return (
        gm.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("text_norm", "db_ns", "db_id", "name")
    )


# Broadcast bound for the resolved grounding map (auto mode). A resolved
# row is four short strings (~100 B serialized); 2M rows ≈ 200 MB — well
# inside executor/driver budgets on any reasonable cluster, with headroom
# under Spark's hard 8 GB broadcast-table limit. Beyond it the three
# grounding joins fall back to Catalyst-planned shuffle joins: at that
# map size the dim is no longer "small" and co-partitioning on the
# normalized text is exactly what a 1000-executor plan should do.
GROUNDING_BROADCAST_MAX_ROWS = 2_000_000

_MUTS = T.ArrayType(schemas.MUT)
_BOUNDS = T.ArrayType(schemas.BOUND)


def _agent_conditions(side: str):
    """(muts, activity, bounds) condition columns for one agent side.

    The grammar emits subject-side qualifiers only (flat subj_mut_* /
    subj_act / subj_bound_* columns from extract.py); other sides get
    empty/null conditions. Analog of principal_schema.py::RawMuts /
    PaActivity / the BoundCondition entries of the raw agent model.
    ``bounds`` references the ``_bound_*`` columns the bound-text
    grounding join (in :func:`ground_statements`) must provide first.
    """
    if side != "subj":
        return (
            F.array().cast(_MUTS),
            F.lit(None).cast(schemas.ACTIVITY),
            F.array().cast(_BOUNDS),
        )
    muts = F.when(
        F.col("subj_mut_pos").isNotNull(),
        F.array(
            F.struct(
                F.col("subj_mut_pos").alias("position"),
                F.col("subj_mut_from").alias("residue_from"),
                F.col("subj_mut_to").alias("residue_to"),
            )
        ),
    ).otherwise(F.array().cast(_MUTS))
    act = F.when(
        F.col("subj_act").isNotNull(),
        F.struct(
            F.lit("activity").alias("activity_type"),
            (F.col("subj_act") == "active").alias("is_active"),
        ),
    ).otherwise(F.lit(None).cast(schemas.ACTIVITY))
    bounds = F.when(
        F.col("subj_bound_text").isNotNull(),
        F.array(
            F.struct(
                F.coalesce(F.col("_bound_ns"), F.lit("TEXT")).alias("db_ns"),
                F.coalesce(F.col("_bound_id"), F.col("_bound_norm")).alias("db_id"),
                F.coalesce(F.col("_bound_name"), F.col("subj_bound_text")).alias("name"),
                (~F.coalesce(F.col("subj_bound_neg"), F.lit(False))).alias("is_bound"),
            )
        ),
    ).otherwise(F.array().cast(_BOUNDS))
    return muts, act, bounds


def _ground_bound_text(
    df: DataFrame, resolved: DataFrame, broadcast: bool = True
) -> DataFrame:
    """Ground the subject's bound-condition entity text (one more
    broadcast join against the same resolved map the agent sides use)."""
    df = df.withColumn(
        "_bound_norm", normalize_text_expr(F.col("subj_bound_text"))
    )
    g = resolved.select(
        F.col("text_norm").alias("_bound_norm"),
        F.col("db_ns").alias("_bound_ns"),
        F.col("db_id").alias("_bound_id"),
        F.col("name").alias("_bound_name"),
    )
    return df.join(F.broadcast(g) if broadcast else g, "_bound_norm", "left")


def _ground_side(
    df: DataFrame, resolved: DataFrame, side: str, broadcast: bool = True
) -> DataFrame:
    norm = normalize_text_expr(F.col(f"{side}_text")).alias(f"_{side}_norm")
    df = df.withColumn(f"_{side}_norm", norm)
    g = resolved.select(
        F.col("text_norm").alias(f"_{side}_norm"),
        F.col("db_ns").alias(f"_{side}_ns"),
        F.col("db_id").alias(f"_{side}_id"),
        F.col("name").alias(f"_{side}_name"),
    )
    df = df.join(F.broadcast(g) if broadcast else g, f"_{side}_norm", "left")
    muts, act, bounds = _agent_conditions(side)
    agent = F.struct(
        F.col(f"{side}_text").alias("text"),
        F.coalesce(F.col(f"_{side}_ns"), F.lit("TEXT")).alias("db_ns"),
        F.coalesce(F.col(f"_{side}_id"), F.col(f"_{side}_norm")).alias("db_id"),
        F.coalesce(F.col(f"_{side}_name"), F.col(f"{side}_text")).alias("name"),
        muts.alias("muts"),
        act.alias("activity"),
        bounds.alias("bounds"),
    )
    return df.withColumn(side, agent).drop(
        f"_{side}_norm", f"_{side}_ns", f"_{side}_id", f"_{side}_name"
    )


def default_source_expr(url: Column) -> Column:
    """Engine-default source label: the url's host (``scheme://host/…``).

    Real crawl corpora identify provenance by registrable domain; corpora
    with their own source convention pass ``source_expr`` explicitly (the
    synthetic corpus's ``https://ex<k>.org → src<k>`` mapping lives in
    :func:`indra_db_spark.sources.synth.source_expr`, not here).
    """
    return F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1)


def ground_statements(
    extracted: DataFrame,
    grounding_map: DataFrame,
    source_expr: "Column | Callable[[Column], Column] | None" = None,
) -> DataFrame:
    """Pre-grounding statement rows → ``raw_statements`` (SURVEY.md §8.1).

    Grounds subj and obj via two broadcast joins, builds ModConditions,
    then computes matches_key / mk_hash / source_hash / raw_id as pure
    column expressions (whole-stage codegen, §8.3).

    ``source_expr``: evidence-source derivation — a Column, or a callable
    taking the url Column; default = the url host
    (:func:`default_source_expr`).

    Join strategy for the three grounding joins: decided from the
    resolved map's row count against :data:`GROUNDING_BROADCAST_MAX_ROWS`
    — a deployment-size grounding map can exceed what a broadcast should
    carry, in which case the explicit broadcast hint is dropped and
    Catalyst/AQE plan shuffle joins on the normalized text key instead
    (results identical — property-tested in tests/test_operators.py).
    """
    # Materialize the resolved dim once (localCheckpoint): the three
    # grounding joins each reference it, and without materialization each
    # would re-run the resolution window job. The count used by the auto
    # decision reads the checkpointed blocks, not the lineage.
    resolved = resolve_grounding_map(grounding_map).localCheckpoint()
    broadcast_map = resolved.count() <= GROUNDING_BROADCAST_MAX_ROWS
    # Bound-condition entity grounding must precede the subj struct build
    # (the bounds array reads the _bound_* columns).
    df = _ground_bound_text(extracted, resolved, broadcast_map)
    df = _ground_side(df, resolved, "subj", broadcast_map)
    df = _ground_side(df, resolved, "obj", broadcast_map)
    df = df.drop("_bound_norm", "_bound_ns", "_bound_id", "_bound_name")

    mods = F.when(
        F.col("residue").isNotNull(),
        F.array(
            F.struct(
                F.lit("phosphorylation").alias("mod_type"),
                F.col("residue").alias("residue"),
                F.col("position").alias("position"),
                F.lit(True).alias("is_modified"),
            )
        ),
    ).otherwise(F.array().cast(T.ArrayType(schemas.MOD)))
    df = df.withColumn("mods", mods)

    mk = matches_key_expr(F.col("type"), F.col("subj"), F.col("obj"), F.col("mods"))
    df = df.withColumn("matches_key", mk)
    if source_expr is None:
        src = default_source_expr(F.col("url"))
    elif callable(source_expr):
        src = source_expr(F.col("url"))
    else:
        src = source_expr
    df = df.withColumn("source", src)
    return (
        df.withColumn("mk_hash", fold_md5_64(F.col("matches_key")))
        .withColumn("source_hash", source_hash_expr(F.col("source"), F.col("evidence_text")))
        .withColumn(
            "raw_id",
            raw_id_expr(
                F.col("url"),
                F.col("extractor"),
                F.col("extractor_version"),
                F.col("sent_idx"),
                F.col("start"),
                F.col("matches_key"),
            ),
        )
        .select(*schemas.RAW_STATEMENTS.names)
    )
