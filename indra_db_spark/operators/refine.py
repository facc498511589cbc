"""Refinement-hierarchy linking → pa_link (supported ← supporting).

Reference: indra_db/preassembly/preassemble_db.py::DbPreassembler
._get_support_links + indra.preassembler.Preassembler — pairwise Python
comparison of statements, batched by type/ontology component to bound the
O(n²). Re-expressed as an **equi-ized join** (SURVEY.md C6):

  1. explode each statement into all ``(generalized_subj, generalized_obj)``
     ancestor-key combinations (isa+ closure incl. self — broadcast dim),
  2. equi-join that against the plain keys of the corpus on
     ``(type, subj_key, obj_key)``,
  3. keep pairs where the general side's mods ⊆ the specific side's mods
     (exact compatibility residual — a column predicate, no UDF),
  4. drop self-pairs.

Edge semantics match principal_schema.py::PASupportLinks: the **specific**
statement *supports* the **general** one.

Skew: hub agents (TP53) concentrate join keys → AQE skew-join splitting is
enabled session-wide; the ancestor explode multiplies rows only by the
closure depth (shallow for real bio ontologies at the family level).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from indra_db_spark.functions.hashing import (
    agent_activity_key_expr,
    agent_bounds_key_expr,
    agent_key,
    agent_muts_key_expr,
)


def _cond_key(agent: Column) -> Column:
    """Canonical condition suffix of one agent (muts + activity + bounds)."""
    return F.concat(
        agent_muts_key_expr(agent["muts"]),
        agent_activity_key_expr(agent["activity"]),
        agent_bounds_key_expr(agent["bounds"]),
    )


def _cond_refines(general: Column, specific: Column) -> Column:
    """Agent-condition refinement residual (Agent.refinement_of analog):
    the general agent's mutations ⊆ the specific's, its activity is
    unset or equal, and its bound conditions ⊆ the specific's (a
    bare agent is supported by its bound form, BoundCondition
    refinement semantics)."""
    muts_ok = F.forall(
        general["muts"], lambda m: F.array_contains(specific["muts"], m)
    )
    act_ok = general["activity"].isNull() | (
        general["activity"] == specific["activity"]
    )
    bounds_ok = F.forall(
        general["bounds"], lambda b: F.array_contains(specific["bounds"], b)
    )
    return muts_ok & act_ok & bounds_ok


def _pair_keys(df: DataFrame) -> DataFrame:
    """(k1, k2) join keys; Complex is symmetric → sorted pair."""
    sk = agent_key(F.col("subj"))
    ok = agent_key(F.col("obj"))
    pair = F.when(F.col("type") == "Complex", F.array_sort(F.array(sk, ok))).otherwise(
        F.array(sk, ok)
    )
    return df.withColumn("k1", pair[0]).withColumn("k2", pair[1])


def build_pa_link(pa_statements: DataFrame, isa_closure: DataFrame) -> DataFrame:
    """pa_statements × isa closure → refinement edges.

    ``isa_closure``: (child_key, parent_key), transitive, NOT reflexive —
    self is added here.
    """
    return build_pa_link_restricted(pa_statements, pa_statements, isa_closure)


def build_pa_link_restricted(
    specific: DataFrame, general: DataFrame, isa_closure: DataFrame
) -> DataFrame:
    """Refinement edges with the candidate sides restricted — the
    incremental-supplement path joins a small affected set against the
    full corpus instead of a corpus self-join
    (preassemble_db.py::supplement_corpus computes exactly the old↔new
    link pairs)."""
    pa = _pair_keys(specific.select("mk_hash", "type", "subj", "obj", "mods"))

    # Pre-aggregate the closure to child → [ancestors] (dim side, tiny),
    # so each fact-side generalization is ONE broadcast join + explode —
    # no fact-table shuffle at all in this stage before the refinement join.
    anc_sets = isa_closure.groupBy("child_key").agg(
        F.collect_list("parent_key").alias("_ancs")
    )

    def generalize(df: DataFrame, col: str) -> DataFrame:
        anc = anc_sets.select(
            F.col("child_key").alias(col), F.col("_ancs").alias(f"_{col}_ancs")
        )
        return (
            df.join(F.broadcast(anc), col, "left")
            .withColumn(
                f"{col}_gen",
                F.explode(
                    F.array_union(
                        F.array(F.col(col)),
                        F.coalesce(
                            F.col(f"_{col}_ancs"), F.array().cast("array<string>")
                        ),
                    )
                ),
            )
            .drop(f"_{col}_ancs")
        )

    spec_side = generalize(generalize(pa, "k1"), "k2")
    # Complex pairs are kept sorted; generalizing one member can flip the
    # order (FPLX:… < HGNC:…), so re-sort the generalized pair before the
    # equi-join or symmetric matches are silently missed.
    is_cplx = F.col("type") == "Complex"
    spec_side = spec_side.withColumn(
        "_j1",
        F.when(is_cplx, F.least("k1_gen", "k2_gen")).otherwise(F.col("k1_gen")),
    ).withColumn(
        "_j2",
        F.when(is_cplx, F.greatest("k1_gen", "k2_gen")).otherwise(F.col("k2_gen")),
    )

    gen_keys = _pair_keys(
        general.select("mk_hash", "type", "subj", "obj", "mods")
    ).select(
        F.col("mk_hash").alias("supported_mk_hash"),
        F.col("type").alias("g_type"),
        F.col("k1").alias("g_k1"),
        F.col("k2").alias("g_k2"),
        F.col("mods").alias("g_mods"),
        F.col("subj").alias("g_subj"),
        F.col("obj").alias("g_obj"),
    )

    joined = spec_side.join(
        gen_keys,
        (spec_side["type"] == gen_keys["g_type"])
        & (spec_side["_j1"] == gen_keys["g_k1"])
        & (spec_side["_j2"] == gen_keys["g_k2"]),
    )

    # general's mods ⊆ specific's mods (struct equality inside arrays;
    # mods is never null — empty array when siteless).
    mods_subset = F.forall(
        F.col("g_mods"), lambda m: F.array_contains(F.col("mods"), m)
    )
    # Agent mutation/activity conditions: positional refinement for
    # directional types (Agent.refinement_of — general's muts ⊆ specific's,
    # activity unset-or-equal). Complex members are matched by sorted
    # entity key, which can misalign condition comparison when both
    # members generalize — conservative rule: the condition-suffix
    # multiset must be identical (condition-free Complexes, the common
    # case, are unaffected; indra.statements.Complex.refinement_of does
    # full member matching).
    cplx_conds_eq = F.array_sort(
        F.array(_cond_key(F.col("subj")), _cond_key(F.col("obj")))
    ) == F.array_sort(
        F.array(_cond_key(F.col("g_subj")), _cond_key(F.col("g_obj")))
    )
    cond_ok = F.when(F.col("type") == "Complex", cplx_conds_eq).otherwise(
        _cond_refines(F.col("g_subj"), F.col("subj"))
        & _cond_refines(F.col("g_obj"), F.col("obj"))
    )
    return (
        joined.where(F.col("mk_hash") != F.col("supported_mk_hash"))
        .where(mods_subset)
        .where(cond_ok)
        .select(
            "supported_mk_hash",
            F.col("mk_hash").alias("supporting_mk_hash"),
        )
        .distinct()
    )
