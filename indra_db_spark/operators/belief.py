"""Belief scoring — closed-form SimpleScorer analog, no UDF.

Reference: indra_db/belief.py::get_belief + indra.belief.BeliefEngine
(SimpleScorer): for per-source evidence counts n_s,

    belief = 1 − ∏_s (p_syst_s + p_rand_s ^ n_s)

with evidence counted hierarchy-aware: a statement inherits the evidence of
the statements that *support* it (more-specific ones), one hop along
pa_link — matching BeliefEngine.set_hierarchy_probs semantics.

Implementation: explode src_counts → union in one-hop supporting counts →
re-aggregate → broadcast-join tiny priors → product via exp(Σ log(term))
(every term > 0 since p_syst > 0). All JVM-side column math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from indra_db_spark import schemas
from indra_db_spark.operators.meta import KB_PREFIX

# Sources with no prior row still contribute evidence — the reference
# BeliefEngine falls back to a default prior for unknown readers and
# treats curated-database evidence as near-certain
# ([P] indra.belief.BeliefEngine / SimpleScorer.prior_probs defaults).
DEFAULT_P_RAND, DEFAULT_P_SYST = 0.3, 0.05   # unknown reader source
KB_P_RAND, KB_P_SYST = 0.01, 0.01            # curated knowledgebase (kb_*)


def compute_belief(
    pa_statements: DataFrame, pa_link: DataFrame, priors: DataFrame
) -> DataFrame:
    """→ (mk_hash, belief).

    Priors are LEFT-joined: a source absent from the priors dim (e.g. a
    ``kb_*`` knowledgebase loaded via sources/knowledgebase.py) falls back
    to the module defaults instead of silently dropping its evidence.
    """
    own = pa_statements.select(
        "mk_hash", F.explode("src_counts").alias("source", "n")
    )
    # Evidence of supporting (more specific) statements flows to supported.
    inherited = (
        pa_link.join(
            own.withColumnRenamed("mk_hash", "supporting_mk_hash"),
            "supporting_mk_hash",
        )
        .select(
            F.col("supported_mk_hash").alias("mk_hash"), "source", "n"
        )
    )
    totals = (
        own.unionByName(inherited)
        .groupBy("mk_hash", "source")
        .agg(F.sum("n").alias("n"))
    )
    is_kb = F.col("source").startswith(KB_PREFIX)
    terms = (
        totals.join(F.broadcast(priors), "source", "left")
        .withColumn(
            "p_rand",
            F.coalesce(
                "p_rand",
                F.when(is_kb, F.lit(KB_P_RAND)).otherwise(F.lit(DEFAULT_P_RAND)),
            ),
        )
        .withColumn(
            "p_syst",
            F.coalesce(
                "p_syst",
                F.when(is_kb, F.lit(KB_P_SYST)).otherwise(F.lit(DEFAULT_P_SYST)),
            ),
        )
        .withColumn(
            "_log_term", F.log(F.col("p_syst") + F.pow(F.col("p_rand"), F.col("n")))
        )
    )
    return terms.groupBy("mk_hash").agg(
        (F.lit(1.0) - F.exp(F.sum("_log_term"))).alias("belief")
    )


def with_belief(
    pa_statements: DataFrame, pa_link: DataFrame, priors: DataFrame
) -> DataFrame:
    """pa_statements with the ``belief`` column filled in."""
    b = compute_belief(pa_statements, pa_link, priors)
    out = (
        pa_statements.drop("belief")
        .join(b, "mk_hash", "left")
        .withColumn("belief", F.coalesce("belief", F.lit(0.0)))
    )
    return out.select(*schemas.PA_STATEMENTS.names)
