"""Broadcast dimension DataFrames (grounding map, ontology closure, priors).

These are genuinely small (≤ thousands of rows even with real HGNC/FPLX
resources), so they are built driver-side and **broadcast** into every join
that uses them — never shuffled against the fact tables.

Each dim is built by ``session.local_df``: the driver rows become one Arrow
table that the JVM holds as a ``LocalRelation`` inside the plan, so every
scan of a dim — its content signature for the stage fingerprints, the
grounding-map checkpoint, the isa-closure groupBy, the priors broadcast —
is JVM work and starts no Python worker. ``createDataFrame(<list>)`` would
pickle the rows into a PythonRDD and make each of those scans a
Python-worker job. The content signatures do not depend on how a dim is
built, so the stage fingerprints stay stable across the two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from indra_db_spark import schemas
from indra_db_spark.session import local_df
from indra_db_spark.sources import lexicon as LX


def grounding_map_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, LX.grounding_rows(), schemas.GROUNDING_MAP)


def source_priors_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, LX.prior_rows(), schemas.SOURCE_PRIORS)


def isa_closure(edges: list[tuple[str, str]] | None = None) -> list[tuple[str, str]]:
    """Transitive ``isa+`` closure over (child_key, parent_key) pairs.

    Ontologies are small broadcast dims; closure is computed driver-side
    (the reference does the same — indra.ontology holds the full graph in
    memory on every worker).
    """
    if edges is None:
        edges = [
            (f"{c_ns}:{c_id}", f"{p_ns}:{p_id}")
            for c_ns, c_id, p_ns, p_id, _ in LX.ontology_rows()
        ]
    parents: dict[str, set[str]] = {}
    for c, p in edges:
        parents.setdefault(c, set()).add(p)
    closure: list[tuple[str, str]] = []
    for child in parents:
        seen: set[str] = set()
        stack = list(parents[child])
        while stack:
            p = stack.pop()
            if p in seen:
                continue
            seen.add(p)
            stack.extend(parents.get(p, ()))
        closure.extend((child, p) for p in sorted(seen))
    return sorted(closure)


def isa_closure_df(spark: SparkSession) -> DataFrame:
    """(child_key, parent_key) closure DF — broadcast side of the
    refinement join (SURVEY.md C6)."""
    return local_df(spark, isa_closure(), "child_key string, parent_key string")
