"""Broadcast dimension DataFrames (grounding map, ontology closure, priors).

These are genuinely small (≤ thousands of rows even with real HGNC/FPLX
resources), so they are built driver-side and **broadcast** into every join
that uses them — never shuffled against the fact tables. They are the
code's own: the extractor matches ``lexicon.LEXICON``, and the dims are
built from the same module's rows, so no caller passes a different map.

Each dim is built by ``session.local_df``: the driver rows become one Arrow
table that the JVM holds as a ``LocalRelation`` inside the plan, so every
scan of a dim — the grounding-map checkpoint, the isa-closure groupBy, the
priors broadcast — is JVM work and starts no Python worker.
``createDataFrame(<list>)`` would pickle the rows into a PythonRDD and make
each of those scans a Python-worker job.

``fingerprints`` hashes the same driver rows, sorted, for the stage
fingerprints: a changed dim invalidates exactly the stages it feeds, and
fingerprinting runs no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from indra_db_spark import schemas
from indra_db_spark.lineage import fingerprint
from indra_db_spark.session import local_df
from indra_db_spark.sources import lexicon as LX


def grounding_map_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, LX.grounding_rows(), schemas.GROUNDING_MAP)


def source_priors_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, LX.prior_rows(), schemas.SOURCE_PRIORS)


def isa_closure() -> list[tuple[str, str]]:
    """Transitive ``isa+`` closure over the ontology's (child_key,
    parent_key) pairs.

    Ontologies are small broadcast dims; closure is computed driver-side
    (the reference does the same — indra.ontology holds the full graph in
    memory on every worker).
    """
    parents: dict[str, set[str]] = {}
    for c_ns, c_id, p_ns, p_id, _ in LX.ontology_rows():
        parents.setdefault(f"{c_ns}:{c_id}", set()).add(f"{p_ns}:{p_id}")
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


def fingerprints() -> dict[str, str]:
    """Dim name → order-insensitive hash of the rows its frame is built
    from, computed on the driver."""
    return {
        "grounding_map": fingerprint(sorted(LX.grounding_rows())),
        "isa_closure": fingerprint(sorted(isa_closure())),
        "source_priors": fingerprint(sorted(LX.prior_rows())),
    }
