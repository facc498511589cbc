"""Serving facade: HTTP-style query params → DSL ``Query`` objects.

Analog of the reference's REST layer ([P] rest_api/api.py — parses URL
query strings into readonly-client Query objects and calls
``get_statements``), minus the web framework: this module is the pure
parsing + dispatch layer, so any HTTP server (or a notebook) can expose
the engine with a dozen lines. Param conventions mirror the public API:

- ``subject`` / ``object`` / ``agent``: entity spec, either a name
  (``TP53``) or grounding ``<db_id>@<namespace>`` (``11998@HGNC``);
  ``agent`` matches either role. A trailing ``!`` negates the leaf
  ([P] rest_api convention for inverted filters).
- ``type``: statement type; ``type_subclasses=true`` applies the
  TYPE_PARENTS closure (HasType(include_subclasses)).
- ``hashes``: list of mk_hash ints.
- ``paper_ids``: list of page urls (text_ref analog → FromPapers).
- ``mesh_ids``: topic ids, T…/C… prefix-dispatched (term vs concept).
- ``sources`` (conjunctive), ``only_source``, ``has_readings``,
  ``has_databases``, ``num_agents``, ``min_evidence``,
  ``exclude_curated`` (NotFlaggedIncorrect).
- result controls: ``limit``, ``offset``, ``ev_limit``, ``sort_by``,
  ``after`` (keyset pagination tuple — the scalable alternative to
  offset; this engine's addition).

All leaves AND together (the reference API composes params
conjunctively); an empty param dict raises — the reference likewise
rejects unconstrained statement dumps.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from indra_db_spark.plans.query import (
    FromPapers,
    FromTopics,
    HasAgent,
    HasDatabases,
    HasHash,
    HasNumAgents,
    HasNumEvidence,
    HasOnlySource,
    HasReadings,
    HasSources,
    HasType,
    Not,
    Query,
    QueryContext,
    pack_evidence,
)

_RESULT_PARAMS = {"limit", "offset", "ev_limit", "sort_by", "after"}

# Orderable result columns ([P] rest_api accepts sort_by ∈ {ev_count,
# belief}); anything else must fail at parse time as a ValueError, not
# surface as an AnalysisException from deep inside get_statements.
_SORTABLE = {"ev_count", "belief"}


def _parse_entity(spec: str, role: str | None) -> Query:
    neg = spec.endswith("!")
    if neg:
        spec = spec[:-1]
    if "@" in spec:
        db_id, ns = spec.rsplit("@", 1)
        leaf: Query = HasAgent(db_id=db_id, namespace=ns, role=role)
    else:
        leaf = HasAgent(name=spec, role=role)
    return Not(leaf) if neg else leaf


def _as_list(v: Any) -> list:
    return v if isinstance(v, (list, tuple)) else [v]


def _as_bool(v: Any) -> bool:
    return v if isinstance(v, bool) else str(v).lower() in ("1", "true", "yes")


def parse_query(params: dict[str, Any]) -> Query:
    """params → one composed DSL Query (conjunction of leaves)."""
    leaves: list[Query] = []
    if "subject" in params:
        leaves.append(_parse_entity(str(params["subject"]), "SUBJECT"))
    if "object" in params:
        leaves.append(_parse_entity(str(params["object"]), "OBJECT"))
    for spec in _as_list(params.get("agent", [])):
        leaves.append(_parse_entity(str(spec), None))
    if "type" in params:
        leaves.append(
            HasType(
                _as_list(params["type"]),
                include_subclasses=_as_bool(params.get("type_subclasses", False)),
            )
        )
    if "hashes" in params:
        leaves.append(HasHash([int(h) for h in _as_list(params["hashes"])]))
    if "paper_ids" in params:
        leaves.append(FromPapers(_as_list(params["paper_ids"])))
    if "mesh_ids" in params:
        leaves.append(FromTopics(_as_list(params["mesh_ids"])))
    if "sources" in params:
        leaves.append(HasSources(_as_list(params["sources"])))
    if "only_source" in params:
        leaves.append(HasOnlySource(str(params["only_source"])))
    if _as_bool(params.get("has_readings", False)):
        leaves.append(HasReadings())
    if _as_bool(params.get("has_databases", False)):
        leaves.append(HasDatabases())
    if "num_agents" in params:
        leaves.append(HasNumAgents(int(params["num_agents"])))
    if "min_evidence" in params:
        leaves.append(HasNumEvidence(int(params["min_evidence"])))
    if _as_bool(params.get("exclude_curated", False)):
        from indra_db_spark.plans.query import NotFlaggedIncorrect

        leaves.append(NotFlaggedIncorrect())
    unknown = set(params) - _RESULT_PARAMS - {
        "subject", "object", "agent", "type", "type_subclasses", "hashes",
        "paper_ids", "mesh_ids", "sources", "only_source", "has_readings",
        "has_databases", "num_agents", "min_evidence", "exclude_curated",
    }
    if unknown:
        raise ValueError(f"unknown query params: {sorted(unknown)}")
    if not leaves:
        raise ValueError(
            "empty query — the API rejects unconstrained statement dumps"
        )
    q: Query = leaves[0]
    for leaf in leaves[1:]:
        q = q & leaf
    return q


def _parse_after(v: Any) -> tuple:
    """Keyset cursor → (last_sort_value, last_mk_hash), validated.

    Accepts a 2-tuple/list or the HTTP string form "sort,hash". The sort
    value coerces int-then-float (ev_count vs belief sort columns); the
    hash is always a signed 64-bit int."""
    parts = v.split(",") if isinstance(v, str) else list(v)
    if len(parts) != 2:
        raise ValueError(f"after must be (last_sort_value, last_mk_hash), got {v!r}")
    sort_v: Any = parts[0]
    if isinstance(sort_v, str):
        try:
            sort_v = int(sort_v)
        except ValueError:
            sort_v = float(sort_v)
    return (sort_v, int(parts[1]))


def load_context(spark, out_dir: str, bucketed: bool = False) -> QueryContext:
    """Pipeline output dir → serving ``QueryContext``.

    ``bucketed=True`` publishes ONE serving table: pa_statements left
    joined to ``pack_evidence(evidence)``, so each row carries its
    ``evidences`` array already in serving order, registered as an
    mk_hash-bucketed session-catalog table (the Iceberg
    ``bucket(N, mk_hash)`` analog, via storage.write_bucketed_table).
    This is the analog of the reference's pg_restore-into-the-serving-
    instance swap ([P] cli/dump.py) into its evidence-fetch table
    ([P] readonly_schema.py::FastRawPaLink): one materialization per
    corpus publish, after which a ``/statements`` page is one
    bucket-pruned scan with no per-request join, window or aggregate.
    The table is one file per non-empty bucket, so a lookup on a page of
    hashes opens only those hashes' buckets; the bucket count is also
    the publish step's write parallelism. ``evidence`` stays the corpus's
    day-partitioned table: only the url lookups (``FromPapers``,
    ``FromTopics``) read it, so evidence is not stored twice.
    The catalog name carries a short hash of the resolved ``out_dir``
    (``pa_statements_srv_<h8>``) so two published contexts for different
    corpora can coexist in one session without silently repointing each
    other's tables (ADVICE r3); re-loading the SAME out_dir reuses its
    name (idempotent republish).

    The pipeline itself stays on the directory-partitioned shim: its own
    stages join on generalized agent keys (refine) or aggregate on
    (mk_hash, source) grains that bucketing alone cannot satisfy, and the
    write_bucketed_table form has no manifest/resume integration — the
    rationale recorded against VERDICT r2 #7.
    """
    import hashlib
    import os

    from indra_db_spark.sources import storage

    pa = storage.read_table(spark, f"{out_dir}/pa_statements").drop("bucket")
    ev = storage.read_table(spark, f"{out_dir}/evidence")
    if bucketed:
        h8 = hashlib.md5(os.path.abspath(out_dir).encode()).hexdigest()[:8]
        name = f"pa_statements_srv_{h8}"
        storage.write_bucketed_table(
            pa.join(pack_evidence(ev), "mk_hash", "left"),
            name,
            path=f"{out_dir}/_srv/pa",
        )
        pa = spark.table(name)
    return QueryContext(pa_statements=pa, evidence=ev)


def result_kwargs(params: dict[str, Any]) -> dict[str, Any]:
    """Validated result-control kwargs for ``Query.get_statements``
    (shared by :func:`run_query` and the HTTP layer in ``server.py``)."""
    sort_by = str(params.get("sort_by", "ev_count"))
    if sort_by not in _SORTABLE:
        raise ValueError(
            f"sort_by must be one of {sorted(_SORTABLE)}, got {sort_by!r}"
        )
    return {
        "ev_limit": int(params["ev_limit"]) if "ev_limit" in params else None,
        "sort_by": sort_by,
        "limit": int(params["limit"]) if "limit" in params else None,
        "offset": int(params["offset"]) if "offset" in params else None,
        "after": _parse_after(params["after"]) if "after" in params else None,
    }


def run_query(params: dict[str, Any], ctx: QueryContext) -> DataFrame:
    """One-call serving path: parse params, execute, hydrate.

    Result controls pass through to ``Query.get_statements`` (ev_limit
    truncation, sort, keyset/offset pagination)."""
    q = parse_query(params)
    return q.get_statements(ctx, **result_kwargs(params))
