"""Canonicalization & hashing — the matches-key machinery.

Reference: indra.statements.Statement.matches_key / Agent.matches_key and
indra.statements.statements.make_hash (truncated MD5 → signed int), used by
indra_db preassembly (indra_db/preassembly/preassemble_db.py) to key
``pa_statements.mk_hash``. Spec: SURVEY.md §8.3.

Everything here is a **pure Spark column expression** (JVM-side, inside
whole-stage codegen — no UDF in the hot path), with a Python twin for
property tests and driver-side fixture computation. The two are asserted
equal on random strings in tests/test_hashing.py.

``fold_md5_64(s)``: first 16 hex chars of md5(s) as unsigned 64-bit,
reinterpreted as signed two's-complement long.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

_TWO63 = "9223372036854775808"  # 2**63
_TWO64 = "18446744073709551616"  # 2**64


def fold_md5_64(col: Column) -> Column:
    """Signed-64 fold of md5 — pure SQL, codegen-friendly.

    ``conv(hex16, 16, 10)`` yields the unsigned value as a decimal string;
    we go through decimal(20,0) to dodge long overflow, then two's-complement
    fold. NULL in → NULL out.
    """
    u = F.conv(F.substring(F.md5(col), 1, 16), 16, 10).cast("decimal(20,0)")
    two63 = F.lit(_TWO63).cast("decimal(20,0)")
    two64 = F.lit(_TWO64).cast("decimal(21,0)")
    return (
        F.when(u >= two63, (u.cast("decimal(21,0)") - two64).cast("long"))
        .otherwise(u.cast("long"))
    )


def fold_md5_64_py(s: str) -> int:
    """Python twin of :func:`fold_md5_64` (property-tested equal)."""
    h = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:16], 16)
    return h - (1 << 64) if h >= (1 << 63) else h


# --------------------------------------------------------------------------
# matches_key construction (indra.statements.Statement.matches_key analog)


def agent_muts_key_expr(muts: Column) -> Column:
    """Sorted ``;mut=<from>:<pos>:<to>`` entries, '' if none — the
    MutCondition part of Agent.matches_key (indra sorts mutation
    conditions so listing order never splits hashes)."""
    entries = F.transform(
        muts,
        lambda m: F.concat(
            F.lit(";mut="),
            F.coalesce(m["residue_from"], F.lit("")),
            F.lit(":"),
            F.coalesce(m["position"], F.lit("")),
            F.lit(":"),
            F.coalesce(m["residue_to"], F.lit("")),
        ),
    )
    return F.when(muts.isNull() | (F.size(muts) == 0), F.lit("")).otherwise(
        F.concat_ws("", F.array_sort(entries))
    )


def agent_activity_key_expr(activity: Column) -> Column:
    """``;act=<type>:<true|false>`` or '' — the ActivityCondition part."""
    return F.when(activity.isNull(), F.lit("")).otherwise(
        F.concat(
            F.lit(";act="),
            F.coalesce(activity["activity_type"], F.lit("")),
            F.lit(":"),
            # coalesce: a null is_active must not null the whole agent key
            F.coalesce(activity["is_active"].cast("string"), F.lit("")),
        )
    )


def agent_bounds_key_expr(bounds: Column) -> Column:
    """Sorted ``;bound=<ns>:<id>:<true|false>`` entries, '' if none — the
    BoundCondition part of Agent.matches_key (indra folds each bound
    condition's agent matches_key + is_bound into the carrier agent's
    key; sorting makes listing order irrelevant)."""
    entries = F.transform(
        bounds,
        lambda b: F.concat(
            F.lit(";bound="),
            F.coalesce(b["db_ns"], F.lit("")),
            F.lit(":"),
            F.coalesce(b["db_id"], F.lit("")),
            F.lit(":"),
            F.coalesce(b["is_bound"].cast("string"), F.lit("")),
        ),
    )
    return F.when(bounds.isNull() | (F.size(bounds) == 0), F.lit("")).otherwise(
        F.concat_ws("", F.array_sort(entries))
    )


def agent_key(agent: Column) -> Column:
    """Entity key ``db_ns:db_id`` of an agent struct: the condition-free
    head of ``agent_key_expr`` and the grain of agent pairs (refinement
    join keys, interactions, SIF rows, ``agent_count``)."""
    return F.concat_ws(":", agent["db_ns"], agent["db_id"])


def agent_key_expr(agent: Column) -> Column:
    """Canonical agent key: ``db_ns:db_id[;mut=…][;act=…]`` — the agent
    struct carries a ``TEXT`` fallback namespace for ungrounded mentions,
    so the expression is uniform; mutation/activity conditions are folded
    in so statements differing only by a condition get distinct keys
    (Agent.matches_key semantics incl. MutCondition/ActivityCondition).
    Condition-free agents produce the bare ``db_ns:db_id`` — existing
    hashes are unchanged. NULL agent → NULL key.
    """
    muts_part = agent_muts_key_expr(agent["muts"])
    act_part = agent_activity_key_expr(agent["activity"])
    bounds_part = agent_bounds_key_expr(agent["bounds"])
    return F.when(
        agent.isNotNull(),
        F.concat(
            agent_key(agent),
            muts_part,
            act_part,
            bounds_part,
        ),
    )


def agent_key_py(
    entity_key: str,
    muts: list[tuple[str, str, str]] | None = None,
    activity: tuple[str, bool] | None = None,
    bounds: list[tuple[str, bool]] | None = None,
) -> str:
    """Python twin of :func:`agent_key_expr`; ``muts`` entries are
    (residue_from, position, residue_to); ``bounds`` entries are
    (bound_entity_key 'ns:id', is_bound)."""
    mk = "".join(sorted(f";mut={f}:{p}:{t}" for (f, p, t) in (muts or [])))
    ak = (
        f";act={activity[0]}:{str(activity[1]).lower()}" if activity else ""
    )
    bk = "".join(
        sorted(f";bound={k}:{str(b).lower()}" for (k, b) in (bounds or []))
    )
    return f"{entity_key}{mk}{ak}{bk}"


def mods_key_expr(mods: Column) -> Column:
    """Sorted ``;mod=<type>:<residue>:<position>`` entries, '' if none.

    ModCondition ordering is canonical (sorted) so statements differing only
    in mod listing order collide — matching indra's matches_key semantics.
    """
    entries = F.transform(
        mods,
        lambda m: F.concat(
            F.lit(";mod="),
            F.coalesce(m["mod_type"], F.lit("")),
            F.lit(":"),
            F.coalesce(m["residue"], F.lit("")),
            F.lit(":"),
            F.coalesce(m["position"], F.lit("")),
        ),
    )
    return F.when(mods.isNull() | (F.size(mods) == 0), F.lit("")).otherwise(
        F.concat_ws("", F.array_sort(entries))
    )


def matches_key_expr(stmt_type: Column, subj: Column, obj: Column, mods: Column) -> Column:
    """``type(subj_key, obj_key;mod=...)``.

    ``Complex`` is symmetric in the reference (member-set semantics,
    indra.statements.Complex.matches_key sorts members) → sort the two agent
    keys before joining.
    """
    # NULL agent keys coalesce to '' BEFORE the join: concat_ws skips
    # nulls, which would collapse Type(A, null) and Type(null, A) into the
    # same 'Type(A)' key — distinct statements must never share a hash.
    # 'Type(A, )' vs 'Type(, A)' keeps them apart and matches the Python
    # twin's rendering of an empty agent key.
    k1 = F.coalesce(agent_key_expr(subj), F.lit(""))
    k2 = F.coalesce(agent_key_expr(obj), F.lit(""))
    pair = F.when(
        stmt_type == F.lit("Complex"),
        F.array_sort(F.array(k1, k2)),
    ).otherwise(F.array(k1, k2))
    return F.concat(
        stmt_type,
        F.lit("("),
        F.concat_ws(", ", pair),
        mods_key_expr(mods),
        F.lit(")"),
    )


def matches_key_py(
    stmt_type: str,
    subj_key: str,
    obj_key: str,
    mods: list[tuple[str, str, str]] | None = None,
) -> str:
    """Python twin for golden-fixture computation."""
    subj_key, obj_key = subj_key or "", obj_key or ""
    if stmt_type == "Complex":
        subj_key, obj_key = sorted([subj_key, obj_key])
    mods_key = "".join(
        sorted(f";mod={t}:{r}:{p}" for (t, r, p) in (mods or []))
    )
    return f"{stmt_type}({subj_key}, {obj_key}{mods_key})"


# --------------------------------------------------------------------------
# Evidence / raw-statement identity


def source_hash_expr(source: Column, evidence_text: Column) -> Column:
    """Analog of indra.statements.Evidence.get_source_hash."""
    return fold_md5_64(F.concat_ws("|", source, evidence_text))


def raw_id_expr(
    url: Column,
    extractor: Column,
    extractor_version: Column,
    sent_idx: Column,
    start: Column,
    matches_key: Column,
) -> Column:
    """Deterministic raw-statement id — analog of
    indra_db/reading/read_db.py::generate_reading_id (deterministic composite
    of content id + reader + version). Deterministic ids make every write
    idempotent under retries."""
    return fold_md5_64(
        F.concat_ws(
            "|",
            url,
            extractor,
            extractor_version,
            sent_idx.cast("string"),
            start.cast("string"),
            matches_key,
        )
    )
