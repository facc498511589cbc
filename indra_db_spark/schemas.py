"""Schema registry — explicit StructTypes for every table, never inferred.

Reference data model: indra_db/schemas/principal_schema.py (Postgres ORM
tables ``text_ref``/``text_content``/``raw_statements``/``pa_statements``/
``raw_unique_links``/``pa_support_links``) and
indra_db/schemas/readonly_schema.py (denormalized meta tables). Re-mapped
per SURVEY.md §8.1 onto a Common-Crawl-style ``pages`` input
(BASELINE.json input_hint) with typed StructType payloads instead of
gzipped-JSON ``bytea`` blobs — columnar Parquet wins at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Input: Common-Crawl-style web pages (BASELINE.json input_hint, exact).
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# MutCondition analog (indra.statements.MutCondition — position,
# residue_from, residue_to; principal_schema.py::RawMuts/PaMuts carry the
# same triple). Lives on the AGENT, like the reference.
MUT = T.StructType(
    [
        T.StructField("position", T.StringType(), True),
        T.StructField("residue_from", T.StringType(), True),
        T.StructField("residue_to", T.StringType(), True),
    ]
)

# ActivityCondition analog (indra.statements.ActivityCondition;
# principal_schema.py::PaActivity stores (activity, is_active)).
ACTIVITY = T.StructType(
    [
        T.StructField("activity_type", T.StringType(), True),
        T.StructField("is_active", T.BooleanType(), True),
    ]
)

# BoundCondition analog (indra.statements.BoundCondition — a bound Agent
# plus is_bound; the principal raw/pa agent model carries bound
# conditions alongside mods/muts/activity). The bound agent is flattened
# to its grounding triple — the engine has no recursive agent structs.
BOUND = T.StructType(
    [
        T.StructField("db_ns", T.StringType(), True),
        T.StructField("db_id", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("is_bound", T.BooleanType(), True),
    ]
)

# Agent struct pre-grounding (mention text only) and post-grounding.
# Mutation/activity/bound conditions ride on the agent and feed
# matches_key — two statements differing only by a condition must get
# distinct mk_hash.
#
# TWO-AGENT INVARIANT: this engine's statement model is strictly binary —
# subj/obj structs, ag_num ∈ {0, 1} everywhere (name_meta, HasAgent,
# role-by-position G11). The reference's >2-member Complexes
# ([P] query.py::HasAgent(agent_num)) would need an agents ARRAY here;
# the §8.4 grammar only ever emits pairs, so the binary model is exact
# for every statement this engine produces. HasAgent validates agent_num
# against this invariant rather than silently returning empty.
RAW_AGENT = T.StructType(
    [
        T.StructField("text", T.StringType(), True),
        T.StructField("db_ns", T.StringType(), True),
        T.StructField("db_id", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("muts", T.ArrayType(MUT), True),
        T.StructField("activity", ACTIVITY, True),
        T.StructField("bounds", T.ArrayType(BOUND), True),
    ]
)

PA_AGENT = T.StructType(
    [
        T.StructField("db_ns", T.StringType(), True),
        T.StructField("db_id", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("muts", T.ArrayType(MUT), True),
        T.StructField("activity", ACTIVITY, True),
        T.StructField("bounds", T.ArrayType(BOUND), True),
    ]
)

# ModCondition analog (indra.statements.ModCondition).
MOD = T.StructType(
    [
        T.StructField("mod_type", T.StringType(), True),
        T.StructField("residue", T.StringType(), True),
        T.StructField("position", T.StringType(), True),
        T.StructField("is_modified", T.BooleanType(), True),
    ]
)

MENTIONS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("mention_id", T.LongType(), False),
        T.StructField("sent_idx", T.IntegerType(), True),
        T.StructField("start", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("sentence", T.StringType(), True),
    ]
)

# raw_statements analog of principal_schema.py::RawStatements — one row per
# extracted statement, pre-dedup, with reading provenance inline (the
# reference keys reading via a deterministic composite id,
# reading/read_db.py::generate_reading_id; here raw_id is the analog).
RAW_STATEMENTS = T.StructType(
    [
        T.StructField("raw_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("extractor", T.StringType(), False),
        T.StructField("extractor_version", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("subj", RAW_AGENT, True),
        T.StructField("obj", RAW_AGENT, True),
        T.StructField("mods", T.ArrayType(MOD), True),
        T.StructField("mk_hash", T.LongType(), True),
        T.StructField("source_hash", T.LongType(), True),
        T.StructField("evidence_text", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("matches_key", T.StringType(), False),
    ]
)

# pa_statements analog of principal_schema.py::PAStatements +
# readonly evidence_counts / source_meta / belief folded in (the readonly
# build denormalizes exactly these columns).
PA_STATEMENTS = T.StructType(
    [
        T.StructField("mk_hash", T.LongType(), False),
        T.StructField("matches_key", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("subj", PA_AGENT, True),
        T.StructField("obj", PA_AGENT, True),
        T.StructField("mods", T.ArrayType(MOD), True),
        T.StructField("ev_count", T.LongType(), True),
        T.StructField("src_counts", T.MapType(T.StringType(), T.LongType()), True),
        T.StructField("belief", T.DoubleType(), True),
        T.StructField("agent_count", T.IntegerType(), True),
    ]
)

# pa_link analog of principal_schema.py::PASupportLinks
# (supported = more general, supporting = more specific). The MATERIALIZED
# table additionally carries ``bucket`` = pmod(supported_mk_hash, B) (the
# Iceberg bucket-transform analog) so the incremental supplement rewrites
# only the buckets whose edge set changed; logical consumers (belief, CC)
# use the two hash columns only.
PA_LINK = T.StructType(
    [
        T.StructField("supported_mk_hash", T.LongType(), False),
        T.StructField("supporting_mk_hash", T.LongType(), False),
    ]
)

# evidence analog of readonly fast_raw_pa_link + raw_unique_links: raw→pa
# linkage with the evidence payload. ``day`` is the days(warc_ts)
# partition transform (SURVEY §8.1) carried as a physical column by the
# parquet shim — the table lands day-partitioned so time-scoped reads
# prune and the incremental supplement rewrites only affected days.
EVIDENCE = T.StructType(
    [
        T.StructField("mk_hash", T.LongType(), False),
        T.StructField("raw_id", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("evidence_text", T.StringType(), True),
        T.StructField("source_hash", T.LongType(), True),
        T.StructField("day", T.StringType(), True),
    ]
)

# Broadcast dims -----------------------------------------------------------
GROUNDING_MAP = T.StructType(
    [
        T.StructField("text_norm", T.StringType(), False),
        T.StructField("db_ns", T.StringType(), False),
        T.StructField("db_id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

SOURCE_PRIORS = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("p_rand", T.DoubleType(), False),
        T.StructField("p_syst", T.DoubleType(), False),
    ]
)

# Readonly-style meta (readonly_schema.py::NameMeta / SourceMeta /
# AgentInteractions analogs) ------------------------------------------------
NAME_META = T.StructType(
    [
        T.StructField("mk_hash", T.LongType(), False),
        T.StructField("ag_num", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("db_ns", T.StringType(), True),
        T.StructField("db_id", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("type", T.StringType(), False),
        T.StructField("ev_count", T.LongType(), True),
        T.StructField("belief", T.DoubleType(), True),
        T.StructField("agent_count", T.IntegerType(), True),
    ]
)

AGENT_INTERACTIONS = T.StructType(
    [
        T.StructField("subj_key", T.StringType(), True),
        T.StructField("obj_key", T.StringType(), True),
        T.StructField("type", T.StringType(), False),
        T.StructField("n_statements", T.LongType(), True),
        T.StructField("total_ev", T.LongType(), True),
        T.StructField("max_belief", T.DoubleType(), True),
    ]
)
