"""Preassembly core: matches-key dedup → pa_statements + evidence.

Reference: indra_db/preassembly/preassemble_db.py::DbPreassembler
.create_corpus — batched Python dict-by-hash grouping + pa_statements /
raw_unique_links inserts. Re-expressed as Spark aggregations with an
explicit **two-phase salted groupBy** for hub keys (BASELINE.json
north_star: TP53-scale fan-in): stage 1 pre-aggregates on
``(key, salt)`` where ``salt = pmod(xxhash64(raw_id), n_salts)``, stage 2
merges per key. Spark's hash aggregate already does map-side partial
aggregation for count/min; the salted path exists for the collect-heavy
aggregations (per-source maps) and is property-tested equal to the naive
plan (FIXTURES.md §A6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from indra_db_spark.functions.hashing import agent_key
from indra_db_spark.sources import storage

DEFAULT_SALTS = 64


def build_pa_statements(raw: DataFrame, n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """Distilled ``raw_statements`` → ``pa_statements`` (sans belief).

    * canonical representative per mk_hash = min-by raw_id (deterministic),
    * ev_count = row count per mk_hash (salted two-phase),
    * src_counts = per-source counts pivoted into a map,
    * agent_count = distinct grounded agent keys of the representative.
    """
    salted = raw.withColumn("_salt", F.pmod(F.xxhash64("raw_id"), F.lit(n_salts)))

    rep_struct = F.struct(
        "raw_id", "matches_key", "type", "subj", "obj", "mods"
    )
    # ONE aggregation cascade carries rep, ev_count AND the per-source
    # map — the per-source path used to be its own two-groupBy branch
    # joined back on mk_hash, i.e. 4 exchanges + a join; folding it into
    # the salted cascade is 3 exchanges and no join, with identical
    # values (min/count are associative under any re-grouping). Skew
    # armor is unchanged: stage 1 still salts the raw grain (the only
    # hot fan-in), stages 2–3 see ≤ n_salts rows per (key, source) and
    # ≤ |sources| rows per key.
    s1 = salted.groupBy("mk_hash", "_salt", "source").agg(
        F.min(rep_struct).alias("_rep"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    s2 = s1.groupBy("mk_hash", "source").agg(
        F.min("_rep").alias("_rep"),
        F.sum("_cnt").alias("n"),
    )
    pa = s2.groupBy("mk_hash").agg(
        F.min("_rep").alias("_rep"),
        F.sum("n").alias("ev_count"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("source", "n")))
        ).alias("src_counts"),
    )

    rep = F.col("_rep")
    subj = rep["subj"]
    obj = rep["obj"]
    pa_agent = lambda a: F.struct(  # drop mention text — canonical agents
        a["db_ns"].alias("db_ns"),
        a["db_id"].alias("db_id"),
        a["name"].alias("name"),
        a["muts"].alias("muts"),
        a["activity"].alias("activity"),
        a["bounds"].alias("bounds"),
    )
    return (
        pa.select(
            "mk_hash",
            rep["matches_key"].alias("matches_key"),
            rep["type"].alias("type"),
            pa_agent(subj).alias("subj"),
            pa_agent(obj).alias("obj"),
            rep["mods"].alias("mods"),
            "ev_count",
            "src_counts",
            F.size(F.array_distinct(F.array(agent_key(subj), agent_key(obj))))
            .alias("agent_count"),
        )
    )


def build_evidence(raw: DataFrame) -> DataFrame:
    """``evidence`` = raw→pa linkage with payload (raw_unique_links +
    fast_raw_pa_link analog, readonly_schema.py::FastRawPaLink).

    Carries ``day`` (the days(warc_ts) Iceberg partition transform,
    SURVEY §8.1) so the table lands day-partitioned and the incremental
    supplement can rewrite only the partitions holding affected rows.

    ``day`` is :func:`storage.day`, never NULL: rows without a crawl
    timestamp (knowledgebase loads — sources/knowledgebase.py writes
    warc_ts NULL) land in the literal ``undated`` partition."""
    return raw.select(
        "mk_hash",
        "raw_id",
        "url",
        "source",
        "evidence_text",
        "source_hash",
        storage.day("warc_ts").alias("day"),
    )
