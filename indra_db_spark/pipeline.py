"""End-to-end KG construction pipeline (the preassembly DAG).

Reference lifecycle: indra_db/cli — content ingest → reading →
preassembly (distill → unique-ify → support links → belief) → readonly
materialization. Here it is ONE Spark lineage, cut into restartable stages
with per-partition lineage manifests (SURVEY.md §8.8):

    pages ─ extract+ground ─► raw_statements        (partitioned by day)
          ─ distill+dedup  ─► pa_statements_base, evidence
          ─ refine         ─► pa_link
          ─ components     ─► pa_groups
          ─ belief         ─► pa_statements (final)
          ─ meta           ─► name_meta, source_meta, agent_interactions

Scale notes: the only wide operations are the dedup groupBys (salted,
§8.6), the refinement self-join (AQE skew-split), and the CC iterations.
raw_statements/evidence are day-partitioned (days(warc_ts) — Iceberg-style
identity partition on the crawl date); pa tables are bucketed by
pmod(mk_hash, B) so downstream hash-keyed joins co-locate. Each table's
layout (partition column and in-file sort) is ``storage.LAYOUT``'s.

The dims (``sources.dims``) and the extractor version
(``extract.EXTRACTOR_VERSION``) are the code's own, not parameters. A
stage's fingerprint chains its upstream stage's with what it reads of
them: the version and the grounding map's rows (raw), the isa closure's
rows (pa_link) and the priors' rows (belief), hashed on the driver
(``dims.fingerprints``) — a changed dim reruns exactly its stages.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indra_db_spark.lineage import LineageLog, fingerprint
from indra_db_spark.operators import belief as belief_op
from indra_db_spark.operators import components as cc_op
from indra_db_spark.operators import dedup as dedup_op
from indra_db_spark.operators import extract as extract_op
from indra_db_spark.operators import grounding as ground_op
from indra_db_spark.operators import meta as meta_op
from indra_db_spark.operators import refine as refine_op
from indra_db_spark.sources import dims as dims_mod
from indra_db_spark.sources import storage


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)
    metrics: dict[str, dict] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    pages_fingerprint: str,
    resume: bool = True,
    signatures: bool = True,
    source_expr=None,
) -> PipelineResult:
    """Run (or resume) the full pipeline; all outputs land under out_dir.

    The parameters are what a run varies; the dims and the extractor
    version are the code's own (module docstring).

    ``source_expr``: evidence-source derivation passed to
    ``ground_statements`` (default: url host). Folded into the stage
    fingerprint — changing it invalidates raw_statements and downstream.

    Writes use **static** overwrite: a fingerprint-invalidated rerun
    replaces the whole table (dynamic partition overwrite would leave
    stale partitions from the prior corpus in place); the partial-resume
    path re-writes only the not-yet-committed partitions via scoped
    DYNAMIC partition overwrite — idempotent whether the crash left a
    day's data, its part manifest, both, or neither.
    """
    log = LineageLog(out_dir)
    res = PipelineResult()

    def path(table: str) -> str:
        return f"{out_dir}/{table}"

    def run_stage(stage, fp, builder, tables, clustered=()):
        """``builder()`` returns a frame per table name in ``tables``,
        written in its ``storage.LAYOUT`` (unpartitioned if it has none);
        ``clustered`` names the tables whose frame is ``input_clustered``."""
        if resume and log.completed(stage, fp):
            res.skipped.append(stage)
            for tbl in tables:
                res.tables[tbl] = storage.read_table(spark, path(tbl))
            res.metrics[stage] = {**(log.read(stage) or {}), "resumed": True}
            return
        t0 = time.time()
        outputs = builder()
        rows_total = 0
        extra = {}
        for tbl in tables:
            m = storage.write_table(
                outputs[tbl], path(tbl), storage.LAYOUT.get(tbl),
                compute_signature=signatures,
                input_clustered=tbl in clustered,
            )
            rows_total += m.get("row_count", 0)
            extra[f"{tbl}_rows"] = m.get("row_count")
            extra[f"{tbl}_snapshot"] = m.get("snapshot_id")
            res.tables[tbl] = storage.read_table(spark, path(tbl))
        wall = time.time() - t0
        log.commit_stage(stage, fp, wall, rows_total, **extra)
        res.metrics[stage] = log.read(stage) or {}

    # ---- stage 1: extract + ground → raw_statements (day-partitioned,
    # per-partition resume: only days missing from the manifest are read).
    # Tag the fingerprint with the RESOLVED expression tree, not the
    # callable's __name__ — two different lambdas (both "<lambda>") or two
    # same-named functions must not collide, or a rerun with a changed
    # derivation would silently serve stale raw_statements.
    if source_expr is None:
        source_tag = "host"
    elif callable(source_expr):
        source_tag = repr(source_expr(F.col("url")))
    else:
        source_tag = repr(source_expr)
    # Dim content is part of every consuming stage's identity: a resumed
    # run with a changed grounding map / isa closure / priors must NOT
    # serve tables computed from the old dims.
    dim_fp = dims_mod.fingerprints()
    # read at call time: a version bump is a change to extract.py
    version = extract_op.EXTRACTOR_VERSION
    # v2: undated pages land in the ``undated`` day partition, not NULL
    fp_raw = fingerprint(
        "raw", pages_fingerprint, version, source_tag,
        dim_fp["grounding_map"], "v2",
    )
    stage = "raw_statements"
    if resume and log.completed(stage, fp_raw):
        res.skipped.append(stage)
        res.tables["raw_statements"] = storage.read_table(spark, path("raw_statements"))
        res.metrics[stage] = {**(log.read(stage) or {}), "resumed": True}
    else:
        t0 = time.time()
        work = pages
        # Only partitions written under the SAME fingerprint count as done.
        done_days = log.completed_partitions(stage, fp_raw) if resume else set()
        stage_rec = log.read(stage)
        partial_ok = (
            bool(done_days)
            and stage_rec is None  # stage not committed, but parts exist
        )
        if partial_ok:
            work = pages.where(~storage.day("warc_ts").isin(sorted(done_days)))
        else:
            # Fingerprint-invalidated (or first) run: stale per-partition
            # bookkeeping must not survive the full static overwrite below.
            log.clear_stage(stage)
        raw = ground_op.ground_statements(
            extract_op.extract_statements(work, version),
            dims_mod.grounding_map_df(spark),
            source_expr=source_expr,
        )
        # Partial resume uses DYNAMIC PARTITION OVERWRITE, not append: a
        # crash can leave a day with data but no part manifest (mid-write)
        # or with BOTH data and a part manifest but no stage commit
        # (mid-commit) — re-writing the not-done days must replace
        # whatever is there, never stack on top of it.
        mode = "overwrite_partitions" if partial_ok else "overwrite"
        storage.write_table(
            raw, path("raw_statements"), storage.LAYOUT["raw_statements"],
            mode=mode,
        )
        back = storage.read_table(spark, path("raw_statements"))
        pc = {
            r["day"]: r["n"]
            for r in back.groupBy("day").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        rows = sum(pc.values())
        log.commit_stage(stage, fp_raw, time.time() - t0, rows, pc)
        res.tables["raw_statements"] = back
        res.metrics[stage] = log.read(stage) or {}

    raw = res.tables["raw_statements"]

    # ---- stage 2: distill + dedup → pa_statements_base + evidence
    fp_pa = fingerprint("pa", fp_raw, dedup_op.DEFAULT_SALTS, "v1")

    def build_pa():
        # The extraction stage already performed page-local exact-dup
        # dropping and runs a single extractor version, so the distill
        # operator (operators/distill.py) is semantically a no-op here —
        # skipping it removes a full shuffle of the widest table. pa and
        # evidence each read the raw parquet independently with column
        # pruning (cheaper than materializing a shared checkpoint).
        return {
            "pa_statements_base": dedup_op.build_pa_statements(raw),
            "evidence": dedup_op.build_evidence(raw),
        }

    # evidence is day-partitioned (SURVEY §8.1 days(warc_ts)): time-scoped
    # serving reads prune whole crawl days, and the incremental supplement
    # rewrites only affected partitions instead of the whole table. Its
    # input is clustered: evidence is a 1:1 projection of raw_statements
    # READ BACK from its day-partitioned files, so rows already arrive
    # day-grouped — the anti-small-file repartition would be a redundant
    # full shuffle of the widest table in the pipeline.
    run_stage(
        "pa_base", fp_pa, build_pa, ["pa_statements_base", "evidence"],
        clustered={"evidence"},
    )
    pa_base = res.tables["pa_statements_base"]

    # ---- stage 3: refinement links (bucketed on the supported hash so
    # the incremental supplement can rewrite only the buckets whose edge
    # set changed — same contract as evidence days / pa buckets)
    fp_link = fingerprint("link", fp_pa, dim_fp["isa_closure"], "v1")
    run_stage(
        "pa_link",
        fp_link,
        lambda: {"pa_link": refine_op.build_pa_link(pa_base, dims_mod.isa_closure_df(spark))},
        ["pa_link"],
    )
    pa_link = res.tables["pa_link"]

    # ---- stage 4: connected components (related-statement groups).
    # pa_groups is bucket-partitioned by pmod(mk_hash) like pa_statements
    # (fingerprint bumped v1→v2 with the layout): the incremental
    # supplement relabels only components touched by a batch and rewrites
    # only the buckets holding their members — the un-partitioned table
    # forced a full rewrite per batch (VERDICT r4 #2).
    fp_cc = fingerprint("cc", fp_link, "v2")
    run_stage(
        "components",
        fp_cc,
        lambda: {"pa_groups": cc_op.assign_components(pa_base, pa_link)},
        ["pa_groups"],
    )

    # ---- stage 5: belief → final pa_statements
    fp_belief = fingerprint("belief", fp_link, dim_fp["source_priors"], "v1")
    run_stage(
        "belief",
        fp_belief,
        lambda: {
            "pa_statements": belief_op.with_belief(
                pa_base, pa_link, dims_mod.source_priors_df(spark)
            )
        },
        ["pa_statements"],
    )
    pa_final = res.tables["pa_statements"]

    # ---- stage 6: readonly-style meta tables
    fp_meta = fingerprint("meta", fp_belief, "v1")
    run_stage(
        "meta",
        fp_meta,
        lambda: {
            "name_meta": meta_op.build_name_meta(pa_final),
            "source_meta": meta_op.build_source_meta(pa_final),
            "agent_interactions": meta_op.build_agent_interactions(pa_final),
        },
        ["name_meta", "source_meta", "agent_interactions"],
    )
    return res
