"""Incremental-supplement win measurement at a FAVORABLE dirty ratio
(VERDICT r3 #6): the 60k equivalence run was lexicon-saturated (dirty
set ≈ whole corpus, no speedup expected); this tool constructs a batch
whose dirty set is a few dozen hashes against a ≥1M-page base and
measures (a) supplement wall vs full-rebuild wall and (b) rewritten
partition count vs total per table.

Batch construction: pages whose sentences combine BOTH a mutation and an
activity qualifier ("G12D mutant active EGFRGEN activates KRASGEN.") —
the synthetic base grammar emits at most one qualifier per sentence
(sources/synth.py q-switch), so these matches-keys provably cannot exist
in any synth base; their evidence lands on two crawl days OUTSIDE the
base's 30-day window, so the day-scoped evidence rewrite touches only
those two partitions. PA_BUCKETS is raised (default 256) for the run:
partition scoping is only observable when the bucket count exceeds the
dirty-hash count — at the 10^12-doc operating point the bucket count
would be far higher still.

Usage: python tools/supplement_bench.py [n_base] [n_batch] [pa_buckets]
Prints one JSON line.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _partition_mtimes(table_dir: str) -> dict[str, float]:
    out = {}
    for name in os.listdir(table_dir):
        sub = os.path.join(table_dir, name)
        if os.path.isdir(sub) and "=" in name:
            mt = 0.0
            for f in os.listdir(sub):
                mt = max(mt, os.path.getmtime(os.path.join(sub, f)))
            out[name] = mt
    return out


def batch_pages(spark, n_batch: int):
    import pandas as pd

    from indra_db_spark.sources import lexicon as LX

    ents = LX.LEXICON[20:36]
    combos = [
        (f"{f}{p}{t}", ents[2 * j], trig, ents[2 * j + 1])
        for j, (f, p, t, trig) in enumerate(
            [
                ("G", "12", "D", "activates"),
                ("R", "175", "H", "inhibits"),
                ("E", "273", "K", "phosphorylates"),
                ("G", "12", "H", "dephosphorylates"),
                ("R", "273", "D", "activates"),
                ("E", "175", "D", "inhibits"),
                ("G", "175", "K", "phosphorylates"),
                ("R", "12", "K", "activates"),
            ]
        )
    ]
    rows = []
    for k in range(n_batch):
        mut, subj, trig, obj = combos[k % len(combos)]
        sent = f"{mut} mutant active {subj} {trig} {obj}."
        html = f"<html><body><p>{sent}</p></body></html>".encode()
        rows.append(
            {
                "url": f"https://ex1.org/nov/{k:06d}",
                "warc_ts": dt.datetime(2024, 2, 5 + k % 2, 0, 0, 0)
                + dt.timedelta(seconds=k),
                "html": html,
                "text": sent,
                "lang": "en",
            }
        )
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    from indra_db_spark.schemas import PAGES

    return spark.createDataFrame(pdf, PAGES), len(combos)


def table_aggregates(spark, out_dir: str) -> dict:
    from pyspark.sql import functions as F

    from indra_db_spark.sources import storage

    pa = storage.read_table(spark, f"{out_dir}/pa_statements")
    link = storage.read_table(spark, f"{out_dir}/pa_link")
    ev = storage.read_table(spark, f"{out_dir}/evidence")
    grp = storage.read_table(spark, f"{out_dir}/pa_groups")
    grow = grp.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(
            F.sum(
                F.xxhash64("mk_hash", "component_id").cast("decimal(38,0)")
            ),
            F.lit(0),
        ).alias("sig"),
    ).collect()[0]
    row = pa.agg(
        F.count(F.lit(1)).alias("pa_rows"),
        F.sum(F.round(F.col("belief") * 1e6).cast("long")).alias("belief_sum"),
        F.sum("ev_count").alias("ev_count_sum"),
    ).collect()[0]
    return {
        "pa_rows": row["pa_rows"],
        "belief_sum": int(row["belief_sum"]),
        "ev_count_sum": int(row["ev_count_sum"]),
        "link_rows": link.count(),
        "evidence_rows": ev.count(),
        "groups_rows": grow["rows"],
        "groups_sig": int(grow["sig"]),
    }


def main() -> None:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000
    pa_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 256

    from indra_db_spark.pipeline import run_pipeline
    from indra_db_spark.session import get_spark
    from indra_db_spark.sources import storage
    from indra_db_spark.sources.synth import source_expr, synth_pages
    from indra_db_spark.streaming import supplement as supplement_mod

    storage.PA_BUCKETS = pa_buckets  # read by storage.bucket at call time

    spark = get_spark(app_name="supplement_bench")
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    base_dir = f"{shm}/sup_bench_base"
    full_dir = f"{shm}/sup_bench_full"
    import shutil

    for d in (base_dir, full_dir):
        shutil.rmtree(d, ignore_errors=True)

    base_pages = synth_pages(spark, n_base, seed=42)
    t0 = time.time()
    run_pipeline(spark, base_pages, base_dir, pages_fingerprint=f"sb{n_base}",
                 source_expr=source_expr)
    base_wall = time.time() - t0

    batch, n_distinct_stmts = batch_pages(spark, n_batch)
    from indra_db_spark.sources.storage import day

    batch_days = batch.select(day("warc_ts").alias("d")).distinct().count()
    base_raw_days = len(_partition_mtimes(f"{base_dir}/raw_statements"))
    pre = {
        t: _partition_mtimes(f"{base_dir}/{t}")
        for t in ("evidence", "pa_statements", "pa_link", "pa_groups")
    }
    t0 = time.time()
    supplement_mod.supplement_corpus(spark, base_dir, batch,
                                     source_expr=source_expr)
    sup_wall = time.time() - t0
    post = {
        t: _partition_mtimes(f"{base_dir}/{t}")
        for t in ("evidence", "pa_statements", "pa_link", "pa_groups")
    }
    parts = {}
    for t in pre:
        changed = [
            p for p in post[t]
            if p not in pre[t] or post[t][p] > pre[t][p]
        ]
        parts[t] = {"rewritten": len(changed), "total": len(post[t])}

    all_pages = base_pages.unionByName(batch)
    t0 = time.time()
    run_pipeline(spark, all_pages, full_dir, pages_fingerprint=f"sbf{n_base}",
                 source_expr=source_expr)
    rebuild_wall = time.time() - t0

    sup_agg = table_aggregates(spark, base_dir)
    full_agg = table_aggregates(spark, full_dir)
    print(
        json.dumps(
            {
                "n_base_pages": n_base,
                "n_batch_pages": n_batch,
                "n_distinct_batch_stmts": n_distinct_stmts,
                "pa_buckets": pa_buckets,
                "base_build_wall_s": round(base_wall, 1),
                "supplement_wall_s": round(sup_wall, 1),
                "rebuild_wall_s": round(rebuild_wall, 1),
                "speedup_vs_rebuild": round(rebuild_wall / sup_wall, 2),
                "partitions": parts,
                # r5: the raw_id idempotence anti-join is day-scoped —
                # it reads only the batch's own day partitions of the
                # raw log, not the corpus (partition-pruned)
                "raw_anti_join_days": {
                    "scanned": batch_days,
                    "total_in_base": base_raw_days,
                },
                "aggregates_equal": sup_agg == full_agg,
                "supplement_aggregates": sup_agg,
                "rebuild_aggregates": full_agg,
            }
        )
    )
    shutil.rmtree(full_dir, ignore_errors=True)
    shutil.rmtree(base_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
