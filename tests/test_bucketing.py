"""Bucketed warehouse tables — mk_hash co-location drops exchanges.

The pipeline's hash-keyed joins (refinement pa×pa, belief pa×pa_link,
evidence hydration evidence×pa) shuffle both sides on mk_hash when reading
plain parquet. Written as bucketed catalog tables (the sandbox stand-in
for Iceberg ``bucket(N, mk_hash)``), the same joins read pre-clustered
buckets: the physical plan carries NO Exchange on the bucketed sides.
"""

import os
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from indra_db_spark.operators.dedup import build_evidence, build_pa_statements
from indra_db_spark.operators.extract import extract_statements
from indra_db_spark.operators.grounding import ground_statements
from indra_db_spark.plans.query import HasHash, QueryContext
from indra_db_spark.sources import dims
from indra_db_spark.sources.storage import write_bucketed_table
from indra_db_spark.sources.synth import source_expr as synth_source_expr, synth_pages


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def warehouse(spark):
    base = tempfile.mkdtemp(prefix="kg_wh_")
    raw = ground_statements(
        extract_statements(synth_pages(spark, 200, seed=42)),
        dims.grounding_map_df(spark),
        source_expr=synth_source_expr,
    )
    pa = build_pa_statements(raw).withColumn("belief", F.lit(0.0))
    ev = build_evidence(raw)
    write_bucketed_table(pa, "pa_bucketed", path=f"{base}/pa")
    write_bucketed_table(ev, "ev_bucketed", path=f"{base}/ev")
    yield base
    for t in ("pa_bucketed", "ev_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(base, ignore_errors=True)


def test_bucketed_join_has_no_shuffle(spark, warehouse):
    """At corpus scale neither side of the hash-keyed joins broadcasts —
    disable broadcast so the comparison exercises the shuffle path the
    1000-executor cluster would take."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pa = spark.table("pa_bucketed")
        ev = spark.table("ev_bucketed")
        bucketed = ev.join(pa.select("mk_hash", "type"), "mk_hash")
        assert "Exchange hashpartitioning" not in _plan(bucketed), _plan(bucketed)
        # same join over plain parquet shuffles both sides
        pa_plain = spark.read.parquet(f"{warehouse}/pa")
        ev_plain = spark.read.parquet(f"{warehouse}/ev")
        plain = ev_plain.join(pa_plain.select("mk_hash", "type"), "mk_hash")
        assert "Exchange hashpartitioning" in _plan(plain)
        # results identical either way
        assert bucketed.count() == plain.count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_bucketed_aggregate_has_no_shuffle(spark, warehouse):
    ev = spark.table("ev_bucketed")
    agg = ev.groupBy("mk_hash").agg(F.count(F.lit(1)).alias("n"))
    assert "Exchange hashpartitioning" not in _plan(agg), _plan(agg)


def test_serving_context_bucketed_swap(spark):
    """api.load_context(bucketed=True) — the pg_restore-swap analog:
    registers the corpus as mk_hash-bucketed catalog tables; serving
    aggregations on mk_hash run exchange-free and query results match the
    plain-parquet context exactly. Table names are derived from the
    out_dir (ADVICE r3), so a SECOND bucketed context for a different
    corpus registers under different names and does not repoint or break
    the first."""
    import tempfile

    from indra_db_spark.api import load_context, run_query
    from indra_db_spark.pipeline import run_pipeline

    base = tempfile.mkdtemp(prefix="kg_srv_")
    base2 = tempfile.mkdtemp(prefix="kg_srv2_")
    try:
        run_pipeline(
            spark, synth_pages(spark, 120, seed=42), base,
            pages_fingerprint="srv0", source_expr=synth_source_expr,
        )
        plain_ctx = load_context(spark, base)
        bucket_ctx = load_context(spark, base, bucketed=True)
        agg = bucket_ctx.evidence.groupBy("mk_hash").agg(
            F.count(F.lit(1)).alias("n")
        )
        assert "Exchange hashpartitioning" not in _plan(agg), _plan(agg)
        params = {"agent": "TP53", "limit": 5, "ev_limit": 2}
        want = [
            (r["mk_hash"], r["ev_count"], len(r["evidences"]))
            for r in run_query(params, plain_ctx).collect()
        ]
        got = [
            (r["mk_hash"], r["ev_count"], len(r["evidences"]))
            for r in run_query(params, bucket_ctx).collect()
        ]
        assert got == want and got
        # second corpus, second bucketed context: distinct catalog names,
        # first context still answers identically afterwards
        run_pipeline(
            spark, synth_pages(spark, 60, seed=7), base2,
            pages_fingerprint="srv1", source_expr=synth_source_expr,
        )
        bucket_ctx2 = load_context(spark, base2, bucketed=True)
        srv_tables = {
            t.name for t in spark.catalog.listTables() if "_srv_" in t.name
        }
        assert len(srv_tables) == 4, srv_tables  # 2 corpora × (pa, ev)
        again = [
            (r["mk_hash"], r["ev_count"], len(r["evidences"]))
            for r in run_query(params, bucket_ctx).collect()
        ]
        assert again == want
        assert bucket_ctx2.pa_statements.count() > 0
    finally:
        for t in spark.catalog.listTables():
            if "_srv_" in t.name:
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(base2, ignore_errors=True)


def test_bucketed_values_roundtrip(spark, warehouse):
    pa = spark.table("pa_bucketed")
    plain = spark.read.parquet(f"{warehouse}/pa")
    assert sorted(r["mk_hash"] for r in pa.select("mk_hash").collect()) == sorted(
        r["mk_hash"] for r in plain.select("mk_hash").collect()
    )


def _bucket_ids(df):
    """Bucket ids of df's mk_hashes: Spark's pmod(murmur3(col), N)."""
    return {
        r[0]
        for r in df.select(F.pmod(F.hash("mk_hash"), F.lit(16))).distinct().collect()
    }


def test_write_bucketed_table_one_file_per_bucket(spark, warehouse):
    """Each non-empty bucket is one file: the bucket ids in the file
    names are distinct, and they are exactly the rows' bucket ids."""
    for sub, table in (("pa", "pa_bucketed"), ("ev", "ev_bucketed")):
        files = [f for f in os.listdir(f"{warehouse}/{sub}") if f.endswith(".parquet")]
        ids = [int(re.search(r"_(\d+)(?:\..*)?$", f).group(1)) for f in files]
        assert len(ids) == len(set(ids)) <= 16, files
        assert set(ids) == _bucket_ids(spark.table(table))


def test_served_page_reads_only_its_buckets(spark, warehouse):
    """Hydrating a page scans only the evidence buckets its hashes fall in."""
    ctx = QueryContext(spark.table("pa_bucketed"), spark.table("ev_bucketed"))
    hashes = [
        r["mk_hash"] for r in ctx.pa_statements.select("mk_hash").limit(2).collect()
    ]
    want = _bucket_ids(ctx.pa_statements.where(F.col("mk_hash").isin(hashes)))
    df = HasHash(hashes).get_statements(ctx, ev_limit=2, limit=20)
    assert sorted(r["mk_hash"] for r in df.collect()) == sorted(hashes)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    ev_scan = next(
        line for line in plan.splitlines() if "default.ev_bucketed[" in line
    )
    assert f"SelectedBucketsCount: {len(want)} out of 16" in ev_scan, ev_scan
