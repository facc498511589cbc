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
from indra_db_spark.functions.literals import in_longs
from indra_db_spark.plans.query import HasHash, QueryContext, pack_evidence
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
    # the published serving form (api.load_context(bucketed=True))
    write_bucketed_table(
        pa.join(pack_evidence(ev), "mk_hash", "left"), "pa_packed",
        path=f"{base}/packed",
    )
    yield base
    for t in ("pa_bucketed", "ev_bucketed", "pa_packed"):
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


_PER_REQUEST_NODES = ("Join", "Aggregate", "Window", "Exchange")


def _operators(plan: str) -> list[str]:
    """The physical operator name on each line of a plan string."""
    return re.findall(r"^[\s+\-:]*(?:\*\(\d+\) )?(\w+)", plan, re.M)


def test_serving_context_bucketed_swap(spark):
    """api.load_context(bucketed=True) — the pg_restore-swap analog:
    publishes ONE mk_hash-bucketed catalog table per corpus, pa_statements
    with each statement's packed ``evidences``; a served page is then a
    bucket-pruned scan with no join, aggregate, window or exchange, and
    query results match the plain-parquet context exactly. The table name
    is derived from the out_dir (ADVICE r3), so a SECOND published
    context for a different corpus registers under a different name and
    does not repoint or break the first."""
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
        assert "evidences" in bucket_ctx.pa_statements.columns
        assert "evidences" not in plain_ctx.pa_statements.columns
        params = {"agent": "TP53", "limit": 5, "ev_limit": 2}
        page = run_query(params, bucket_ctx).limit(5)
        per_request = [
            op for op in _operators(_plan(page))
            if any(kind in op for kind in _PER_REQUEST_NODES)
        ]
        assert per_request == [], _plan(page)
        want = [
            (r["mk_hash"], r["ev_count"], len(r["evidences"]))
            for r in run_query(params, plain_ctx).collect()
        ]
        got = [
            (r["mk_hash"], r["ev_count"], len(r["evidences"]))
            for r in page.collect()
        ]
        assert got == want and got
        # second corpus, second published context: a distinct catalog
        # name, and the first context still answers identically afterwards
        run_pipeline(
            spark, synth_pages(spark, 60, seed=7), base2,
            pages_fingerprint="srv1", source_expr=synth_source_expr,
        )
        bucket_ctx2 = load_context(spark, base2, bucketed=True)
        srv_tables = {
            t.name for t in spark.catalog.listTables() if "_srv_" in t.name
        }
        assert len(srv_tables) == 2, srv_tables  # one per corpus
        assert all(re.fullmatch(r"pa_statements_srv_[0-9a-f]{8}", t) for t in srv_tables)
        for t in srv_tables:
            assert "evidences" in spark.table(t).columns, t
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


def _scan_line(df, table):
    plan = df._jdf.queryExecution().sparkPlan().toString()
    return next(line for line in plan.splitlines() if f"default.{table}[" in line)


def test_served_page_reads_only_its_buckets(spark, warehouse):
    """Serving a page scans only the buckets its hashes fall in: the
    evidence buckets of an unpublished context, the packed pa_statements
    buckets of a published one."""
    hashes = [
        r["mk_hash"]
        for r in spark.table("pa_bucketed").select("mk_hash").limit(2).collect()
    ]
    want = _bucket_ids(spark.table("pa_bucketed").where(F.col("mk_hash").isin(hashes)))
    for pa, scanned in (("pa_bucketed", "ev_bucketed"), ("pa_packed", "pa_packed")):
        ctx = QueryContext(spark.table(pa), spark.table("ev_bucketed"))
        df = HasHash(hashes).get_statements(ctx, ev_limit=2, limit=20)
        assert sorted(r["mk_hash"] for r in df.collect()) == sorted(hashes)
        scan = _scan_line(df, scanned)
        assert f"SelectedBucketsCount: {len(want)} out of 16" in scan, scan


_I64 = (-(2**63), 2**63 - 1)


@pytest.mark.parametrize(
    "values",
    [[*_I64], [], [*_I64, _I64[0], 7, 7], "page"],
    ids=["int64_bounds", "empty", "duplicates", "page_of_20"],
)
def test_in_longs_plans_as_isin(spark, warehouse, values):
    """``in_longs`` (one SQL-text call) selects the same rows, pushes the
    same parquet filter and prunes the same buckets as ``Column.isin``
    (one py4j call per value)."""
    pa = spark.table("pa_bucketed")
    if values == "page":
        values = [r["mk_hash"] for r in pa.select("mk_hash").limit(20).collect()]
    one_call = pa.where(in_longs("mk_hash", values))
    per_value = pa.where(F.col("mk_hash").isin(values))
    if not values:
        assert one_call.collect() == per_value.collect() == []
        return
    # the int64 bounds parse as bigint literals and match themselves
    bounds = spark.createDataFrame([(v,) for v in (*_I64, 0)], "mk_hash long")
    assert sorted(
        r[0] for r in bounds.where(in_longs("mk_hash", values)).collect()
    ) == sorted(set(values) & {*_I64, 0})
    got, want = (
        sorted(r["mk_hash"] for r in df.select("mk_hash").collect())
        for df in (one_call, per_value)
    )
    assert got == want
    # the whole pushed filter, not the plan string's 100-char abbreviation
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        scans = [
            re.search(
                r"PushedFilters: (\[In\(mk_hash, \[[-\d,]+\]\)\]).*"
                r"(SelectedBucketsCount: \d+ out of 16)",
                _scan_line(df, "pa_bucketed"),
            )
            for df in (one_call, per_value)
        ]
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert scans[0] and scans[1], [_scan_line(df, "pa_bucketed") for df in (one_call, per_value)]
    assert scans[0].groups() == scans[1].groups()
