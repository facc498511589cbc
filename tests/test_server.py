"""Stdlib HTTP binding over the serving facade ([P] rest_api/api.py's
Flask layer, re-expressed framework-free): real sockets end-to-end, plus
the pure route handler for error paths."""

import json
import shutil
import tempfile
import urllib.error
import urllib.request
from urllib.parse import urlencode

import pytest
from pyspark.sql import functions as F

from indra_db_spark import schemas
from indra_db_spark.api import load_context, parse_query, run_query
from indra_db_spark.operators.dedup import build_evidence, build_pa_statements
from indra_db_spark.operators.distill import distill
from indra_db_spark.operators.extract import extract_statements
from indra_db_spark.operators.grounding import ground_statements
from indra_db_spark.plans.query import QueryContext
from indra_db_spark.server import handle_request, serve_background
from indra_db_spark.sources import dims, storage
from indra_db_spark.sources.synth import (
    source_expr as synth_source_expr,
    synth_pages,
)


@pytest.fixture(scope="module")
def ctx(spark):
    pages = synth_pages(spark, 200, seed=42)
    raw = distill(
        ground_statements(
            extract_statements(pages),
            dims.grounding_map_df(spark),
            source_expr=synth_source_expr,
        )
    )
    pa = build_pa_statements(raw).withColumn("belief", F.lit(0.5)).select(
        *[f.name for f in schemas.PA_STATEMENTS.fields]
    )
    return QueryContext(
        pa_statements=pa.cache(), evidence=build_evidence(raw).cache()
    )


@pytest.fixture(scope="module")
def base_url(ctx):
    server, _ = serve_background(ctx)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=120) as r:
        return r.status, json.loads(r.read())


def _get_err(url):
    try:
        urllib.request.urlopen(url, timeout=120)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())
    raise AssertionError(f"expected HTTP error for {url}")


def test_http_statements_match_run_query(base_url, ctx):
    status, rows = _get(f"{base_url}/statements?agent=TP53&limit=5")
    assert status == 200 and 0 < len(rows) <= 5
    want = {
        r["mk_hash"]
        for r in run_query({"agent": "TP53", "limit": 5}, ctx).collect()
    }
    assert {r["mk_hash"] for r in rows} == want
    # hydrated shape survives the JSON edge
    assert all("evidences" in r and "matches_key" in r for r in rows)


def test_http_statements_json_edge(base_url):
    status, rows = _get(f"{base_url}/statements/json?agent=TP53&limit=3")
    assert status == 200 and rows
    stmt = json.loads(rows[0]["stmt_json"])
    assert stmt["type"] and stmt["subj"]["db_ns"]


def test_http_result_grains_and_conjunction(base_url):
    for grain, key in (
        ("interactions", "subj_key"),
        ("relations", "n_statements"),
        ("agents", "types"),
    ):
        status, rows = _get(f"{base_url}/{grain}?agent=TP53")
        assert status == 200 and rows and key in rows[0], grain
    # repeated param → conjunctive leaves (both agents must appear)
    status, rows = _get(f"{base_url}/interactions?agent=TP53&agent=MDM2")
    assert status == 200
    for r in rows:
        keys = {r["subj_key"], r["obj_key"]}
        assert any("11998" in k for k in keys) and any(
            "10001" in k for k in keys
        )


def test_http_health_and_errors(base_url):
    assert _get(f"{base_url}/health") == (200, {"status": "ok"})
    code, body = _get_err(f"{base_url}/statements?bogus=1")
    assert code == 400 and "bogus" in body["error"]
    code, body = _get_err(f"{base_url}/statements")  # unconstrained dump
    assert code == 400 and "empty query" in body["error"]
    code, _ = _get_err(f"{base_url}/nope?agent=TP53")
    assert code == 404
    code, body = _get_err(f"{base_url}/statements?agent=TP53&sort_by=subj")
    assert code == 400 and "sort_by" in body["error"]


def test_handler_limit_caps(ctx):
    code, body = handle_request("/statements?agent=TP53&limit=0", ctx)
    assert code == 400 and b"limit" in body
    code, body = handle_request("/statements?agent=TP53&limit=999999", ctx)
    assert code == 400 and b"limit" in body
    code, body = handle_request("/agents?agent=TP53&limit=1", ctx)
    assert code == 200 and len(json.loads(body)) <= 1


def test_non_statement_routes_reject_result_params(ctx):
    """ADVICE r5 (low): /interactions, /relations and /agents apply only
    `limit`; other result-control params used to be silently ignored
    (offset=100 returned the first page with 200). They must 400."""
    for route in ("interactions", "relations", "agents"):
        code, body = handle_request(f"/{route}?agent=TP53&offset=100", ctx)
        assert code == 400 and b"offset" in body, (route, code, body)
    code, body = handle_request("/interactions?agent=TP53&ev_limit=2", ctx)
    assert code == 400 and b"ev_limit" in body
    # limit itself still works
    code, body = handle_request("/interactions?agent=TP53&limit=1", ctx)
    assert code == 200


@pytest.fixture(scope="module")
def contexts(spark, ctx):
    """The plain and the mk_hash-bucketed serving context of one corpus."""
    base = tempfile.mkdtemp(prefix="kg_srv_guard_")
    for name, df in (("pa_statements", ctx.pa_statements), ("evidence", ctx.evidence)):
        storage.write_table(df, f"{base}/{name}")
    yield {
        "plain": load_context(spark, base),
        "bucketed": load_context(spark, base, bucketed=True),
    }
    for t in spark.catalog.listTables():
        if "_srv_" in t.name:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    shutil.rmtree(base, ignore_errors=True)


def _guard_params(ctx):
    """One request per param family of the serving benchmark's mix."""
    hashes = [
        r["mk_hash"]
        for r in ctx.pa_statements.select("mk_hash").orderBy("mk_hash").limit(4).collect()
    ]
    urls = [
        r["url"]
        for r in ctx.evidence.select("url").distinct().orderBy("url").limit(2).collect()
    ]
    first = run_query({"agent": "TP53", "limit": 5}, ctx).collect()
    most = ctx.evidence.groupBy("mk_hash").count().agg(F.max("count")).first()[0]
    return [
        {"subject": "TP53", "limit": 20},
        {"agent": "11998@HGNC", "limit": 20},
        {"subject": "TP53", "object": "MDM2!", "limit": 20},
        {"type": "RegulateActivity", "type_subclasses": "true", "limit": 20},
        {"hashes": hashes},
        {"paper_ids": urls, "limit": 20},
        {"agent": "TP53", "min_evidence": 2, "sort_by": "belief", "limit": 5},
        {"agent": "TP53", "limit": 5,
         "after": f"{first[-1]['ev_count']},{first[-1]['mk_hash']}"},
        {"agent": "TP53", "limit": 5, "offset": 3, "ev_limit": 1},
        {"agent": "TP53", "limit": 5, "ev_limit": 0},
        {"agent": "TP53", "limit": 5, "ev_limit": -1},
        {"agent": "TP53", "limit": 5, "ev_limit": most + 1},
    ]


def _canonical(body):
    return sorted(json.dumps(r, sort_keys=True) for r in json.loads(body))


def test_bucketed_context_serves_what_plain_serves(contexts, ctx):
    """Both physical paths — filters over plain parquet and bucket-pruned
    lookups over the bucketed tables — give the same /statements and
    /statements/json bodies for every param family."""
    for params in _guard_params(ctx):
        qs = urlencode(params, doseq=True)
        for route in ("/statements", "/statements/json"):
            got = {
                name: handle_request(f"{route}?{qs}", c)
                for name, c in contexts.items()
            }
            assert got["plain"][0] == got["bucketed"][0] == 200, (route, qs, got)
            plain = _canonical(got["plain"][1])
            assert plain, (route, qs)
            assert _canonical(got["bucketed"][1]) == plain, (route, qs)


def test_empty_page(contexts):
    """A limited query that matches nothing: zero rows with a page's
    schema on either context, and 200 [] over the route."""
    for c in contexts.values():
        page = parse_query({"agent": "TP53"}).get_statements(c, limit=20)
        empty = parse_query({"agent": "NOSUCHGENE"}).get_statements(c, limit=20)
        assert empty.collect() == [] and empty.schema == page.schema
        for route in ("/statements", "/statements/json"):
            assert handle_request(f"{route}?agent=NOSUCHGENE", c) == (200, b"[]")


def _rows(df):
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in df.collect())


def test_unlimited_run_query_same_on_both_contexts(contexts):
    """The lazy no-limit library call: evidence semi-joined and packed on
    the plain context, read off the packed rows on the published one."""
    params = {"agent": "TP53", "ev_limit": 2}
    plain = _rows(run_query(params, contexts["plain"]))
    assert plain
    assert _rows(run_query(params, contexts["bucketed"])) == plain


def test_ev_limit_keeps_richest_evidence(contexts, ctx):
    """``ev_limit=k`` keeps each statement's k evidences with the longest
    text, raw_id breaking ties — checked against the evidence rows."""
    by_hash: dict = {}
    for r in ctx.evidence.select("mk_hash", "raw_id", "evidence_text").collect():
        by_hash.setdefault(r["mk_hash"], []).append(r)
    for c in contexts.values():
        rows = run_query({"agent": "TP53", "limit": 20, "ev_limit": 2}, c).collect()
        assert rows
        for r in rows:
            best = sorted(by_hash[r["mk_hash"]], key=lambda e: (-len(e["evidence_text"]), e["raw_id"]))
            assert [e["raw_id"] for e in r["evidences"]] == [e["raw_id"] for e in best[:2]]


def test_published_page_runs_two_jobs(spark, contexts):
    """A limited /statements request on a published context is two Spark
    jobs: the page selection and the packed-row fetch."""
    sc = spark.sparkContext
    try:
        for i in range(2):  # the first request warms nothing the second needs
            group = f"published-page-{i}"
            sc.setJobGroup(group, group)
            code, _ = handle_request("/statements?agent=TP53&limit=20&ev_limit=2", contexts["bucketed"])
            assert code == 200
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
