"""The benchmark's workloads. Each takes a :class:`Bench` and returns an
:class:`Outcome`: set-up times, the wall time of every timed operation,
the attempted/failed counts of the correctness checks and, in a traced
run, the per-layer values measured in-process.

Timed operations call only the library's public entry points. In a
traced run every action runs under a job description naming its layer,
so :mod:`eventlog` can split the Spark task metrics by layer afterwards.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

import inputs
import suite

SETUP_REPEATS = 3
BUILD_PAGES = 6000
STAGES = ["raw_statements", "pa_base", "pa_link", "components", "belief", "meta"]
ROUTES = ["statements", "statements_json", "interactions", "relations", "agents"]
SUPPLEMENT_TABLES = ["evidence", "pa_statements", "pa_link", "pa_groups"]


@dataclass
class Bench:
    spark: object
    seed: int
    seconds: float
    trace: bool
    plant: bool  # self-test: corrupt every output before it is checked
    base: str | None  # inputs.base_corpus, for the workloads that read it
    run_dir: str
    log: object

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def describe(self, desc: str | None) -> None:
        self.spark.sparkContext.setJobDescription(desc)


@dataclass
class Outcome:
    setup_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    items: int = 0  # units of work done by the timed operations
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)

    def more(self, bench: Bench) -> bool:
        """Keep timing until ``bench.seconds`` of operations ran (at
        least one operation)."""
        return not self.op_s or sum(self.op_s) < bench.seconds

    def record(self, wall: float, items: int, ok: bool) -> None:
        self.op_s.append(wall)
        self.items += items
        self.check(ok)

    def check(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


# ---------------------------------------------------------------------------
# kg_build


@contextlib.contextmanager
def _stage_tags(bench: Bench, walls: dict[str, list[float]]):
    """Tag the jobs of each ``run_pipeline`` stage and time the stage.

    ``run_pipeline`` commits each stage's lineage record as its last step,
    so wrapping ``LineageLog.commit_stage`` marks every stage boundary."""
    from indra_db_spark.lineage import LineageLog

    orig = LineageLog.commit_stage
    last = [time.perf_counter()]

    def commit(self, stage, *args, **kwargs):
        orig(self, stage, *args, **kwargs)
        now = time.perf_counter()
        walls[stage].append(now - last[0])
        last[0] = now
        nxt = STAGES.index(stage) + 1
        bench.describe(f"stage:{STAGES[nxt]}" if nxt < len(STAGES) else None)

    LineageLog.commit_stage = commit
    bench.describe(f"stage:{STAGES[0]}")
    try:
        yield
    finally:
        LineageLog.commit_stage = orig
        bench.describe(None)


def _build_ok(res, expected: dict, plant: bool) -> bool:
    """pa_statements and evidence equal the twin's; every pa_link edge
    joins two pa_statements rows."""
    from pyspark.sql import functions as F

    pa = res.tables["pa_statements"].select("mk_hash", "ev_count")
    if plant:
        pa = pa.orderBy("mk_hash").offset(1)
    got = {r["mk_hash"]: r["ev_count"] for r in pa.collect()}
    link = res.tables["pa_link"]
    hashes = pa.select("mk_hash")
    dangling = sum(
        link.join(hashes, F.col(c) == F.col("mk_hash"), "left_anti").count()
        for c in ("supported_mk_hash", "supporting_mk_hash")
    )
    return (
        got == expected["ev_count"]
        and res.tables["evidence"].count() == expected["evidence_rows"]
        and dangling == 0
    )


def _supplement(bench: Bench, out: Outcome, pages, corpus: str) -> None:
    """Traced kg_build only: ``supplement_corpus`` merges a batch of novel
    statements into the corpus just built; the merged corpus must equal a
    full rebuild over pages ∪ batch."""
    from indra_db_spark.pipeline import run_pipeline
    from indra_db_spark.sources.synth import source_expr
    from indra_db_spark.streaming.supplement import supplement_corpus
    from tools.supplement_bench import _partition_mtimes, batch_pages, table_aggregates

    spark = bench.spark
    batch_pages(spark, inputs.BATCH_PAGES)[0].write.parquet(bench.path("batch"))
    batch = spark.read.parquet(bench.path("batch"))
    rebuild = bench.path("rebuild")
    run_pipeline(
        spark, pages.unionByName(batch), rebuild,
        pages_fingerprint=f"perfbench-rebuild-{bench.seed}", resume=False,
        signatures=False, source_expr=source_expr,
    )
    expected = table_aggregates(spark, rebuild)

    before = {t: _partition_mtimes(f"{corpus}/{t}") for t in SUPPLEMENT_TABLES}
    bench.describe("supplement")
    t0 = time.perf_counter()
    supplement_corpus(spark, corpus, batch, source_expr=source_expr)
    out.layers["supplement.wall_s"] = time.perf_counter() - t0
    bench.describe(None)
    for t in SUPPLEMENT_TABLES:
        after = _partition_mtimes(f"{corpus}/{t}")
        out.layers[f"supplement.{t}.partitions_rewritten"] = sum(
            p not in before[t] or m > before[t][p] for p, m in after.items()
        )
    got = table_aggregates(spark, corpus)
    if bench.plant:
        got["evidence_rows"] -= 1
    out.check(got == expected)


def kg_build(bench: Bench) -> Outcome:
    """``run_pipeline`` over freshly materialized seeded synth pages: the
    paper's construction job, every operator plus the storage write path."""
    from indra_db_spark.operators.extract import extract_statements
    from indra_db_spark.pipeline import run_pipeline
    from indra_db_spark.sources.synth import source_expr, synth_pages

    spark, out = bench.spark, Outcome()
    pages_dir = bench.path("pages")
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        synth_pages(spark, BUILD_PAGES, seed=bench.seed).write.mode(
            "overwrite"
        ).parquet(pages_dir)
        out.setup_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    expected = inputs.build_expectations(BUILD_PAGES, bench.seed)
    bench.log(f"reference twin: {time.perf_counter() - t0:.2f}s")
    pages = spark.read.parquet(pages_dir)

    walls: dict[str, list[float]] = {s: [] for s in STAGES}
    while out.more(bench):
        out_dir = bench.path(f"build{len(out.op_s)}")
        with _stage_tags(bench, walls) if bench.trace else contextlib.nullcontext():
            t0 = time.perf_counter()
            res = run_pipeline(
                spark, pages, out_dir, pages_fingerprint=f"perfbench-{bench.seed}",
                resume=False, signatures=False, source_expr=source_expr,
            )
            wall = time.perf_counter() - t0
        out.record(wall, BUILD_PAGES, _build_ok(res, expected, bench.plant))
        if not bench.trace:
            shutil.rmtree(out_dir)

    if bench.trace:
        for s in STAGES:
            out.layers[f"{s}.wall_s"] = statistics.median(walls[s])
            out.layers[f"{s}.rows_out"] = res.metrics[s]["rows_out"]
        # the Python share of extraction: the UDF output forced alone
        bench.describe("extract.udf")
        t0 = time.perf_counter()
        extract_statements(pages).write.format("noop").mode("overwrite").save()
        out.layers["extract.udf_s"] = time.perf_counter() - t0
        bench.describe(None)
        _supplement(bench, out, pages, out_dir)
    return out


# ---------------------------------------------------------------------------
# kg_serve


def _query_suite(bench: Bench, out: Outcome) -> None:
    """Traced kg_serve only: the read-only curation query suite over a
    seeded generated dataset (see suite.py)."""
    from tools.make_measure_data import gen

    data = bench.path("suite")
    with contextlib.redirect_stdout(sys.stderr):  # gen prints a line per table
        gen(suite.SCALE, data, seed=bench.seed)
    walls, passed = suite.run(bench, data)
    for name, wall in walls.items():
        out.layers[f"q.{name}.wall_s"] = wall
    for ok in passed:
        out.check(ok)


def _digest(body: bytes) -> str:
    """Order-independent digest of a JSON-array response."""
    rows = sorted(json.dumps(r, sort_keys=True) for r in json.loads(body))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _get(url: str) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(url, timeout=60) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _plant_row(body: bytes) -> bytes:
    return body[:-1] + (b"," if body != b"[]" else b"") + b'{"planted": true}]'


@contextlib.contextmanager
def _request_tags(bench: Bench, current: dict, spans: dict[str, list[float]]):
    """Tag each request's jobs and time, per request, ``handle_request``
    and the ``parse_query`` and ``_json_rows`` (the collect) calls inside
    it. ``server`` looks all three up as module globals at call time."""
    from indra_db_spark import server

    orig = {n: getattr(server, n) for n in ("handle_request", "parse_query", "_json_rows")}
    spent = {}

    def timed(name):
        def call(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig[name](*args, **kwargs)
            finally:
                spent[name] += time.perf_counter() - t0
        return call

    def handle(path, ctx):
        bench.describe(f"req:{current['route']}")
        spent.update(dict.fromkeys(orig, 0.0))
        try:
            return timed("handle_request")(path, ctx)
        finally:
            bench.describe(None)
            for name, x in spent.items():
                spans[name].append(x)

    server.handle_request = handle
    server.parse_query = timed("parse_query")
    server._json_rows = timed("_json_rows")
    try:
        yield
    finally:
        for name, fn in orig.items():
            setattr(server, name, fn)


def _base_ok(rows, plant: bool) -> bool:
    """The served base corpus equals the synth twin, as in kg_build."""
    pa, urls = rows
    expected = inputs.build_expectations(inputs.BASE_PAGES, inputs.BASE_SEED)
    got = {s["mk_hash"]: s["ev_count"] for s in pa}
    if plant:
        got.popitem()
    return got == expected["ev_count"] and sum(map(len, urls.values())) == expected["evidence_rows"]


def _answer_ok(route: str, params: dict, body: bytes, rows) -> bool:
    try:
        got = inputs.response_summary(route, body)
    except (KeyError, TypeError, ValueError):  # not the response's shape
        return False
    return got == inputs.expected_response(route, params, rows)


def kg_serve(bench: Bench) -> Outcome:
    """Closed loop, one client on one thread: a seeded mix over all five
    routes of ``server.serve_background`` on the bucketed base corpus."""
    from indra_db_spark import api, server

    spark, out = bench.spark, Outcome()
    corpus = bench.path("corpus")
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        shutil.rmtree(corpus, ignore_errors=True)
        shutil.copytree(f"{bench.base}/corpus", corpus)
        ctx = api.load_context(spark, corpus, bucketed=True)
        out.setup_s.append(time.perf_counter() - t0)

    rows = inputs.corpus_rows(spark, f"{bench.base}/corpus")
    out.check(_base_ok(rows, bench.plant))
    mix = inputs.request_mix(ctx, bench.seed)

    srv, thread = server.serve_background(ctx)
    url = f"http://127.0.0.1:{srv.server_address[1]}"
    current: dict = {}
    spans: dict[str, list[float]] = {
        n: [] for n in ("handle_request", "parse_query", "_json_rows")
    }
    client_s: list[float] = []
    by_route: dict[str, list[float]] = {r: [] for r in ROUTES}
    rows_returned = 0

    def request(route: str, params: dict, want: str | None) -> tuple[float, bool, int]:
        current["route"] = route
        t0 = time.perf_counter()
        status, body = _get(url + inputs.request_path(route, params))
        wall = time.perf_counter() - t0
        if bench.plant:
            body = _plant_row(body)
        try:
            return wall, status == 200 and _digest(body) == want, len(json.loads(body))
        except ValueError:
            return wall, False, 0

    try:
        # untimed warm-up, every plan once: each response must match the
        # answer computed in Python from the corpus tables, and its digest
        # is then what the timed responses must equal
        expected: list[str | None] = []
        for route, params in mix:  # the loop also visits the page appended below
            status, body = _get(url + inputs.request_path(route, params))
            ok = status == 200 and _answer_ok(
                route, params, _plant_row(body) if bench.plant else body, rows
            )
            out.check(ok)
            expected.append(_digest(body) if ok else None)
            if ok and "sort_by" in params and "after" not in params:
                last = json.loads(body)[-1]  # keyset second page after this one
                mix.append((route, params | {"after": f"{last['belief']},{last['mk_hash']}"}))
        tags = (
            _request_tags(bench, current, spans) if bench.trace
            else contextlib.nullcontext()
        )
        with tags:
            while out.more(bench):  # whole cycles: every run has the same mix
                for (route, params), want in zip(mix, expected):
                    wall, ok, n = request(route, params, want)
                    out.record(wall, 1, ok)
                    by_route[route].append(wall)
                    client_s.append(wall)
                    rows_returned += n
    finally:
        srv.shutdown()
        srv.server_close()
        thread.join(timeout=30)

    if bench.trace:
        ms = lambda xs: 1000 * statistics.median(xs)  # noqa: E731
        handle, parse, collect = spans["handle_request"], spans["parse_query"], spans["_json_rows"]
        out.layers |= {f"serve.{r}.p50_ms": ms(by_route[r]) for r in ROUTES} | {
            "api.parse_ms": ms(parse),
            "plans.build_ms": ms([h - p - c for h, p, c in zip(handle, parse, collect)]),
            "plans.exec_ms": ms(collect),
            "server.transport_ms": ms([c - h for c, h in zip(client_s, handle)]),
            "serve.rows_returned": rows_returned,
            "serve.requests": len(client_s),
        }
        _query_suite(bench, out)
    return out


WORKLOADS = {
    "kg_build": kg_build,
    "kg_serve": kg_serve,
}
NEEDS_BASE_CORPUS = {"kg_serve"}
