"""Benchmark inputs: the cached base corpus, seeded serving request
mixes and the expected values the correctness checks compare against.

Everything here is a pure function of its arguments (and the library
code): the same seed always gives the same inputs.

Run as a script (``python3 inputs.py <dir>``) it builds the base corpus
into ``<dir>`` in a Spark session of its own; :func:`base_corpus` does so.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

BASE_PAGES = 6000  # base corpus served by kg_serve
BASE_SEED = 42
BATCH_PAGES = 1500  # novel pages merged by the traced supplement


def _library_key(root: str) -> str:
    """Hash of every library source file: a cached corpus is reused only
    by the code that built it."""
    h = hashlib.sha1(f"{BASE_PAGES}/{BASE_SEED}".encode())
    lib = os.path.join(root, "indra_db_spark")
    for d, dirs, files in sorted(os.walk(lib)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, lib).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def base_corpus(root: str, work: str, log) -> str:
    """Directory holding ``pages/`` (seed-42 synth pages) and ``corpus/``
    (their ``run_pipeline`` output), one per version of the library.

    A missing corpus is built under a file lock by a child process with a
    Spark session of its own, and published by rename. Call this before
    the measured session starts: that session is then in the same state
    whether the cache held the corpus or not."""
    cache = os.path.join(work, "cache")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, _library_key(root))
    with open(os.path.join(cache, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(path):
            log(f"building base corpus ({BASE_PAGES} pages) in {path}")
            tmp = f"{path}.tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), tmp],
                stdout=sys.stderr, check=True, timeout=600,
            )
            os.rename(tmp, path)
    return path


def _build_base(out: str) -> None:
    import run
    from indra_db_spark.pipeline import run_pipeline
    from indra_db_spark.sources.synth import source_expr, synth_pages

    run_dir = f"{out}.spark"
    spark = run.start_spark(run_dir, trace=False)
    try:
        synth_pages(spark, BASE_PAGES, seed=BASE_SEED).write.parquet(f"{out}/pages")
        run_pipeline(
            spark, spark.read.parquet(f"{out}/pages"), f"{out}/corpus",
            pages_fingerprint=f"perfbench-base-{BASE_PAGES}", resume=False,
            signatures=False, source_expr=source_expr,
        )
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# kg_build: expected tables from the pure-Python twin of the synth grammar


def build_expectations(n_pages: int, seed: int) -> dict:
    """pa_statements {mk_hash: ev_count} and the evidence row count that
    ``run_pipeline`` must produce for ``synth_pages(n_pages, seed)``,
    derived from ``synth.reference_statements`` without touching Spark."""
    from indra_db_spark.functions.hashing import fold_md5_64_py
    from indra_db_spark.sources.synth import reference_statements

    uniq = {
        (e["url"], e["matches_key"], e["source"], e["evidence_text"])
        for e in reference_statements(n_pages, seed=seed)
    }
    ev_count: dict[int, int] = {}
    for _, mk, _, _ in uniq:
        h = fold_md5_64_py(mk)
        ev_count[h] = ev_count.get(h, 0) + 1
    return {"ev_count": ev_count, "evidence_rows": len(uniq)}


# ---------------------------------------------------------------------------
# kg_serve: seeded request mix over the base corpus


def request_mix(ctx, seed: int) -> list[tuple[str, dict]]:
    """One cycle of (route, params) requests covering all five routes.

    The kinds and their proportions are fixed; the seed picks the entities,
    types, hashes and papers from pools sampled out of the corpus, so every
    request matches at least one statement. The keyset second page
    (``after=``) is appended by the caller once the first page is known.
    Grain routes keep the default row cap, far above any match count here,
    so every response is the complete (order-independent) match set.
    """
    from pyspark.sql import functions as F

    from indra_db_spark.plans.query import TYPE_PARENTS

    rng = random.Random(seed)
    pa = ctx.pa_statements
    # subjects of the middle half by statement count: every seed draws
    # entities of similar selectivity, neither hubs nor singletons
    counts = (
        pa.where(F.col("ev_count") >= 2)
        .groupBy(F.col("subj.name").alias("name"))
        .count()
        .orderBy("count", "name")
        .collect()
    )
    mid = [r["name"] for r in counts[len(counts) // 4: 3 * len(counts) // 4]]
    agents = [
        r.asDict()
        for r in pa.where((F.col("ev_count") >= 2) & F.col("subj.name").isin(mid))
        .select(
            F.col("subj.name").alias("name"), F.col("subj.db_id").alias("db_id"),
            F.col("subj.db_ns").alias("db_ns"), F.col("obj.name").alias("obj"),
            "type",
        )
        .distinct()
        .orderBy("name", "db_id", "obj", "type")
        .collect()
    ]
    hashes = [r["mk_hash"] for r in pa.select("mk_hash").orderBy("mk_hash").limit(2000).collect()]
    urls = [
        r["url"]
        for r in ctx.evidence.select("url").distinct().orderBy("url").limit(2000).collect()
    ]
    a, b, c = rng.sample(agents, 3)
    return [
        ("statements", {"subject": a["name"], "limit": 20}),
        ("statements", {"agent": f"{b['db_id']}@{b['db_ns']}", "limit": 20}),
        ("statements", {"subject": a["name"], "object": f"{c['obj']}!", "limit": 20}),
        # the parent type: only the subclass expansion matches any statement
        ("statements_json", {
            "type": TYPE_PARENTS.get(b["type"], b["type"]), "type_subclasses": "true",
            "limit": 20,
        }),
        ("statements", {"hashes": rng.sample(hashes, 4)}),
        ("statements", {"paper_ids": rng.sample(urls, 2), "limit": 20}),
        ("statements", {"agent": c["name"], "min_evidence": 2, "sort_by": "belief", "limit": 5}),
        ("interactions", {"agent": a["name"]}),
        ("relations", {"agent": b["name"]}),
        ("agents", {"agent": c["name"]}),
    ]


def request_path(route: str, params: dict) -> str:
    from urllib.parse import urlencode

    prefix = "/statements/json" if route == "statements_json" else f"/{route}"
    return f"{prefix}?{urlencode(params, doseq=True)}"


# ---------------------------------------------------------------------------
# kg_serve: expected responses, computed in Python from the corpus tables


def corpus_rows(spark, corpus: str) -> tuple[list[dict], dict[int, list[str]]]:
    """pa_statements rows and the evidence urls of each mk_hash, read with
    ``storage.read_table`` — no serving code."""
    from indra_db_spark.sources import storage

    pa = [
        r.asDict(recursive=True)
        for r in storage.read_table(spark, f"{corpus}/pa_statements")
        .select("mk_hash", "type", "subj", "obj", "ev_count", "belief")
        .collect()
    ]
    urls: dict[int, list[str]] = {}
    for r in storage.read_table(spark, f"{corpus}/evidence").select("mk_hash", "url").collect():
        urls.setdefault(r["mk_hash"], []).append(r["url"])
    return pa, urls


def _agent_hit(s: dict, spec: str, roles: tuple[str, ...]) -> bool:
    neg = spec.endswith("!")
    spec = spec.removesuffix("!")
    if "@" in spec:
        db_id, ns = spec.rsplit("@", 1)
        want = {"db_id": db_id, "db_ns": ns}
    else:
        want = {"name": spec}
    hit = any(
        s[r] is not None and all(s[r][k] == v for k, v in want.items()) for r in roles
    )
    return hit != neg


def _type_hit(t: str, want: str, subclasses: bool) -> bool:
    from indra_db_spark.plans.query import TYPE_PARENTS

    while t is not None:
        if t == want:
            return True
        t = TYPE_PARENTS.get(t) if subclasses else None
    return False


def _key(agent: dict | None) -> str:
    """``concat_ws(':', db_ns, db_id)``: null parts are skipped."""
    if agent is None:
        return ""
    return ":".join(x for x in (agent["db_ns"], agent["db_id"]) if x is not None)


def expected_response(route: str, params: dict, rows) -> list:
    """What :func:`response_summary` of a correct response to ``params``
    is, from the semantics of the query parameters alone."""
    from indra_db_spark.server import DEFAULT_LIMIT

    pa, urls = rows
    conds = []
    if "subject" in params:
        conds.append(lambda s: _agent_hit(s, params["subject"], ("subj",)))
    if "object" in params:
        conds.append(lambda s: _agent_hit(s, params["object"], ("obj",)))
    if "agent" in params:
        conds.append(lambda s: _agent_hit(s, params["agent"], ("subj", "obj")))
    if "type" in params:
        sub = params.get("type_subclasses") == "true"
        conds.append(lambda s: _type_hit(s["type"], params["type"], sub))
    if "hashes" in params:
        conds.append(lambda s: s["mk_hash"] in params["hashes"])
    if "paper_ids" in params:
        conds.append(lambda s: bool(set(urls.get(s["mk_hash"], [])) & set(params["paper_ids"])))
    if "min_evidence" in params:
        conds.append(lambda s: s["ev_count"] >= params["min_evidence"])
    hits = [s for s in pa if all(c(s) for c in conds)]

    if route in ("statements", "statements_json"):
        key = params.get("sort_by", "ev_count")
        hits.sort(key=lambda s: (-s[key], s["mk_hash"]))
        if "after" in params:
            last, last_hash = params["after"].split(",")
            hits = [s for s in hits if (-s[key], s["mk_hash"]) > (-float(last), int(last_hash))]
        return [
            (s["mk_hash"], s["ev_count"], sorted(urls.get(s["mk_hash"], [])))
            for s in hits[: params.get("limit", DEFAULT_LIMIT)]
        ]
    if route == "interactions":
        return sorted((s["mk_hash"], s["ev_count"]) for s in hits)
    groups: dict[tuple, list[int]] = {}
    for s in hits:
        g = (_key(s["subj"]), _key(s["obj"])) + ((s["type"],) if route == "relations" else ())
        groups.setdefault(g, []).append(s["ev_count"])
    return sorted(g + (len(evs), sum(evs)) for g, evs in groups.items())


def response_summary(route: str, body: bytes) -> list:
    """The parts of a response that :func:`expected_response` predicts:
    ordered (mk_hash, ev_count, evidence urls) for statements, the hash set
    for interactions, the groups with their statement and evidence counts
    for relations and agents."""
    rows = json.loads(body)
    if route == "statements_json":
        rows = [{"mk_hash": r["mk_hash"]} | json.loads(r["stmt_json"]) for r in rows]
    if route in ("statements", "statements_json"):
        return [
            (r["mk_hash"], r["ev_count"], sorted(e["url"] for e in r.get("evidences") or []))
            for r in rows
        ]
    if route == "interactions":
        return sorted((r["mk_hash"], r["ev_count"]) for r in rows)
    head = ("subj_key", "obj_key") + (("type",) if route == "relations" else ())
    return sorted(
        tuple(r[k] for k in head) + (r["n_statements"], r["total_ev"]) for r in rows
    )


if __name__ == "__main__":
    _build_base(sys.argv[1])
