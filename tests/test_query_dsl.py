"""Query DSL semantics — mirrors the reference's tests/test_query.py
pattern: build a tiny corpus, assert the exact hash set per query,
compose with & | ~."""

import functools
import operator
import re

import pytest
from pyspark.sql import functions as F

from indra_db_spark import schemas
from indra_db_spark.operators.dedup import build_evidence, build_pa_statements
from indra_db_spark.operators.distill import distill
from indra_db_spark.operators.extract import extract_statements
from indra_db_spark.operators.grounding import ground_statements
from indra_db_spark.plans.query import (
    EmptyQuery,
    FromPapers,
    HasAgent,
    HasDatabases,
    HasHash,
    HasNumEvidence,
    HasOnlySource,
    HasReadings,
    HasSources,
    HasType,
    QueryContext,
    type_closure,
)
from indra_db_spark.sources import dims
from indra_db_spark.sources.knowledgebase import load_knowledgebase
from indra_db_spark.sources.synth import source_expr as synth_source_expr, synth_pages


@pytest.fixture(scope="module")
def ctx(spark):
    pages = synth_pages(spark, 300, seed=42)
    raw = distill(
        ground_statements(extract_statements(pages), dims.grounding_map_df(spark),
                          source_expr=synth_source_expr)
    )
    kb = load_knowledgebase(
        spark,
        "signor",
        [
            ("Activation", "HGNC", "11998", "TP53", "HGNC", "10001", "MDM2"),
            ("Inhibition", "HGNC", "9999", "NEWGENE", "HGNC", "10001", "MDM2"),
        ],
    )
    raw = raw.unionByName(kb)
    pa = build_pa_statements(raw)
    # no belief stage needed for DSL tests; fill the column
    pa = pa.withColumn("belief", F.lit(0.5)).select(
        *[f.name for f in schemas.PA_STATEMENTS.fields]
    )
    ev = build_evidence(raw)
    return QueryContext(pa_statements=pa.cache(), evidence=ev.cache())


def _hashes(q, ctx):
    return {r["mk_hash"] for r in q.hashes(ctx).collect()}


def test_has_agent_by_grounding(ctx):
    got = _hashes(HasAgent(namespace="HGNC", db_id="11998"), ctx)
    want = {
        r["mk_hash"]
        for r in ctx.pa_statements.where(
            (F.col("subj.db_ns") == "HGNC") & (F.col("subj.db_id") == "11998")
            | (F.col("obj.db_ns") == "HGNC") & (F.col("obj.db_id") == "11998")
        ).collect()
    }
    assert got == want and got


def test_has_agent_role(ctx):
    subj_only = _hashes(HasAgent(name="TP53", role="SUBJECT"), ctx)
    any_role = _hashes(HasAgent(name="TP53"), ctx)
    assert subj_only <= any_role


def test_has_type_and_closure(ctx):
    acts = _hashes(HasType(["Activation"]), ctx)
    regs = _hashes(HasType(["RegulateActivity"], include_subclasses=True), ctx)
    inhs = _hashes(HasType(["Inhibition"]), ctx)
    assert acts | inhs == regs
    assert set(type_closure(["Modification"])) >= {
        "Modification", "AddModification", "RemoveModification",
        "Phosphorylation", "Dephosphorylation", "Ubiquitination",
        "Acetylation", "Methylation",
    }  # extended vocabulary adds more (test_extended_type_closure)
    assert set(type_closure(["RemoveModification"])) >= {
        "RemoveModification", "Dephosphorylation",
    }
    assert set(type_closure(["RegulateAmount"])) == {
        "RegulateAmount", "IncreaseAmount", "DecreaseAmount",
    }
    everything = set(type_closure(["Statement"]))
    assert {
        "Activation", "Inhibition", "Complex", "Phosphorylation",
        "Dephosphorylation", "Ubiquitination", "Acetylation", "Methylation",
        "IncreaseAmount", "DecreaseAmount", "Gef", "Gap",
    } <= everything


def test_set_ops(ctx):
    a = HasAgent(namespace="HGNC", db_id="11998")
    t = HasType(["Activation"])
    got_and = _hashes(a & t, ctx)
    got_or = _hashes(a | t, ctx)
    sa, st = _hashes(a, ctx), _hashes(t, ctx)
    assert got_and == sa & st
    assert got_or == sa | st
    corpus = _hashes(EmptyQuery(), ctx)
    assert _hashes(~a, ctx) == corpus - sa
    # De Morgan
    assert _hashes(~(a | t), ctx) == _hashes(~a & ~t, ctx)


def test_get_statements_json_edge(ctx):
    """r3: the JSON serving boundary (G6 — typed structs internally,
    to_json only at the edge, the pa_statements.json payload analog):
    payload round-trips and honours ev_limit."""
    import json

    q = HasAgent(namespace="HGNC", db_id="11998")
    rows = q.get_statements_json(ctx, ev_limit=2, limit=3).collect()
    assert rows
    for r in rows:
        doc = json.loads(r["stmt_json"])
        assert {"matches_key", "type", "subj", "obj", "ev_count"} <= set(doc)
        assert len(doc.get("evidences") or []) <= 2
        # the JSON edge agrees with the typed edge on the same hash
        assert doc["matches_key"].startswith(doc["type"] + "(")


def test_has_agent_agent_num_validated(ctx):
    """r3: agent_num outside the binary model {0, 1} raises (schemas.py
    two-agent invariant) instead of silently matching nothing."""
    import pytest as _pytest

    assert _hashes(HasAgent(name="TP53", agent_num=0), ctx) == _hashes(
        HasAgent(name="TP53", role="SUBJECT"), ctx
    )
    with _pytest.raises(ValueError, match="agent_num"):
        _hashes(HasAgent(name="TP53", agent_num=2), ctx)


def test_empty_set_op_identities(ctx):
    """Union([]) is the empty SET (nothing matches); Intersection([]) is
    trivially true (everything matches) — duals, including under De
    Morgan: ~Union([]) == Intersection([]) (r2 VERDICT #2 regression)."""
    from indra_db_spark.plans.query import Intersection, Union

    corpus = _hashes(EmptyQuery(), ctx)
    assert _hashes(Union([]), ctx) == set()
    assert _hashes(Intersection([]), ctx) == corpus
    assert _hashes(~Union([]), ctx) == corpus
    assert _hashes(~Intersection([]), ctx) == set()


def test_has_hash_roundtrip(ctx):
    some = sorted(_hashes(HasType(["Complex"]), ctx))[:5]
    assert _hashes(HasHash(some), ctx) == set(some)


def test_sources_and_kb_flags(ctx):
    only_kb = _hashes(HasOnlySource("kb_signor"), ctx)
    has_kb = _hashes(HasSources(["kb_signor"]), ctx)
    dbs = _hashes(HasDatabases(), ctx)
    rds = _hashes(HasReadings(), ctx)
    assert only_kb <= has_kb <= dbs
    # the TP53-activates-MDM2 hub triple is both read and curated:
    both = has_kb & rds
    assert len(both) == 1
    # the never-read KB statement is db-only:
    assert len(only_kb) == 1
    corpus = _hashes(EmptyQuery(), ctx)
    assert rds | dbs == corpus


def test_has_num_evidence_and_from_papers(ctx):
    heavy = _hashes(HasNumEvidence(5), ctx)
    assert heavy  # hub triple has many evidences
    url = ctx.evidence.select("url").first()["url"]
    fp = _hashes(FromPapers([url]), ctx)
    want = {
        r["mk_hash"] for r in ctx.evidence.where(F.col("url") == url).collect()
    }
    assert fp == want


def test_get_statements_ev_limit_and_sort(ctx):
    q = HasAgent(namespace="HGNC", db_id="11998") & HasType(["Activation"])
    res = q.get_statements(ctx, ev_limit=3, sort_by="ev_count", limit=2).collect()
    assert len(res) <= 2
    assert all(len(r["evidences"]) <= 3 for r in res)
    if len(res) == 2:
        assert res[0]["ev_count"] >= res[1]["ev_count"]


def test_offset_pagination(ctx):
    q = EmptyQuery()
    page1 = q.get_statements(ctx, limit=5).collect()
    page2 = q.get_statements(ctx, limit=5, offset=5).collect()
    ids1 = {r["mk_hash"] for r in page1}
    ids2 = {r["mk_hash"] for r in page2}
    assert ids1.isdisjoint(ids2) and len(page2) == 5


def test_from_topics_and_ref_counts(spark, ctx):
    from indra_db_spark.operators.meta import build_topic_ref_counts
    from indra_db_spark.plans.query import FromTopics
    from indra_db_spark.sources.synth import (
        concept_rows,
        page_concepts,
        page_topics,
        topic_rows,
    )

    topics = page_topics(spark, 300, seed=42)
    concepts = page_concepts(spark, 300, seed=42)
    ctx2 = QueryContext(
        pa_statements=ctx.pa_statements,
        evidence=ctx.evidence,
        page_topics=topics,
        page_concepts=concepts,
    )
    some_topic = topics.first()["topic_id"]
    got = _hashes(FromTopics([some_topic]), ctx2)
    urls = {u for (u, t) in topic_rows(300) if t == some_topic}
    want = {
        r["mk_hash"]
        for r in ctx.evidence.where(F.col("url").isin(list(urls))).collect()
    }
    assert got == want and got

    # concept axis: C-prefixed ids dispatch to page_concepts (the
    # MeshTermMeta vs MeshConceptMeta split)
    some_concept = concepts.first()["topic_id"]
    got_c = _hashes(FromTopics([some_concept]), ctx2)
    c_urls = {u for (u, c) in concept_rows(300) if c == some_concept}
    want_c = {
        r["mk_hash"]
        for r in ctx.evidence.where(F.col("url").isin(list(c_urls))).collect()
    }
    assert got_c == want_c and got_c
    # mixed term+concept id list = union of both axes
    both = _hashes(FromTopics([some_topic, some_concept]), ctx2)
    assert both == got | got_c
    # concept ref counts reuse the same rollup (topic_num strips C too)
    crc = build_topic_ref_counts(concepts, ctx.evidence)
    crow = crc.where(F.col("topic_id") == some_concept).first()
    assert crow["topic_num"] == int(some_concept[1:])
    # the prefix survives alongside the number: T123 and C123 are distinct
    # topics, disambiguated by topic_kind (ADVICE r2)
    assert crow["topic_kind"] == "C"

    rc = build_topic_ref_counts(topics, ctx.evidence)
    row = rc.where(F.col("topic_id") == some_topic).first()
    # pages with no statements don't count into ref_count (evidence join)
    urls_with_ev = {
        r["url"] for r in ctx.evidence.select("url").distinct().collect()
    }
    assert row["ref_count"] == len(urls & urls_with_ev)
    assert row["topic_num"] == int(some_topic[1:])
    assert row["topic_kind"] == "T"


def test_result_modes(ctx):
    q = HasAgent(namespace="HGNC", db_id="11998")
    inter = q.get_interactions(ctx)
    rel = q.get_relations(ctx)
    ag = q.get_agents(ctx)
    n_hashes = len(_hashes(q, ctx))
    assert inter.count() == n_hashes
    assert rel.count() <= n_hashes
    assert ag.count() <= rel.count()
    # relation totals re-aggregate to interaction totals
    assert (
        rel.agg(F.sum("n_statements")).collect()[0][0] == n_hashes
    )
    row = ag.where(
        (F.col("subj_key") == "HGNC:11998") & (F.col("obj_key") == "HGNC:10001")
    ).first()
    assert row is not None and "Activation" in row["types"]


def test_keyset_pagination_equals_offset(ctx):
    """Keyset (after=...) pages reproduce exactly the offset pages, and
    full iteration via keyset yields the complete ordered result."""
    q = EmptyQuery()
    full = q.get_statements(ctx).orderBy(
        F.desc("ev_count"), F.asc("mk_hash")
    ).collect()
    # page through with keyset
    pages, after = [], None
    while True:
        page = q.get_statements(ctx, limit=7, after=after).collect()
        if not page:
            break
        pages.extend(page)
        last = page[-1]
        after = (last["ev_count"], last["mk_hash"])
    assert [(r["mk_hash"]) for r in pages] == [(r["mk_hash"]) for r in full]
    # and keyset page 2 == offset page 2
    off2 = q.get_statements(ctx, limit=7, offset=7).collect()
    p1 = q.get_statements(ctx, limit=7).collect()
    key2 = q.get_statements(
        ctx, limit=7, after=(p1[-1]["ev_count"], p1[-1]["mk_hash"])
    ).collect()
    assert [r["mk_hash"] for r in key2] == [r["mk_hash"] for r in off2]


def _plan_nodes(plan):
    """Pre-order walk of a Catalyst plan tree (JVM objects via py4j)."""
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _is_join(node, join_type):
    return node.nodeName() == "Join" and node.joinType().toString() == join_type


@pytest.fixture(scope="module")
def pq(spark, ctx, tmp_path_factory):
    """``ctx`` written to parquet, so plans show the scans' pushed filters."""
    root = tmp_path_factory.mktemp("served")
    ctx.pa_statements.write.parquet(str(root / "pa"))
    ctx.evidence.write.parquet(str(root / "ev"))
    return QueryContext(
        pa_statements=spark.read.parquet(str(root / "pa")),
        evidence=spark.read.parquet(str(root / "ev")),
    )


def _pushed_filters(df, table):
    """PushedFilters of each parquet scan of ``<root>/<table>`` in df's plan."""
    plan = df._jdf.queryExecution().sparkPlan()
    scans = [
        n.metadata().apply("PushedFilters")
        for n in _plan_nodes(plan)
        if n.nodeName() == "Scan parquet "
        and n.metadata().apply("Location").endswith(f"/{table}]")
    ]
    assert scans, plan.toString()
    return scans


def test_get_statements_hydration_is_selection_scoped(ctx, pq):
    """A limited page is hydrated from its own hashes: get_statements
    collects the page's mk_hashes, then both the pa_statements and the
    evidence scans filter on that literal set — no semi-join on a second
    copy of the selection, and never an aggregate over the full evidence
    table (scale guard: 10^9 evidence rows / 25 statements)."""
    q = HasType(["Activation"])
    df = q.get_statements(pq, ev_limit=2, limit=5)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert not any(_is_join(n, "LeftSemi") for n in _plan_nodes(plan)), (
        plan.toString()
    )
    page = [r["mk_hash"] for r in df.select("mk_hash").collect()]
    assert page
    for table in ("pa", "ev"):
        for pushed in _pushed_filters(df, table):
            assert re.search(r"\b(In|InSet|EqualTo)\(mk_hash,", pushed), pushed
            assert all(str(h) in pushed for h in page), pushed
    # results identical to the unscoped reference formulation
    ref_ev = ctx.evidence.join(df.select("mk_hash"), "mk_hash", "left_semi")
    got = {
        (r["mk_hash"], frozenset(e["raw_id"] for e in r["evidences"]))
        for r in df.collect()
    }
    # recompute expected evidences per selected hash from the raw table
    # (best-first: longest evidence_text, raw_id tiebreak)
    import collections
    ev_by_hash = collections.defaultdict(list)
    for r in ref_ev.collect():
        ev_by_hash[r["mk_hash"]].append(
            (-len(r["evidence_text"] or ""), r["raw_id"])
        )
    want = {
        (mk, frozenset(rid for _, rid in sorted(v)[:2]))
        for mk, v in ev_by_hash.items()
    }
    assert got == want


def test_ev_limit_keeps_best_evidence_first(ctx):
    """ev_limit truncation keeps the richest (longest-text) evidence."""
    q = HasNumEvidence(3)
    res = q.get_statements(ctx, ev_limit=2).collect()
    assert res
    full = {
        r["mk_hash"]: sorted(
            ((e["raw_id"], len(e["evidence_text"] or "")) for e in r["evidences"]),
        )
        for r in q.get_statements(ctx).collect()
    }
    for r in res:
        assert len(r["evidences"]) <= 2
        kept = {e["raw_id"] for e in r["evidences"]}
        ranked = sorted(
            full[r["mk_hash"]], key=lambda t: (-t[1], t[0])
        )[: len(kept)]
        assert kept == {rid for rid, _ in ranked}


def test_extended_type_closure():
    from indra_db_spark.plans.query import TYPE_PARENTS, type_closure

    # every concrete type resolves to Statement through the hierarchy
    for t in TYPE_PARENTS:
        cur = t
        seen = set()
        while cur in TYPE_PARENTS:
            assert cur not in seen, f"cycle at {cur}"
            seen.add(cur)
            cur = TYPE_PARENTS[cur]
        assert cur == "Statement"
    # phospho family closure includes auto/trans variants
    assert set(type_closure(["Phosphorylation"])) == {
        "Phosphorylation", "Autophosphorylation", "Transphosphorylation",
    }
    assert "Sumoylation" in type_closure(["AddModification"])
    assert "Desumoylation" in type_closure(["RemoveModification"])


# ---- predicate compilation vs the reference join formulation ----

def _reference_hashes(q, ctx):
    """Reference join formulation of ``q``'s hash set: HasAgent over a
    posexploded name_meta + distinct, the other pa_statements leaves as
    filtered hash sets, Intersection as chained semi-joins, Union as a
    de-duplicated union, Not as an anti-join against the corpus."""
    from indra_db_spark.operators.meta import build_name_meta
    from indra_db_spark.plans.query import HasNumAgents, Intersection, Not, Union

    pa = ctx.pa_statements
    corpus = pa.select("mk_hash")
    if isinstance(q, EmptyQuery):
        return corpus
    if isinstance(q, HasAgent):
        cond = F.lit(True)
        for col, v in (
            ("name", q.name), ("db_ns", q.namespace), ("db_id", q.db_id),
            ("role", q.role), ("ag_num", q.agent_num),
        ):
            if v is not None:
                cond &= F.col(col) == v
        return build_name_meta(pa).where(cond).select("mk_hash").distinct()
    leaf_conds = {
        HasType: lambda q: F.col("type").isin(
            type_closure(q.types) if q.include_subclasses else q.types
        ),
        HasHash: lambda q: F.col("mk_hash").isin(q.hashes_list),
        HasSources: lambda q: functools.reduce(
            operator.and_,
            [F.coalesce(F.col("src_counts")[s], F.lit(0)) > 0 for s in q.sources],
            F.lit(True),
        ),
        HasOnlySource: lambda q: (F.size(F.map_keys("src_counts")) == 1)
        & (F.coalesce(F.col("src_counts")[q.source], F.lit(0)) > 0),
        HasReadings: lambda q: F.exists(
            F.map_keys("src_counts"), lambda s: ~s.startswith("kb_")
        ),
        HasDatabases: lambda q: F.exists(
            F.map_keys("src_counts"), lambda s: s.startswith("kb_")
        ),
        HasNumAgents: lambda q: F.col("agent_count") >= q.min_agents,
        HasNumEvidence: lambda q: F.col("ev_count") >= q.min_evidence,
    }
    if type(q) in leaf_conds:
        return pa.where(leaf_conds[type(q)](q)).select("mk_hash")
    if isinstance(q, Intersection):
        if not q.queries:
            return corpus.distinct()
        out = _reference_hashes(q.queries[0], ctx)
        for sub in q.queries[1:]:
            out = out.join(_reference_hashes(sub, ctx), "mk_hash", "left_semi")
        return out
    if isinstance(q, Union):
        if not q.queries:
            return corpus.limit(0)
        out = _reference_hashes(q.queries[0], ctx)
        for sub in q.queries[1:]:
            out = out.unionByName(_reference_hashes(sub, ctx))
        return out.dropDuplicates(["mk_hash"])
    if isinstance(q, Not):
        return corpus.join(_reference_hashes(q.query, ctx), "mk_hash", "left_anti")
    # leaves over other tables (FromPapers, ...) compile as they always did
    return q.hashes(ctx)


NULL_ROW_HASH = 1  # an extra statement whose agent, map and counts are NULL


@pytest.fixture(scope="module")
def null_ctx(spark, ctx):
    """ctx plus one statement with a NULL subj, a NULL obj name, a NULL
    src_counts map and NULL counts — the rows three-valued logic decides."""
    assert ctx.pa_statements.where(F.col("mk_hash") == NULL_ROW_HASH).count() == 0
    row = spark.createDataFrame(
        [
            {
                "mk_hash": NULL_ROW_HASH,
                "matches_key": "Activation(None, HGNC:10001)",
                "type": "Activation",
                "subj": None,
                "obj": {"db_ns": "HGNC", "db_id": "10001", "name": None},
                "mods": None,
                "ev_count": None,
                "src_counts": None,
                "belief": None,
                "agent_count": None,
            }
        ],
        schemas.PA_STATEMENTS,
    )
    # one partition each: the corpus is ~300 rows, and the test runs ~80
    # small jobs whose cost is per task
    return QueryContext(
        pa_statements=ctx.pa_statements.unionByName(row).coalesce(1).cache(),
        evidence=ctx.evidence.coalesce(1).cache(),
    )


def test_predicate_compilation_matches_join_formulation(null_ctx):
    from indra_db_spark.plans.query import HasNumAgents, Intersection, Union

    ctx = null_ctx
    url = ctx.evidence.select("url").first()["url"]
    some = sorted(_hashes(HasType(["Complex"]), ctx))[:3] + [NULL_ROW_HASH]
    tp53 = HasAgent(name="TP53")
    hgnc = HasAgent(namespace="HGNC", db_id="11998")
    act = HasType(["Activation"])
    heavy = HasNumEvidence(3)
    papers = FromPapers([url])
    leaves = [
        EmptyQuery(),
        tp53,
        hgnc,
        HasAgent(name="TP53", role="SUBJECT"),
        HasAgent(name="MDM2", role="OBJECT"),
        HasAgent(name="MDM2", agent_num=1),
        HasAgent(namespace="HGNC", db_id="10001", agent_num=0),
        HasAgent(name="TP53", role="SUBJECT", agent_num=1),  # contradictory
        HasAgent(role="OBJECT"),
        act,
        HasType(["RegulateActivity"], include_subclasses=True),
        HasHash(some),
        HasSources(["kb_signor"]),
        HasSources(["no_such_source"]),
        HasOnlySource("kb_signor"),
        HasReadings(),
        HasDatabases(),
        HasNumAgents(2),
        heavy,
        papers,
    ]
    composed = [
        tp53 & act,
        hgnc | act,
        ~hgnc,
        ~~hgnc,
        ~(hgnc | act),
        ~hgnc & ~act,
        (tp53 & ~act) | heavy,
        # NULL under negation: a missing map, a missing count, a NULL name
        ~HasReadings(),
        ~HasDatabases() & act,
        ~heavy,
        ~HasAgent(name="MDM2", role="OBJECT"),
        ~(HasSources(["no_such_source"]) | HasOnlySource("kb_signor")),
        # leaves over another table mixed into the predicate tree
        papers & tp53,
        papers & ~act & HasNumEvidence(2),
        papers | act,
        ~papers & act,
        ~(papers | hgnc),
        # the set-op identities
        Intersection([]),
        Union([]),
        ~Intersection([]),
        ~Union([]),
        Intersection([Union([]), tp53]),
        Union([Intersection([]), papers]),
    ]
    for q in leaves + composed:
        want = {r["mk_hash"] for r in _reference_hashes(q, ctx).collect()}
        assert _hashes(q, ctx) == want, q
    # the NULL row is outside every positive leaf and inside their negation
    assert NULL_ROW_HASH in _hashes(~HasReadings(), ctx)
    assert NULL_ROW_HASH not in _hashes(HasReadings(), ctx)


def test_served_statement_side_is_one_filter(pq):
    """A conjunctive request over pa_statements leaves plans as one
    filtered scan: no name_meta Generate, no join on the statement side,
    and the positive leaves pushed into the parquet scan."""
    from indra_db_spark.api import parse_query

    q = parse_query(
        {
            "subject": "TP53",
            "object": "MDM2!",
            "type": "RegulateActivity",
            "type_subclasses": "true",
            "min_evidence": 2,
        }
    )
    df = q.get_statements(pq, limit=20)
    # the page get_statements collects its hashes from: one filtered scan
    # of pa_statements, with the positive leaves pushed into it
    sel = q.page(pq, limit=20)
    opt = sel._jdf.queryExecution().optimizedPlan()
    assert not any(
        n.nodeName() in ("Join", "Generate") for n in _plan_nodes(opt)
    ), opt.toString()
    scans = _pushed_filters(sel, "pa")
    assert len(scans) == 1, scans
    for pushed in scans:
        for leaf in (
            "EqualTo(subj.name,TP53)",
            "In(type, [Activation,Inhibition,RegulateActivity])",
            "GreaterThanOrEqual(ev_count,2)",
        ):
            assert leaf in pushed, pushed
    # and the filter answers the same as the join formulation
    want = {r["mk_hash"] for r in _reference_hashes(q, pq).collect()}
    got = [r["mk_hash"] for r in df.collect()]
    assert set(got) <= want and len(got) == min(20, len(want))
