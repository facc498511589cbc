"""Per-operator unit tests: grounding tie-break, distill, salted dedup,
refinement edges, connected components, belief formula."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from indra_db_spark import schemas
from indra_db_spark.operators.belief import compute_belief
from indra_db_spark.operators.components import connected_components
from indra_db_spark.operators.dedup import build_pa_statements
from indra_db_spark.operators.distill import distill
from indra_db_spark.operators.extract import extract_statements
from indra_db_spark.operators.grounding import ground_statements, resolve_grounding_map
from indra_db_spark.operators.refine import build_pa_link
from indra_db_spark.sources import dims
from indra_db_spark.sources.synth import source_expr as synth_source_expr, synth_pages


# ---------------------------------------------------------------- grounding
def _mini_pages(spark, text):
    pdf = pd.DataFrame(
        {
            "url": ["https://ex3.org/doc/000001"],
            "warc_ts": [pd.Timestamp("2024-01-01")],
            "html": [None],
            "text": [text],
            "lang": ["en"],
        }
    )
    return spark.createDataFrame(pdf)


def _ground(spark, text):
    raw = extract_statements(_mini_pages(spark, text))
    return ground_statements(raw, dims.grounding_map_df(spark),
                             source_expr=synth_source_expr).collect()


def test_grounding_score_tiebreak(spark):
    # AMBIG1: HGNC 0.9 beats CHEBI 0.6
    (r,) = _ground(spark, "AMBIG1 activates MDM2GEN.")
    assert (r["subj"]["db_ns"], r["subj"]["db_id"]) == ("HGNC", "9001")


def test_grounding_lexicographic_tiebreak(spark):
    # AMBIG2: score tie 0.7/0.7 → lexicographic (db_ns, db_id): CHEBI < HGNC
    (r,) = _ground(spark, "AMBIG2 activates MDM2GEN.")
    assert (r["subj"]["db_ns"], r["subj"]["db_id"]) == ("CHEBI", "8002")


def test_grounding_text_fallback(spark):
    (r,) = _ground(spark, "DECOYA activates MDM2GEN.")
    assert (r["subj"]["db_ns"], r["subj"]["db_id"]) == ("TEXT", "decoya")
    assert r["subj"]["name"] == "DECOYA"


def test_grounding_regularizes_double_prefix(spark):
    # grounding map stores CHEBI ids as 'CHEBI:5000x' on purpose (G4)
    (r,) = _ground(spark, "ASPIRINCHEM inhibits TP53GEN.")
    assert r["subj"]["db_ns"] == "CHEBI"
    assert not r["subj"]["db_id"].startswith("CHEBI:")
    # and the hub gene got its fixture id
    assert (r["obj"]["db_ns"], r["obj"]["db_id"]) == ("HGNC", "11998")


def test_resolve_grounding_map_one_row_per_text(spark):
    resolved = resolve_grounding_map(dims.grounding_map_df(spark))
    dup = resolved.groupBy("text_norm").count().where("count > 1")
    assert dup.count() == 0


# ------------------------------------------------------------------ distill
def test_distill_keeps_best_version_and_drops_exact_dupes(spark):
    pages = synth_pages(spark, 60)
    gm = dims.grounding_map_df(spark)
    new = ground_statements(extract_statements(pages, "2.0"), gm,
                            source_expr=synth_source_expr)
    old = ground_statements(extract_statements(pages, "1.0"), gm,
                            source_expr=synth_source_expr)
    both = new.unionByName(old)
    d = distill(both)
    assert d.where(F.col("extractor_version") == "1.0").count() == 0
    assert d.count() == distill(new).count()
    # idempotent
    assert distill(d).count() == d.count()


# -------------------------------------------------------------------- dedup
@pytest.fixture(scope="module")
def raw_small(spark):
    pages = synth_pages(spark, 400)  # includes hub-key skew by construction
    raw = ground_statements(
        extract_statements(pages), dims.grounding_map_df(spark),
        source_expr=synth_source_expr,
    )
    return distill(raw).cache()


def test_salted_pa_equals_unsalted_pa(spark, raw_small):
    a = build_pa_statements(raw_small, n_salts=64)
    b = build_pa_statements(raw_small, n_salts=1)  # degenerate = naive
    cols = ["mk_hash", "matches_key", "type", "ev_count", "agent_count"]
    assert sorted(map(tuple, a.select(*cols).collect())) == sorted(
        map(tuple, b.select(*cols).collect())
    )


def test_hub_key_exists(raw_small):
    # the synthetic corpus really is skewed: hub triple dominates
    top = (
        raw_small.groupBy("mk_hash", "matches_key")
        .count()
        .orderBy(F.desc("count"))
        .first()
    )
    assert "HGNC:11998" in top["matches_key"]


# --------------------------------------------------------------- refinement
def _pa_row(mk, typ, s_ns, s_id, o_ns, o_id, mods=None, s_muts=None, s_act=None,
            s_bounds=None):
    return (
        mk,
        f"{typ}({s_ns}:{s_id}, {o_ns}:{o_id})",
        typ,
        (s_ns, s_id, s_id, s_muts or [], s_act, s_bounds or []),
        (o_ns, o_id, o_id, [], None, []),
        mods or [],
        1,
        {"src0": 1},
        0.0,
        2,
    )


@pytest.fixture()
def tiny_pa(spark):
    mod = ("phosphorylation", "S", "15", True)
    rows = [
        _pa_row(1, "Activation", "HGNC", "11998", "HGNC", "10001"),   # TP53 → X
        _pa_row(2, "Activation", "FPLX", "P53FAM", "HGNC", "10001"),  # fam → X (general)
        _pa_row(3, "Activation", "HGNC", "11998", "HGNC", "10002"),   # different obj
        _pa_row(4, "Phosphorylation", "HGNC", "1", "HGNC", "2", [mod]),
        _pa_row(5, "Phosphorylation", "HGNC", "1", "HGNC", "2"),      # siteless (general)
        _pa_row(6, "Inhibition", "HGNC", "11998", "HGNC", "10001"),   # wrong type
    ]
    return spark.createDataFrame(rows, schemas.PA_STATEMENTS)


def test_refinement_edges(spark, tiny_pa):
    links = {
        (r["supported_mk_hash"], r["supporting_mk_hash"])
        for r in build_pa_link(tiny_pa, dims.isa_closure_df(spark)).collect()
    }
    # specific (supporting) → general (supported)
    assert links == {(2, 1), (5, 4)}


def test_complex_symmetric_refinement(spark):
    rows = [
        _pa_row(10, "Complex", "HGNC", "11998", "HGNC", "10001"),
        # same members in the other textual order, family-generalized subj:
        _pa_row(11, "Complex", "HGNC", "10001", "FPLX", "P53FAM"),
    ]
    pa = spark.createDataFrame(rows, schemas.PA_STATEMENTS)
    links = {
        (r["supported_mk_hash"], r["supporting_mk_hash"])
        for r in build_pa_link(pa, dims.isa_closure_df(spark)).collect()
    }
    assert links == {(11, 10)}


# --------------------------------------------------------------- components
def test_connected_components_known_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "supported_mk_hash long, supporting_mk_hash long",
    )
    cc = {
        r["mk_hash"]: r["component_id"] for r in connected_components(edges).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_chain(spark):
    # long path graph — exercises multiple star iterations
    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "supported_mk_hash long, supporting_mk_hash long"
    )
    cc = connected_components(edges)
    assert cc.select("component_id").distinct().count() == 1
    assert cc.count() == n + 1


# ------------------------------------------------------------------- belief
def test_belief_formula_hand_computed(spark):
    pa = spark.createDataFrame(
        [
            (1, {"src0": 2}),           # 1 - (0.05 + 0.3^2) = 0.86
            (2, {"src0": 1, "src1": 1}),  # 1 - 0.35^2 = 0.8775
        ],
        "mk_hash long, src_counts map<string,long>",
    )
    no_links = spark.createDataFrame([], schemas.PA_LINK)
    b = {
        r["mk_hash"]: r["belief"]
        for r in compute_belief(pa, no_links, dims.source_priors_df(spark)).collect()
    }
    assert math.isclose(b[1], 1 - (0.05 + 0.09))
    assert math.isclose(b[2], 1 - 0.35**2)


def test_belief_inherits_supporting_evidence(spark):
    pa = spark.createDataFrame(
        [(1, {"src0": 1}), (2, {"src0": 1})],
        "mk_hash long, src_counts map<string,long>",
    )
    links = spark.createDataFrame([(1, 2)], schemas.PA_LINK)  # 2 supports 1
    b = {
        r["mk_hash"]: r["belief"]
        for r in compute_belief(pa, links, dims.source_priors_df(spark)).collect()
    }
    assert math.isclose(b[1], 1 - (0.05 + 0.3**2))  # inherited: n_src0 = 2
    assert math.isclose(b[2], 1 - 0.35)  # supporting keeps its own only


def test_export_sif(spark, tmp_path, raw_small):
    from indra_db_spark.operators.dedup import build_pa_statements
    from indra_db_spark.operators.meta import export_sif

    pa = build_pa_statements(raw_small).withColumn("belief", F.lit(0.0))
    out = str(tmp_path / "sif")
    export_sif(pa, out)
    back = spark.read.option("sep", "\t").option("header", "true").csv(out)
    assert back.columns == ["subj_key", "type", "obj_key", "total_ev"]
    # SIF is an ENTITY-grain network dump: condition variants (muts/activity)
    # of the same pair collapse into one interaction row
    n_entity_grain = (
        pa.select(
            F.concat_ws(":", "subj.db_ns", "subj.db_id").alias("sk"),
            "type",
            F.concat_ws(":", "obj.db_ns", "obj.db_id").alias("ok"),
        )
        .distinct()
        .count()
    )
    assert back.count() == n_entity_grain
    top = back.first()
    assert top["subj_key"] == "HGNC:11998"  # hub triple leads


def test_connected_components_random_graph(spark):
    """50k-edge random graph vs a driver-side union-find ground truth."""
    import random

    rng = random.Random(7)
    n, m = 30000, 50000
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {}
    for a, b in edges:
        for v in (a, b):
            truth[v] = find(v)
    # canonical: min member id per component
    comp_min = {}
    for v, r in truth.items():
        comp_min.setdefault(r, v)
        comp_min[r] = min(comp_min[r], v)
    want = {v: comp_min[r] for v, r in truth.items()}

    df = spark.createDataFrame(
        edges, "supported_mk_hash long, supporting_mk_hash long"
    )
    got = {
        r["mk_hash"]: r["component_id"]
        for r in connected_components(df).collect()
    }
    assert got == want


# -------------------------------------------------- source derivation (G/A)
def test_default_source_is_url_host(spark):
    """Engine default: source = url host — a real-crawl corpus (non-ex*.org
    urls) must yield per-host sources, not a collapsed constant."""
    pdf = pd.DataFrame(
        {
            "url": [
                "https://news.example.com/a/1",
                "http://blog.other.net/p?x=1",
                "https://news.example.com/a/2",
            ],
            "warc_ts": [pd.Timestamp("2024-01-01")] * 3,
            "html": [None] * 3,
            "text": [
                "TP53GEN activates MDM2GEN.",
                "KRASGEN inhibits TP53GEN.",
                "EGFRGEN binds KRASGEN.",
            ],
            "lang": ["en"] * 3,
        }
    )
    pages = spark.createDataFrame(pdf)
    raw = ground_statements(
        extract_statements(pages), dims.grounding_map_df(spark)
    )
    got = {(r["url"], r["source"]) for r in raw.select("url", "source").collect()}
    assert got == {
        ("https://news.example.com/a/1", "news.example.com"),
        ("http://blog.other.net/p?x=1", "blog.other.net"),
        ("https://news.example.com/a/2", "news.example.com"),
    }


def test_synth_source_expr_maps_ex_hosts(spark):
    (r,) = _ground(spark, "TP53GEN activates MDM2GEN.")
    assert r["source"] == "src3"  # _mini_pages uses https://ex3.org


def test_belief_default_prior_for_unknown_and_kb_sources(spark):
    """Sources without a prior row must not be dropped: kb_* gets the
    near-certain knowledgebase prior, others the default reader prior."""
    pa = spark.createDataFrame(
        [
            (1, {"kb_signor": 1}),            # kb-only statement
            (2, {"src0": 1, "kb_signor": 1}),  # mixed
            (3, {"mystery": 1}),               # unknown reader source
        ],
        "mk_hash long, src_counts map<string,long>",
    )
    no_links = spark.createDataFrame([], schemas.PA_LINK)
    from indra_db_spark.operators.belief import (
        DEFAULT_P_RAND, DEFAULT_P_SYST, KB_P_RAND, KB_P_SYST,
    )

    b = {
        r["mk_hash"]: r["belief"]
        for r in compute_belief(pa, no_links, dims.source_priors_df(spark)).collect()
    }
    assert math.isclose(b[1], 1 - (KB_P_SYST + KB_P_RAND))
    assert math.isclose(b[2], 1 - (0.05 + 0.3) * (KB_P_SYST + KB_P_RAND))
    assert math.isclose(b[3], 1 - (DEFAULT_P_SYST + DEFAULT_P_RAND))
    assert b[1] > 0.9  # database evidence is near-certain


def test_mutation_activity_distinct_hashes(spark):
    """matches_key folds agent conditions: bare / mutant / active variants
    of the same triple get three distinct mk_hash; the bare one matches the
    Python twin exactly (backward-compatible hashes)."""
    from indra_db_spark.functions.hashing import fold_md5_64_py, matches_key_py

    texts = [
        "KRASGEN activates TP53GEN.",
        "G12D mutant KRASGEN activates TP53GEN.",
        "active KRASGEN activates TP53GEN.",
        "inactive KRASGEN activates TP53GEN.",
    ]
    rows = {}
    for t in texts:
        (r,) = _ground(spark, t)
        rows[t] = r
    hashes = [rows[t]["mk_hash"] for t in texts]
    assert len(set(hashes)) == 4
    bare = rows[texts[0]]
    assert bare["mk_hash"] == fold_md5_64_py(
        matches_key_py("Activation", "HGNC:10003", "HGNC:11998")
    )
    mut = rows[texts[1]]
    assert mut["subj"]["muts"] == [("12", "G", "D")]
    assert mut["matches_key"] == (
        "Activation(HGNC:10003;mut=G:12:D, HGNC:11998)"
    )
    act = rows[texts[2]]
    assert act["subj"]["activity"] == ("activity", True)
    assert ";act=activity:true" in act["matches_key"]


def test_bound_condition_distinct_hashes(spark):
    """BoundCondition (r3): bare / bound / not-bound variants of the same
    triple hash distinctly; the bound entity grounds via the same map and
    is folded into the subject agent key sorted after mut/act parts."""
    from indra_db_spark.functions.hashing import fold_md5_64_py, matches_key_py

    texts = [
        "KRASGEN activates TP53GEN.",
        "KRASGEN bound to EGFRGEN activates TP53GEN.",
        "KRASGEN not bound to EGFRGEN activates TP53GEN.",
        "KRASGEN bound to MTORGEN activates TP53GEN.",
    ]
    rows = {}
    for t in texts:
        (r,) = _ground(spark, t)
        rows[t] = r
    assert len({rows[t]["mk_hash"] for t in texts}) == 4
    bound = rows[texts[1]]
    assert bound["subj"]["bounds"] == [("HGNC", "10002", "EGFR", True)]
    assert bound["matches_key"] == (
        "Activation(HGNC:10003;bound=HGNC:10002:true, HGNC:11998)"
    )
    notb = rows[texts[2]]
    assert notb["subj"]["bounds"] == [("HGNC", "10002", "EGFR", False)]
    # Spark mk_hash == Python twin with the bounds fold
    from indra_db_spark.functions.hashing import agent_key_py

    subj_key = agent_key_py("HGNC:10003", bounds=[("HGNC:10002", True)])
    assert bound["mk_hash"] == fold_md5_64_py(
        matches_key_py("Activation", subj_key, "HGNC:11998")
    )


def test_refinement_bound_supports_bare(spark):
    """A bound-condition-bearing statement is MORE specific: it supports
    the bare statement, never the reverse; bound and not-bound variants
    are incompatible with each other (BoundCondition refinement)."""
    rows = [
        _pa_row(1, "Activation", "HGNC", "1", "HGNC", "2",
                s_bounds=[("HGNC", "9", "X", True)]),
        _pa_row(2, "Activation", "HGNC", "1", "HGNC", "2"),
        _pa_row(3, "Activation", "HGNC", "1", "HGNC", "2",
                s_bounds=[("HGNC", "9", "X", False)]),
    ]
    pa = spark.createDataFrame(rows, schemas.PA_STATEMENTS)
    links = {
        (r["supported_mk_hash"], r["supporting_mk_hash"])
        for r in build_pa_link(pa, dims.isa_closure_df(spark)).collect()
    }
    assert links == {(2, 1), (2, 3)}


def test_refinement_mutant_supports_bare(spark):
    """A mutation-bearing statement is MORE specific: it supports the bare
    statement, never the reverse (Agent.refinement_of semantics)."""
    rows = [
        _pa_row(1, "Activation", "HGNC", "1", "HGNC", "2",
                s_muts=[("12", "G", "D")]),
        _pa_row(2, "Activation", "HGNC", "1", "HGNC", "2"),
        _pa_row(3, "Activation", "HGNC", "1", "HGNC", "2",
                s_act=("activity", True)),
        _pa_row(4, "Activation", "HGNC", "1", "HGNC", "2",
                s_act=("activity", False)),
    ]
    pa = spark.createDataFrame(rows, schemas.PA_STATEMENTS)
    links = {
        (r["supported_mk_hash"], r["supporting_mk_hash"])
        for r in build_pa_link(pa, dims.isa_closure_df(spark)).collect()
    }
    # bare (2) is supported by all condition-bearing variants; active and
    # inactive are incompatible with each other
    assert links == {(2, 1), (2, 3), (2, 4)}


def test_ground_statements_shuffle_fallback_equals_broadcast(spark, monkeypatch):
    """An over-threshold grounding map must not be broadcast: in auto mode
    over a forced-tiny GROUNDING_BROADCAST_MAX_ROWS the three grounding
    joins plan as shuffle joins and produce byte-identical raw statements
    to the default (broadcast) plan."""
    from indra_db_spark.operators import grounding as g_mod

    extracted = extract_statements(synth_pages(spark, 60, seed=42))
    gm = dims.grounding_map_df(spark)

    def snap(df):
        return sorted(
            (r["raw_id"], r["mk_hash"], r["subj"]["db_ns"], r["subj"]["db_id"],
             r["obj"]["db_ns"], r["obj"]["db_id"], r["matches_key"])
            for r in df.collect()
        )

    bcast = ground_statements(extracted, gm, source_expr=synth_source_expr)
    assert "BroadcastHashJoin" in (
        bcast._jdf.queryExecution().executedPlan().toString()
    )
    want = snap(bcast)
    assert want

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # auto mode: a map bigger than the bound flips to the fallback
        monkeypatch.setattr(g_mod, "GROUNDING_BROADCAST_MAX_ROWS", 0)
        auto = g_mod.ground_statements(
            extracted, gm, source_expr=synth_source_expr
        )
        assert "BroadcastHashJoin" not in (
            auto._jdf.queryExecution().executedPlan().toString()
        )
        assert snap(auto) == want
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_connected_components_vs_union_find_oracle(spark):
    """r4 convergence rework (observed signature + gated star-forest
    test, large-star dedup deferred): labels equal a driver-side
    union-find oracle on adversarial shapes, and the star-test gating is
    bounded — a constant-count pure chain pays ONE test, not one per
    round (the regression the gate exists to prevent)."""
    import random

    from indra_db_spark.operators.components import connected_components

    def naive_cc(edges):
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for a, b in edges:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    rng = random.Random(17)
    graphs = {
        "chain": [(i, i + 1) for i in range(300)],
        "stars": [(h, h * 100 + i) for h in range(5) for i in range(1, 30)],
        "rand": [(rng.randrange(500), rng.randrange(500)) for _ in range(900)],
        "selfloops": [(1, 1), (2, 3), (3, 2), (4, 5)],
        "oriented_forest": [(i, 0) for i in range(1, 40)],
        # ADVICE r4 (high): round-1 output has height ≤ 1 but node 4 has
        # TWO parents (roots 1 and 2) — the old star-forest test (sources
        # ∩ targets = ∅ only) early-exited here and split the component,
        # emitting node 4 with two conflicting component_ids.
        "multi_parent": [(4, 5), (1, 5), (2, 6), (4, 6)],
    }
    for name, es in graphs.items():
        df = spark.createDataFrame(
            es, "supported_mk_hash long, supporting_mk_hash long"
        )
        want = naive_cc(es)
        want = {
            k: v for k, v in want.items()
            if any(a != b for a, b in es if k in (a, b))
        }
        st = {}
        cc = connected_components(df, stats=st)
        got = {r["mk_hash"]: r["component_id"] for r in cc.collect()}
        assert got == want, (name, len(got), len(want))
        if name == "chain":
            assert st["star_tests"] <= 1, st  # gate bound on chains
        if name == "oriented_forest":
            assert st["rounds"] == 1, st  # star test ends it immediately
