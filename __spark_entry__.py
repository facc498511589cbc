"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the KG pipeline's extract→ground→dedup core
run over the sf0.001 ``documents`` table treated as a mini pages corpus.

``queries()`` / ``oracle_sql()`` — one pair per SQL-expressible operator
family from SURVEY.md §2, checked side-by-side against DuckDB at sf0.01.
Column names/aliases match exactly between both sides (the driver hashes
values after sorting columns by name). Non-SQL-expressible pipeline ops
(connected components, LSH banding internals) are exposed as rows-only
checks.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from indra_db_spark.functions.parallel import (  # noqa: E402
    fan_out,
    pin_above_exchange,
    sort_barrier,
)

_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Flagship


def _documents_as_pages(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source, …) → pages-shaped corpus."""
    return docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".org/doc/"), F.col("doc_id")
        ).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    documents → pages → extract → ground → distill → dedup → pa_statements
    (driver documents use free text, so statements come from lexicon decoy
    hits; falls back to doc-fingerprint dedup rollup if the corpus has no
    grammar matches — rows>0 is guaranteed by the rollup arm).
    """
    from indra_db_spark.operators.dedup import build_pa_statements
    from indra_db_spark.operators.distill import distill
    from indra_db_spark.operators.extract import extract_statements
    from indra_db_spark.operators.grounding import ground_statements
    from indra_db_spark.operators.textops import fingerprint, quality_features
    from indra_db_spark.sources import dims

    docs = _load(spark, "/root/testdata/sf0.001", "documents")
    pages = _documents_as_pages(docs)
    raw = ground_statements(
        extract_statements(pages), dims.grounding_map_df(spark)
    )
    # localCheckpoint before the emptiness probe: take(1) otherwise runs
    # the whole extract->ground->dedup DAG once for the probe and AGAIN
    # when the driver consumes the returned frame.
    pa = build_pa_statements(distill(raw)).localCheckpoint()
    if pa.take(1):
        return pa
    # Driver documents carry arbitrary prose — if the bio grammar finds
    # nothing, the flagship falls back to the curation rollup (dedup +
    # quality over the same corpus), still exercising the engine end-to-end.
    q = quality_features(fingerprint(docs))
    return (
        q.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp_hash").alias("n_unique"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# queries() / oracle_sql()  — operator-family pairs


def _q_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-family: conjunctive predicates + IN-list + null-safe map access."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.where(
            (F.col("event_type").isin("purchase", "signup"))
            & (F.col("value") > 50.0)
        )
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    )


def _q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-family: 5-way star equi-join with small-dim broadcasts."""
    # project the fact side to the three used columns and floor its scan
    # parallelism (the 6-row-group file caps the probe stage at 6 tasks)
    li = fan_out(
        _load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
    )
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


def _q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: semi/anti joins — customers with orders but no high-value order."""
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders")
    has_order = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    big = o.where(F.col("o_totalprice") > 200000).select("o_custkey")
    return (
        has_order.join(big, has_order.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def _q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-family: multi-agg with distinct + conditional counts."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_source_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 source_meta analog: per-user event-type count map, flattened to
    sorted 'type:count' entries for cross-engine comparability."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.concat_ws(":", "event_type", F.col("n").cast("string")))
                ),
                ",",
            ).alias("type_counts"),
            F.sum("n").alias("total_events"),
        )
        .orderBy("user_id")
    )


def _q_cube_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10: CUBE over (returnflag, linestatus) with ALL-labelled subtotals
    (labels instead of grouping_id — bit orders differ across engines)."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "n_rows",
            "sum_qty",
        )
        .orderBy("rflag", "lstatus")
    )


def _q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family: top-3 lineitems per supplier by extendedprice (W2 analog)."""
    from pyspark.sql import Window

    li = _load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    top = (
        li.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("l_suppkey", "rnk", "l_orderkey", "l_linenumber", "l_extendedprice")
    )
    return sort_barrier(top, "l_suppkey", "rnk")


def _q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W: running revenue per customer over order dates (frame spec)."""
    from pyspark.sql import Window

    o = _load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )
    return sort_barrier(running, "o_custkey", "o_orderkey")


def _q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family: (BUILDING ∪ MACHINERY) ∖ big-spenders, via hash semantics."""
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders")
    bld = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    mch = c.where(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    both = bld.unionByName(mch).dropDuplicates(["c_custkey"])
    big = (
        o.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("t"))
        .where(F.col("t") > 1500000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return both.join(big, "c_custkey", "left_anti").orderBy("c_custkey")


def _q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-family: regexp extraction, JSON access, date trunc, hashing-free."""
    # get_json_object per row is the cost; the events table arrives as a
    # single parquet row group, so floor the scan parallelism first.
    ev = fan_out(_load(spark, sf_dir, "events"))
    parsed = ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        F.date_trunc("month", "ts").cast("date").alias("month"),
        F.upper("event_type").alias("etype"),
        F.length("props").alias("props_len"),
    ).where(pin_above_exchange(F.col("prop_k").isNotNull()))
    return sort_barrier(parsed, "event_id")


def _q_mk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1-G2: the matches-key signed-64 md5 fold as a column expression,
    applied to documents (DuckDB twin uses HUGEINT arithmetic)."""
    from indra_db_spark.functions.hashing import fold_md5_64

    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", fold_md5_64(F.col("text")).alias("mk_hash")
    ).orderBy("doc_id")


def _q_docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup family: the deduplicated corpus — one kept row per distinct
    normalized-content fingerprint (drivers' documents carry few exact
    dups, so the kept-set form keeps the check non-vacuous)."""
    from indra_db_spark.functions.hashing import fold_md5_64

    d = fan_out(_load(spark, sf_dir, "documents"))
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        d.select("doc_id", fold_md5_64(norm).alias("fp_hash"))
        .groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .orderBy("fp_hash")
    )


def _q_docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts + quality features."""
    from indra_db_spark.operators.textops import quality_features

    d = _load(spark, sf_dir, "documents")
    feats = quality_features(d).select(
        "doc_id", "n_tokens", "punct_ratio", "upper_ratio",
        "stopword_ratio", "quality_score",
    )
    return sort_barrier(feats, "doc_id")


def _q_docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from indra_db_spark.operators.textops import fingerprint

    d = _load(spark, sf_dir, "documents")
    return fingerprint(d).select("doc_id", "fp_hash", "fp_hex").orderBy("doc_id")


def _q_part_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-family breadth over the two otherwise-unused TPC-H-ish dims:
    fact × part × supplier × nation star (all dims broadcast), pushed
    date predicate, grouped revenue with a HAVING filter."""
    li = _load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    part = _load(spark, sf_dir, "part")
    sup = _load(spark, sf_dir, "supplier")
    nat = _load(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("p_brand", "n_name")
        .agg(
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.avg("p_retailprice"), 6).alias("avg_retail"),
        )
        .where(F.col("n_items") > 5)
        .orderBy("p_brand", "n_name")
    )


def _q_docs_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: rolling-hash (winnowing) document fingerprints —
    min k-gram hash per w-window, deduped. md5-fold hash family so DuckDB
    can mirror it gram-for-gram; production uses hash_fn='xxhash64'."""
    from indra_db_spark.operators.textops import winnow_fingerprints

    d = _load(spark, sf_dir, "documents")
    return (
        winnow_fingerprints(d, k=8, w=4, hash_fn="md5")
        .select("doc_id", "n_fps", "min_fp", "max_fp")
        .orderBy("doc_id")
    )


def _q_docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup family: word-3-gram Jaccard near-dup pairs (threshold 0.6)."""
    from indra_db_spark.operators.dedup_docs import jaccard_pairs

    d = _load(spark, sf_dir, "documents")
    return jaccard_pairs(d, threshold=0.6).orderBy("doc_a", "doc_b")


def _q_docs_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup building block: distinct word-3-shingles per doc."""
    from indra_db_spark.operators.dedup_docs import word_shingles

    d = _load(spark, sf_dir, "documents")
    return (
        word_shingles(d)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .orderBy("doc_id")
    )


def _q_embeddings_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity: brute-force cosine top-3 for the first 5 vectors."""
    from indra_db_spark.operators.similarity import brute_force_topk

    e = _load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return brute_force_topk(e, q, k=3).orderBy("query_id", "rank")


def _q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity building block: vector norms + per-label centroids dim0."""
    e = _load(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda a, x: a + x * x,
        )
    )
    return (
        e.select("label", norm.alias("nrm"), F.col("embedding")[0].cast("double").alias("d0"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.avg("d0"), 6).alias("avg_d0"),
        )
        .orderBy("label")
    )


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: heuristic language-ID vs the labelled lang column."""
    from indra_db_spark.operators.textops import language_id

    d = _load(spark, sf_dir, "documents")
    return (
        language_id(d)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


def _q_embeddings_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup family: EXACT embedding-cosine near-dup pairs (the oracle
    variant; lsh_near_dup_pairs is the at-scale path). Threshold 0.45 is
    demo-scale — the driver corpus has no true near-dups; production uses
    ~0.95."""
    from indra_db_spark.operators.similarity import cosine_near_dup_pairs

    e = _load(spark, sf_dir, "embeddings")
    return sort_barrier(cosine_near_dup_pairs(e, threshold=0.45), "vec_a", "vec_b")


def _q_docs_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: whitespace + BPE-ish regex token counts per doc."""
    from indra_db_spark.operators.textops import (
        bpe_ish_token_count,
        ws_token_count,
    )

    d = fan_out(_load(spark, sf_dir, "documents"))
    counts = d.select(
        "doc_id",
        ws_token_count(F.col("text")).alias("n_ws_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )
    return sort_barrier(counts, "doc_id")


# --- pipeline-specific (rows-only where SQL can't express) -----------------


_KG_N_PAGES = 500


def _q_kg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KG pipeline over a synthesized pages corpus (deterministic),
    returning agent_interactions at the CANONICAL pair grain (Complex
    member pairs sorted) — representative-order-free, so the pure-Python
    twin (:func:`_kg_twin`) can enumerate the exact expected rows and the
    driver hash-checks them via a VALUES oracle."""
    from indra_db_spark.operators.dedup import build_pa_statements
    from indra_db_spark.operators.distill import distill
    from indra_db_spark.operators.extract import extract_statements
    from indra_db_spark.operators.grounding import ground_statements
    from indra_db_spark.operators.meta import build_agent_interactions
    from indra_db_spark.sources import dims
    from indra_db_spark.sources.synth import source_expr as synth_source_expr
    from indra_db_spark.sources.synth import synth_pages

    pages = synth_pages(spark, _KG_N_PAGES, seed=42)
    raw = ground_statements(extract_statements(pages), dims.grounding_map_df(spark),
                            source_expr=synth_source_expr)
    pa = build_pa_statements(distill(raw)).withColumn("belief", F.lit(0.0))
    inter = build_agent_interactions(pa)
    is_cplx = F.col("type") == "Complex"
    canon = inter.select(
        F.when(is_cplx, F.least("subj_key", "obj_key"))
        .otherwise(F.col("subj_key")).alias("subj_key"),
        F.when(is_cplx, F.greatest("subj_key", "obj_key"))
        .otherwise(F.col("obj_key")).alias("obj_key"),
        "type", "n_statements", "total_ev", "max_belief",
    )
    return (
        canon.groupBy("subj_key", "obj_key", "type")
        .agg(
            F.sum("n_statements").alias("n_statements"),
            F.sum("total_ev").alias("total_ev"),
            F.max("max_belief").alias("max_belief"),
        )
        .orderBy("subj_key", "obj_key", "type")
    )


def _q_kg_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: refinement links + connected components (iterative —
    not expressible in one SQL statement)."""
    from indra_db_spark.operators.components import assign_components
    from indra_db_spark.operators.dedup import build_pa_statements
    from indra_db_spark.operators.distill import distill
    from indra_db_spark.operators.extract import extract_statements
    from indra_db_spark.operators.grounding import ground_statements
    from indra_db_spark.operators.refine import build_pa_link
    from indra_db_spark.sources import dims
    from indra_db_spark.sources.synth import source_expr as synth_source_expr
    from indra_db_spark.sources.synth import synth_pages

    pages = synth_pages(spark, 500, seed=42)
    raw = ground_statements(extract_statements(pages), dims.grounding_map_df(spark),
                            source_expr=synth_source_expr)
    pa = build_pa_statements(distill(raw)).withColumn("belief", F.lit(0.0))
    link = build_pa_link(pa, dims.isa_closure_df(spark))
    cc = assign_components(pa, link)
    return (
        cc.groupBy("component_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .groupBy("n_members")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy("n_members")
    )


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (md5 hash family — DuckDB-mirrorable;
    production uses the xxhash64 family, same banding)."""
    from indra_db_spark.operators.dedup_docs import minhash_lsh_candidates

    d = _load(spark, sf_dir, "documents")
    return minhash_lsh_candidates(d, hash_fn="md5").orderBy("doc_a", "doc_b")


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures (md5 hash family — DuckDB-mirrorable;
    production default is 64-bit xxhash64, identical aggregation shape)."""
    from indra_db_spark.operators.dedup_docs import simhash

    d = _load(spark, sf_dir, "documents")
    return simhash(d, bits=16, hash_fn="md5").orderBy("doc_id")


def _q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: LSH-bucketed approximate NN (bucket assignment is
    hyperplane-derived — deterministic but not ANSI-SQL-friendly)."""
    from indra_db_spark.operators.similarity import lsh_topk

    e = _load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return lsh_topk(e, q, k=3, dim=64, n_planes=6).orderBy("query_id", "rank")


def _q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN with deterministic seed centroids (iters=0):
    cell assignment, n_probe inverted-list probing and residual ranking
    are all hash-checked against a DuckDB twin. Lloyd refinement (iters>0,
    the production default) is iterative — covered by pytest instead
    (tests/test_curation_ops.py)."""
    from indra_db_spark.operators.similarity import ivf_topk, train_centroids

    e = _load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    cents = train_centroids(e, n_cells=8, iters=0)
    return ivf_topk(e, q, k=3, n_cells=8, n_probe=2, centroids=cents).orderBy(
        "query_id", "rank"
    )


def _q_docs_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data cleaning recipe as one hash-checked query:
    quality gate -> language gate -> near-dup cluster removal (exact
    Jaccard path so DuckDB can mirror; production uses minhash_lsh)."""
    from indra_db_spark.operators.textops import curate_corpus

    d = _load(spark, sf_dir, "documents")
    return (
        curate_corpus(d, dedup_method="jaccard")
        .select("doc_id", "quality_score", "lang_pred")
        .orderBy("doc_id")
    )


def _q_docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup family: transitive closure of the n-gram-Jaccard near-dup
    graph — dedup clusters as connected components (canonical doc =
    min doc_id in the cluster). Spark side is the iterative
    large-star/small-star operator (the 100 TB path); the DuckDB twin is
    a recursive reachability CTE (feasible only at oracle scale)."""
    from indra_db_spark.operators.dedup_docs import dedup_clusters

    d = _load(spark, sf_dir, "documents")
    return dedup_clusters(d, method="jaccard", threshold=0.6).orderBy("doc_id")


def _q_docs_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked: INCREMENTAL LSH dedup (r5 — crawl-ingestion path).
    Splits documents by doc_id parity into an "already ingested" corpus
    and a batch, bootstraps the dedup index on the old half, supplements
    the batch, and returns the merged cluster table. The DuckDB twin is
    the FULL-REBUILD collapsed-LSH clustering of the whole table
    (exact-dup collapse → md5-family banded LSH on reps → Jaccard
    residual → recursive closure → re-expand), so the hash match pins
    the incremental == rebuild equivalence on real data, not just the
    unit fixtures (operators/dedup_incremental.py)."""
    from indra_db_spark.operators.dedup_docs import dedup_clusters
    from indra_db_spark.operators.dedup_incremental import (
        build_dedup_index,
        supplement_dedup_clusters,
    )

    d = _load(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 2 == 0)
    batch = d.where(F.col("doc_id") % 2 == 1)
    old_clusters = dedup_clusters(
        old, method="minhash_lsh", threshold=0.6, collapse_exact=True,
        hash_fn="md5",
    )
    idx = build_dedup_index(old, hash_fn="md5")
    _, clusters = supplement_dedup_clusters(
        idx, old_clusters, old, batch, threshold=0.6, hash_fn="md5"
    )
    return clusters.orderBy("doc_id")


def _q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: multimodal feature-extraction plumbing (decode stubbed)."""
    from indra_db_spark.operators.multimodal import extract_media_features, synth_media

    media = synth_media(spark, 96)
    return (
        extract_media_features(media)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct("content_sha").alias("n_distinct"),
        )
        .orderBy("kind")
    )


def _q_multimodal_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked: stdlib container parsing (PNG/GIF/WAV) of REAL
    synthesized files, Arrow mapInPandas — the DuckDB twin re-derives
    each parsed field from the deterministic generation spec, so a
    parser that mis-reads any header byte hash-mismatches."""
    from indra_db_spark.operators.multimodal import (
        parse_media_headers,
        synth_media_files,
    )

    return parse_media_headers(synth_media_files(spark, 96)).orderBy("media_id")


def _q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition gate: duplicate-line and duplicate word-3-gram
    fractions per document (scan-speed HOF expressions, no shuffle)."""
    from indra_db_spark.operators.textops import repetition_ratios

    d = _load(spark, sf_dir, "documents")
    ratios = repetition_ratios(d).select("doc_id", "dup_line_frac", "dup_3gram_frac")
    return sort_barrier(ratios, "doc_id")


def _q_urls_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over a deterministic synthetic URL corpus
    built from the documents table — exercises every rule (case, default
    ports, fragments, tracking params, trailing-slash runs incl. the
    bare-root case)."""
    from indra_db_spark.operators.textops import canonicalize_urls

    d = _load(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    u = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("HTTPS://Ex"), F.col("source"), F.lit(".ORG:443/Docs/"),
                did, F.lit("/?utm_source=feed&id="), did,
                F.lit("&utm_campaign=x#sec"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("http://ex"), F.col("source"), F.lit(".org:80/a/"),
                did, F.lit("//"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://EX.org/b/"), did, F.lit("?fbclid=abc")),
        )
        .otherwise(
            F.concat(F.lit("HtTpS://Ex"), F.col("source"), F.lit(".Org/"))
        )
    )
    urls = d.select("doc_id", u.alias("url"))
    return canonicalize_urls(urls).select("doc_id", "canon_url").orderBy("doc_id")


def _q_docs_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a deterministic PII-bearing corpus derived from
    the documents table: emails, NANP phones, US SSNs, IPv4 addresses and
    IBANs → typed placeholders with per-doc per-family match counts."""
    from indra_db_spark.operators.textops import redact_pii

    d = _load(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    t = F.concat(
        F.lit("contact user"), did, F.lit("@example.com"),
        F.when(
            F.col("doc_id") % 4 == 0, F.lit(" or call 555-123-4567 now ")
        )
        .when(F.col("doc_id") % 4 == 1, F.lit(" ssn 123-45-6789 on file "))
        .when(F.col("doc_id") % 4 == 2, F.lit(" from 10.0.0.1 at "))
        .otherwise(F.lit(" iban DE44500105175407324931 ok ")),
        F.substring(F.col("text"), 1, 40),
    )
    corp = d.select("doc_id", t.alias("text"))
    scrubbed = redact_pii(corp).select(
        "doc_id", "n_emails", "n_ssns", "n_phones", "n_ipv4s", "n_ibans",
        "redacted",
    )
    return sort_barrier(scrubbed, "doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "filter_predicates": _q_filter_predicates,
        "star_join": _q_star_join,
        "semi_anti_join": _q_semi_anti,
        "agg_rollup": _q_agg_rollup,
        "cube_metrics": _q_cube_metrics,
        "source_pivot": _q_source_pivot,
        "part_supplier_revenue": _q_part_supplier_revenue,
        "window_topk": _q_window_topk,
        "window_running": _q_window_running,
        "set_ops": _q_set_ops,
        "scalar_funcs": _q_scalar_funcs,
        "mk_hash": _q_mk_hash,
        "docs_exact_dedup": _q_docs_exact_dedup,
        "docs_quality": _q_docs_quality,
        "docs_fingerprint": _q_docs_fingerprint,
        "docs_ngram_jaccard": _q_docs_ngram_jaccard,
        "docs_shingle_stats": _q_docs_shingle_stats,
        "embeddings_topk": _q_embeddings_topk,
        "embedding_norms": _q_embedding_norms,
        "langid_confusion": _q_langid,
        "docs_minhash_lsh": _q_minhash_lsh,
        "docs_simhash": _q_simhash,
        "embeddings_lsh_ann": _q_lsh_ann,
        "embeddings_near_dup": _q_embeddings_near_dup,
        "docs_token_counts": _q_docs_token_counts,
        "docs_winnow": _q_docs_winnow,
        "docs_dup_clusters": _q_docs_dup_clusters,
        # r5: incremental (index + supplement) LSH dedup, hash-checked
        # against the full-rebuild collapsed-LSH twin
        "docs_dedup_incremental": _q_docs_dedup_incremental,
        "docs_curated": _q_docs_curated,
        "embeddings_ivf_ann": _q_ivf_ann,
        "docs_repetition": _q_docs_repetition,
        "urls_canonical": _q_urls_canonical,
        "docs_pii_redacted": _q_docs_pii,
        # kg_*: full pipeline over the deterministic synthesized corpus,
        # hash-checked against pure-Python-twin VALUES oracles (r3 — the
        # iterative CC itself isn't SQL, but its expected OUTPUT is
        # enumerable driver-side, so the pair is exact)
        "kg_pipeline_interactions": _q_kg_pipeline,
        "kg_component_sizes": _q_kg_components,
        # hash-checked against the synth-media spec twin (the md5-stub
        # feature VALUES remain pytest-only — codec env-blocked)
        "multimodal_features": _q_multimodal,
        # r5: REAL stdlib container parsing (PNG IHDR / GIF LSD / wave)
        # over valid synthesized files; the twin re-derives every parsed
        # field from the generation spec — bytes-in, parsed-fields-out
        "multimodal_headers": _q_multimodal_headers,
    }


# ---------------------------------------------------------------------------
# Pure-Python KG twin → VALUES oracles
#
# The kg_* queries run over the DETERMINISTIC synthesized corpus (500
# pages, seed 42 — identical at every sf), so their exact expected output
# is enumerable driver-side from the pure-Python twin
# (sources/synth.py::reference_statements + a Python mirror of the
# refinement/CC semantics, never touching Spark). oracle_sql() embeds the
# expectation as a VALUES relation, upgrading both checks from rows-only
# to full hash-checked pairs.


def _kg_twin():
    """(interactions, component_hist) expected for the 500-page corpus.

    interactions: {(subj_key, obj_key, type): (n_statements, total_ev)}
    at the canonical pair grain (Complex members sorted).
    component_hist: {n_members: n_components} over refinement-graph CC.
    """
    from indra_db_spark.functions.hashing import fold_md5_64_py
    from indra_db_spark.sources.dims import isa_closure
    from indra_db_spark.sources.synth import reference_statements

    stmts = reference_statements(_KG_N_PAGES, seed=42)
    # distill semantics: distinct (url, matches_key, source, evidence_text)
    uniq = {
        (e["url"], e["matches_key"], e["source"], e["evidence_text"])
        for e in stmts
    }
    ev_count: dict[int, int] = {}
    for _, mk, _, _ in uniq:
        h = fold_md5_64_py(mk)
        ev_count[h] = ev_count.get(h, 0) + 1
    pa: dict[int, dict] = {}
    for e in stmts:
        pa[fold_md5_64_py(e["matches_key"])] = e

    # ---- agent_interactions at the canonical entity-pair grain
    inter: dict[tuple, list] = {}
    for h, e in pa.items():
        k1, k2 = e["subj_entity_key"], e["obj_entity_key"]
        if e["type"] == "Complex":
            k1, k2 = sorted([k1, k2])
        key = (k1, k2, e["type"])
        cur = inter.setdefault(key, [0, 0])
        cur[0] += 1
        cur[1] += ev_count[h]

    # ---- refinement edges (mirror of operators/refine.py semantics)
    anc_map: dict[str, set] = {}
    for c, p in isa_closure():
        anc_map.setdefault(c, set()).add(p)
    ancs = lambda k: {k} | anc_map.get(k, set())

    def cond_sig(e):
        # canonical condition suffix (muts + activity + bounds) per agent;
        # synth puts conditions on subjects only, objects are bare
        mk = "".join(sorted(f";mut={f}:{p}:{t}" for (f, p, t) in e["muts"]))
        ak = (
            f";act={e['activity'][0]}:{str(e['activity'][1]).lower()}"
            if e["activity"] else ""
        )
        bk = "".join(
            sorted(f";bound={k}:{str(b).lower()}" for (k, b) in e["bounds"])
        )
        return mk + ak + bk

    def cond_refines(g, s):
        # general's muts ⊆ specific's, activity unset-or-equal, bounds ⊆
        if not set(map(tuple, g["muts"])) <= set(map(tuple, s["muts"])):
            return False
        if g["activity"] is not None and g["activity"] != s["activity"]:
            return False
        return set(g["bounds"]) <= set(s["bounds"])

    idx: dict[tuple, list] = {}
    for h, e in pa.items():
        k1, k2 = e["subj_entity_key"], e["obj_entity_key"]
        if e["type"] == "Complex":
            k1, k2 = sorted([k1, k2])
        idx.setdefault((e["type"], k1, k2), []).append(h)

    edges = set()
    for h, e in pa.items():
        k1, k2 = e["subj_entity_key"], e["obj_entity_key"]
        gen_pairs = set()
        for g1 in ancs(k1):
            for g2 in ancs(k2):
                if e["type"] == "Complex":
                    j1, j2 = sorted([g1, g2])
                else:
                    j1, j2 = g1, g2
                gen_pairs.add((j1, j2))
        for j1, j2 in gen_pairs:
            for hg in idx.get((e["type"], j1, j2), ()):
                if hg == h:
                    continue
                g = pa[hg]
                if not (
                    {tuple(m) for m in g["mods"]} <= {tuple(m) for m in e["mods"]}
                ):
                    continue
                if e["type"] == "Complex":
                    # conservative Complex rule: condition multisets equal
                    # (objects are bare in synth → subject suffixes only)
                    if sorted([cond_sig(g), ""]) != sorted([cond_sig(e), ""]):
                        continue
                else:
                    if not cond_refines(g, e):
                        continue
                edges.add((hg, h))  # (supported=general, supporting=specific)

    # ---- connected components over pa ∪ edges (union-find)
    parent = {h: h for h in pa}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes: dict[int, int] = {}
    for h in pa:
        r = find(h)
        sizes[r] = sizes.get(r, 0) + 1
    hist: dict[int, int] = {}
    for n in sizes.values():
        hist[n] = hist.get(n, 0) + 1
    return inter, hist


def _kg_interactions_oracle() -> str:
    inter, _ = _kg_twin()
    rows = ",\n".join(
        f"('{s}', '{o}', '{t}', {n}, {te})"
        for (s, o, t), (n, te) in sorted(inter.items())
    )
    return f"""
        SELECT subj_key, obj_key, type,
               CAST(n AS BIGINT) AS n_statements,
               CAST(te AS BIGINT) AS total_ev,
               CAST(0.0 AS DOUBLE) AS max_belief
        FROM (VALUES
{rows}
        ) AS t(subj_key, obj_key, type, n, te)
        ORDER BY subj_key, obj_key, type
    """


def _kg_components_oracle() -> str:
    _, hist = _kg_twin()
    rows = ",\n".join(f"({n}, {c})" for n, c in sorted(hist.items()))
    return f"""
        SELECT CAST(n_members AS BIGINT) AS n_members,
               CAST(n_components AS BIGINT) AS n_components
        FROM (VALUES
{rows}
        ) AS t(n_members, n_components)
        ORDER BY n_members
    """


# ---------------------------------------------------------------------------
# DuckDB oracles


# DuckDB can't cast >15 hex chars directly; assemble the unsigned 64-bit
# value from two 32-bit halves in HUGEINT space, then two's-complement fold.
_U64 = (
    "(('0x' || substr(md5({x}), 1, 8))::BIGINT::HUGEINT * 4294967296 "
    "+ ('0x' || substr(md5({x}), 9, 8))::BIGINT::HUGEINT)"
)
_FOLD64 = (
    f"(CASE WHEN {_U64} >= 9223372036854775808::HUGEINT "
    f"THEN ({_U64} - 18446744073709551616::HUGEINT)::BIGINT "
    f"ELSE {_U64}::BIGINT END)"
)

_NORM_TEXT = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_SHINGLES_CTE = f"""
words AS (
  SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS w FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i)
  WHERE len(w) >= 3
)
"""


def oracle_sql() -> dict[str, str]:
    stop_en = ["the", "and", "of", "to", "in", "is", "that", "with", "for", "on"]
    stop_pat = r"\b(" + "|".join(stop_en) + r")\b"
    return {
        "filter_predicates": """
            SELECT event_id, user_id, event_type, value
            FROM events
            WHERE event_type IN ('purchase', 'signup') AND value > 50.0
            ORDER BY event_id
        """,
        "star_join": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name
        """,
        "part_supplier_revenue": """
            SELECT p_brand, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items,
                   round(avg(p_retailprice), 6) AS avg_retail
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1999-01-01'
            GROUP BY p_brand, n_name
            HAVING count(*) > 5
            ORDER BY p_brand, n_name
        """,
        "semi_anti_join": """
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
              AND c_custkey NOT IN (
                  SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
            ORDER BY c_custkey
        """,
        "agg_rollup": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(DISTINCT l_orderkey) AS n_orders,
                   count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted,
                   round(avg(l_quantity), 6) AS avg_qty
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "cube_metrics": """
            SELECT coalesce(l_returnflag, 'ALL') AS rflag,
                   coalesce(l_linestatus, 'ALL') AS lstatus,
                   count(*) AS n_rows,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
            ORDER BY rflag, lstatus
        """,
        "source_pivot": """
            WITH per_type AS (
                SELECT user_id, event_type, count(*) AS n
                FROM events GROUP BY user_id, event_type
            )
            SELECT user_id,
                   list_aggregate(list_sort(list(event_type || ':' || n::VARCHAR)), 'string_agg', ',')
                       AS type_counts,
                   sum(n)::BIGINT AS total_events
            FROM per_type
            GROUP BY user_id
            ORDER BY user_id
        """,
        "window_topk": """
            SELECT l_suppkey, rnk, l_orderkey, l_linenumber, l_extendedprice
            FROM (
                SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                       row_number() OVER (
                           PARTITION BY l_suppkey
                           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
                       ) AS rnk
                FROM lineitem
            )
            WHERE rnk <= 3
            ORDER BY l_suppkey, rnk
        """,
        "window_running": """
            SELECT o_custkey, o_orderkey,
                   round(sum(o_totalprice) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                       AS running_total
            FROM orders
            ORDER BY o_custkey, o_orderkey
        """,
        "set_ops": """
            SELECT c_custkey FROM customer
            WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
              AND c_custkey NOT IN (
                  SELECT o_custkey FROM orders
                  GROUP BY o_custkey HAVING sum(o_totalprice) > 1500000)
            ORDER BY c_custkey
        """,
        "scalar_funcs": """
            SELECT event_id,
                   try_cast(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
                   date_trunc('month', ts)::DATE AS month,
                   upper(event_type) AS etype,
                   length(props) AS props_len
            FROM events
            WHERE try_cast(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
            ORDER BY event_id
        """,
        "mk_hash": f"""
            SELECT doc_id, {_FOLD64.format(x="text")} AS mk_hash
            FROM documents ORDER BY doc_id
        """,
        "docs_exact_dedup": f"""
            WITH fp AS (
                SELECT doc_id, {_FOLD64.format(x=_NORM_TEXT)} AS fp_hash
                FROM documents
            )
            SELECT fp_hash, count(*) AS n_docs, min(doc_id) AS keep_id
            FROM fp GROUP BY fp_hash
            ORDER BY fp_hash
        """,
        "docs_quality": f"""
            WITH feats AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       CASE WHEN trim(regexp_replace(text, '\\s+', ' ', 'g')) = '' THEN 0
                            ELSE len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) END AS n_tokens,
                       len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
                       len(regexp_extract_all(text, '[A-Z]')) AS n_upper,
                       len(regexp_extract_all(lower(text), '{stop_pat}')) AS n_stop
                FROM documents
            )
            SELECT doc_id, n_tokens,
                   round(CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0 END, 6) AS punct_ratio,
                   round(CASE WHEN n_chars > 0 THEN n_upper::DOUBLE / n_chars ELSE 0 END, 6) AS upper_ratio,
                   round(CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0 END, 6) AS stopword_ratio,
                   round(
                     (CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 0.25 ELSE 0 END) +
                     (CASE WHEN round(CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0 END, 6) BETWEEN 0.001 AND 0.2 THEN 0.25 ELSE 0 END) +
                     (CASE WHEN round(CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0 END, 6) >= 0.05 THEN 0.25 ELSE 0 END) +
                     (CASE WHEN round(CASE WHEN n_chars > 0 THEN n_upper::DOUBLE / n_chars ELSE 0 END, 6) <= 0.3 THEN 0.25 ELSE 0 END)
                   ::DOUBLE, 2) AS quality_score
            FROM feats ORDER BY doc_id
        """,
        "docs_fingerprint": f"""
            SELECT doc_id,
                   {_FOLD64.format(x=_NORM_TEXT)} AS fp_hash,
                   substr(md5({_NORM_TEXT}), 1, 16) AS fp_hex
            FROM documents ORDER BY doc_id
        """,
        "docs_ngram_jaccard": f"""
            WITH {_SHINGLES_CTE},
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM shingles a JOIN shingles b USING (shingle)
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT doc_a, doc_b,
                   round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.6
            ORDER BY doc_a, doc_b
        """,
        "docs_shingle_stats": f"""
            WITH {_SHINGLES_CTE}
            SELECT doc_id, count(*) AS n_shingles
            FROM shingles GROUP BY doc_id ORDER BY doc_id
        """,
        "embeddings_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
            sims AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       round(list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos_sim
                FROM q, embeddings e
                WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, neighbor_id, cos_sim, rnk AS rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
                FROM sims
            )
            WHERE rnk <= 3
            ORDER BY query_id, rnk
        """,
        "embedding_norms": """
            WITH base AS (
                SELECT label,
                       sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')) AS nrm,
                       embedding[1]::DOUBLE AS d0
                FROM embeddings
            )
            SELECT label, count(*) AS n_vecs,
                   round(avg(nrm), 6) AS avg_norm,
                   round(avg(d0), 6) AS avg_d0
            FROM base GROUP BY label ORDER BY label
        """,
        "langid_confusion": _langid_oracle_sql(),
        "embeddings_near_dup": """
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6)
                       AS cos_sim
            FROM embeddings a
            JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6) >= 0.45
            ORDER BY vec_a, vec_b
        """,
        "docs_token_counts": r"""
            SELECT doc_id,
                   CASE WHEN trim(regexp_replace(text, '\s+', ' ', 'g')) = '' THEN 0
                        ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
                   END AS n_ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))::BIGINT
                       AS n_bpe_tokens
            FROM documents ORDER BY doc_id
        """,
        "docs_winnow": """
            WITH g AS (
              SELECT doc_id,
                     list_transform(
                       generate_series(1, greatest(length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) - 8 + 1, 0)),
                       i -> (CASE WHEN (('0x' || substr(md5(substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), i, 8)), 1, 8))::BIGINT::HUGEINT * 4294967296 + ('0x' || substr(md5(substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), i, 8)), 9, 8))::BIGINT::HUGEINT) >= 9223372036854775808::HUGEINT THEN ((('0x' || substr(md5(substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), i, 8)), 1, 8))::BIGINT::HUGEINT * 4294967296 + ('0x' || substr(md5(substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), i, 8)), 9, 8))::BIGINT::HUGEINT) - 18446744073709551616::HUGEINT)::BIGINT ELSE (('0x' || substr(md5(substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), i, 8)), 1, 8))::BIGINT::HUGEINT * 4294967296 + ('0x' || substr(md5(substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), i, 8)), 9, 8))::BIGINT::HUGEINT)::BIGINT END)
                     ) AS h
              FROM documents
            ),
            m AS (
              SELECT doc_id,
                     CASE WHEN len(h) >= 4 THEN
                       list_distinct(list_transform(
                         generate_series(1, len(h) - 4 + 1),
                         j -> list_aggregate(h[j:j+3], 'min')))
                     WHEN len(h) > 0 THEN [list_aggregate(h, 'min')]
                     ELSE [] END AS fps
              FROM g
            )
            SELECT doc_id, len(fps) AS n_fps,
                   list_aggregate(fps, 'min') AS min_fp,
                   list_aggregate(fps, 'max') AS max_fp
            FROM m ORDER BY doc_id
        """,
        "docs_curated": r"""
            WITH RECURSIVE feats AS (
                SELECT doc_id, text,
                       length(text) AS n_chars,
                       CASE WHEN trim(regexp_replace(text, '\s+', ' ', 'g')) = '' THEN 0
                            ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS n_tokens,
                       len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
                       len(regexp_extract_all(text, '[A-Z]')) AS n_upper,
                       len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|with|for|on)\b')) AS n_stop,
                       len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|mit|für|auf|eine|nicht)\b')) AS hits_de,
                       len(regexp_extract_all(lower(text), '\b(el|los|las|por|con|para|una|del|como|más)\b')) AS hits_es,
                       len(regexp_extract_all(lower(text), '\b(le|la|les|des|est|dans|pour|que|une|sur)\b')) AS hits_fr
                FROM documents
            ),
            scored AS (
                SELECT doc_id, text,
                       round(
                         (CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 0.25 ELSE 0 END) +
                         (CASE WHEN round(CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0 END, 6) BETWEEN 0.001 AND 0.2 THEN 0.25 ELSE 0 END) +
                         (CASE WHEN round(CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0 END, 6) >= 0.05 THEN 0.25 ELSE 0 END) +
                         (CASE WHEN round(CASE WHEN n_chars > 0 THEN n_upper::DOUBLE / n_chars ELSE 0 END, 6) <= 0.3 THEN 0.25 ELSE 0 END)
                       ::DOUBLE, 2) AS quality_score,
                       CASE WHEN greatest(hits_de, n_stop, hits_es, hits_fr) = 0 THEN 'und'
                            WHEN hits_de = greatest(hits_de, n_stop, hits_es, hits_fr) THEN 'de'
                            WHEN n_stop = greatest(hits_de, n_stop, hits_es, hits_fr) THEN 'en'
                            WHEN hits_es = greatest(hits_de, n_stop, hits_es, hits_fr) THEN 'es'
                            ELSE 'fr' END AS lang_pred
                FROM feats
            ),
            kept AS (
                SELECT doc_id, text, quality_score, lang_pred FROM scored
                WHERE quality_score >= 0.75 AND lang_pred = 'en'
            ),
            words AS (
              SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM kept
            ),
            shingles AS (
              SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i)
              WHERE len(w) >= 3
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM shingles a JOIN shingles b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            ),
            pairs AS (
              SELECT doc_a, doc_b FROM inter
              JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
              WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.6
            ),
            und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                    UNION SELECT doc_b, doc_a FROM pairs),
            reach AS (
              SELECT a, b FROM und
              UNION
              SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
            ),
            dupes AS (
              SELECT doc_id FROM (
                SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                FROM reach GROUP BY a)
              WHERE doc_id <> cluster_id
            )
            SELECT doc_id, quality_score, lang_pred FROM kept
            WHERE doc_id NOT IN (SELECT doc_id FROM dupes)
            ORDER BY doc_id
        """,
        "docs_dedup_incremental": _incremental_clusters_oracle_sql(),
        "docs_dup_clusters": f"""
            WITH RECURSIVE {_SHINGLES_CTE},
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM shingles a JOIN shingles b USING (shingle)
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            pairs AS (
                SELECT doc_a, doc_b FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.6
            ),
            und AS (
                SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs
            ),
            reach AS (
                SELECT a, b FROM und
                UNION
                SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
            )
            SELECT a AS doc_id, least(a, min(b)) AS cluster_id
            FROM reach GROUP BY a ORDER BY doc_id
        """,
        "embeddings_ivf_ann": """
            WITH cents AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                       embedding::DOUBLE[] AS c
                FROM (SELECT vec_id, embedding FROM embeddings
                      ORDER BY vec_id LIMIT 8)
            ),
            asn AS (
                SELECT e.vec_id, e.embedding, cents.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY -list_dot_product(e.embedding::DOUBLE[], cents.c)
                                    / sqrt(list_dot_product(cents.c, cents.c)),
                                    cents.cid
                       ) AS prb
                FROM embeddings e CROSS JOIN cents
            ),
            corpus AS (SELECT vec_id AS neighbor_id, embedding AS cv, cid AS cell
                       FROM asn WHERE prb = 1),
            q AS (SELECT vec_id AS query_id, embedding AS qv, cid AS cell
                  FROM asn WHERE vec_id < 5 AND prb <= 2),
            sims AS (
                SELECT q.query_id, corpus.neighbor_id,
                       round(list_cosine_similarity(q.qv::DOUBLE[], corpus.cv::DOUBLE[]), 6)
                           AS cos_sim
                FROM q JOIN corpus USING (cell)
                WHERE corpus.neighbor_id <> q.query_id
            )
            SELECT query_id, neighbor_id, cos_sim, rnk AS rank
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
                  FROM sims)
            WHERE rnk <= 3
            ORDER BY query_id, rnk
        """,
        "docs_simhash": _simhash_oracle_sql(bits=16),
        "docs_minhash_lsh": _minhash_oracle_sql(num_hashes=16, bands=4),
        "embeddings_lsh_ann": _lsh_ann_oracle_sql(k=3, dim=64, n_planes=6),
        # KG pipeline twins: exact expected rows enumerated by the
        # pure-Python twin over the deterministic 500-page corpus
        # (VALUES relation) — upgrades the two former rows-only checks
        # to full hash-checked pairs.
        "kg_pipeline_interactions": _kg_interactions_oracle(),
        "kg_component_sizes": _kg_components_oracle(),
        # Multimodal plumbing twin: the deterministic synth_media spec is
        # re-derived in SQL (kind cycle, payload length 16·(4+i%5),
        # one distinct payload per item), verifying the Arrow mapInPandas
        # plumbing end-to-end. The md5-stub feature VALUES stay
        # pytest-covered (DuckDB's md5 cannot hash raw blobs).
        "multimodal_features": """
            WITH m AS (SELECT unnest(generate_series(0, 95)) AS i),
            t AS (
                SELECT i,
                       CASE i % 3 WHEN 0 THEN 'image'
                                  WHEN 1 THEN 'audio'
                                  ELSE 'video' END AS kind,
                       16 * (4 + i % 5) AS n_bytes
                FROM m
            )
            SELECT kind,
                   count(*)::BIGINT AS n_items,
                   sum(n_bytes)::BIGINT AS total_bytes,
                   count(*)::BIGINT AS n_distinct
            FROM t GROUP BY kind ORDER BY kind
        """,
        "multimodal_headers": """
            WITH m AS (SELECT unnest(generate_series(0, 95)) AS i)
            SELECT i::BIGINT AS media_id,
                   CASE i % 4 WHEN 2 THEN 'audio'
                              WHEN 3 THEN 'video'
                              ELSE 'image' END AS kind,
                   CASE i % 4 WHEN 0 THEN 'png'
                              WHEN 1 THEN 'gif'
                              WHEN 2 THEN 'wav' END AS format,
                   (CASE i % 4 WHEN 0 THEN 16 + i % 8
                               WHEN 1 THEN 32 + i % 7 END)::INT AS width,
                   (CASE i % 4 WHEN 0 THEN 8 + i % 5
                               WHEN 1 THEN 24 + i % 5 END)::INT AS height,
                   (CASE i % 4 WHEN 0 THEN 8
                               WHEN 2 THEN 16 END)::INT AS bit_depth,
                   (CASE i % 4 WHEN 2 THEN 800 END)::INT AS sample_rate,
                   (CASE i % 4 WHEN 2 THEN 1 END)::INT AS n_channels,
                   (CASE i % 4
                        WHEN 2 THEN 1000 * (1 + i % 3) END)::INT AS duration_ms
            FROM m ORDER BY media_id
        """,
        "docs_repetition": f"""
            WITH base AS (
                SELECT doc_id,
                       string_split({_NORM_TEXT}, ' ') AS w,
                       string_split(text, chr(10)) AS lines
                FROM documents
            ),
            g AS (
                SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
                FROM base, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i)
                WHERE len(w) >= 3
            ),
            gstats AS (
                SELECT doc_id, count(*) AS total, count(DISTINCT gram) AS dist
                FROM g GROUP BY doc_id
            ),
            lstats AS (
                SELECT doc_id, len(lines) AS lt, len(list_distinct(lines)) AS ld
                FROM base
            )
            SELECT l.doc_id,
                   CASE WHEN lt > 0
                        THEN round(1.0 - ld::DOUBLE / lt, 6) ELSE 0.0
                   END AS dup_line_frac,
                   CASE WHEN coalesce(total, 0) > 0
                        THEN round(1.0 - dist::DOUBLE / total, 6) ELSE 0.0
                   END AS dup_3gram_frac
            FROM lstats l LEFT JOIN gstats USING (doc_id)
            ORDER BY doc_id
        """,
        "urls_canonical": r"""
            WITH urls AS (
                SELECT doc_id,
                       CASE
                         WHEN doc_id % 4 = 0 THEN
                           'HTTPS://Ex' || source || '.ORG:443/Docs/' || doc_id::VARCHAR
                           || '/?utm_source=feed&id=' || doc_id::VARCHAR || '&utm_campaign=x#sec'
                         WHEN doc_id % 4 = 1 THEN
                           'http://ex' || source || '.org:80/a/' || doc_id::VARCHAR || '//'
                         WHEN doc_id % 4 = 2 THEN
                           'https://EX.org/b/' || doc_id::VARCHAR || '?fbclid=abc'
                         ELSE 'HtTpS://Ex' || source || '.Org/'
                       END AS url
                FROM documents
            ),
            s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u FROM urls),
            s2 AS (
                SELECT doc_id, u,
                       regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1) AS sh
                FROM s1
            ),
            s3 AS (
                SELECT doc_id,
                       regexp_replace(
                           regexp_replace(lower(sh), '^(https://[^:/]+):443$', '\1'),
                           '^(http://[^:/]+):80$', '\1') AS shp,
                       substr(u, length(sh) + 1) AS rest
                FROM s2
            ),
            s4 AS (
                SELECT doc_id, shp,
                       regexp_replace(split_part(rest, '?', 1), '/+$', '') AS path,
                       CASE WHEN strpos(rest, '?') > 0
                            THEN substr(rest, strpos(rest, '?') + 1) ELSE '' END AS qs
                FROM s3
            ),
            s5 AS (
                SELECT doc_id, shp, path,
                       -- array_to_string([]) is NULL in DuckDB (Spark's
                       -- array_join gives '') — coalesce for parity
                       coalesce(array_to_string(
                           list_filter(string_split(qs, '&'),
                               p -> NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|fbclid)=')),
                           '&'), '') AS kq
                FROM s4
            )
            SELECT doc_id,
                   shp || path || CASE WHEN kq = '' THEN '' ELSE '?' || kq END
                       AS canon_url
            FROM s5
            ORDER BY doc_id
        """,
        "docs_pii_redacted": r"""
            WITH corp AS (
                SELECT doc_id,
                       'contact user' || doc_id::VARCHAR || '@example.com'
                       || CASE
                            WHEN doc_id % 4 = 0 THEN ' or call 555-123-4567 now '
                            WHEN doc_id % 4 = 1 THEN ' ssn 123-45-6789 on file '
                            WHEN doc_id % 4 = 2 THEN ' from 10.0.0.1 at '
                            ELSE ' iban DE44500105175407324931 ok '
                          END
                       || substr(text, 1, 40) AS text
                FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT
                       AS n_emails,
                   len(regexp_extract_all(text,
                       '\b\d{3}-\d{2}-\d{4}\b'))::INT AS n_ssns,
                   len(regexp_extract_all(text,
                       '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))::INT AS n_phones,
                   len(regexp_extract_all(text,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::INT
                       AS n_ipv4s,
                   len(regexp_extract_all(text,
                       '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b'))::INT AS n_ibans,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(text,
                             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                             '[EMAIL]', 'g'),
                           '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
                         '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
                     '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b', '[IBAN]', 'g')
                       AS redacted
            FROM corp
            ORDER BY doc_id
        """,
    }


def _simhash_oracle_sql(bits: int = 16) -> str:
    """DuckDB twin of operators/dedup_docs.simhash(hash_fn='md5').

    Token hash = md5 fold; bits come off the UNSIGNED value (HUGEINT) with
    logical shifts — identical low bits to Spark's arithmetic shiftright
    on the signed fold (verified bit-for-bit in the build session)."""
    uth = _U64.format(x="token")
    csums = ", ".join(
        f"sum(((uth >> {b}) & 1)::BIGINT) AS c{b}" for b in range(bits)
    )
    terms = " + ".join(
        f"(CASE WHEN 2*c{b} > n THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split({_NORM_TEXT}, ' ')) AS token
            FROM documents
        ),
        th AS (
            SELECT doc_id, {uth} AS uth FROM toks WHERE token <> ''
        ),
        c AS (SELECT doc_id, count(*) AS n, {csums} FROM th GROUP BY doc_id)
        SELECT doc_id, ({terms})::BIGINT AS simhash FROM c ORDER BY doc_id
    """


def _incremental_clusters_oracle_sql(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.6
) -> str:
    """DuckDB twin of docs_dedup_incremental: the FULL-REBUILD
    collapsed-LSH clustering (``dedup_clusters(method='minhash_lsh',
    hash_fn='md5', collapse_exact=True)``) of the whole documents table —
    exact-dup collapse to fingerprint reps, md5-family banded LSH over
    reps, Jaccard residual, recursive closure, re-expansion (multi-member
    exact groups kept even without LSH edges). Equal to the incremental
    path's output by the labels-partition-the-graph argument
    (operators/dedup_incremental.py), so a hash match pins that
    equivalence on real data."""
    rows_per_band = num_hashes // bands
    mins = ", ".join(
        "min(" + _FOLD64.format(x=f"('{i}|' || shingle)") + f") AS h{i}"
        for i in range(num_hashes)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(
            f"h{b * rows_per_band + j}::VARCHAR" for j in range(rows_per_band)
        )
        + " AS bsig FROM sig"
        for b in range(bands)
    )
    return f"""
        WITH RECURSIVE
        fps AS (
            SELECT doc_id, {_FOLD64.format(x=_NORM_TEXT)} AS fp FROM documents
        ),
        grp AS (SELECT fp, count(*) AS n, min(doc_id) AS rep FROM fps GROUP BY fp),
        rep_docs AS (
            SELECT g.rep AS doc_id, d.text
            FROM grp g JOIN documents d ON d.doc_id = g.rep
        ),
        words AS (
            SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS w FROM rep_docs
        ),
        shingles AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
            FROM words, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i)
            WHERE len(w) >= 3
        ),
        sig AS (SELECT doc_id, {mins} FROM shingles GROUP BY doc_id),
        banded AS ({band_rows}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN banded b ON a.band = b.band AND a.bsig = b.bsig
                         AND a.doc_id < b.doc_id
        ),
        ssize AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_common
            FROM cand c
            JOIN shingles sa ON sa.doc_id = c.doc_a
            JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT doc_a, doc_b FROM inter
            JOIN ssize za ON za.doc_id = doc_a
            JOIN ssize zb ON zb.doc_id = doc_b
            WHERE round(n_common::DOUBLE / (za.n_sh + zb.n_sh - n_common), 6)
                  >= {threshold}
        ),
        und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (
            SELECT a, b FROM und
            UNION
            SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        ),
        rep_clusters AS (
            SELECT a AS rep, least(a, min(b)) AS cid FROM reach GROUP BY a
        )
        SELECT f.doc_id AS doc_id,
               coalesce(rc.cid, g.rep) AS cluster_id
        FROM fps f
        JOIN grp g ON g.fp = f.fp
        LEFT JOIN rep_clusters rc ON rc.rep = g.rep
        WHERE rc.cid IS NOT NULL OR g.n > 1
        ORDER BY doc_id
    """


def _minhash_oracle_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB twin of minhash_lsh_candidates(hash_fn='md5')."""
    rows_per_band = num_hashes // bands
    mins = ", ".join(
        "min(" + _FOLD64.format(x=f"('{i}|' || shingle)") + f") AS h{i}"
        for i in range(num_hashes)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(
            f"h{b * rows_per_band + j}::VARCHAR" for j in range(rows_per_band)
        )
        + " AS bsig FROM sig"
        for b in range(bands)
    )
    return f"""
        WITH {_SHINGLES_CTE},
        sig AS (SELECT doc_id, {mins} FROM shingles GROUP BY doc_id),
        banded AS ({band_rows})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS n_bands_shared
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bsig = b.bsig
                     AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        ORDER BY doc_a, doc_b
    """


def _lsh_ann_oracle_sql(k: int = 3, dim: int = 64, n_planes: int = 6) -> str:
    """DuckDB twin of similarity.lsh_topk — the hyperplanes are
    deterministic md5-derived literals, so the bucket assignment is plain
    SQL (list_dot_product sign bits)."""
    from indra_db_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes)
    sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(x) for x in plane)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    )
    return f"""
        WITH sigs AS (
            SELECT vec_id, embedding, ({sig_terms})::BIGINT AS bucket
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
              FROM sigs WHERE vec_id < 5),
        sims AS (
            SELECT q.query_id, s.vec_id AS neighbor_id,
                   round(list_cosine_similarity(q.qv::DOUBLE[],
                                                s.embedding::DOUBLE[]), 6)
                       AS cos_sim
            FROM q JOIN sigs s USING (bucket)
            WHERE s.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, cos_sim, rnk AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
            FROM sims
        )
        WHERE rnk <= {k}
        ORDER BY query_id, rnk
    """


def _langid_oracle_sql() -> str:
    from indra_db_spark.operators.textops import LANG_STOPWORDS

    cols = []
    for lang, words in sorted(LANG_STOPWORDS.items()):
        pat = r"\b(" + "|".join(words) + r")\b"
        cols.append(
            f"len(regexp_extract_all(lower(text), '{pat}')) AS hits_{lang}"
        )
    hit_cols = ", ".join(cols)
    langs = sorted(LANG_STOPWORDS)
    greatest = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    case = "CASE WHEN " + greatest + " = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lg} = {greatest} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
        WITH hits AS (SELECT lang, {hit_cols} FROM documents)
        SELECT lang, {case} AS lang_pred, count(*) AS n_docs
        FROM hits GROUP BY 1, 2 ORDER BY lang, lang_pred
    """
