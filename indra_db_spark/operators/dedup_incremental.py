"""Incremental near-duplicate clustering — crawl-ingestion dedup.

At the 10^12-doc operating point the corpus is never deduplicated from
scratch: batches of newly crawled documents arrive continuously, and the
question is "which of THESE documents duplicate each other or anything
already ingested" — the same supplement-vs-rebuild shape the KG tables
get in ``streaming/supplement.py``, applied to the LSH dedup family
(design provenance: [P] preassemble_db.py::supplement_corpus — only
new/affected rows are touched; the full-rebuild operator is
``dedup_docs.dedup_clusters``).

The state that makes a batch O(batch), not O(corpus), is a two-table
**dedup index** (:class:`DedupIndex` — persist both as tables):

  * ``doc_fps``   (doc_id, fp_hash) — every ingested doc's normalized-
                  text fingerprint (exact-dup identity);
  * ``fp_buckets``(fp_hash, rep_id, bucket) — LSH band buckets, ONE row
                  set per distinct fingerprint (identical texts have
                  identical minhash signatures, so per-doc bucket rows
                  would be pure duplication), carrying the fingerprint's
                  representative doc (min doc_id at index time).

Per batch (:func:`supplement_dedup_clusters`):

  1. fingerprints of the batch — exact dups within the batch and
     against the index become direct J=1.0 edges (no shingling, which
     also makes sub-``k``-word exact groups work across batches — the
     collapsed-canonical semantics of ``dedup_clusters``);
  2. LSH signatures are computed ONLY for fingerprints the index has
     never seen; their band buckets join against (index ∪ batch)
     buckets for candidate pairs — every candidate involves a batch
     fingerprint; old∩old pairs are already reflected in the labels;
  3. the exact-Jaccard residual reads old texts through a BROADCAST
     semi-join on the (small) candidate rep set — the old corpus is
     scanned but never shuffled, and only candidate reps are shingled;
  4. labels merge via CONTRACTED connected components: old cluster
     labels partition the old near-dup graph, so each new edge's
     endpoints map to their old label (or themselves if unclustered)
     and CC runs on that contracted edge set — O(batch region), the
     same labels-partition-the-graph argument as supplement's
     incremental KG components (VERDICT r4 #2). Old labels are
     min-member doc_ids, so a contracted node's id IS its component's
     old minimum and the merged component's min over contracted nodes
     equals the full rebuild's min over member docs — labels match the
     rebuild exactly.

Equivalence: the returned cluster table equals
``dedup_clusters(old ∪ batch, method='minhash_lsh',
collapse_exact=True)`` row-for-row (property-tested in
tests/test_dedup_incremental.py, including cross-batch sub-k-word exact
groups, old-singleton absorption, and batches that merge two existing
clusters), while every shuffle is bounded by batch + candidate-region
size.

``max_bucket`` is deliberately unsupported here: the capped path's
star/sub-bucket edges depend on a bucket's total population, which
changes as batches arrive — an incremental run could not reproduce the
rebuild's edge set. Bounding hot buckets incrementally would hang off a
bucket-population column in ``fp_buckets`` (a documented future knob),
not a silent divergence.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from indra_db_spark.functions.hashing import fold_md5_64
from indra_db_spark.functions.textnorm import collapse_ws_expr
from indra_db_spark.operators.components import connected_components
from indra_db_spark.operators.dedup_docs import banded_signatures, jaccard_residual


@dataclass(frozen=True)
class DedupIndex:
    """Persistent incremental-dedup state (write both as tables)."""

    doc_fps: DataFrame  # (doc_id, fp_hash)
    fp_buckets: DataFrame  # (fp_hash, rep_id, bucket)


@dataclass(frozen=True)
class SupplementDedupResult:
    """:func:`supplement_dedup_clusters` output.

    Unpacks as ``(index, clusters)`` for the common case; the extra
    fields are the O(batch)-sized pieces a persistent store
    (``operators/dedup_store.py``) needs to commit the batch without
    rewriting the corpus:

      * ``doc_fps_delta`` / ``fp_buckets_delta`` — exactly the rows this
        batch adds to the two index tables (append, don't rewrite);
      * ``relabel`` — (_node, _new) from the contracted CC: every old
        cluster label (or previously-unclustered doc) whose component
        changed, with its merged label. Rows of ``clusters`` NOT reached
        through ``relabel`` are byte-identical to ``old_clusters`` —
        the store's partition-scoping certificate.
      * ``clusters_delta`` — exactly the rows of ``clusters`` that differ
        from ``old_clusters`` (relabeled old members + newly clustered
        docs); ``clusters`` ≡ (old_clusters − delta doc_ids) ∪ delta.
    """

    index: DedupIndex
    clusters: DataFrame
    doc_fps_delta: DataFrame
    fp_buckets_delta: DataFrame
    relabel: DataFrame
    clusters_delta: DataFrame

    def __iter__(self):
        return iter((self.index, self.clusters))


def _norm(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )


def _doc_fps(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id", fold_md5_64(collapse_ws_expr(F.col("text"))).alias("fp_hash")
    )


def _fp_buckets(df: DataFrame, lsh: dict) -> DataFrame:
    """(fp_hash, rep_id, bucket) — one bucket row set per distinct
    fingerprint, computed from the rep doc's text (identical normalized
    texts ⇒ identical signatures). Sub-k-word fingerprints produce no
    shingles and therefore no rows (matching the full path's behavior)."""
    reps = (
        _doc_fps(df)
        .join(df, "doc_id")
        .groupBy("fp_hash")
        .agg(F.min("doc_id").alias("rep_id"), F.min("text").alias("text"))
    )
    banded = banded_signatures(
        reps.select(F.col("rep_id").alias("doc_id"), "text"), **lsh
    )
    return banded.select(F.col("doc_id").alias("rep_id"), "bucket").join(
        reps.select("rep_id", "fp_hash"), "rep_id"
    ).select("fp_hash", "rep_id", "bucket")


def _lsh_params(k: int, num_hashes: int, bands: int, hash_fn: str) -> dict:
    return dict(
        id_col="doc_id", text_col="text", k=k, num_hashes=num_hashes,
        bands=bands, hash_fn=hash_fn,
    )


def build_dedup_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DedupIndex:
    """Bootstrap the index from an already-ingested corpus (run once;
    afterwards :func:`supplement_dedup_clusters` extends it per batch)."""
    d = _norm(df, id_col, text_col)
    return DedupIndex(
        doc_fps=_doc_fps(d),
        fp_buckets=_fp_buckets(d, _lsh_params(k, num_hashes, bands, hash_fn)),
    )


def supplement_dedup_clusters(
    index: DedupIndex,
    old_clusters: DataFrame,
    old_docs: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> SupplementDedupResult:
    """Ingest ``batch`` against an indexed corpus → result unpacking as
    (extended index, full cluster table equal to the rebuild's).

    ``old_clusters`` is the corpus's current (doc_id, cluster_id) table;
    ``old_docs`` the corpus texts, read ONLY through a broadcast
    semi-join on candidate rep ids — scanned, never shuffled. LSH params
    must match the ones the index was built with (bucket ids are a pure
    function of them — see ``dedup_docs.banded_signatures``).
    """
    lsh = _lsh_params(k, num_hashes, bands, hash_fn)
    b = _norm(batch, id_col, text_col).localCheckpoint()
    b_fps = _doc_fps(b).localCheckpoint()
    b_fp_set = b_fps.select("fp_hash").distinct()

    # --- step 1: exact-duplicate edges (J = 1.0 by identity) ----------
    b_reps = b_fps.groupBy("fp_hash").agg(F.min("doc_id").alias("b_rep"))
    intra = (
        b_fps.join(b_reps, "fp_hash")
        .where(F.col("doc_id") != F.col("b_rep"))
        .select(F.col("b_rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    # one edge to the OLD rep suffices: old members of a multi-member
    # fingerprint group are already one old cluster, a single old member
    # IS the rep. Sub-k fingerprints never reach fp_buckets, so their
    # reps come from doc_fps (broadcast-restricted to the batch's fps —
    # the corpus side is scanned, not shuffled).
    old_bucket_reps = index.fp_buckets.select("fp_hash", "rep_id").distinct()
    old_subk_reps = (
        index.doc_fps.join(F.broadcast(b_fp_set), "fp_hash", "left_semi")
        .join(old_bucket_reps, "fp_hash", "left_anti")
        .groupBy("fp_hash")
        .agg(F.min("doc_id").alias("rep_id"))
    )
    old_reps = old_bucket_reps.join(
        F.broadcast(b_fp_set), "fp_hash", "left_semi"
    ).unionByName(old_subk_reps)
    cross = b_reps.join(old_reps, "fp_hash").select(
        F.col("rep_id").alias("doc_a"), F.col("b_rep").alias("doc_b")
    )

    # --- step 2: LSH candidates for NEVER-SEEN fingerprints -----------
    seen = index.doc_fps.select("fp_hash").distinct()
    new_fp_reps = b_reps.join(seen, "fp_hash", "left_anti").select(
        "fp_hash", F.col("b_rep").alias("rep_id")
    )
    new_rep_docs = b.join(
        new_fp_reps.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    new_buckets = _fp_buckets(new_rep_docs, lsh).localCheckpoint()
    all_buckets = index.fp_buckets.unionByName(new_buckets)
    cands = (
        new_buckets.select(F.col("rep_id").alias("new_id"), "bucket")
        .join(
            all_buckets.select(F.col("rep_id").alias("any_id"), "bucket").hint(
                "merge"
            ),
            "bucket",
        )
        .where(F.col("new_id") != F.col("any_id"))
        .select(
            F.least("new_id", "any_id").alias("doc_a"),
            F.greatest("new_id", "any_id").alias("doc_b"),
        )
        .distinct()
        .localCheckpoint()
    )

    # --- step 3: exact-Jaccard residual on the candidate reps ---------
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select("doc_b"))
        .distinct()
    )
    cand_docs = old_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).join(F.broadcast(cand_ids), "doc_id", "left_semi").unionByName(
        b.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    )
    residual = jaccard_residual(cands, cand_docs, "doc_id", "text", k, threshold)

    edges = intra.unionByName(cross).unionByName(residual).localCheckpoint()

    # --- step 4: contracted CC — old labels partition the old graph ---
    lbl = old_clusters.select(
        F.col(id_col).alias("_d"), F.col("cluster_id").alias("_lbl")
    )

    def contract(e: DataFrame, side: str) -> DataFrame:
        return (
            e.join(lbl.withColumnRenamed("_d", side), side, "left")
            .withColumn(side, F.coalesce("_lbl", F.col(side)))
            .drop("_lbl")
        )

    contracted = contract(contract(edges, "doc_a"), "doc_b")
    cc = connected_components(contracted, src="doc_a", dst="doc_b")
    node_labels = cc.select(
        F.col("mk_hash").alias("_node"), F.col("component_id").alias("_new")
    ).localCheckpoint()
    # relabel/delta must be EXACTLY the rows that differ: a contracted
    # node whose merged label equals its old label (e.g. an old cluster
    # absorbing a new doc keeps its min-member label) re-emitted here
    # would make the store back up and rewrite partitions byte-identically
    # — wasted I/O and a widened crash window on every touching batch
    relabel = node_labels.where(F.col("_node") != F.col("_new"))

    # --- assemble the full cluster table ------------------------------
    touched_old = old_clusters.join(
        relabel.withColumnRenamed("_node", "cluster_id"), "cluster_id"
    ).select(id_col, F.col("_new").alias("cluster_id"))
    kept_old = old_clusters.join(
        relabel.withColumnRenamed("_node", "cluster_id"),
        "cluster_id",
        "left_anti",
    )
    # previously-unclustered endpoints (batch docs, absorbed singletons):
    # their contracted node is the doc itself; these need the FULL node
    # labeling — a new doc that is itself its component's min is a new
    # row even though _node == _new
    edge_docs = (
        edges.select(F.col("doc_a").alias(id_col))
        .union(edges.select("doc_b"))
        .distinct()
        .join(old_clusters.select(id_col), id_col, "left_anti")
        .join(node_labels.withColumnRenamed("_node", id_col), id_col)
        .select(id_col, F.col("_new").alias("cluster_id"))
    )
    delta = touched_old.unionByName(edge_docs)
    # kept_old's USING anti-join moved cluster_id first — re-pin the
    # rebuild's (doc_id, cluster_id) order for schema-stable consumers
    new_clusters = kept_old.unionByName(delta).select(id_col, "cluster_id")

    new_index = DedupIndex(
        doc_fps=index.doc_fps.unionByName(b_fps),
        fp_buckets=index.fp_buckets.unionByName(new_buckets),
    )
    return SupplementDedupResult(
        index=new_index,
        clusters=new_clusters,
        doc_fps_delta=b_fps,
        fp_buckets_delta=new_buckets,
        relabel=relabel,
        clusters_delta=delta,
    )
