"""Persistent incremental-dedup store — the on-disk commit protocol
around :mod:`indra_db_spark.operators.dedup_incremental`.

Design provenance: [P] preassemble_db.py::supplement_corpus (only
new/affected rows are ever written) + the dump/swap snapshot discipline
of [P] cli/dump.py; the Spark-side math is ``supplement_dedup_clusters``
and the storage shim is ``sources/storage.py`` (manifest = atomic
commit pointer).

Layout under ``root``::

  docs/        batch_id=<id>/…   (doc_id, text)          append-only
  doc_fps/     batch_id=<id>/…   (doc_id, fp_hash)       append-only
  fp_buckets/  batch_id=<id>/…   (fp_hash, rep_id, bucket) append-only
  clusters/    _b=<id>/…         (doc_id, cluster_id)    by INGEST batch
  _staging/<batch_id>/           pre-image backup of the cluster
                                 partitions a batch rewrites
  _dedup_store.json              LSH params + ORDERED committed-batch
                                 ledger — written LAST (atomic rename)

Why this layout survives 100 TB: the three per-batch tables are written
as ``batch_id`` partitions with dynamic partition overwrite, so a batch
commit APPENDS O(batch) bytes and a retried commit idempotently replaces
its own partition — the corpus-sized history is never rewritten.
``clusters`` is partitioned by ``_b`` = the batch that INGESTED the doc
(immutable, so a row never migrates partitions when its label changes).
Batch partitioning — not doc-hash partitioning — is what makes the
rewrite O(batch region): a hash partitioning spreads ``clusters_delta``
uniformly, so any batch with more delta rows than partitions rewrites
the WHOLE table (measured: a 2k-doc batch touched 64/64 hash partitions);
under ``_b`` the new docs land in the new batch's partition and the
relabeled old docs fall only in the partitions of batches whose clusters
this batch merged with — every other partition stays byte-identical on
disk (the supplement's partition-scoping certificate).

Crash-safety (each step idempotent, manifest written last):

  1. EVERY public entry point — ``ingest``/``compact``/``docs``/
     ``index``/``clusters`` — first self-heals (``_recover``): a
     leftover ``_staging/<id>`` for an UNCOMMITTED batch means a prior
     attempt crashed mid-cluster-rewrite, so the backed-up pre-image
     partitions are restored (and affected partitions with no pre-image
     deleted); leftover staging for a COMMITTED batch (crash after the
     ledger write) is simply dropped. Readers therefore never see a
     half-rewritten ledger-visible partition, and compaction can never
     bake one in.
  2. ``batch_id`` already in the ledger → no-op.
  3. Reads of docs/doc_fps/fp_buckets filter to LEDGER batches only
     (partition-pruned), so half-written partitions of the current batch
     are invisible to the recompute.
  4. Per-batch partitions are (re)written, the affected cluster
     partitions are backed up to staging, rewritten via
     ``storage.scoped_overwrite``, and ONLY THEN the ledger commits.

Commit cost is O(batch), really: per-batch writes are partition-scoped
(``overwrite_partitions``), and storage's commit rule (the
``sources/storage.py`` module docstring) records only the rows such a
write observed — no whole-table content hash or footer recount. The
LEDGER, not the manifest, is this store's commit pointer.

Equivalence invariant (property-tested in tests/test_dedup_store.py):
after any sequence of ``ingest`` calls — including retries after
injected crashes — ``clusters()`` equals
``dedup_clusters(all docs, method='minhash_lsh', collapse_exact=True)``
row-for-row; ``doc_fps`` equals the rebuild's; ``fp_buckets`` is
REP-EQUIVALENT to the rebuild's (same fp_hash/band/bucket rows, but
``rep_id`` is pinned to the min doc_id of the batch that FIRST saw a
fingerprint, while a full rebuild uses the corpus-wide min — a later
batch carrying a smaller doc_id for an already-seen fingerprint leaves
the stored rep_id a valid, but different, member of the same exact
group; clusters are unaffected since rep texts are identical — ADVICE
r5).

Single-writer: ``ingest``/``compact`` take an exclusive pid lock under
``root`` (same-host liveness probe); readers never roll back staging
while a live writer holds it. Cross-host concurrent writers need an
external coordinator.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indra_db_spark.operators.dedup_docs import dedup_clusters
from indra_db_spark.operators.dedup_incremental import (
    DedupIndex,
    build_dedup_index,
    supplement_dedup_clusters,
)
from indra_db_spark.sources import storage

_MANIFEST = "_dedup_store.json"
_PARAM_KEYS = ("k", "num_hashes", "bands", "hash_fn", "threshold")
# chars Spark never Hive-escapes in partition dir names (see _check_batch_id)
_BATCH_ID_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9._-]*")
# the table layouts of the module docstring
_BY_BATCH = storage.Layout("batch_id")
_CLUSTERS = storage.Layout("_b")


class DedupStore:
    """Durable incremental near-dup clustering over an append-only corpus.

    ``ingest(batch, batch_id)`` is the ONLY write entry point: the first
    call bootstraps (full ``dedup_clusters`` rebuild of that batch), every
    later call runs the O(batch) supplement. ``batch_id`` is the caller's
    idempotency key — re-ingesting a committed id is a no-op, retrying a
    crashed ingest converges to the same state as a clean run.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        k: int | None = None,
        num_hashes: int | None = None,
        bands: int | None = None,
        hash_fn: str | None = None,
        threshold: float | None = None,
    ):
        self.spark = spark
        self.root = root
        defaults = dict(
            k=3, num_hashes=16, bands=4, hash_fn="xxhash64", threshold=0.8,
        )
        explicit = dict(
            k=k, num_hashes=num_hashes, bands=bands, hash_fn=hash_fn,
            threshold=threshold,
        )
        m = self._read_manifest()
        if m is not None:
            # reopening: the manifest's params are the table's identity
            # (bucket ids are a pure function of them) — explicit args
            # may only confirm, never change
            for key, val in explicit.items():
                if val is not None and val != m["params"][key]:
                    raise ValueError(
                        f"store at {root} was built with {key}="
                        f"{m['params'][key]!r}, got {val!r}"
                    )
            self.params = dict(m["params"])
        else:
            self.params = {
                key: (explicit[key] if explicit[key] is not None else defaults[key])
                for key in _PARAM_KEYS
            }

    # ------------------------------------------------------------------
    # paths / manifest
    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _staging(self, batch_id: str) -> str:
        return os.path.join(self.root, "_staging", batch_id)

    def _lock_path(self) -> str:
        return os.path.join(self.root, "_writer.lock")

    def _live_writer(self) -> int | None:
        """pid of a LIVE writer holding the lock, else None (no lock, or
        the lock's process is gone — a crashed writer's stale lock)."""
        try:
            with open(self._lock_path()) as f:
                pid = int(json.load(f)["pid"])
        except (OSError, ValueError, KeyError):
            return None
        if pid == os.getpid():
            return None  # our own lock (retry within one process)
        try:
            os.kill(pid, 0)
        except OSError:
            return None  # stale: writer crashed without releasing
        return pid

    def _acquire_writer_lock(self) -> None:
        """Single-writer guard for ``ingest``/``compact`` (ADVICE r5):
        two concurrent writers — or a reader's recovery racing a live
        ingest — could roll back each other's staging mid-rewrite and
        commit a mixed pre/post-batch cluster table. Same-host only (pid
        liveness probe); cross-host deployments need an external
        coordinator, as the module docstring states."""
        live = self._live_writer()
        if live is not None:
            raise RuntimeError(
                f"another writer (pid {live}) holds {self._lock_path()}; "
                "the dedup store is single-writer"
            )
        os.makedirs(self.root, exist_ok=True)
        storage._write_json_atomic(self._lock_path(), {"pid": os.getpid()})

    def _release_writer_lock(self) -> None:
        try:
            os.remove(self._lock_path())
        except OSError:
            pass

    def _recover(self, for_write: bool = False) -> None:
        """Self-heal ANY crashed attempt's partial cluster rewrite before
        reading or writing — not just a retry of the same batch_id.
        A leftover ``_staging/<id>`` means an ingest crashed after backing
        up the affected cluster partitions: if ``<id>`` never committed,
        the live partitions may be half-rewritten (ledger-visible but
        post-batch), so restore the pre-images; if ``<id>`` DID commit,
        the crash was after the ledger write and the backup is merely
        stale — drop it. Without this, ``clusters()``/``index()`` after a
        crash read a mix of pre- and post-batch rows, and ``compact()``
        would bake that mix in permanently. One listdir when the staging
        dir is absent — free on the happy path.

        READ paths (``for_write=False``) never roll back while a LIVE
        writer holds the lock (ADVICE r5): the staging dir then belongs
        to an in-flight ingest, not a crashed one, and restoring its
        pre-images under the writer would corrupt the rewrite. Write
        paths run under the lock, so any staging they see is a genuine
        crash leftover."""
        sdir = os.path.join(self.root, "_staging")
        if not os.path.isdir(sdir):
            return
        if not for_write and self._live_writer() is not None:
            return
        committed = set(self.committed)
        for name in os.listdir(sdir):
            if name in committed:
                shutil.rmtree(os.path.join(sdir, name), ignore_errors=True)
            else:
                self._restore_staging(name)

    def _read_manifest(self) -> dict | None:
        p = os.path.join(self.root, _MANIFEST)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _commit(self, batch_id: str) -> None:
        m = self._read_manifest() or {"params": self.params, "batches": []}
        if batch_id not in m["batches"]:
            m["batches"].append(batch_id)
        storage._write_json_atomic(os.path.join(self.root, _MANIFEST), m)

    @property
    def committed(self) -> list[str]:
        m = self._read_manifest()
        return list(m["batches"]) if m else []

    # ------------------------------------------------------------------
    # readers (committed state only)
    def _read_batched(self, table: str) -> DataFrame:
        return (
            storage.read_table(self.spark, self._path(table))
            .where(F.col("batch_id").isin(self.committed))  # partition-pruned
            .drop("batch_id")
        )

    def docs(self) -> DataFrame:
        self._recover()
        return self._read_batched("docs")

    def index(self) -> DedupIndex:
        self._recover()
        return DedupIndex(
            doc_fps=self._read_batched("doc_fps"),
            fp_buckets=self._read_batched("fp_buckets"),
        )

    def clusters(self) -> DataFrame:
        self._recover()
        return self._clusters_with_batch().select("doc_id", "cluster_id")

    def _clusters_with_batch(self) -> DataFrame:
        # ledger-scoped like the batched tables: a partition whose batch
        # is no longer (or not yet) in the ledger — a crashed compaction's
        # leftovers, a half-committed ingest — must be invisible
        return storage.read_table(self.spark, self._path("clusters")).where(
            F.col("_b").isin(self.committed)
        )

    # ------------------------------------------------------------------
    # write protocol
    def _write_batch_tables(self, batch_id: str, b: DataFrame, fps: DataFrame,
                            buckets: DataFrame) -> None:
        for table, df in (("docs", b), ("doc_fps", fps), ("fp_buckets", buckets)):
            storage.write_table(
                df.withColumn("batch_id", F.lit(batch_id)),
                self._path(table),
                _BY_BATCH,
                mode="overwrite_partitions",
            )

    def _restore_staging(self, batch_id: str) -> None:
        """Undo a crashed attempt's partial cluster rewrite: put every
        affected partition back to its pre-image (or remove it if it did
        not exist), then drop the staging dir."""
        stage = self._staging(batch_id)
        meta_path = os.path.join(stage, "affected.json")
        if not os.path.exists(meta_path):
            # crashed before the backup finished — the cluster table was
            # never touched (backup strictly precedes rewrite)
            shutil.rmtree(stage, ignore_errors=True)
            return
        with open(meta_path) as f:
            meta = json.load(f)
        for p in meta["affected"]:
            live = os.path.join(self._path("clusters"), f"_b={p}")
            shutil.rmtree(live, ignore_errors=True)
            backup = os.path.join(stage, f"_b={p}")
            if os.path.exists(backup):
                shutil.copytree(backup, live)
        shutil.rmtree(stage, ignore_errors=True)

    def _backup_partitions(self, batch_id: str, affected: list[str]) -> None:
        stage = self._staging(batch_id)
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        for p in affected:
            live = os.path.join(self._path("clusters"), f"_b={p}")
            if os.path.exists(live):
                shutil.copytree(live, os.path.join(stage, f"_b={p}"))
        # affected.json written LAST: its presence certifies a complete
        # backup, so restore-on-retry never trusts a partial one
        storage._write_json_atomic(
            os.path.join(stage, "affected.json"), {"affected": affected}
        )

    @staticmethod
    def _check_batch_id(batch_id: str) -> None:
        # [A-Za-z0-9._-] only: Spark Hive-ESCAPES other characters in
        # partition directory names (':' → '%3A'), so a raw
        # f"_b={batch_id}" path built by staging backup/restore/GC would
        # point at a directory that does not exist — backups would
        # silently miss, and GC could delete freshly written escaped
        # partitions. Reject up front instead of corrupting later.
        if not _BATCH_ID_RE.fullmatch(batch_id):
            raise ValueError(
                f"invalid batch_id {batch_id!r}: use letters, digits, "
                "'.', '_', '-'; must start with a letter or digit"
            )

    def _check_ids(self, b: DataFrame, against_corpus: bool) -> None:
        """doc_id is the corpus-wide identity every table keys on — a
        re-used id would silently corrupt the index (two fingerprints for
        one id) rather than fail. One O(batch) agg + (for supplements)
        one broadcast-semi corpus scan of doc_fps, which the supplement
        scans anyway."""
        row = b.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("doc_id").alias("d"),
        ).collect()[0]
        if row["n"] != row["d"]:
            raise ValueError(
                f"batch has {row['n'] - row['d']} duplicate doc_id rows"
            )
        if against_corpus:
            clash = (
                self._read_batched("doc_fps")
                .join(F.broadcast(b.select("doc_id")), "doc_id", "left_semi")
                .count()
            )
            if clash:
                raise ValueError(
                    f"{clash} batch doc_ids already ingested — doc_id must "
                    "be unique corpus-wide (re-delivery of a whole batch is "
                    "handled by batch_id idempotency, not row overlap)"
                )

    def ingest(self, batch: DataFrame, batch_id: str,
               id_col: str = "doc_id", text_col: str = "text",
               strict_ids: bool = True) -> dict:
        """Commit one crawl batch; returns per-batch stats.

        ``strict_ids`` (default on) rejects duplicate doc_ids within the
        batch and doc_ids already in the corpus; pass False only when the
        caller guarantees uniqueness and wants the scan back.
        """
        self._check_batch_id(batch_id)
        self._acquire_writer_lock()
        try:
            self._recover(for_write=True)  # restore ANY crashed attempt
            if batch_id in self.committed:
                return {"batch_id": batch_id, "noop": True}
            b = batch.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            )
            if not self.committed:
                if strict_ids:
                    self._check_ids(b, against_corpus=False)
                return self._bootstrap(b, batch_id)
            if strict_ids:
                self._check_ids(b, against_corpus=True)
            return self._supplement(b, batch_id)
        finally:
            self._release_writer_lock()

    def _lsh_kwargs(self) -> dict:
        p = self.params
        return dict(
            k=p["k"], num_hashes=p["num_hashes"], bands=p["bands"],
            hash_fn=p["hash_fn"],
        )

    def _bootstrap(self, b: DataFrame, batch_id: str) -> dict:
        b = b.localCheckpoint()
        clusters = dedup_clusters(
            b, method="minhash_lsh", threshold=self.params["threshold"],
            collapse_exact=True, **self._lsh_kwargs(),
        )
        idx = build_dedup_index(b, **self._lsh_kwargs())
        self._write_batch_tables(batch_id, b, idx.doc_fps, idx.fp_buckets)
        clustered = clusters.withColumn("_b", F.lit(batch_id))
        storage.write_table(
            clustered, self._path("clusters"), _CLUSTERS, mode="overwrite"
        )
        self._commit(batch_id)
        return {
            "batch_id": batch_id, "noop": False, "bootstrap": True,
            "n_docs": b.count(),
        }

    def _supplement(self, b: DataFrame, batch_id: str) -> dict:
        # internal non-recovering reads: ingest() already ran _recover at
        # entry; going through the public readers would re-list staging
        # and re-parse the manifest three more times per commit
        res = supplement_dedup_clusters(
            DedupIndex(
                doc_fps=self._read_batched("doc_fps"),
                fp_buckets=self._read_batched("fp_buckets"),
            ),
            self._clusters_with_batch().select("doc_id", "cluster_id"),
            self._read_batched("docs"),
            b,
            threshold=self.params["threshold"], **self._lsh_kwargs(),
        )
        delta0 = res.clusters_delta.localCheckpoint()
        # a delta row keeps its doc's INGEST-batch partition (old docs) or
        # joins this batch's new partition; the lookup scans the cluster
        # table once through a broadcast semi-join — never shuffles it
        old_b = (
            self._clusters_with_batch()
            .join(F.broadcast(delta0.select("doc_id")), "doc_id", "left_semi")
            .select("doc_id", "_b")
        )
        delta = (
            delta0.join(F.broadcast(old_b), "doc_id", "left")
            .withColumn("_b", F.coalesce("_b", F.lit(batch_id)))
            .localCheckpoint()
        )
        affected = sorted(
            r["_b"] for r in delta.select("_b").distinct().collect()
        )
        self._write_batch_tables(
            batch_id, b, res.doc_fps_delta,
            res.fp_buckets_delta.localCheckpoint(),
        )
        n_delta = delta.count()
        if affected:
            old_in = storage.read_table(self.spark, self._path("clusters")).where(
                F.col("_b").isin(affected)  # partition-pruned read
            )
            content = (
                old_in.join(delta.select("doc_id"), "doc_id", "left_anti")
                .unionByName(delta)
                .localCheckpoint()  # scoped_overwrite deletes what it reads
            )
            self._backup_partitions(batch_id, affected)
            storage.scoped_overwrite(
                content, self._path("clusters"), _CLUSTERS, affected
            )
        self._commit(batch_id)
        shutil.rmtree(self._staging(batch_id), ignore_errors=True)
        return {
            "batch_id": batch_id, "noop": False, "bootstrap": False,
            "n_docs": b.count(), "delta_rows": n_delta,
            "affected_partitions": affected,
            "total_partitions": len(self.committed),
        }

    # ------------------------------------------------------------------
    # compaction (Iceberg rewrite-data-files / snapshot-expiry analog)
    def _swap_ledger(self, batches: list[str]) -> None:
        storage._write_json_atomic(
            os.path.join(self.root, _MANIFEST),
            {"params": self.params, "batches": batches},
        )

    def _gc(self, keep: set[str]) -> int:
        removed = 0
        for table, col in (
            ("docs", "batch_id"), ("doc_fps", "batch_id"),
            ("fp_buckets", "batch_id"), ("clusters", "_b"),
        ):
            tdir = self._path(table)
            if not os.path.isdir(tdir):
                continue
            for name in os.listdir(tdir):
                if name.startswith(f"{col}=") and name.split("=", 1)[1] not in keep:
                    shutil.rmtree(os.path.join(tdir, name), ignore_errors=True)
                    removed += 1
        return removed

    def compact(self, compacted_id: str) -> dict:
        """Rewrite the committed history into ONE partition per table.

        Per-batch partitions accumulate at crawl cadence (one per ingest)
        and listing/planning cost grows with their count; periodically a
        compaction folds them into a single ``compacted_id`` batch — the
        resulting store reads exactly like one bootstrapped with the
        whole corpus. Same manifest-last discipline as ``ingest``: the
        new partitions are written first (invisible — ``compacted_id`` is
        not in the ledger, and every read is ledger-scoped), then the
        ledger atomically swaps to ``[compacted_id]``, then unreferenced
        partitions are garbage-collected. A crash before the swap leaves
        the old ledger reading the old partitions; a crash after it
        leaves stale-but-invisible directories that any later compact's
        GC removes.
        """
        self._check_batch_id(compacted_id)
        self._acquire_writer_lock()
        try:
            return self._compact_locked(compacted_id)
        finally:
            self._release_writer_lock()

    def _compact_locked(self, compacted_id: str) -> dict:
        self._recover(for_write=True)  # never compact a half-rewritten table
        if not self.committed:
            raise ValueError("nothing to compact: empty store")
        if self.committed == [compacted_id]:
            return {"batch_id": compacted_id, "noop": True}
        if compacted_id in self.committed:
            raise ValueError(
                f"compacted_id {compacted_id!r} is already a committed "
                "batch — pick a fresh id"
            )
        n_before = len(self.committed)
        # each frame is checkpointed before its write: every write lands
        # in the table it reads (same path), and severed lineage is what
        # keeps Spark's overwrite-while-reading check and the GC below
        # (which deletes the very files the plans would re-read) safe
        self._write_batch_tables(
            compacted_id,
            self._read_batched("docs").localCheckpoint(),
            self._read_batched("doc_fps").localCheckpoint(),
            self._read_batched("fp_buckets").localCheckpoint(),
        )
        # clusters: relabel every row's partition to the compacted batch;
        # only the NEW _b partition is written (dynamic overwrite replaces
        # partitions present in the frame)
        storage.write_table(
            self._clusters_with_batch()
            .select("doc_id", "cluster_id")
            .withColumn("_b", F.lit(compacted_id))
            .localCheckpoint(),
            self._path("clusters"),
            _CLUSTERS,
            mode="overwrite_partitions",
        )
        self._swap_ledger([compacted_id])
        removed = self._gc({compacted_id})
        return {
            "batch_id": compacted_id, "noop": False,
            "batches_compacted": n_before, "partitions_removed": removed,
        }
