"""The curation query suite: the 29 headline queries of ``bench.py`` over a
seeded dataset written by ``tools/make_measure_data.gen`` at ``SCALE`` ×
the sf1.0 row counts (the distributions of the synthetic test data the
queries were written for).
"""

from __future__ import annotations

import time

SCALE = 0.01


def headline_queries() -> dict:
    """name → (spark, dir) → DataFrame for the 29 headline queries, with
    ``bench.py``'s production (xxhash64) variants of the three queries
    whose oracle-checked form uses the md5 hash family."""
    import __spark_entry__
    from bench import HEADLINE
    from indra_db_spark.operators.dedup_docs import minhash_lsh_candidates, simhash
    from indra_db_spark.operators.textops import winnow_fingerprints

    def docs(spark, d):
        return spark.read.parquet(f"{d}/documents.parquet")

    qs = __spark_entry__.queries() | {
        "docs_minhash_lsh": lambda s, d: minhash_lsh_candidates(docs(s, d), hash_fn="xxhash64"),
        "docs_simhash": lambda s, d: simhash(docs(s, d), bits=64, hash_fn="xxhash64"),
        "docs_winnow_prod": lambda s, d: winnow_fingerprints(
            docs(s, d), k=8, w=4, hash_fn="xxhash64"
        ).select("doc_id", "n_fps", "min_fp", "max_fp"),
    }
    return {name: qs[name] for name in HEADLINE}


def run(bench, data_dir: str) -> tuple[dict[str, float], list[bool]]:
    """One warm noop force, then one timed noop force, per query. Each force
    counts its rows; a query passes when the timed count equals the warm
    one. Returns per-query timed wall seconds and pass flags."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    walls, passed = {}, []
    for name, q in headline_queries().items():
        df = q(bench.spark, data_dir)
        counts = []
        for _ in range(2):
            obs = Observation()
            bench.describe(f"q:{name}" if counts else None)
            t0 = time.perf_counter()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
            walls[name] = time.perf_counter() - t0
            counts.append(obs.get["n"])
        bench.describe(None)
        passed.append(counts[1] + bench.plant == counts[0])
    return walls, passed
