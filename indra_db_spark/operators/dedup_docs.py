"""Document deduplication family — exact, n-gram Jaccard, MinHash+LSH,
SimHash — over a (doc_id, text) corpus.

At 100 TB these are the workhorses of training-data curation. Shapes:

  * exact:     one hash-groupBy on the content fingerprint (map-side
               combinable, salå-free — fingerprints are uniform).
  * jaccard:   shingle-explode → self-equi-join on shingle → pair agg.
               Quadratic in cluster size but only within shared shingles;
               the LSH variant is the scale path.
  * minhash:   shingle → k minhashes (one explode, k aggs) → band buckets →
               join only within buckets (candidates ≪ n²).
  * simhash:   per-token hash → bitwise majority vote → single 64-bit
               signature; near-dups = equal signatures (or banded prefixes).

Everything is deterministic (md5-derived hash families, no RNG state) and
pure DataFrame ops — no row-at-a-time UDFs; the one Python surface is the
vectorized Arrow run-length pair counter :func:`_rle_count` behind
:func:`jaccard_pairs` (see its docstring for why a hash aggregate loses
there).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from indra_db_spark.functions.hashing import fold_md5_64
from indra_db_spark.functions.parallel import fan_out
from indra_db_spark.functions.textnorm import collapse_ws_expr


def _norm_text(text_col: str = "text"):
    return collapse_ws_expr(F.col(text_col))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents: one row per
    duplicated fingerprint with the member ids and the kept (min) id."""
    fp = fold_md5_64(_norm_text(text_col)).alias("fp_hash")
    return (
        fan_out(df.select(id_col, text_col))
        .select(F.col(id_col).alias("doc_id"), fp)
        .groupBy("fp_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
            F.array_sort(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def _shingle_array(text_col: str, k: int):
    """Distinct word-k-gram array expression over ``_words``.

    For small k each gram is a concat_ws over ``element_at`` lookups
    instead of ``concat_ws(slice(...))`` — the slice allocates a k-element
    array per gram in the interpreted HOF path (measured 1.8 s vs 1.0 s
    for the shingle stage at sf1.0, identical output — the same finding
    as winnow_fingerprints' window min)."""
    w = F.col("_words")
    if k <= 8:
        gram = lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j + 1) for j in range(k)]
        )
    else:
        gram = lambda i: F.concat_ws(" ", F.slice(w, i + 1, k))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(0), F.size(w) - k), gram)
    )


def word_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word k-grams of the normalized text.

    PRECONDITION: ``id_col`` is unique in ``df`` (it is the documents
    table's key). Per-doc uniqueness comes from array_distinct before the
    explode; duplicate input rows for one id would double shingle counts
    and corrupt Jaccard/MinHash statistics — dedup ids upstream (the
    exact_duplicates / distill operators) rather than paying a global
    .distinct() shuffle here on every call."""
    words = F.split(_norm_text(text_col), " ")
    # array_distinct BEFORE the explode already makes (doc_id, shingle)
    # unique — a global .distinct() here would be a redundant full shuffle
    # of the widest intermediate in the whole dedup family.
    # Docs shorter than k words would emit one partial slice — gate on the
    # pre-explode word count instead of re-splitting every exploded shingle
    # (the post-explode re-split cost O(shingles) string splits per scan).
    # fan_out BEFORE splitting: the normalize+split+transform+explode chain
    # is the scan-stage cost of the whole shingle family, and a single-row-
    # group corpus would otherwise run it on one core (guide §2.2); the
    # exchange ships only (id, text) and is a no-op on already-parallel
    # inputs.
    # The shingle array MUST stay inline in the generator: staging it as
    # an aliased column makes InferFiltersFromGenerate clone the whole
    # transform into a scan-side filter BELOW the fan_out exchange (one
    # task evaluates the corpus twice — measured 36 s vs 1.7 s at sf1.0).
    return (
        fan_out(df.select(id_col, text_col))
        .select(F.col(id_col).alias("doc_id"), words.alias("_words"))
        .where(F.size(F.col("_words")) >= k)
        .select(
            "doc_id",
            F.explode(_shingle_array(text_col, k)).alias("shingle"),
        )
    )


def _rle_count(batches, threshold: float):
    """(doc_a, doc_b, _nn) Arrow batches → one (doc_a, doc_b, n_common,
    n_a, n_b) batch of the pairs that can reach ``threshold``.

    Run-length count per partition: every occurrence of a pair is in
    this partition (jaccard_pairs hash-repartitions on the pair), so the
    local count IS the global |A∩B|. lexsort works for arbitrary int64
    ids; n_a/n_b are constant per doc, so the run's first row carries
    them. ``_nn`` packs n_a into the high and n_b into the low 32-bit
    lane of one int64. The threshold PRE-filter (with a 1e-6 slack
    strictly wider than the 5e-7 the 6-decimal round can lift a quotient)
    keeps the Python→JVM conversion to the near-duplicate survivors
    instead of every sharing pair (measured at sf1.0: 114M rows → ~10⁴);
    Spark re-applies the EXACT rounded filter, so the slack never changes
    the result.
    """
    import numpy as np
    import pyarrow as pa_

    # skip zero-row batches; a partition may deliver nothing else
    chunks = [
        [batch.column(i).to_numpy(zero_copy_only=False) for i in range(3)]
        for batch in batches
        if batch.num_rows
    ]
    if not chunks:
        return
    aa, bb, nn = (np.concatenate([c[i] for c in chunks]) for i in range(3))
    # unpack the 32-bit size lanes (both positive < 2³¹, so the sign bit
    # is never set and the uint64 view is exact). Only a view is exact: a
    # cast from any other dtype goes through float64 and corrupts packed
    # values ≥ 2⁵³.
    assert nn.dtype == np.int64, nn.dtype
    u = nn.view(np.uint64)
    na = (u >> np.uint64(32)).astype(np.int64)
    nb = (u & np.uint64(0xFFFFFFFF)).astype(np.int64)
    # adaptive sort key: when both ids fit in uint32 (the common case
    # for dense doc ids), one argsort of a packed uint64 is ~2× a
    # two-array lexsort; arbitrary int64 ids take the general path.
    # Run order within a pair is irrelevant (n_a/n_b are constant per
    # doc), so a non-stable sort is fine.
    if aa.min() >= 0 and bb.min() >= 0 and aa.max() < 2**31 and bb.max() < 2**31:
        key = (aa.astype(np.uint64) << np.uint64(32)) | bb.astype(np.uint64)
        order = np.argsort(key)
    else:
        order = np.lexsort((bb, aa))
    aa = aa[order]
    bb = bb[order]
    change = np.empty(aa.shape[0], dtype=bool)
    change[0] = True
    np.logical_or(aa[1:] != aa[:-1], bb[1:] != bb[:-1], out=change[1:])
    starts = np.flatnonzero(change)
    counts = np.diff(np.append(starts, aa.shape[0]))
    na = na[order][starts]
    nb = nb[order][starts]
    jac = counts / (na + nb - counts)
    keep = jac >= threshold - 1e-6
    yield pa_.RecordBatch.from_arrays(
        [
            pa_.array(aa[starts][keep]),
            pa_.array(bb[starts][keep]),
            pa_.array(counts[keep]),
            pa_.array(na[keep]),
            pa_.array(nb[keep]),
        ],
        ["doc_a", "doc_b", "n_common", "n_a", "n_b"],
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard ≥ threshold.

    shingle self-join (a.doc_id < b.doc_id) → |A∩B| per pair; |A| and |B|
    ride ALONG the pair stream. They used to come from a per-doc size
    aggregation over the exploded shingle table, joined onto the pair
    table — but that aggregation is a second (and with two renames,
    third) consumer of the shingle DAG, and Catalyst does not reuse the
    exchange once the consumers diverge (broadcast on one side,
    aggregate on the other): the r6 plan audit found FOUR full
    scan→normalize→explode pipelines in this one query. Instead ``n_sh``
    comes from a separate SCAN-SPEED pass (size of the distinct-shingle
    array per row — no explode, no aggregation) joined once onto the
    2.6M-row shingle table, and the two ints ride the pair stream from
    there: a slightly wider shuffle buys two deleted 100M-row joins and
    three deleted corpus recomputations (guide §2.4).

    The self-join keys on xxhash64(shingle), not the string — the shuffle
    ships 8-byte longs instead of ~20-byte+ strings. Distinct shingles
    within a doc stay distinct under the hash except with probability
    ~n²/2⁻⁶⁴ (immaterial; the LSH variant is the at-scale path anyway).
    The join is pinned to a SHUFFLED HASH join: Catalyst's size estimate
    would otherwise broadcast a whole corpus side (observed at sf1.0: a
    2.6M-row BroadcastExchange), which both risks the driver at scale
    and breaks the shared-exchange reuse between the two sides — and a
    ``merge`` pin is far worse here: sort-merge with ~100-duplicate key
    groups re-buffers the inner group per outer row (measured 107 s vs
    ~9 s end-to-end for the hash probe on identical inputs). The build
    side is one shuffle partition of (id, n_sh, hash) rows — memory-
    bounded by ``spark.sql.shuffle.partitions``, same bound as the RLE
    stage below.

    The |A∩B| count is NOT a ``groupBy(doc_a, doc_b).count()``: on a
    corpus with a dense shared vocabulary the pair stream has almost no
    duplicate pairs (measured at sf1.0: 127M join rows → 114M distinct
    pairs), so Spark's hash aggregate pays a full partial+final
    aggregation of >100M groups for ~10% reduction (34 s of a 38 s
    query). Instead the pair stream is hash-repartitioned on the pair
    and run-length counted per partition with one vectorized numpy
    lexsort inside ``mapInArrow`` (guide §4.2: hand whole batches to
    native code) — measured 4.5× faster. Exact: the repartition puts
    every occurrence of a pair in one partition, and the sort-based
    count is the same integer ``count(*)``. Per-task memory is one int64
    pair array per partition (bounded by
    ``spark.sql.shuffle.partitions``; this exact-Jaccard operator is the
    oracle path — ``minhash_lsh_candidates`` is the 100 TB path).
    """
    words = F.split(_norm_text(text_col), " ")
    sizes = (
        fan_out(df.select(id_col, text_col))
        .select(F.col(id_col).alias("doc_id"), words.alias("_words"))
        .where(F.size(F.col("_words")) >= k)
        .select(
            # LONG, not int: int32 columns through the Arrow feed hit a
            # ~4x slower JVM->Python serialization path (measured 35 s vs
            # 8 s for the identical stream with longs), and long matches
            # the count() the sizes used to come from.
            "doc_id", F.size(_shingle_array(text_col, k)).cast("long").alias("n_sh")
        )
    )
    sh = (
        word_shingles(df, id_col, text_col, k)
        .select("doc_id", F.xxhash64("shingle").alias("sh_h"))
        .join(sizes, "doc_id")
        .repartition("sh_h")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "sh_h")
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "sh_h")
    pair_rows = (
        a.join(b.hint("shuffle_hash"), "sh_h")
        .where(F.col("doc_a") < F.col("doc_b"))
        # size-ratio prune (guide §3.4 — pre-filter the big side): J(A,B)
        # = c/(n_a+n_b-c) with c ≤ min(n_a,n_b), so J can only reach the
        # threshold when min ≥ t·max. Evaluated at join-probe time this
        # drops every occurrence of a hopeless pair BEFORE the pair
        # shuffle (the query's largest exchange). Exact: the bound is a
        # necessary condition on (n_a, n_b) alone — constant per pair —
        # and the 1e-6 slack is strictly wider than the 5e-7 a 6-decimal
        # round can lift the final quotient, so no pair that could pass
        # the exact rounded filter below is ever dropped.
        .where(
            F.least("n_a", "n_b")
            >= (F.lit(threshold) - F.lit(1e-6)) * F.greatest("n_a", "n_b")
        )
        # pack both sizes into ONE long for the pair shuffle (3 instead
        # of 4 columns per row): structurally safe — a shingle count is
        # bounded by the doc's word count, itself < 2³¹ by Spark's 2 GB
        # string limit, so each size fits a 32-bit lane. Unpacked inside
        # the RLE counter.
        .select(
            "doc_a",
            "doc_b",
            (F.shiftleft(F.col("n_a"), 32) + F.col("n_b")).alias("_nn"),
        )
        .repartition("doc_a", "doc_b")
    )

    inter = pair_rows.mapInArrow(
        functools.partial(_rle_count, threshold=threshold),
        "doc_a long, doc_b long, n_common long, n_a long, n_b long"
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        # tiny post-filter exchange: a caller's orderBy range-partitioner
        # SAMPLES its child by executing it — without this barrier the
        # sampling pass re-runs the whole RLE stage a second time (the
        # materialized exchange below makes the re-read O(survivors)).
        .repartition("doc_a")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>[num_hashes]) — deterministic seeded hash
    family h_i(s) = xxhash64(i, s) (JVM-native, codegen'd — the md5 fold
    costs ~10× more and MinHash needs no md5 compatibility); one explode,
    then a single groupBy computing all k mins (no k-fold data blowup).

    ``hash_fn='md5'`` switches to h_i(s) = fold_md5_64(i || '|' || s) —
    slower, but exactly mirrorable in other engines (the DuckDB oracle).

    Two physically different but value-identical plans, chosen on
    ``num_hashes`` (measured crossover on a 50k-doc corpus, 3 reps):

    * **per-row** (num_hashes ≤ 32): each minimum is array_min over the
      doc's own distinct-shingle array — no generator, no hash aggregate,
      no shuffle, so the banded self-join's sides lose two exchanges
      each (1.74 → 1.39 s at 16 hashes). Identical to min over the
      exploded rows because ids are unique (word_shingles precondition).
    * **explode→groupBy** (num_hashes > 32): the per-row form pays one
      interpreted array traversal PER family member while the exchange
      savings stay constant, so wide signature families flip (128
      hashes: 1.8 s explode vs 2.0–2.3 s per-row) — the incremental
      dedup path's 128/16 default stays on the aggregate plan.
    """
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    if num_hashes <= 32:
        # Staging ``_hs`` in its OWN select matters: transform() is
        # expensive, so CollapseProject declines to inline it into the k
        # consumers (SPARK-36718) and each row hashes its shingles once,
        # not k times.
        words = F.split(_norm_text(text_col), " ")
        staged = (
            fan_out(df.select(id_col, text_col))
            .select(F.col(id_col).alias("doc_id"), words.alias("_words"))
            .where(F.size(F.col("_words")) >= k)
        )
        if hash_fn == "xxhash64":
            # hash the shingle STRING once, then derive the k family
            # members from the 8-byte value — k× cheaper than re-hashing
            hs = F.transform(_shingle_array(text_col, k), lambda s: F.xxhash64(s))
            h = lambda i: F.array_min(
                F.transform(F.col("_hs"), lambda v: F.xxhash64(F.lit(i), v))
            )
        else:
            hs = _shingle_array(text_col, k)
            h = lambda i: F.array_min(
                F.transform(
                    F.col("_hs"),
                    lambda s: fold_md5_64(F.concat_ws("|", F.lit(str(i)), s)),
                )
            )
        return staged.select("doc_id", hs.alias("_hs")).select(
            "doc_id", F.array(*[h(i) for i in range(num_hashes)]).alias("sig")
        )
    sh = word_shingles(df, id_col, text_col, k)
    if hash_fn == "xxhash64":
        sh = sh.withColumn("_sh_h", F.xxhash64("shingle"))
        h = lambda i: F.xxhash64(F.lit(i), F.col("_sh_h"))
    else:
        h = lambda i: fold_md5_64(
            F.concat_ws("|", F.lit(str(i)), F.col("shingle"))
        )
    mins = [F.min(h(i)).alias(f"h{i}") for i in range(num_hashes)]
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def banded_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, sig, band, band_sig, bucket) — one row per (doc, band).

    The single definition of the banding/bucketing scheme, shared by
    :func:`minhash_lsh_candidates` and the incremental path
    (``dedup_incremental.py``): bucket ids from two index builds agree
    iff the docs agree on that band, so index rows written in one batch
    join correctly against rows written in any later batch.
    """
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands} — "
            f"the trailing {num_hashes % bands} hashes would be computed "
            "and silently dropped"
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes, hash_fn)
    return sig.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
            )
        ).alias("band", "band_sig"),
    ).withColumn(
        "bucket",
        F.xxhash64(
            F.col("band"),
            F.concat_ws(",", F.transform("band_sig", lambda x: x.cast("string"))),
        ),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH: docs sharing any band
    of the minhash signature. Returns (doc_a, doc_b, n_bands_shared).

    ``max_bucket`` (VERDICT r4 #4 — the residual hot-bucket bound): with
    the default ``None`` every bucket emits all C(n,2) pairs, which is
    quadratic WITHIN a bucket — fine when exact dups are collapsed first
    and buckets stay small, but a template-heavy 100-TB crawl can put a
    boilerplate family of millions into one band bucket. When set, a
    bucket larger than ``max_bucket`` is deterministically SUB-BUCKETED
    on the hash of the NEXT band's signature (no RNG — docs agreeing on
    two independent bands stay together; template variants differing in
    the secondary band split apart and still meet through that band's
    own bucket), and any sub-bucket STILL larger than the cap degrades
    to a STAR topology: each member pairs only with the sub-bucket's min
    doc_id. Members of such a sub-bucket agree on 2·(num_hashes/bands)
    independent minhashes, i.e. they are near-certain high-J family —
    for clustering (the dedup_clusters path runs connected components
    over the surviving pairs) the star keeps the family connected
    through the hub at O(n) edges instead of O(n²). **Stated worst-case
    bound: a bucket of size n emits at most
    ceil(n/max_bucket)·C(max_bucket,2) + n candidate pairs, and O(n)
    even if the secondary band fails to split it** — never n². Recall
    floor on planted near-dup families is property-tested
    (tests/test_curation_ops.py::test_lsh_max_bucket_cap_bound_and_recall).
    Cost: the capped path replaces the bucket equi-join's single
    exchange with two window shuffles (bucket, then sub-bucket) plus the
    pair join — one extra exchange, paid only when the knob is on.
    """
    rows_per_band = num_hashes // bands
    banded = banded_signatures(
        df, id_col, text_col, k, num_hashes, bands, hash_fn
    )
    # merge hint (both paths): a banded self-join side is never
    # legitimately broadcast at corpus scale, but Catalyst's size
    # estimate of the aggregate output can undershoot and pick one —
    # building that broadcast collects the whole side to the driver
    # (observed: driver maxResultSize abort at 8M docs). Pin the shuffle
    # join.
    if max_bucket is None:
        a = banded.select(F.col("doc_id").alias("doc_a"), "bucket")
        b = banded.select(F.col("doc_id").alias("doc_b"), "bucket")
        return (
            a.join(b.hint("merge"), "bucket")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_bands_shared"))
        )
    if max_bucket < 2:
        raise ValueError(f"max_bucket={max_bucket} must be ≥ 2 (or None)")
    sec = F.xxhash64(
        F.concat_ws(
            ",",
            F.transform(
                F.expr(
                    f"slice(sig, pmod(band + 1, {bands}) * {rows_per_band} + 1, "
                    f"{rows_per_band})"
                ),
                lambda x: x.cast("string"),
            ),
        )
    )
    w1 = Window.partitionBy("bucket")
    keyed = banded.withColumn("_n", F.count(F.lit(1)).over(w1)).withColumn(
        "bucket2",
        F.when(
            F.col("_n") > max_bucket, F.xxhash64(F.col("bucket"), sec)
        ).otherwise(F.col("bucket")),
    )
    w2 = Window.partitionBy("bucket2")
    keyed = keyed.withColumn("_n2", F.count(F.lit(1)).over(w2)).withColumn(
        "_hub", F.min("doc_id").over(w2)
    ).select("doc_id", "bucket2", "_n2", "_hub")
    small = keyed.where(F.col("_n2") <= max_bucket)
    a = small.select(F.col("doc_id").alias("doc_a"), "bucket2")
    b = small.select(F.col("doc_id").alias("doc_b"), "bucket2")
    pair_small = (
        a.join(b.hint("merge"), "bucket2")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    star = keyed.where(
        (F.col("_n2") > max_bucket) & (F.col("doc_id") != F.col("_hub"))
    ).select(F.col("_hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    return (
        pair_small.unionByName(star)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands_shared"))
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, simhash) — bitwise majority vote over token hashes.

    Scale shape: ONE explode to (doc, token), then ONE groupBy computing
    all ``bits`` per-bit ones-counts as conditional sums in a single hash
    aggregate (map-side combinable) — no ×bits row blowup (the naive
    formulation explodes (doc, token) rows ×bits, a 64× blowup of the
    token table at production width). Bit b of the signature is set iff
    the majority of token hashes have bit b set (strict majority — ties
    clear the bit, matching the ±1-vote formulation's v>0).

    ``hash_fn``: 'xxhash64' (JVM-native, the fast path) or 'md5'
    (fold_md5_64 — ~10× slower but mirrorable in other engines for
    cross-checking; the DuckDB oracle uses this).
    """
    import functools
    import operator

    tokens = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(_norm_text(text_col), " ")).alias("token"),
    ).where(F.col("token") != "")
    if hash_fn == "xxhash64":
        th = F.xxhash64("token")
    elif hash_fn == "md5":
        th = fold_md5_64(F.col("token"))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    hashed = tokens.withColumn("th", th)
    counts = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.expr(f"cast(shiftright(th, {b}) & 1 as long)")).alias(f"c{b}")
            for b in range(bits)
        ],
    )
    terms = [
        F.when(
            F.lit(2) * F.col(f"c{b}") > F.col("n"), F.expr(f"shiftleft(1L, {b})")
        ).otherwise(F.lit(0).cast("long"))
        for b in range(bits)
    ]
    return counts.select(
        "doc_id", functools.reduce(operator.add, terms).alias("simhash")
    )


def hamming_distance(a, b):
    """Hamming distance between two 64-bit signature columns (bit_count of
    xor) — the SimHash near-dup predicate at query time."""
    return F.bit_count(a.bitwiseXOR(b))


def dedup_clusters(
    df: DataFrame,
    method: str = "minhash_lsh",
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    collapse_exact: bool = True,
    **lsh_params,
) -> DataFrame:
    """→ (doc_id, cluster_id): dedup clusters = connected components of
    the near-dup graph; canonical doc = min doc_id per cluster. Docs with
    no near-dup edge are absent (each is its own trivial cluster).

    ``method``:
      - ``'minhash_lsh'`` (the 100 TB path): candidate pairs from banded
        MinHash-LSH, Jaccard residual at ``threshold`` — no all-pairs
        anywhere; params forward to :func:`minhash_lsh_candidates`.
      - ``'jaccard'`` (the exact/oracle path): all shared-shingle pairs at
        ``threshold`` — quadratic within shingle clusters, DuckDB-
        mirrorable (driver query ``docs_dup_clusters``).
    Both feed the same large-star/small-star CC operator.

    ``collapse_exact`` (minhash_lsh only): run the LSH stage on ONE
    representative per distinct normalized text and re-expand afterwards.
    Exact duplicates share every shingle, hence every band signature —
    at crawl dup rates they ARE the hot LSH buckets, and a b-member
    exact group contributes b·(b−1)/2 candidate pairs per band for zero
    information (measured at 7.5M synth docs: max bucket 1,901 vs mean
    1.02, skew 1865×; collapsed: the hot buckets vanish). For any doc
    long enough to shingle (≥ k words) results are identical with or
    without (every member is J=1.0 with its representative, so the
    expanded component equals the uncollapsed one; property-tested).
    The ONE documented divergence (ADVICE r4, medium): a multi-member
    exact group whose text has FEWER than k words produces no shingles,
    so the uncollapsed LSH path silently drops it, while the collapsed
    path still clusters it (the ``_grp_n > 1`` branch). The collapsed
    behavior is canonical — byte-identical documents are duplicates by
    definition, independent of shingling applicability — which is the
    second reason it defaults on (the first: the classic
    exact-before-fuzzy dedup ordering).
    """
    from indra_db_spark.operators.components import connected_components

    k = lsh_params.pop("k", 3)
    fp_groups = None
    if method == "minhash_lsh" and collapse_exact:
        fps = fan_out(df.select(id_col, text_col)).select(
            F.col(id_col).alias("_m_id"),
            F.col(text_col).alias("_m_text"),
            fold_md5_64(_norm_text(text_col)).alias("_fp"),
        )
        reps = fps.groupBy("_fp").agg(
            F.min("_m_id").alias(id_col),
            F.min("_m_text").alias(text_col),  # any member: equal shingles
            F.count(F.lit(1)).alias("_grp_n"),
        )
        fp_groups = fps.join(
            reps.select("_fp", F.col(id_col).alias("_rep_id"), "_grp_n"),
            "_fp",
        ).select(F.col("_m_id").alias(id_col), "_rep_id", "_grp_n")
        df = reps.select(id_col, text_col)
    if method == "jaccard":
        if lsh_params:
            raise ValueError(f"jaccard method ignores params {sorted(lsh_params)}")
        pairs = jaccard_pairs(df, id_col=id_col, text_col=text_col, k=k, threshold=threshold)
    elif method == "minhash_lsh":
        cands = minhash_lsh_candidates(df, id_col, text_col, k=k, **lsh_params)
        # Jaccard residual keeps precision 1, computed ONLY on the LSH
        # candidate pairs (two equi-joins onto per-doc shingle sets +
        # per-row array intersect/union — never the all-pairs
        # shared-shingle join the LSH exists to avoid).
        # word_shingles renames the id to 'doc_id' — group on that, not
        # on the caller's id_col (a non-default id_col crashed here)
        sets = (
            word_shingles(df, id_col, text_col, k)
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("_sh"))
        )
        a = sets.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sa"))
        b = sets.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_sb"))
        # merge hint: the per-doc shingle-SET side is arrays of strings —
        # the optimizer's row-size estimate for aggregated array columns
        # undershoots badly, and a mis-chosen broadcast build collects
        # gigabytes to the driver at corpus scale (observed at 8M docs).
        scored = (
            cands.select("doc_a", "doc_b")
            .join(a.hint("merge"), "doc_a")
            .join(b.hint("merge"), "doc_b")
            .withColumn(
                "_jac",
                F.round(
                    F.size(F.array_intersect("_sa", "_sb"))
                    / F.size(F.array_union("_sa", "_sb")),
                    6,
                ),
            )
        )
        pairs = scored.where(F.col("_jac") >= threshold).select("doc_a", "doc_b")
    else:
        raise ValueError(f"unknown method {method!r}")
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    clusters = cc.select(
        F.col("mk_hash").alias(id_col),
        F.col("component_id").alias("cluster_id"),
    )
    if fp_groups is None:
        return clusters
    # re-expand: every member adopts its representative's cluster; a
    # multi-member exact group whose representative has no LSH edge is a
    # cluster of its own (cluster_id = the representative = its min id —
    # exactly what the uncollapsed clique would have produced)
    rep_clusters = clusters.select(
        F.col(id_col).alias("_rep_id"), "cluster_id"
    )
    return (
        fp_groups.join(rep_clusters, "_rep_id", "left")
        .where(F.col("cluster_id").isNotNull() | (F.col("_grp_n") > 1))
        .select(
            id_col,
            F.coalesce("cluster_id", "_rep_id").alias("cluster_id"),
        )
    )
