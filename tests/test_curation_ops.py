"""Training-data curation operators: dedup family, similarity, text
analysis, multimodal plumbing."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from indra_db_spark.operators.dedup_docs import (
    _rle_count,
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash,
    word_shingles,
)
from indra_db_spark.operators.multimodal import extract_media_features, synth_media
from indra_db_spark.operators.similarity import brute_force_topk, lsh_topk
from indra_db_spark.operators.textops import (
    fingerprint,
    language_id,
    quality_features,
    ws_token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),      # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat", "en"),      # near dup
        (4, "completely different text about spark engines and scale", "en"),
        (5, "le chat est dans la maison et le chien est dans le jardin", "fr"),
        (6, "  The   Quick  Brown Fox jumps over the lazy dog ", "en"),  # ws/case dup of 1
        (7, "der hund ist mit der katze auf der wiese und das ist gut", "de"),
        (8, "xyzzy", "und"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string").cache()


def test_exact_duplicates(spark, docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    (g,) = groups
    assert g["doc_ids"] == [1, 2, 6] and g["keep_id"] == 1


def test_jaccard_near_dups(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    # doc 3 differs in last word → 6/8 shared 3-shingles (J = 6/8 /(7+7-6)=0.75)
    assert (1, 3) in pairs and (2, 3) in pairs
    assert math.isclose(pairs[(1, 3)], 0.75, abs_tol=1e-6)
    exact = [p for p in pairs if pairs[p] == 1.0]
    assert set(exact) == {(1, 2), (1, 6), (2, 6)}


def _pair_batch(rows, nn_type=None):
    """(doc_a, doc_b, n_a, n_b) rows → the packed batch jaccard_pairs
    feeds its run-length counter."""
    import pyarrow as pa

    a, b, na, nb = (list(c) for c in zip(*rows)) if rows else ([], [], [], [])
    nn = [(x << 32) + y for x, y in zip(na, nb)]
    return pa.RecordBatch.from_arrays(
        [
            pa.array(a, pa.int64()),
            pa.array(b, pa.int64()),
            pa.array(nn, nn_type or pa.int64()),
        ],
        ["doc_a", "doc_b", "_nn"],
    )


def _rle_rows(batches, threshold):
    import pyarrow as pa

    return pa.Table.from_batches(list(_rle_count(batches, threshold))).to_pylist()


def test_rle_count_empty_batches():
    assert list(_rle_count(iter([]), 0.5)) == []
    # a partition that delivers only zero-row batches
    assert list(_rle_count([_pair_batch([]), _pair_batch([])], 0.5)) == []


def test_rle_count_across_batches():
    # (1, 2) occurs in three batches (|A∩B| = 3 of 3+3 → J = 1); (1, 3)
    # once (J = 1/5, under the threshold); (7, 9) twice in one batch
    # (J = 2/(2+4-2) = 0.5)
    batches = [
        _pair_batch([(1, 2, 3, 3), (7, 9, 2, 4), (1, 3, 3, 3)]),
        _pair_batch([(1, 2, 3, 3)]),
        _pair_batch([]),
        _pair_batch([(7, 9, 2, 4), (1, 2, 3, 3)]),
    ]
    got = sorted(_rle_rows(batches, 0.5), key=lambda r: (r["doc_a"], r["doc_b"]))
    assert got == [
        {"doc_a": 1, "doc_b": 2, "n_common": 3, "n_a": 3, "n_b": 3},
        {"doc_a": 7, "doc_b": 9, "n_common": 2, "n_a": 2, "n_b": 4},
    ]


def test_rle_count_packed_sizes_near_2_31():
    import pyarrow as pa

    # packed values near 2^63: a float64 round trip would corrupt them
    big = 2**31 - 1
    rows = [(5, 6, big, big - 1), (5, 6, big, big - 1), (2**40, 3, big - 2, 1)]
    got = sorted(_rle_rows([_pair_batch(rows)], 0.0), key=lambda r: r["doc_b"])
    assert [(r["doc_a"], r["doc_b"], r["n_common"], r["n_a"], r["n_b"]) for r in got] == [
        (2**40, 3, 1, big - 2, 1),
        (5, 6, 2, big, big - 1),
    ]
    # only an exact int64 view unpacks the lanes; other dtypes are refused
    with pytest.raises(AssertionError):
        list(_rle_count([_pair_batch(rows, pa.uint64())], 0.0))


def test_minhash_lsh_finds_near_dups(spark, docs):
    sig = minhash_signatures(docs).collect()
    by_id = {r["doc_id"]: r["sig"] for r in sig}
    assert by_id[1] == by_id[2] == by_id[6]  # identical shingle sets
    cands = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(docs).collect()
    }
    assert {(1, 2), (1, 6), (2, 6)} <= cands
    assert (1, 3) in cands  # high-jaccard pair shares ≥1 band
    assert (1, 4) not in cands


def test_minhash_perrow_equals_explode_path(spark, docs):
    # minhash_signatures picks a per-row plan for num_hashes <= 32 and the
    # explode+groupBy plan above; the hash family h_i is prefix-stable, so
    # the 32-hash (per-row) signature must equal the first 32 entries of
    # the 40-hash (explode) signature for every doc and both families.
    for fn in ("xxhash64", "md5"):
        a = {
            r["doc_id"]: r["sig"]
            for r in minhash_signatures(docs, num_hashes=32, hash_fn=fn).collect()
        }
        b = {
            r["doc_id"]: r["sig"][:32]
            for r in minhash_signatures(docs, num_hashes=40, hash_fn=fn).collect()
        }
        assert a == b


def test_simhash_identical_and_near(spark, docs):
    s = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=16).collect()}
    assert s[1] == s[2] == s[6]
    # near-dup differs in few bits
    ham = bin(s[1] ^ s[3]).count("1")
    assert ham <= 6
    assert all(0 <= v < (1 << 16) for v in s.values())
    # default width is production 64-bit; signatures stay consistent
    s64 = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert s64[1] == s64[2] == s64[6]
    assert bin((s64[1] ^ s64[3]) & ((1 << 64) - 1)).count("1") <= 20


def test_simhash_equals_bit_explode_formulation(spark, docs):
    """The one-aggregate conditional-sum implementation is exactly the
    naive (doc, token)×bits vote-explode formulation (which blows rows up
    64x at production width — kept here only as the property oracle)."""
    bits = 16
    tokens = docs.select(
        "doc_id",
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("token"),
    ).where(F.col("token") != "")
    hashed = tokens.withColumn("th", F.xxhash64("token"))
    bit_votes = hashed.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
        "th",
    ).withColumn(
        "vote",
        F.when(F.expr("(shiftright(th, cast(bit as int)) & 1) = 1"), 1).otherwise(-1),
    )
    votes = bit_votes.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
    naive = votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(1L, cast(bit as int))"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )
    want = {r["doc_id"]: r["simhash"] for r in naive.collect()}
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=bits).collect()}
    assert got == want


def test_simhash_md5_variant_and_hamming(spark, docs):
    from indra_db_spark.operators.dedup_docs import hamming_distance

    s = simhash(docs, bits=16, hash_fn="md5")
    vals = {r["doc_id"]: r["simhash"] for r in s.collect()}
    assert vals[1] == vals[2] == vals[6]
    a = s.select(F.col("doc_id").alias("da"), F.col("simhash").alias("sa"))
    b = s.select(F.col("doc_id").alias("db"), F.col("simhash").alias("sb"))
    pairs = a.join(b, F.col("da") < F.col("db")).select(
        "da", "db", hamming_distance(F.col("sa"), F.col("sb")).alias("ham")
    )
    h = {(r["da"], r["db"]): r["ham"] for r in pairs.collect()}
    assert h[(1, 2)] == 0 and h[(1, 6)] == 0
    assert h[(1, 3)] <= 6 < h[(1, 4)]


def test_shingles_short_doc(spark, docs):
    sh = word_shingles(docs).where(F.col("doc_id") == 8).count()
    assert sh == 0  # 1 word < k=3 → no partial shingles


def test_brute_force_topk_and_lsh(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 16).astype("float32")
    vecs[1] = vecs[0] + 0.01 * rng.randn(16).astype("float32")  # planted neighbor
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    topk = brute_force_topk(emb, emb.where("vec_id in (0, 5)"), k=3)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in topk.collect()}
    assert got[(0, 1)] == 1  # planted nearest neighbor found
    # exact ranks agree with numpy
    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    sims[0] = -2
    assert got[(0, 1)] == int(np.argmax(sims))
    # LSH variant finds the planted pair (same bucket — nearly identical)
    lsh = lsh_topk(emb, emb.where("vec_id = 0"), k=3, dim=16, n_planes=6)
    lgot = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in lsh.collect()}
    assert lgot[(0, 1)] == 1


def test_text_analysis(spark, docs):
    q = quality_features(docs).collect()
    by = {r["doc_id"]: r for r in q}
    assert by[1]["n_tokens"] == 9
    assert by[1]["stopword_ratio"] > 0.2
    assert 0.0 <= by[8]["quality_score"] < by[1]["quality_score"] <= 1.0

    langs = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert langs[1] == "en" and langs[5] == "fr" and langs[7] == "de"
    assert langs[8] == "und"

    fp = fingerprint(docs).select("doc_id", "fp_hash").collect()
    vals = {r["doc_id"]: r["fp_hash"] for r in fp}
    assert vals[1] == vals[6]  # normalization collapses case/whitespace
    assert vals[1] != vals[3]


def test_ws_token_count_edges(spark):
    df = spark.createDataFrame([("",), ("  ",), ("one",), ("a  b",)], "t string")
    got = [r["n"] for r in df.select(ws_token_count(F.col("t")).alias("n")).collect()]
    assert got == [0, 0, 1, 2]


def test_multimodal_features(spark):
    media = synth_media(spark, 30)
    feats = extract_media_features(media).collect()
    assert len(feats) == 30
    by = {r["media_id"]: r for r in feats}
    assert all(len(r["feature"]) == 8 for r in feats)
    assert by[0]["n_bytes"] == len(bytes(media.first()["payload"]))
    # deterministic: same content ⇒ same feature
    again = {r["media_id"]: r["feature"] for r in extract_media_features(media).collect()}
    assert again == {k: v["feature"] for k, v in by.items()}


def test_ivf_topk(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 16).astype("float32")
    vecs[1] = vecs[0] + 0.005 * rng.randn(16).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from indra_db_spark.operators.similarity import ivf_topk, train_centroids

    cents = train_centroids(emb, n_cells=4)
    assert len(cents) == 4 and len(cents[0]) == 16
    res = ivf_topk(emb, emb.where("vec_id = 0"), k=3, n_probe=2, centroids=cents)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in res.collect()}
    # planted near-identical neighbor shares the cell -> found at rank 1
    assert got[(0, 1)] == 1
    # deterministic across invocations
    res2 = ivf_topk(emb, emb.where("vec_id = 0"), k=3, n_probe=2, centroids=cents)
    assert sorted(map(tuple, res.collect())) == sorted(map(tuple, res2.collect()))


def test_minhash_recall_at_scale_params(spark):
    """Production LSH parameters (128 hashes / 16 bands, r=8): every pair
    with 3-gram Jaccard >= 0.8 should be a candidate with prob
    1-(1-J^8)^16 (>= 0.95 at J=0.8) — assert measured recall on a
    deterministic planted near-dup corpus, and perfect recall for exact
    dups. Guards against silently-weak LSH defaults at corpus scale."""
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for i in range(40):
        words = [vocab[rng.randrange(400)] for _ in range(60)]
        rows.append((2 * i, " ".join(words), "en"))
        near = list(words)
        near[30] = vocab[rng.randrange(400)]  # 1 word -> ~3 shingles differ
        rows.append((2 * i + 1, " ".join(near), "en"))  # J ~= 55/61 ~= 0.90
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    want = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert len(want) >= 35  # the planted pairs really are J>=0.8
    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(
            docs, num_hashes=128, bands=16
        ).collect()
    }
    found = want & got
    recall = len(found) / len(want)
    assert recall >= 0.95, f"LSH recall {recall} at 128/16"
    # and the candidate set is not a trivial everything-matches blob:
    # unrelated random 60-word docs share no full band
    unrelated = {(a, b) for (a, b) in got if b != a + 1 or a % 2 == 1}
    assert len(unrelated) <= 2


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint='reliable' (cluster-FS DataFrame.checkpoint) produces
    identical components to the local-checkpoint path and reports round
    stats — the production setting for CC beyond executor-loss risk."""
    import random

    from indra_db_spark.operators.components import connected_components

    rng = random.Random(3)
    edges = [(rng.randrange(2000), rng.randrange(2000)) for _ in range(3000)]
    df = spark.createDataFrame(
        edges, "supported_mk_hash long, supporting_mk_hash long"
    )
    stats = {}
    rel = {
        (r["mk_hash"], r["component_id"])
        for r in connected_components(
            df, checkpoint="reliable", checkpoint_dir=str(tmp_path / "ckpt"),
            stats=stats,
        ).collect()
    }
    loc = {
        (r["mk_hash"], r["component_id"])
        for r in connected_components(df).collect()
    }
    assert rel == loc
    assert stats["rounds"] >= 1 and stats["edges_in"] > 0
    # reliable checkpoints actually landed on the checkpoint dir
    import glob
    assert glob.glob(str(tmp_path / "ckpt" / "*"))


def test_embedding_near_dup_exact_and_lsh(spark):
    import numpy as np

    from indra_db_spark.operators.similarity import (
        cosine_near_dup_pairs,
        lsh_near_dup_pairs,
    )

    rng = np.random.RandomState(13)
    vecs = rng.randn(50, 16).astype("float32")
    vecs[1] = vecs[0] + 0.01 * rng.randn(16).astype("float32")   # planted dup
    vecs[7] = vecs[6] + 0.02 * rng.randn(16).astype("float32")   # planted dup
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in cosine_near_dup_pairs(emb, threshold=0.95).collect()
    }
    assert set(exact) == {(0, 1), (6, 7)}
    # numpy agreement on the planted pair
    c = float(
        vecs[0] @ vecs[1] / (np.linalg.norm(vecs[0]) * np.linalg.norm(vecs[1]))
    )
    assert abs(exact[(0, 1)] - c) < 1e-4

    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in lsh_near_dup_pairs(
            emb, threshold=0.95, dim=16, n_planes=6
        ).collect()
    }
    # LSH candidates are a subset of exact pairs (residual keeps precision)
    assert lsh <= set(exact)
    # near-identical vectors share every hyperplane sign -> found
    assert (0, 1) in lsh
    # multi-table recall amplification: candidates are a superset of the
    # single-table set, still precision-1 (subset of exact)
    multi = {
        (r["vec_a"], r["vec_b"])
        for r in lsh_near_dup_pairs(
            emb, threshold=0.95, dim=16, n_planes=6, n_tables=4
        ).collect()
    }
    assert lsh <= multi <= set(exact)


def test_winnow_fingerprints(spark):
    from indra_db_spark.operators.textops import winnow_fingerprints

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun"
    )
    edited = base.replace("lazy", "calm")  # one local edit
    other = "completely different content about spark shuffles and parquet"
    rows = [
        (1, base),
        (2, edited),
        (3, other),
        (4, base.upper()),  # normalization: case-insensitive → identical fps
        (5, "tiny"),        # shorter than k → no grams
        (6, ""),            # empty
        (7, "exactly9!"),   # len 9, k=8 → 2 grams < w → single-min branch
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in winnow_fingerprints(df, k=8, w=4).collect()
    }
    fps1, fps2, fps3 = (set(out[i]["fps"]) for i in (1, 2, 3))
    # winnowing guarantee: a local edit perturbs only nearby windows —
    # most fingerprints survive; unrelated docs share (almost) none
    overlap_near = len(fps1 & fps2) / len(fps1 | fps2)
    overlap_far = len(fps1 & fps3) / len(fps1 | fps3)
    assert overlap_near > 0.5 > overlap_far
    assert set(out[4]["fps"]) == fps1  # lowercase-normalized
    assert out[5]["n_fps"] == 0 and out[5]["fps"] == []
    assert out[6]["n_fps"] == 0
    assert out[7]["n_fps"] == 1  # min of the <w gram window
    # density: ~1 fingerprint per w positions (plus boundary), never more
    # than the gram count
    n_grams = len(base) - 8 + 1
    assert 0 < out[1]["n_fps"] <= n_grams
    # md5 family agrees with the pure-Python twin on one doc
    md5_out = {
        r["doc_id"]: r for r in winnow_fingerprints(df, k=8, w=4, hash_fn="md5").collect()
    }
    import hashlib, re

    def py_winnow(text, k=8, w=4):
        norm = re.sub(r"\s+", " ", text.strip().lower())
        hs = []
        for i in range(max(len(norm) - k + 1, 0)):
            d = hashlib.md5(norm[i:i + k].encode()).hexdigest()
            v = int(d[:16], 16)
            hs.append(v - (1 << 64) if v >= (1 << 63) else v)
        if not hs:
            return []
        if len(hs) < w:
            return [min(hs)]
        seen, outl = set(), []
        for j in range(len(hs) - w + 1):
            m = min(hs[j:j + w])
            if m not in seen:
                seen.add(m)
                outl.append(m)
        return outl
    assert md5_out[1]["fps"] == py_winnow(base)
    assert md5_out[7]["fps"] == py_winnow("exactly9!")


def test_dup_clusters_transitive_closure(spark):
    """Dedup clusters = connected components of the near-dup graph: a
    chain a~b, b~c (a never directly similar to c) still lands all three
    in one cluster with the min doc_id as canonical."""
    from indra_db_spark.operators.components import connected_components
    from indra_db_spark.operators.dedup_docs import jaccard_pairs

    mk = lambda *words: " ".join(words)
    a = mk(*(f"w{i}" for i in range(20)))
    b = mk(*(f"w{i}" for i in range(4, 24)))    # overlaps a and c
    c = mk(*(f"w{i}" for i in range(8, 28)))    # overlaps b, barely a
    lone = mk(*(f"x{i}" for i in range(20)))
    df = spark.createDataFrame(
        [(10, a), (11, b), (12, c), (13, lone)], "doc_id long, text string"
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(df, threshold=0.5).collect()
    }
    assert (10, 11) in pairs and (11, 12) in pairs and (10, 12) not in pairs
    cc = connected_components(
        spark.createDataFrame(sorted(pairs), "doc_a long, doc_b long"),
        src="doc_a", dst="doc_b",
    )
    got = {r["mk_hash"]: r["component_id"] for r in cc.collect()}
    assert got == {10: 10, 11: 10, 12: 10}


def test_dedup_clusters_methods_agree(spark):
    """dedup_clusters: the LSH-candidate path (the 100 TB shape) finds the
    same clusters as the exact Jaccard path on a planted near-dup corpus
    (LSH recall is ~1 at J≈0.9 with 16 hashes / 8 bands)."""
    from indra_db_spark.operators.dedup_docs import dedup_clusters

    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, base),
        (2, base.replace("w7 ", "w7x ")),       # near-dup of 1
        (3, base.replace("w31 ", "w31y ")),     # near-dup of 1 (and ~2)
        (4, " ".join(f"z{i}" for i in range(40))),
        (5, " ".join(f"q{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup_clusters(df, method="jaccard", threshold=0.7).collect()
    }
    assert exact == {(1, 1), (2, 1), (3, 1)}
    lsh = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup_clusters(
            df, method="minhash_lsh", threshold=0.7,
            num_hashes=16, bands=8,
        ).collect()
    }
    assert lsh == exact


def test_dedup_clusters_non_default_id_col(spark):
    """Regression (r2 VERDICT #1 / ADVICE): the minhash_lsh residual stage
    selected the caller's id_col from a frame whose id column is always
    named doc_id (word_shingles renames), crashing on any id_col other
    than 'doc_id'. Both dedup methods and curate_corpus must honour a
    custom id column end-to-end."""
    from indra_db_spark.operators.dedup_docs import dedup_clusters
    from indra_db_spark.operators.textops import curate_corpus

    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, base),
        (2, base.replace("w7 ", "w7x ")),
        (3, " ".join(f"z{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "my_id long, text string")
    for method in ("minhash_lsh", "jaccard"):
        kw = {"num_hashes": 16, "bands": 8} if method == "minhash_lsh" else {}
        got = {
            (r["my_id"], r["cluster_id"])
            for r in dedup_clusters(
                df, method=method, threshold=0.7, id_col="my_id", **kw
            ).collect()
        }
        assert got == {(1, 1), (2, 1)}, method
    # curate_corpus defaults to minhash_lsh dedup — same crash path
    curated = curate_corpus(df, id_col="my_id")
    assert {r["my_id"] for r in curated.select("my_id").collect()} <= {1, 2, 3}


def test_repetition_ratios(spark):
    """Gopher repetition gate: duplicate-line and duplicate word-3-gram
    fractions; short docs and newline-free docs are handled."""
    from indra_db_spark.operators.textops import repetition_ratios

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),  # 7 3-grams, 3 distinct
            (2, "w0 w1 w2 w3 w4"),     # all distinct
            (3, "x\nx\ny"),            # 3 lines, 2 distinct
            (4, "one two"),            # < 3 words → no grams
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["dup_line_frac"], r["dup_3gram_frac"])
        for r in repetition_ratios(df).collect()
    }
    assert got[1][1] == round(1 - 3 / 7, 6)
    assert got[2][1] == 0.0
    assert got[3][0] == round(1 - 2 / 3, 6)
    assert got[4] == (0.0, 0.0)


def test_canonicalize_urls(spark):
    """URL canonicalization rules: case, default ports, fragment,
    tracking params, trailing-slash runs (incl. the root slash, so
    ``host`` == ``host/`` — ADVICE r3) — non-default ports survive."""
    from indra_db_spark.operators.textops import canonicalize_urls

    cases = [
        (1, "HTTPS://Ex.ORG:443/A/b/?utm_source=x&id=7&utm_campaign=y#frag",
         "https://ex.org/A/b?id=7"),
        (2, "http://ex.org:80/a/", "http://ex.org/a"),
        (3, "https://ex.org/", "https://ex.org"),
        (4, "https://ex.org/b?fbclid=1", "https://ex.org/b"),
        (5, "http://ex.org:8080/x", "http://ex.org:8080/x"),
        (6, "https://ex.org", "https://ex.org"),
        (7, "https://ex.org/a//", "https://ex.org/a"),
        (8, "https://ex.org/a//b/", "https://ex.org/a//b"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "doc_id long, url string"
    )
    got = {
        r["doc_id"]: r["canon_url"] for r in canonicalize_urls(df).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_redact_pii(spark):
    """Every PII family becomes its typed placeholder; per-family counts
    recorded pre-redaction; clean text passes through unchanged; the
    families never cross-match (SSN vs phone digit grouping, IPv4 octet
    anchoring inside longer digit runs)."""
    from indra_db_spark.operators.textops import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.org or call 555-123-4567 today"),
            (2, "nothing sensitive here"),
            (3, "two mails: x@y.io and z@w.co"),
            (4, "ssn 123-45-6789 host 10.0.0.255 acct DE44500105175407324931"),
            (5, "phone 555.123.4567 is not an ip; 999-99-9999 is ssn-shaped"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert got[1]["redacted"] == "mail [EMAIL] or call [PHONE] today"
    assert (got[1]["n_emails"], got[1]["n_phones"]) == (1, 1)
    assert got[2]["redacted"] == "nothing sensitive here"
    assert got[3]["n_emails"] == 2
    assert got[3]["redacted"] == "two mails: [EMAIL] and [EMAIL]"
    assert got[4]["redacted"] == "ssn [SSN] host [IP] acct [IBAN]"
    assert (got[4]["n_ssns"], got[4]["n_ipv4s"], got[4]["n_ibans"]) == (1, 1, 1)
    assert got[4]["n_phones"] == 0
    assert got[5]["redacted"] == "phone [PHONE] is not an ip; [SSN] is ssn-shaped"
    assert (got[5]["n_phones"], got[5]["n_ipv4s"], got[5]["n_ssns"]) == (1, 0, 1)


def test_winnow_via_paths_equal(spark):
    """winnow via='explode' (codegen-hash) == via='arrays' (no-shuffle),
    both hash families, including gram-less docs."""
    from indra_db_spark.operators.textops import winnow_fingerprints

    rows = [
        (1, "the quick brown fox jumps over the lazy dog repeatedly"),
        (2, "tiny"),
        (3, ""),
        (4, "exactly9!"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fam in ("md5", "xxhash64"):
        a = {
            r["doc_id"]: (r["n_fps"], r["fps"])
            for r in winnow_fingerprints(df, hash_fn=fam, via="arrays").collect()
        }
        b = {
            r["doc_id"]: (r["n_fps"], r["fps"])
            for r in winnow_fingerprints(df, hash_fn=fam, via="explode").collect()
        }
        assert a == b and set(a) == {1, 2, 3, 4}


def test_curate_corpus_recipe(spark):
    """curate_corpus drops low-quality, non-target-language and
    non-canonical near-dup docs in one pass; both dedup methods agree."""
    from indra_db_spark.operators.textops import curate_corpus

    good = (
        "The experiment shows that the protein binds to the receptor and "
        "the pathway is active in the cell, with strong evidence for it."
    )
    rows = [
        (1, good),
        (2, good.replace("strong", "weak")),   # near-dup of 1 -> dropped
        (3, "short junk"),                     # quality gate
        (4, "le la les des est dans pour que une sur le la les des est."),  # fr
        (5, "The quick brown fox jumps over the lazy dog and the cat is "
            "in the warm house, for the sun shines on the hill today."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for method in ("jaccard", "minhash_lsh"):
        out = curate_corpus(
            df, dedup_method=method, dedup_threshold=0.5,
            min_quality=0.75, lang="en",
        )
        got = {r["doc_id"] for r in out.collect()}
        assert got == {1, 5}, (method, got)
    # survivors keep original columns + the two gate columns
    cols = set(out.columns)
    assert {"doc_id", "text", "quality_score", "lang_pred"} <= cols


def test_edge_whitespace_normalization(spark):
    """Review r5: tabs/newlines at the edges are crawl artifacts — the
    same content must fingerprint identically, shingle identically, and
    token-count identically regardless of them."""
    from indra_db_spark.operators.dedup_docs import exact_duplicates, word_shingles
    from indra_db_spark.operators.textops import fingerprint, ws_token_count

    rows = [(1, "foo bar baz qux"), (2, "\nfoo  bar\tbaz qux\n"), (3, "\t")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r["doc_id"]: r["fp_hash"] for r in fingerprint(df).collect()}
    assert fps[1] == fps[2]
    dups = exact_duplicates(df).collect()
    assert len(dups) == 1 and sorted(dups[0]["doc_ids"]) == [1, 2]
    sh = word_shingles(df).groupBy("doc_id").count().collect()
    counts = {r["doc_id"]: r["count"] for r in sh}
    assert counts.get(1) == counts.get(2) == 2  # 4 words -> 2 tri-shingles
    toks = df.select("doc_id", ws_token_count(F.col("text")).alias("n")).collect()
    got = {r["doc_id"]: r["n"] for r in toks}
    assert got == {1: 4, 2: 4, 3: 0}


def test_cosine_zero_vector_not_top_ranked(spark):
    """Review r5: an all-zeros embedding must rank LAST (similarity 0),
    not first (NaN sorts above every double in Spark)."""
    from indra_db_spark.operators.similarity import brute_force_topk

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]), (3, [0.5, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(emb, emb.where(F.col("vec_id") == 0), k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 1       # real nearest neighbor
    assert ranked[-1] == 2      # zero vector last, cos_sim 0
    assert all(r["cos_sim"] == 0.0 for r in out if r["neighbor_id"] == 2)


def test_ivf_recall_vs_brute_force(spark):
    """IVF recall@5 vs the exact oracle at TRAINED centroids (iters=3),
    on a seeded corpus of 8 deliberately-overlapping clusters (points are
    blends of two adjacent centers + noise, so true neighbors straddle
    cell boundaries — the hard case for coarse quantization). Pins the
    probe/recall trade: measured 0.910 / 0.980 / 1.000 at n_probe 1/2/4;
    floors below that guard against quantizer or assignment regressions,
    and recall must be monotone in n_probe (probed cells nest and scoring
    within candidates is exact)."""
    import random

    from indra_db_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_centroids,
    )

    rng = random.Random(9)
    d, n_clusters = 16, 8
    centers = [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(n_clusters)]
    rows = []
    for i in range(400):
        a = centers[i % n_clusters]
        b = centers[(i + 1) % n_clusters]
        w = rng.uniform(0.3, 0.7)
        rows.append(
            (i, [w * a[j] + (1 - w) * b[j] + rng.uniform(-0.4, 0.4)
                 for j in range(d)])
        )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).localCheckpoint()
    queries = emb.where("vec_id < 20")

    truth: dict = {}
    for r in brute_force_topk(emb, queries, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    denom = sum(len(v) for v in truth.values())

    cents = train_centroids(emb, n_cells=8, iters=3)
    floors = {1: 0.85, 2: 0.95, 4: 0.99}
    recalls = {}
    for probe, floor in floors.items():
        got: dict = {}
        for r in ivf_topk(
            emb, queries, k=5, n_probe=probe, centroids=cents
        ).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recalls[probe] = (
            sum(len(truth[q] & got.get(q, set())) for q in truth) / denom
        )
        assert recalls[probe] >= floor, (probe, recalls[probe])
    assert recalls[1] <= recalls[2] <= recalls[4], recalls


def test_dedup_clusters_collapse_exact_equals_uncollapsed(spark):
    """collapse_exact (LSH on one representative per distinct normalized
    text, re-expanded after CC) is a pure optimization for every doc
    long enough to shingle: identical clusters to the uncollapsed run on
    a corpus mixing exact dups, case/whitespace dups, near dups,
    singleton exact groups, and unrelated docs — including a
    multi-member exact group with no LSH neighbor (a cluster of its own)
    and an exact group whose rep links to a near-dup (whole group joins
    that cluster). The ONE documented divergence (ADVICE r4): a
    multi-member exact group with FEWER than k words yields no shingles,
    so the uncollapsed path misses it while the (canonical) collapsed
    path still clusters it."""
    from indra_db_spark.operators.dedup_docs import dedup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    lonely = "an isolated pair of identical documents with no neighbors at all"
    rows = [
        (1, base), (2, base), (3, "  The   Quick  Brown Fox jumps over the lazy dog again and again "),
        (4, near),
        (5, lonely), (6, lonely),
        (7, "completely unrelated text about spark engines and cluster scale"),
        (8, "hello world"), (9, "hello world"),  # sub-k exact group (k=3)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def snap(collapse):
        return sorted(
            (r["doc_id"], r["cluster_id"])
            for r in dedup_clusters(
                docs, method="minhash_lsh", threshold=0.5,
                collapse_exact=collapse,
            ).collect()
        )

    got, want = snap(True), snap(False)
    # identical on everything shingle-able; collapsed additionally
    # clusters the sub-k exact group the LSH path cannot see
    assert want == [p for p in got if p[0] not in (8, 9)], (got, want)
    assert (8, 8) in got and (9, 8) in got  # canonical: exact dups cluster
    assert all(d not in (8, 9) for d, _ in want)  # uncollapsed misses them
    assert (5, 5) in got and (6, 5) in got  # edge-less exact group kept
    assert (4, 1) in got  # near-dup joins the rep's cluster
    assert all(d != 7 for d, _ in got)  # singleton stays absent


def test_lsh_max_bucket_cap_bound_and_recall(spark):
    """max_bucket (r5): oversize LSH buckets degrade to secondary-band
    sub-buckets, then to a star on the min doc_id — worst-case O(n)
    pairs per bucket, never C(n,2). Part 1 pins the deterministic bound
    on an all-identical family (no secondary-band split possible: star
    exactly); part 2 pins the recall floor for clustering a genuine
    near-dup family plus scattered pairs with the cap engaged."""
    from collections import Counter

    from indra_db_spark.operators.dedup_docs import (
        dedup_clusters,
        minhash_lsh_candidates,
    )

    fam = [(i, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
           for i in range(30)]
    docs = spark.createDataFrame(fam, "doc_id long, text string")
    pairs = minhash_lsh_candidates(docs, max_bucket=8).collect()
    # identical docs agree on every band AND the secondary band → one
    # un-splittable sub-bucket per band → star: exactly n-1 hub pairs
    assert len(pairs) == 29, len(pairs)
    assert all(r["doc_a"] == 0 for r in pairs)
    assert minhash_lsh_candidates(docs).count() == 435  # uncapped C(30,2)

    rows = []
    base_words = [f"w{i}" for i in range(60)]
    for i in range(24):  # family: mutually J≈0.90 (one trailing word)
        rows.append((100 + i, " ".join(base_words[:-1] + [f"tail{i}"])))
    for j in range(10):  # scattered small near-dup pairs
        w = [f"p{j}x{t}" for t in range(40)]
        rows.append((1000 + 2 * j, " ".join(w)))
        rows.append((1001 + 2 * j, " ".join(w[:-1] + ["zz"])))
    for u in range(20):  # unrelated singletons
        rows.append((5000 + u, " ".join(f"u{u}q{t}" for t in range(30))))
    docs2 = spark.createDataFrame(rows, "doc_id long, text string")
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(
            docs2, method="minhash_lsh", threshold=0.8,
            num_hashes=16, bands=4, max_bucket=6,
        ).collect()
    }
    fam_clusters = [clusters.get(100 + i) for i in range(24)]
    modal, cnt = Counter(
        c for c in fam_clusters if c is not None
    ).most_common(1)[0]
    assert cnt >= 22, fam_clusters  # ≥90% of the family stays clustered
    found = sum(
        1 for j in range(10)
        if clusters.get(1000 + 2 * j) is not None
        and clusters.get(1000 + 2 * j) == clusters.get(1001 + 2 * j)
    )
    assert found >= 9, found  # small buckets: cap changes nothing
    assert all(5000 + u not in clusters for u in range(20))


def test_media_header_parsing_golden(spark):
    """r5: real stdlib container parsing — hand-built PNG/GIF/WAV
    fixtures parse to exact width/height/bit-depth/rate/duration;
    garbage, truncated, and NULL payloads sniff to format=NULL (never
    raise); synth_media_files round-trips through the Arrow mapInPandas
    operator with fields matching the generation spec."""
    from indra_db_spark.operators.multimodal import (
        MEDIA,
        gif_bytes,
        parse_media_header,
        parse_media_headers,
        png_bytes,
        synth_media_files,
        wav_bytes,
    )

    h = parse_media_header(png_bytes(23, 11))
    assert (h["format"], h["width"], h["height"], h["bit_depth"]) == (
        "png", 23, 11, 8)
    h = parse_media_header(gif_bytes(640, 480))
    assert (h["format"], h["width"], h["height"]) == ("gif", 640, 480)
    h = parse_media_header(wav_bytes(1600, rate=800, channels=1))
    assert (h["format"], h["sample_rate"], h["n_channels"], h["bit_depth"],
            h["duration_ms"]) == ("wav", 800, 1, 16, 2000)
    # stereo + non-integral duration rounds
    h = parse_media_header(wav_bytes(1234, rate=1000, channels=2))
    assert (h["n_channels"], h["duration_ms"]) == (2, 1234)
    for junk in (None, b"", b"\x89PNG\r\n\x1a\n", b"GIF89a\x01",
                 b"RIFF\x00\x00\x00\x00WAVExxxx", b"not media at all",
                 png_bytes(4, 4)[:20]):
        assert parse_media_header(junk)["format"] is None, junk
    # adversarial-but-well-formed headers must not kill the Arrow batch
    # (Int32 columns): PNG declaring u32 dims past 2^31-1 → unparseable;
    # WAV with fmt sample-rate 0 → no ZeroDivisionError, duration NULL
    import struct as _s

    huge_png = (
        b"\x89PNG\r\n\x1a\n" + _s.pack(">I", 13) + b"IHDR"
        + _s.pack(">II", 0xFFFFFFFF, 10) + bytes([8, 0, 0, 0, 0]) + b"\x00" * 8
    )
    assert parse_media_header(huge_png)["format"] is None
    fmt0 = _s.pack("<HHIIHH", 1, 1, 0, 0, 1, 8)
    wav0 = (
        b"RIFF" + _s.pack("<I", 4 + 8 + len(fmt0) + 8 + 4) + b"WAVE"
        + b"fmt " + _s.pack("<I", len(fmt0)) + fmt0
        + b"data" + _s.pack("<I", 4) + b"\x00" * 4
    )
    h0 = parse_media_header(wav0)
    assert (h0["format"], h0["sample_rate"], h0["duration_ms"]) == ("wav", 0, None)
    # duration that FLOORS to exactly 2^31-1 but ROUNDS to 2^31 (declared
    # data size 0xFFFFFFFF, rate 2000 → 2147483647.5 ms): must come back
    # NULL, not overflow the Int32 column
    fmt2k = _s.pack("<HHIIHH", 1, 1, 2000, 2000, 1, 8)
    wav_edge = (
        b"RIFF" + _s.pack("<I", 4 + 8 + len(fmt2k) + 8) + b"WAVE"
        + b"fmt " + _s.pack("<I", len(fmt2k)) + fmt2k
        + b"data" + _s.pack("<I", 0xFFFFFFFF)
    )
    he = parse_media_header(wav_edge)
    assert (he["format"], he["duration_ms"]) == ("wav", None)

    media = synth_media_files(spark, 40)
    got = {r["media_id"]: r for r in parse_media_headers(media).collect()}
    assert len(got) == 40
    for i in range(40):
        r = got[i]
        if i % 4 == 0:
            assert (r["format"], r["width"], r["height"], r["bit_depth"]) == (
                "png", 16 + i % 8, 8 + i % 5, 8)
        elif i % 4 == 1:
            assert (r["format"], r["width"], r["height"]) == (
                "gif", 32 + i % 7, 24 + i % 5)
        elif i % 4 == 2:
            assert (r["format"], r["sample_rate"], r["n_channels"],
                    r["duration_ms"]) == ("wav", 800, 1, 1000 * (1 + i % 3))
        else:
            assert r["format"] is None and r["kind"] == "video"


def test_winnow_families_share_selection_rule(spark):
    """r5 (bench-hygiene companion): the md5 oracle-mirror and xxhash64
    production paths implement the SAME winnow selection algorithm,
    differing only in the gram-hash family. For each family, collecting
    its gram-hash arrays and winnowing them with a driver-side Python
    twin (min of every w-window, distinct) reproduces the Spark-selected
    fingerprint sets exactly. (Selected POSITIONS legitimately differ
    across families — the window min depends on the hash values — so
    set-equality per family against the twin is the exact invariant.)"""
    from indra_db_spark.functions.hashing import fold_md5_64
    from indra_db_spark.functions.textnorm import collapse_ws_expr
    from indra_db_spark.operators.textops import winnow_fingerprints

    k, w = 8, 4
    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 3),
        (2, "completely different content with its own character stream"),
        (3, "short"),            # < k chars → no grams
        (4, "exactly8!"),        # 2 grams < w → single min
        (5, ""),                 # empty
        (6, "  spaced    out \t text   normalizes first  "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def py_winnow(hashes):
        if not hashes:
            return []
        if len(hashes) < w:
            return sorted({min(hashes)})
        return sorted({min(hashes[j:j + w]) for j in range(len(hashes) - w + 1)})

    for fn in ("xxhash64", "md5"):
        gram_hash = (
            (lambda g: F.xxhash64(g)) if fn == "xxhash64" else fold_md5_64
        )
        s1 = docs.select(
            "doc_id", collapse_ws_expr(F.col("text")).alias("_norm")
        )
        n_g = F.length("_norm") - k + 1
        grams = s1.select(
            "doc_id",
            F.when(n_g < 1, F.array().cast("array<long>"))
            .otherwise(
                F.transform(
                    F.sequence(F.lit(1), n_g),
                    lambda i: gram_hash(F.substr(F.col("_norm"), i, F.lit(k))),
                )
            ).alias("h"),
        )
        want = {
            r["doc_id"]: py_winnow(list(r["h"])) for r in grams.collect()
        }
        got = {
            r["doc_id"]: sorted(r["fps"])
            for r in winnow_fingerprints(docs, k=k, w=w, hash_fn=fn).collect()
        }
        assert got == want, fn
