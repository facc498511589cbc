"""Text-analysis operators for training-data curation at corpus scale.

These extend the engine beyond the reference's biomedical reading: the
same pages/documents corpus a KG job consumes is also the corpus an
LLM-training pipeline filters. All operators are pure column expressions
(whole-stage codegen; no UDFs), so they run at scan speed and push down.

Operators: token counting (whitespace + BPE-ish regex), quality scoring
(length / punctuation / stopword / uppercase ratios), language ID
(stopword-hit heuristic over broadcast lexicons), document fingerprinting
(md5 of normalized text, 64-bit fold).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from indra_db_spark.functions.hashing import fold_md5_64
from indra_db_spark.functions.parallel import fan_out, pin_above_exchange
from indra_db_spark.functions.textnorm import collapse_ws_expr

# Tiny deterministic stopword lexicons per language (language-ID heuristic).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "on"],
    "fr": ["le", "la", "les", "des", "est", "dans", "pour", "que", "une", "sur"],
    "es": ["el", "los", "las", "por", "con", "para", "una", "del", "como", "más"],
    "de": ["der", "die", "das", "und", "ist", "mit", "für", "auf", "eine", "nicht"],
}

BPE_ISH_TOKEN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def ws_token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank. Collapse-then-trim:
    F.trim strips only ASCII spaces, so '\nfoo bar\n' would otherwise
    split into ['', 'foo', 'bar', ''] and over-count by 2."""
    t = collapse_ws_expr(text, lower=False)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, " ")))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token count: alpha runs, single digits, single punctuation —
    a deterministic proxy for byte-pair tokenizers."""
    return F.regexp_count(text, F.lit(BPE_ISH_TOKEN))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + composite score in [0, 1].

    Mirrors Gopher/C4-style filters: length, punctuation ratio, English
    stopword ratio, uppercase ratio, mean word length.
    """
    df = fan_out(df)  # regexp_counts are the cost — spread the scan (guide §2.2)
    t = F.col(text_col)
    n_chars = F.length(t)
    n_ws = ws_token_count(t)
    punct = F.regexp_count(t, F.lit(r"[.,;:!?]"))
    upper = F.regexp_count(t, F.lit(r"[A-Z]"))
    stop_pat = r"(?i)\b(" + "|".join(LANG_STOPWORDS["en"]) + r")\b"
    stops = F.regexp_count(t, F.lit(stop_pat))
    nd = lambda a, b: F.when(b > 0, a.cast("double") / b).otherwise(F.lit(0.0))
    out = (
        df.withColumn("n_chars_m", n_chars)
        .withColumn("n_tokens", n_ws)
        .withColumn("punct_ratio", F.round(nd(punct, n_chars), 6))
        .withColumn("upper_ratio", F.round(nd(upper, n_chars), 6))
        .withColumn("stopword_ratio", F.round(nd(stops, n_ws), 6))
        .withColumn("mean_word_len", F.round(nd(n_chars - (n_ws - 1), n_ws), 6))
    )
    score = (
        F.when((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 100000), 0.25).otherwise(0.0)
        + F.when(F.col("punct_ratio").between(0.001, 0.2), 0.25).otherwise(0.0)
        + F.when(F.col("stopword_ratio") >= 0.05, 0.25).otherwise(0.0)
        + F.when(F.col("upper_ratio") <= 0.3, 0.25).otherwise(0.0)
    )
    return out.withColumn("quality_score", F.round(score, 2))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: count stopword hits per language lexicon,
    argmax with deterministic tie-break (hit count desc, lang asc);
    'und' when nothing matches.

    Staged: the per-language regexp_counts land as real columns in one
    select, and the argmax is a greatest + chained-when over ATTRIBUTES —
    putting the counts inside higher-order-function lambdas would rescan
    the full text once per array element (the interpreted-HOF re-eval
    trap winnow_fingerprints documents)."""
    langs = sorted(LANG_STOPWORDS)
    t = F.col(text_col)
    hit_cols = {}
    staged = fan_out(df)  # one regexp_count per language — spread the scan
    for lang in langs:
        pat = r"(?i)\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
        hit_cols[lang] = f"_hits_{lang}"
        staged = staged.withColumn(hit_cols[lang], F.regexp_count(t, F.lit(pat)))
    mx = F.greatest(*[F.col(c) for c in hit_cols.values()])
    pred = F.when(mx == 0, F.lit("und"))
    for lang in langs:  # alphabetical order = the 'lang asc' tie-break
        pred = pred.when(F.col(hit_cols[lang]) == mx, F.lit(lang))
    return (
        staged.withColumn("lang_pred", pred)
        .withColumn("lang_hits", mx)
        .drop(*hit_cols.values())
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint over normalized text:
    lowercase, collapse whitespace → md5 → signed-64 fold."""
    df = fan_out(df)  # two md5 passes per row — spread the scan
    norm = collapse_ws_expr(F.col(text_col))
    return df.withColumn("fp_hash", fold_md5_64(norm)).withColumn(
        "fp_hex", F.substring(F.md5(norm), 1, 16)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer et al.,
    MOSS): hash every char k-gram of the normalized text, keep the MIN of
    each w-window, dedup → the document's fingerprint set. Near-identical
    documents share most fingerprints even under local edits — the
    char-level complement to word-shingle MinHash.

    All higher-order column expressions (transform/slice/array_min) — one
    row per doc in, one out: (doc_id, n_fps, min_fp, max_fp, fps).
    ``hash_fn='md5'`` = fold_md5_64 per gram (DuckDB-mirrorable oracle
    family); default xxhash64 is the production path.

    Plan-shape note (the difference between O(n) and O(n²) PER ROW): a
    lambda body re-evaluates every non-lambda subexpression per element —
    ``transform(seq, j -> array_min(slice(HASHES_EXPR, j, w)))`` recomputes
    all n gram hashes for each of the n windows. Each stage is therefore a
    separate ``select`` so lambdas only reference bound ATTRIBUTES (cheap);
    CollapseProject keeps multiply-referenced non-cheap aliases
    unmerged, so the staging survives optimization (verified: the inlined
    single-projection form took minutes on 500 rows; this one ~1 s).

    NB: ``F.sequence(1, n)`` DESCENDS when n < 1 (step defaults to -1) —
    short/empty docs must short-circuit to an empty array.

    Gram hashes are built per row with no shuffle. Exploding grams to
    rows so the hash runs in whole-stage codegen measured slower on both
    hash families (md5 itself dominates and the codegen win does not pay
    for the shuffle), so that plan is not offered.
    """
    gram_hash = (
        (lambda g: F.xxhash64(g)) if hash_fn == "xxhash64" else fold_md5_64
    )
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    # stage 1: normalize once per row. fan_out BEFORE normalizing so the
    # (heavy, per-row O(n·w)) HOF stages below run at full parallelism
    # even when the corpus arrives as one parquet row group; the exchange
    # ships only (id, text) — project-before-shuffle (guide §2.3).
    s1 = fan_out(df.select(F.col(id_col).alias("doc_id"), F.col(text_col))).select(
        "doc_id",
        collapse_ws_expr(F.col(text_col)).alias("_norm"),
    )
    norm = F.col("_norm")
    n_g = F.length(norm) - k + 1
    # stage 2: gram hashes — lambda references only the _norm attribute
    s2 = s1.select(
        "doc_id",
        F.when(n_g < 1, F.array().cast("array<long>"))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), n_g),
                lambda i: gram_hash(F.substr(norm, i, F.lit(k))),
            )
        )
        .alias("_h"),
    )
    # stage 3: winnow — per-window min over the MATERIALIZED hash array.
    # For small w the window min is a least() chain of element_at lookups:
    # 3.2× faster than array_min(slice(...)) (slice allocates a w-element
    # array per window in the interpreted HOF path; measured 3.1 s vs
    # 1.0 s at sf1.0, identical output). Large w falls back to the slice
    # form (a 64-wide least() chain would bloat the expression tree).
    h = F.col("_h")
    n_h = F.size(h)
    if w == 1:
        win_min = lambda j: F.element_at(h, j)
    elif w <= 8:
        win_min = lambda j: F.least(*[F.element_at(h, j + i) for i in range(w)])
    else:
        win_min = lambda j: F.array_min(F.slice(h, j, w))
    s3 = s2.select(
        "doc_id",
        F.when(
            n_h >= w,
            F.array_distinct(
                F.transform(F.sequence(F.lit(1), n_h - w + 1), win_min)
            ),
        )
        .when(n_h > 0, F.array(F.array_min(h)))
        .otherwise(F.array().cast("array<long>"))
        .alias("fps"),
    )
    return s3.select(
        "doc_id",
        F.size("fps").alias("n_fps"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
        "fps",
    )


def repetition_ratios(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals (the 'repetitious
    document' gate of the Gopher/MassiveText filter recipe): fraction of
    duplicate lines and fraction of duplicate word 3-grams. Highly
    repetitive documents (boilerplate, keyword stuffing, scraper loops)
    score near 1 and are dropped by quality gates upstream of dedup.

    Pure per-row higher-order expressions — no shuffle of its own, scan
    speed (fan_out only raises the parallelism floor for single-row-group
    inputs). Staged selects so lambdas bind ATTRIBUTES (the
    interpreted-HOF re-eval trap documented on winnow_fingerprints).
    """
    s1 = fan_out(df).select(
        "*",
        F.split(F.col(text_col), "\n").alias("_lines"),
        F.split(collapse_ws_expr(F.col(text_col)), " ").alias("_words"),
    )
    n_words = F.size(F.col("_words"))
    # element_at chain, not concat_ws(slice(...)): the slice allocates a
    # 3-element array per gram in the interpreted HOF path (same finding
    # as dedup_docs._shingle_array — measured 1.8x on the gram stage).
    w = F.col("_words")
    grams = F.when(
        n_words >= 3,
        F.transform(
            F.sequence(F.lit(0), n_words - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(w, i + 1),
                F.element_at(w, i + 2),
                F.element_at(w, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    s2 = s1.withColumn("_grams", grams)
    frac = lambda total, distinct: F.when(
        total > 0, F.round(1.0 - distinct.cast("double") / total, 6)
    ).otherwise(F.lit(0.0))
    return (
        s2.withColumn(
            "dup_line_frac",
            frac(
                F.size(F.col("_lines")),
                F.size(F.array_distinct(F.col("_lines"))),
            ),
        )
        .withColumn(
            "dup_3gram_frac",
            frac(
                F.size(F.col("_grams")),
                F.size(F.array_distinct(F.col("_grams"))),
            ),
        )
        .drop("_lines", "_words", "_grams")
    )


def canonicalize_urls(
    df: DataFrame, url_col: str = "url", out_col: str = "canon_url"
) -> DataFrame:
    """Common-Crawl-style URL canonicalization — the key step before any
    url-grain dedup or join: lowercase scheme+host, strip the fragment,
    strip default ports, drop tracking params (utm_*, fbclid), strip ALL
    trailing path slashes — including the root slash, so ``https://host``
    and ``https://host/`` (and ``/a//`` vs ``/a/``) canonicalize
    identically (ADVICE r3: the one-slash rule left those distinct and
    weakened the url-grain dedup this function exists to serve). Pure
    column expressions (array HOFs for the query-string filter);
    deterministic and engine-portable (the DuckDB oracle mirrors it
    function-for-function).
    """
    u0 = F.regexp_replace(F.col(url_col), "#.*", "")  # fragment
    s1 = df.withColumn("_u", u0)
    sh = F.regexp_extract(F.col("_u"), r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1)
    s2 = s1.withColumn("_sh", sh).withColumn(
        "_rest", F.expr("substring(_u, length(_sh) + 1)")
    )
    sh_low = F.lower(F.col("_sh"))
    sh_port = F.regexp_replace(
        F.regexp_replace(sh_low, r"^(https://[^:/]+):443$", "$1"),
        r"^(http://[^:/]+):80$",
        "$1",
    )
    path = F.substring_index(F.col("_rest"), "?", 1)
    qs = F.expr(
        "case when locate('?', _rest) > 0 "
        "then substring(_rest, locate('?', _rest) + 1) else '' end"
    )
    s3 = (
        s2.withColumn("_shp", sh_port)
        .withColumn("_path", F.regexp_replace(path, r"/+$", ""))
        .withColumn("_qs", qs)
    )
    kept = F.array_join(
        F.filter(
            F.split(F.col("_qs"), "&"),
            lambda p: ~p.rlike(r"^(utm_[A-Za-z0-9_]*|fbclid)="),
        ),
        "&",
    )
    s4 = s3.withColumn("_kq", kept)
    canon = F.concat(
        F.col("_shp"),
        F.col("_path"),
        F.when(F.col("_kq") == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), F.col("_kq"))
        ),
    )
    return s4.withColumn(out_col, canon).drop(
        "_u", "_sh", "_rest", "_shp", "_path", "_qs", "_kq"
    )


# PII patterns — engine-portable (no lookaround; RE2-safe for the DuckDB
# twin, Java-regex-safe for Spark). Ordered dict = application order for
# the sequential replace (families are pairwise non-overlapping: SSN is
# 3-2-4 digits vs the phone's 3-3-4; an IPv4 octet run can never sit
# inside a longer digit run thanks to the \b anchors; placeholders are
# letter-only so later patterns never re-match an earlier replacement).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "emails": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "ssns": (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    "phones": (r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "[PHONE]"),
    "ipv4s": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    "ibans": (r"\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b", "[IBAN]"),
}
EMAIL_PAT = PII_PATTERNS["emails"][0]
PHONE_PAT = PII_PATTERNS["phones"][0]


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Training-data PII scrubbing: replace email addresses, NANP-style
    phone numbers, US SSNs, IPv4 addresses, and IBAN-shaped account
    numbers with typed placeholders, keeping per-doc per-family match
    counts (``n_emails``/``n_ssns``/``n_phones``/``n_ipv4s``/``n_ibans``
    — the audit trail a compliance pass needs; counts are taken against
    the ORIGINAL text, replacement is sequential in ``PII_PATTERNS``
    order). Regex-only — scan speed, no shuffle; the patterns avoid
    lookaround so the DuckDB oracle matches byte-for-byte. Known
    deliberate breadth: version-like strings (``1.2.3.4``) redact as
    IPv4 — recall over precision, the usual compliance trade.
    """
    t = F.col(text_col)
    out = fan_out(df)  # 5 regexp_counts + 5 replaces per row — spread the scan
    red = t
    for fam, (pat, repl) in PII_PATTERNS.items():
        out = out.withColumn(f"n_{fam}", F.regexp_count(t, F.lit(pat)))
        red = F.regexp_replace(red, pat, repl)
    return out.withColumn(out_col, red)


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.75,
    lang: str = "en",
    dedup_threshold: float = 0.6,
    dedup_method: str = "minhash_lsh",
    **dedup_params,
) -> DataFrame:
    """The end-to-end training-data cleaning recipe (C4/Gopher-style) as
    ONE operator: quality gate → language gate → near-dup cluster removal
    (keep the canonical = min doc_id member of each cluster).

    Gate order is cheapest-first: both gates are scan-speed column
    expressions that shrink the corpus BEFORE the only shuffling step
    (dedup); at 100 TB the dedup method should stay 'minhash_lsh'
    (bucketed candidates), 'jaccard' is the exact/oracle path. Output =
    surviving rows of ``df`` plus (quality_score, lang_pred).
    """
    from indra_db_spark.operators.dedup_docs import dedup_clusters

    scored = language_id(quality_features(df, text_col), text_col)
    kept = scored.where(
        pin_above_exchange(
            (F.col("quality_score") >= min_quality) & (F.col("lang_pred") == lang)
        )
    ).select(*df.columns, "quality_score", "lang_pred")
    # Materialize the gated corpus behind one exchange: three consumers
    # read `kept` (the dedup shingle pass, its size pass, and the final
    # anti-join) and would otherwise each recompute the full scoring
    # pipeline — the shared exchange is read back via ReusedExchange
    # (guide §2.4). Measured at sf1.0: 8.0 s → 2.0 s for the full recipe.
    kept = kept.repartition(id_col)
    clusters = dedup_clusters(
        kept,
        method=dedup_method,
        threshold=dedup_threshold,
        id_col=id_col,
        text_col=text_col,
        **dedup_params,
    )
    dupes = clusters.where(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return kept.join(dupes, id_col, "left_anti")
