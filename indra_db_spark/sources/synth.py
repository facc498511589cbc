"""Deterministic synthetic ``pages`` corpus (FIXTURES.md §A1).

Counter-based hashing (splitmix64) — no RNG state — so every page is a pure
function of ``(seed, i)``: generation is partition-independent, reruns are
byte-identical, and a pure-Python twin (:func:`reference_statements`) can
enumerate the expected triples for the P/R≥0.95 golden gate without going
through the Spark extraction path.

Skew by construction: in English pages ~20%% of sentences take the hub
entity ``TP53GEN`` as subject, and half of those are the single triple
``TP53GEN activates MDM2GEN`` — a TP53-scale fan-in hot key for the salted
aggregation demo (BASELINE.json north_star).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator

import pandas as pd

from indra_db_spark.functions.extract_html import extract_text_py
from indra_db_spark.session import local_df
from indra_db_spark.sources import lexicon as LX

_M = (1 << 64) - 1
LANGS = ["en", "fr", "es", "zh", "de"]
_RESIDUES = ["S", "T", "Y"]
_POSITIONS = ["15", "308", "473", "705", "999"]
# Subject-agent qualifiers (MutCondition / ActivityCondition analogs):
# "<F><pos><T> mutant <A> …" and "active|inactive <A> …".
_MUT_FROM = ["G", "R", "E"]
_MUT_POS = ["12", "175", "273"]
_MUT_TO = ["D", "H", "K"]
_TRIGGER_LIST = list(LX.GRAMMAR_TRIGGERS)  # pinned 12 — see lexicon.py
_CRAWL_WINDOW_S = 30 * 86400  # warc_ts cycles over a 30-day crawl window


def _h(seed: int, i: int, j: int, k: int) -> int:
    """splitmix64-style counter hash of (seed, i, j, k)."""
    x = (
        seed * 0x9E3779B97F4A7C15
        + i * 0xBF58476D1CE4E5B9
        + j * 0x94D049BB133111EB
        + k * 0xD6E8FEB86659FD93
        + 0x2545F4914F6CDD1D
    ) & _M
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & _M
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & _M
    x ^= x >> 31
    return x


def page_spec(i: int, seed: int = 42, ts_stride_s: int = 137) -> dict:
    """Structured spec of page ``i`` — the single source of truth shared by
    the HTML renderer and the pure-Python expected-triples twin."""
    lang = LANGS[i % 5]
    src = i % LX.N_SOURCES
    n_sent = 3 + _h(seed, i, 0, 0) % 6
    sentences = []
    for j in range(1, n_sent + 1):
        if _h(seed, i, j, 1) % 5 == 0:
            subj = "TP53GEN"
            if _h(seed, i, j, 2) % 2 == 0:
                sentences.append(
                    {"subj": subj, "trigger": "activates", "obj": "MDM2GEN",
                     "residue": None, "position": None, "mut": None, "act": None}
                )
                continue
        else:
            subj = LX.LEXICON[_h(seed, i, j, 3) % len(LX.LEXICON)]
        trigger = _TRIGGER_LIST[_h(seed, i, j, 4) % len(_TRIGGER_LIST)]
        obj = LX.LEXICON[_h(seed, i, j, 5) % len(LX.LEXICON)]
        if obj == subj:  # no self-loops in the synthetic grammar
            obj = LX.LEXICON[(_h(seed, i, j, 5) + 1) % len(LX.LEXICON)]
        residue = position = None
        if trigger == "phosphorylates" and _h(seed, i, j, 6) % 2 == 0:
            residue = _RESIDUES[_h(seed, i, j, 7) % 3]
            position = _POSITIONS[_h(seed, i, j, 8) % 5]
        # Subject qualifiers on directional triggers only (Complex member
        # alignment is conservative in refinement — keep Complexes bare):
        mut = act = bound = None
        if trigger != "binds":
            q = _h(seed, i, j, 10) % 7
            if q == 0:
                mut = (
                    _MUT_FROM[_h(seed, i, j, 11) % 3],
                    _MUT_POS[_h(seed, i, j, 12) % 3],
                    _MUT_TO[_h(seed, i, j, 13) % 3],
                )
            elif q == 1:
                act = "active" if _h(seed, i, j, 14) % 2 == 0 else "inactive"
            elif q == 2:
                # BoundCondition: "<A> [not] bound to <X> <trigger> <B>"
                bent = LX.LEXICON[_h(seed, i, j, 15) % len(LX.LEXICON)]
                if bent == subj:
                    bent = LX.LEXICON[(_h(seed, i, j, 15) + 1) % len(LX.LEXICON)]
                bound = (bent, _h(seed, i, j, 16) % 2 == 0)  # (entity, is_bound)
        sentences.append(
            {"subj": subj, "trigger": trigger, "obj": obj,
             "residue": residue, "position": position,
             "mut": mut, "act": act, "bound": bound}
        )
    return {
        "url": f"https://ex{src}.org/doc/{i:06d}",
        "warc_ts": dt.datetime(2024, 1, 1)
        + dt.timedelta(seconds=(i * ts_stride_s) % _CRAWL_WINDOW_S),
        "lang": lang,
        "sentences": sentences,
        "i": i,
    }


def source_expr(url_col=None):
    """Source label for *synthetic* urls: ``https://ex<k>.org/… → src<k>``.

    Pass as ``ground_statements(..., source_expr=synth.source_expr)`` when
    the corpus comes from :func:`synth_pages`; real corpora use the engine
    default (url host, grounding.default_source_expr).
    """
    from pyspark.sql import functions as F

    if url_col is None:
        url_col = F.col("url")
    return F.concat(
        F.lit("src"), F.regexp_extract(url_col, r"https://ex(\d+)\.org", 1)
    )


def _sentence_text(s: dict) -> str:
    mod = f" on {s['residue']}{s['position']}" if s["residue"] else ""
    prefix = ""
    if s.get("mut"):
        f_, p_, t_ = s["mut"]
        prefix = f"{f_}{p_}{t_} mutant "
    elif s.get("act"):
        prefix = f"{s['act']} "
    bound_phrase = ""
    if s.get("bound"):
        bent, is_bound = s["bound"]
        bound_phrase = f" bound to {bent}" if is_bound else f" not bound to {bent}"
    return f"{prefix}{s['subj']}{bound_phrase} {s['trigger']} {s['obj']}{mod}."


def render_page(spec: dict, seed: int = 42) -> dict:
    """HTML + (maybe-null) pre-extracted text for a page spec."""
    i = spec["i"]
    parts = []
    for j, s in enumerate(spec["sentences"]):
        txt = _sentence_text(s)
        if _h(seed, i, j, 9) % 3 == 0:  # exercise tag stripping mid-sentence
            txt = txt.replace(s["subj"], f"<b>{s['subj']}</b>", 1)
        parts.append(txt)
    html = (
        "<html><head><script>var x = 1 < 2;</script>"
        "<style>p { color: red; }</style></head><body>\n<p>"
        + " ".join(parts)
        + "</p>\n</body></html>"
    ).encode("utf-8")
    text = None if i % 7 == 3 else extract_text_py(html)
    return {
        "url": spec["url"],
        "warc_ts": spec["warc_ts"],
        "html": html,
        "text": text,
        "lang": spec["lang"],
    }


def pages_pandas(n: int, seed: int = 42, start: int = 0, ts_stride_s: int = 137) -> pd.DataFrame:
    rows = [render_page(page_spec(i, seed, ts_stride_s), seed) for i in range(start, start + n)]
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    return pdf


def corpus_fingerprint(probe: int = 32, seed: int = 42) -> str:
    """Short content hash of the generator itself (first ``probe`` pages,
    html + text + lang). Cache directories for pre-materialized corpora
    must be keyed by this, not just the page count — otherwise a grammar
    or renderer change silently benchmarks stale data."""
    import hashlib

    pdf = pages_pandas(probe, seed)
    h = hashlib.md5()
    for _, r in pdf.iterrows():
        h.update(r["url"].encode())
        h.update(r["html"] or b"")
        h.update((r["text"] or "").encode())
        h.update(r["lang"].encode())
    return h.hexdigest()[:12]


def synth_pages(spark, n: int, seed: int = 42, partitions: int | None = None,
                ts_stride_s: int = 137):
    """Distributed pages generator: spark.range → mapInPandas (Arrow).

    Output is identical for any ``partitions`` value — generation is a pure
    function of the row id.
    """
    from indra_db_spark.schemas import PAGES

    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].tolist()
            rows = [render_page(page_spec(int(i), seed, ts_stride_s), seed) for i in ids]
            pdf = pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )
            pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
            yield pdf

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, PAGES)


# ---------------------------------------------------------------------------
# Pure-Python expected output (the golden-corpus oracle; never touches Spark)


def reference_statements(n: int, seed: int = 42) -> list[dict]:
    """Expected grounded statements for pages [0, n) — the independent twin
    the P/R gate compares the pipeline against (FIXTURES.md §A5)."""
    from indra_db_spark.functions.hashing import matches_key_py

    ground = LX.resolved_grounding()
    from indra_db_spark.functions.textnorm import normalize_text_py

    from indra_db_spark.functions.hashing import agent_key_py

    out = []
    for i in range(n):
        spec = page_spec(i, seed)
        if spec["lang"] != "en":
            continue
        src = f"src{i % LX.N_SOURCES}"
        for j, s in enumerate(spec["sentences"]):
            def key(txt: str) -> str:
                norm = normalize_text_py(txt)
                if norm in ground:
                    ns, db_id, _ = ground[norm]
                    return f"{ns}:{db_id}"
                return f"TEXT:{norm}"

            stype = LX.TRIGGERS[s["trigger"]]
            mods = (
                [("phosphorylation", s["residue"], s["position"])]
                if s["residue"]
                else []
            )
            muts = [s["mut"]] if s.get("mut") else None
            activity = (
                ("activity", s["act"] == "active") if s.get("act") else None
            )
            bounds = (
                [(key(s["bound"][0]), s["bound"][1])] if s.get("bound") else None
            )
            subj_key = agent_key_py(key(s["subj"]), muts, activity, bounds)
            obj_key = key(s["obj"])
            mk = matches_key_py(stype, subj_key, obj_key, mods)
            out.append(
                {
                    "url": spec["url"],
                    "sent_idx": j,
                    "source": src,
                    "type": stype,
                    "subj_key": subj_key,
                    "obj_key": obj_key,
                    "subj_entity_key": key(s["subj"]),
                    "obj_entity_key": obj_key,
                    "muts": muts or [],
                    "activity": activity,
                    "bounds": bounds or [],
                    "mods": mods,
                    "matches_key": mk,
                    "evidence_text": _sentence_text(s),
                }
            )
    return out


def topic_rows(n: int, seed: int = 42) -> list[tuple[str, str]]:
    """(url, topic_id) — MeSH **term** annotation analog: 1–3 deterministic
    T-prefixed topics per page (reference: mesh_term_meta rows keyed by
    pmid; MeSH D-ids)."""
    out = []
    for i in range(n):
        spec = page_spec(i, seed)
        k = 1 + _h(seed, i, 99, 0) % 3
        for j in range(k):
            out.append((spec["url"], f"T{_h(seed, i, 99, j + 1) % 50:03d}"))
    return sorted(set(out))


def concept_rows(n: int, seed: int = 42) -> list[tuple[str, str]]:
    """(url, topic_id) — MeSH **concept** annotation analog: 0–2
    C-prefixed concepts per page (reference: mesh_concept_meta; MeSH
    C-ids live in a separate readonly table from D-ids)."""
    out = []
    for i in range(n):
        spec = page_spec(i, seed)
        k = _h(seed, i, 98, 0) % 3
        for j in range(k):
            out.append((spec["url"], f"C{_h(seed, i, 98, j + 1) % 30:03d}"))
    return sorted(set(out))


def page_topics(spark, n: int, seed: int = 42):
    return local_df(spark, topic_rows(n, seed), "url string, topic_id string")


def page_concepts(spark, n: int, seed: int = 42):
    return local_df(spark, concept_rows(n, seed), "url string, topic_id string")
