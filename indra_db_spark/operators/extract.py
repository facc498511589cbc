"""Reading-system analog: pages → mentions + raw statements.

Reference: indra_db/reading/read_db.py orchestrates external reader
processes (REACH/Sparser/…) over text_content and stores their output as
``reading`` rows, from which raw statements are extracted. Here the
"reader" is a deterministic rule grammar (SURVEY.md §8.4) executed as a
**vectorized mapInPandas** over Arrow batches — no per-row Python at the
Spark API level, no external processes.

Grammar: within a sentence, ``<A> <trigger> <B> [on <residue><position>]``
with trigger→type map {activates→Activation, inhibits→Inhibition,
binds→Complex, phosphorylates→Phosphorylation(+ModCondition)}. Mentions and
statements are emitted in textual order; only ``lang='en'`` pages are read
(the reference likewise only reads English content).

Text extraction honours the per-row invariant (BASELINE.json input_hint):
if ``text`` is non-null it is trusted as-is; otherwise the deterministic
extractor (§8.2) recomputes it from ``html`` — byte-identical per url at
any parallelism.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from indra_db_spark.functions.extract_html import extract_text_series
from indra_db_spark.sources import lexicon as LX

EXTRACTOR_NAME = "rule_reader"
EXTRACTOR_VERSION = "2.0"

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")

# Pre-grounding statement rows; subj/obj carry mention text only.
_EXTRACTED = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("extractor", T.StringType()),
        T.StructField("extractor_version", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("subj_text", T.StringType()),
        T.StructField("obj_text", T.StringType()),
        T.StructField("residue", T.StringType()),
        T.StructField("position", T.StringType()),
        # subject-agent conditions (indra.statements.MutCondition /
        # ActivityCondition analogs; grammar: "<F><pos><T> mutant <A> …",
        # "active|inactive <A> …")
        T.StructField("subj_mut_from", T.StringType()),
        T.StructField("subj_mut_pos", T.StringType()),
        T.StructField("subj_mut_to", T.StringType()),
        T.StructField("subj_act", T.StringType()),
        # BoundCondition (indra.statements.BoundCondition analog;
        # grammar: "<A> [not] bound to <X> <trigger> <B>")
        T.StructField("subj_bound_text", T.StringType()),
        T.StructField("subj_bound_neg", T.BooleanType()),
        T.StructField("sent_idx", T.IntegerType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("evidence_text", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
    ]
)

_MENTION_COLS = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("sent_idx", T.IntegerType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("sentence", T.StringType()),
    ]
)


def _entities() -> str:
    # Longest-first alternation over lexicon.LEXICON, so multi-char names
    # win at shared prefixes.
    return "|".join(re.escape(e) for e in sorted(LX.LEXICON, key=len, reverse=True))


def _pattern() -> re.Pattern:
    # The core pattern starts at the subject entity — keeping a literal
    # alternation at position 0 preserves the regex engine's fast scan
    # (leading optional groups would force per-character backtracking and
    # ~halve extraction throughput, measured).
    ents = _entities()
    trig = "|".join(sorted(LX.TRIGGERS, key=len, reverse=True))
    # Trailing \b after the object entity and the residue position keep
    # this consistent with extract_mentions' \b-wrapped entity scan: an
    # entity that is a strict prefix of a longer corpus token must not
    # match mid-token (e.g. lexicon "RAS" inside "RASPBERRY").
    # The optional "[not] bound to <X>" phrase between subject and trigger
    # is the BoundCondition qualifier — mid-pattern optional groups keep
    # the leading literal alternation (the fast-scan anchor) intact.
    # Groups: 1=subj 2=not-flag 3=bound-entity 4=trigger 5=obj
    #         6=residue 7=position.
    return re.compile(
        rf"\b({ents})(?:\s+(not\s+)?bound\s+to\s+({ents})\b)?"
        rf"\s+({trig})\s+({ents})\b(?:\s+on\s+([A-Z])(\d+)\b)?"
    )


# Subject qualifiers — "<FROM><POS><TO> mutant" (MutCondition) and
# "active|inactive" (ActivityCondition) — matched by an $-anchored
# LOOKBACK at the text immediately before the core match (always
# succeeds; groups are None when no qualifier precedes). The mutation
# position is bounded to 5 digits so the grammar's longest qualifier
# ("X99999Y mutant inactive " = 24 chars) provably fits the 32-char
# lookback window below — an unbounded \d+ could exceed the window and
# silently truncate the qualifier mid-number (protein sequence positions
# are < 40k residues, so 5 digits is not a real-world restriction).
_QUAL = re.compile(r"(?:\b([A-Z])(\d{1,5})([A-Z])\s+mutant\s+)?(?:\b(active|inactive)\s+)?$")


def _resolve_text(pdf: pd.DataFrame) -> pd.Series:
    text = pdf["text"]
    missing = text.isna()
    if missing.any():
        text = text.copy()
        text[missing] = extract_text_series(pdf.loc[missing, "html"])
    return text


def extract_statements(
    pages: DataFrame, extractor_version: str = EXTRACTOR_VERSION
) -> DataFrame:
    """pages → pre-grounding statement rows (vectorized)."""
    # html is only consulted when text is NULL (the per-row invariant) —
    # blank it out otherwise so the Arrow exchange doesn't ship the biggest
    # column for ~all rows (the UDF regex itself is microseconds/page; the
    # transfer is the extraction stage's real cost).
    pages = pages.withColumn(
        "html",
        F.when(F.col("text").isNotNull(), F.lit(None).cast("binary")).otherwise(
            F.col("html")
        ),
    )
    # Floor the parallelism of the Python extraction stage: a pages corpus
    # read back from a handful of parquet files (file-packing charges tiny
    # files at openCostInBytes, so 32 small files can collapse into ~2
    # scan splits) would otherwise run the regex scan nearly serially.
    from indra_db_spark.functions.parallel import fan_out

    pages = fan_out(pages)

    def read_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pat = _pattern()
        for pdf in batches:
            en = pdf[pdf["lang"] == "en"]
            if en.empty:
                continue
            text = _resolve_text(en)
            recs: list[tuple] = []
            for url, warc_ts, lang, t in zip(
                en["url"], en["warc_ts"], en["lang"], text
            ):
                if not t:
                    continue
                # Exact-duplicate drop is PAGE-LOCAL here (same extraction
                # pass ⇒ same extractor version; same (url, mk_hash,
                # source_hash) ⇒ same page + same evidence text + same
                # triple), so the distill operator's shuffle is a no-op for
                # single-pass pipelines and is skipped (distill_stmts.py
                # semantics preserved; multi-version corpora still go
                # through operators/distill.py — see supplement).
                seen: set[tuple] = set()
                for sent_idx, sent in enumerate(_SENT_SPLIT.split(t.replace("\n", " "))):
                    for m in pat.finditer(sent):
                        # Bounded lookback: the longest qualifier prefix is
                        # "X99999Y mutant inactive " (~24 chars); scanning
                        # from 0 would be O(len·matches) on unpunctuated
                        # pages (one giant "sentence"). re evaluates \b at
                        # pos against the true preceding character, so the
                        # window start is semantics-neutral.
                        q = _QUAL.search(sent, max(0, m.start() - 32), m.start())
                        # Dedup on the CAPTURED groups, not raw matched
                        # text: two matches differing only in inter-token
                        # whitespace are the same statement + evidence
                        # (same mk_hash & source_hash downstream) — keying
                        # on m.group(0) would keep both here while
                        # distill()/the twin collapse them, breaking
                        # supplement == rebuild. First match wins
                        # (finditer order — deterministic).
                        key = (q.groups(), m.groups(), sent)
                        if key in seen:
                            continue
                        seen.add(key)
                        recs.append(
                            (
                                url,
                                EXTRACTOR_NAME,
                                extractor_version,
                                LX.TRIGGERS[m.group(4)],
                                m.group(1),   # subj
                                m.group(5),   # obj
                                m.group(6),   # residue
                                m.group(7),   # position
                                q.group(1),   # subj_mut_from
                                q.group(2),   # subj_mut_pos
                                q.group(3),   # subj_mut_to
                                q.group(4),   # subj_act
                                m.group(3),   # subj_bound_text
                                (m.group(2) is not None)
                                if m.group(3) is not None
                                else None,    # subj_bound_neg
                                sent_idx,
                                m.start(),
                                m.end(),
                                sent,
                                warc_ts,
                                lang,
                            )
                        )
            if recs:
                yield pd.DataFrame(recs, columns=[f.name for f in _EXTRACTED.fields])

    return pages.mapInPandas(read_batch, _EXTRACTED)


def extract_mentions(pages: DataFrame) -> DataFrame:
    """pages → entity mentions table (SURVEY.md §8.1 ``mentions``)."""
    from indra_db_spark.functions.hashing import fold_md5_64

    pages = pages.withColumn(
        "html",
        F.when(F.col("text").isNotNull(), F.lit(None).cast("binary")).otherwise(
            F.col("html")
        ),
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pat = re.compile(rf"\b({_entities()})\b")
        for pdf in batches:
            en = pdf[pdf["lang"] == "en"]
            if en.empty:
                continue
            text = _resolve_text(en)
            recs = []
            for url, t in zip(en["url"], text):
                if not t:
                    continue
                for sent_idx, sent in enumerate(_SENT_SPLIT.split(t.replace("\n", " "))):
                    for m in pat.finditer(sent):
                        recs.append((url, sent_idx, m.start(), m.end(), m.group(1), sent))
            if recs:
                yield pd.DataFrame(recs, columns=[f.name for f in _MENTION_COLS.fields])

    out = pages.mapInPandas(scan, _MENTION_COLS)
    return out.select(
        "url",
        fold_md5_64(
            F.concat_ws("|", "url", F.col("sent_idx").cast("string"),
                        F.col("start").cast("string"), "text")
        ).alias("mention_id"),
        "sent_idx",
        "start",
        "end",
        "text",
        "sentence",
    )
