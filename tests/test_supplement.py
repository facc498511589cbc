"""Incremental supplement == full rebuild (the H1 equivalence property),
plus the Structured Streaming wrapper."""

import glob
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from indra_db_spark.operators import extract as extract_op
from indra_db_spark.pipeline import run_pipeline
from indra_db_spark.sources.synth import source_expr as synth_source_expr, synth_pages
from indra_db_spark.streaming.supplement import supplement_corpus

N_OLD, N_NEW = 250, 120


def _pa_snapshot(df):
    return sorted(
        (r["mk_hash"], r["matches_key"], r["ev_count"],
         tuple(sorted(r["src_counts"].items())), round(r["belief"], 9))
        for r in df.select(
            "mk_hash", "matches_key", "ev_count", "src_counts", "belief"
        ).collect()
    )


@pytest.fixture(scope="module")
def dirs():
    inc, full = tempfile.mkdtemp(prefix="kg_inc_"), tempfile.mkdtemp(prefix="kg_full_")
    yield inc, full
    shutil.rmtree(inc, ignore_errors=True)
    shutil.rmtree(full, ignore_errors=True)


def test_supplement_equals_full_rebuild(spark, dirs):
    inc_dir, full_dir = dirs
    old_pages = synth_pages(spark, N_OLD, seed=42)
    # new batch: pages N_OLD..N_OLD+N_NEW — overlapping triples with old
    all_pages = synth_pages(spark, N_OLD + N_NEW, seed=42)
    doc_idx = F.regexp_extract("url", r"doc/(\d+)", 1).cast("long")
    new_pages = all_pages.where(doc_idx >= N_OLD)

    run_pipeline(spark, old_pages, inc_dir, pages_fingerprint="inc_old",
                 source_expr=synth_source_expr)
    tables = supplement_corpus(spark, inc_dir, new_pages,
                               source_expr=synth_source_expr)

    full = run_pipeline(spark, all_pages, full_dir, pages_fingerprint="full_all",
                        source_expr=synth_source_expr)

    assert _pa_snapshot(tables["pa_statements"]) == _pa_snapshot(
        full.tables["pa_statements"]
    )
    link_inc = sorted(map(tuple, tables["pa_link"].collect()))
    link_full = sorted(map(tuple, full.tables["pa_link"].collect()))
    assert link_inc == link_full
    ev_inc = sorted(
        map(tuple, tables["evidence"].select("mk_hash", "raw_id").collect())
    )
    ev_full = sorted(
        map(tuple, full.tables["evidence"].select("mk_hash", "raw_id").collect())
    )
    assert ev_inc == ev_full
    # incremental CC (r5): seeded-from-old-labels relabeling must equal
    # the full-corpus CC's labels exactly (both are min-member ids)
    groups_inc = sorted(
        map(tuple, tables["pa_groups"].select("mk_hash", "component_id").collect())
    )
    groups_full = sorted(
        map(tuple, full.tables["pa_groups"].select("mk_hash", "component_id").collect())
    )
    assert groups_inc == groups_full
    # the layout's in-file sort holds in every file, the partitions the
    # supplement rewrote included
    for base in (inc_dir, full_dir):
        for table in ("evidence", "pa_statements"):
            files = glob.glob(f"{base}/{table}/*/*.parquet")
            assert files, (base, table)
            for f in files:
                h = pq.read_table(f, columns=["mk_hash"])["mk_hash"].to_pylist()
                assert h == sorted(h), f


def test_supplement_is_idempotent(spark, dirs):
    """Re-applying the same batch changes nothing (deterministic raw_id
    anti-join — H3 late/duplicate handling)."""
    inc_dir, _ = dirs
    all_pages = synth_pages(spark, N_OLD + N_NEW, seed=42)
    doc_idx = F.regexp_extract("url", r"doc/(\d+)", 1).cast("long")
    new_pages = all_pages.where(doc_idx >= N_OLD)
    before = None
    from indra_db_spark.sources.storage import read_table

    before = _pa_snapshot(read_table(spark, f"{inc_dir}/pa_statements"))
    tables = supplement_corpus(spark, inc_dir, new_pages,
                               source_expr=synth_source_expr)
    assert _pa_snapshot(tables["pa_statements"]) == before


def test_supplement_rewrites_only_affected_evidence_partitions(spark, monkeypatch):
    """evidence is day-partitioned (SURVEY §8.1 days(warc_ts)); a
    supplement touching one crawl day must leave every other day
    partition's files byte-identical — the shim analog of an Iceberg
    MERGE's delete-file scope (VERDICT r2 #3: the unpartitioned table
    was fully rewritten on every incremental batch)."""
    import datetime as dt
    import glob
    import hashlib
    import os

    base = tempfile.mkdtemp(prefix="kg_part_")
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    try:
        rows = [
            ("https://ex0.org/a", dt.datetime(2024, 3, 1), None,
             "EGFRGEN activates KRASGEN.", "en"),
            ("https://ex0.org/b", dt.datetime(2024, 3, 2), None,
             "BRAFGEN inhibits MYCGEN.", "en"),
            ("https://ex0.org/c", dt.datetime(2024, 3, 3), None,
             "AKT1GEN binds MTORGEN.", "en"),
        ]
        pages = spark.createDataFrame(rows, schema)
        run_pipeline(spark, pages, base, pages_fingerprint="part0",
                     source_expr=synth_source_expr)

        def snap(pattern, required=True):
            out = {}
            for p in sorted(glob.glob(f"{base}/{pattern}/*")):
                with open(p, "rb") as f:
                    out[os.path.relpath(p, base)] = (
                        hashlib.md5(f.read()).hexdigest(), os.path.getmtime(p)
                    )
            if required:
                assert out, f"no files for {pattern}"
            return out

        before1 = snap("evidence/day=2024-03-01")
        before2 = snap("evidence/day=2024-03-02")
        # pa_statements / pa_link are bucket-partitioned — snapshot every
        # bucket dir; untouched ones must stay byte-identical too
        pa_before = {
            b: snap(f"pa_statements/bucket={b}", required=False)
            for b in range(16)
        }
        link_before = {
            b: snap(f"pa_link/bucket={b}", required=False) for b in range(16)
        }
        reread = spark.createDataFrame(
            [("https://ex0.org/c", dt.datetime(2024, 3, 3), None,
              "AKT1GEN phosphorylates MTORGEN.", "en")],
            schema,
        )
        monkeypatch.setattr(extract_op, "EXTRACTOR_VERSION", "3.0")
        tables = supplement_corpus(spark, base, reread,
                                   source_expr=synth_source_expr)
        # untouched partitions: identical content AND mtime (not rewritten)
        assert snap("evidence/day=2024-03-01") == before1
        assert snap("evidence/day=2024-03-02") == before2
        # pa bucket scoping: only buckets holding a dirty hash rewritten —
        # with 3 disjoint single-statement pages most buckets are untouched
        pa_after = {
            b: snap(f"pa_statements/bucket={b}", required=False)
            for b in range(16)
        }
        pa_unchanged = sum(
            1 for b in range(16) if pa_before[b] and pa_after[b] == pa_before[b]
        )
        pa_changed = sum(
            1 for b in range(16) if pa_before[b] and pa_after[b] != pa_before[b]
        )
        assert pa_unchanged >= 1 and pa_changed >= 1, (pa_unchanged, pa_changed)
        link_after = {
            b: snap(f"pa_link/bucket={b}", required=False) for b in range(16)
        }
        assert all(link_after[b] == link_before[b] for b in range(16))
        # the affected day serves only the superseding (v3.0) reading
        day3 = tables["evidence"].where(F.col("day") == "2024-03-03").collect()
        assert {r["evidence_text"] for r in day3} == {
            "AKT1GEN phosphorylates MTORGEN."
        }
        assert tables["evidence"].count() == 3
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_supplement_preserves_undated_kb_evidence(spark, monkeypatch):
    """Null-warc_ts (knowledgebase) evidence lands in the literal
    'undated' partition — when a supplement affects a KB-co-sourced hash,
    the undated partition is rewritten WITH its unaffected rows kept (a
    null day key would silently drop them: null keys never equi-match the
    partition-scoping joins while dynamic overwrite still replaces the
    default partition)."""
    import datetime as dt

    from indra_db_spark.operators.dedup import build_evidence
    from indra_db_spark.sources.knowledgebase import load_knowledgebase
    from indra_db_spark.sources.storage import LAYOUT, read_table, write_table

    base = tempfile.mkdtemp(prefix="kg_kb_")
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    try:
        pages = spark.createDataFrame(
            [("https://ex0.org/a", dt.datetime(2024, 3, 1), None,
              "EGFRGEN activates KRASGEN.", "en")],
            schema,
        )
        run_pipeline(spark, pages, base, pages_fingerprint="kb0",
                     source_expr=synth_source_expr)
        # KB batch: one triple sharing the page statement's mk_hash, one
        # unrelated — appended to raw, evidence rebuilt (the documented
        # A5/A7 load path)
        kb = load_knowledgebase(
            spark, "signor",
            [("Activation", "HGNC", "10002", "EGFR", "HGNC", "10003", "KRAS"),
             ("Inhibition", "HGNC", "10004", "BRAF", "HGNC", "10007", "MYC")],
        )
        write_table(
            kb, f"{base}/raw_statements", LAYOUT["raw_statements"],
            mode="append",
        )
        all_raw = read_table(spark, f"{base}/raw_statements").drop("day")
        write_table(
            build_evidence(all_raw), f"{base}/evidence", LAYOUT["evidence"]
        )
        ev0 = read_table(spark, f"{base}/evidence")
        assert ev0.where(F.col("day") == "undated").count() == 2

        # supersede the page's reading — its mk is ALSO the KB triple's mk
        reread = spark.createDataFrame(
            [("https://ex0.org/a", dt.datetime(2024, 3, 1), None,
              "EGFRGEN inhibits KRASGEN.", "en")],
            schema,
        )
        monkeypatch.setattr(extract_op, "EXTRACTOR_VERSION", "3.0")
        tables = supplement_corpus(spark, base, reread,
                                   source_expr=synth_source_expr)
        ev = tables["evidence"]
        und = {r["source"]: r["evidence_text"]
               for r in ev.where(F.col("day") == "undated").collect()}
        # BOTH KB rows survive: the affected-hash one regenerated, the
        # unrelated one untouched
        assert set(und) == {"kb_signor"}
        assert len(ev.where(F.col("day") == "undated").collect()) == 2
        # the superseded v2.0 page evidence is gone; v3.0 row present
        texts = {r["evidence_text"] for r in ev.collect()}
        assert "EGFRGEN inhibits KRASGEN." in texts
        assert "EGFRGEN activates KRASGEN." not in texts
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_supplement_mixed_dated_undated_batch_equals_rebuild(spark):
    """A batch mixing a dated page and an undated one (NULL warc_ts) must
    equal a full rebuild of old ∪ new — the undated rows in the literal
    'undated' day partition of raw_statements AND evidence — and
    re-applying the batch must change nothing."""
    import datetime as dt

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    old_rows = [
        ("https://ex0.org/a", dt.datetime(2024, 3, 1), None,
         "EGFRGEN activates KRASGEN.", "en"),
        ("https://ex0.org/b", dt.datetime(2024, 3, 2), None,
         "AKT1GEN binds MTORGEN.", "en"),
    ]
    new_rows = [
        ("https://ex1.org/c", dt.datetime(2024, 3, 9), None,
         "BRAFGEN activates KRASGEN.", "en"),
        # shares a statement with page a, plus one of its own
        ("https://ex1.org/d", None, None,
         "EGFRGEN activates KRASGEN. MYCGEN binds JUNGEN.", "en"),
    ]

    def snap(tables):
        return {
            "pa": _pa_snapshot(tables["pa_statements"]),
            "ev": sorted(map(tuple, tables["evidence"]
                             .select("mk_hash", "raw_id", "day").collect())),
            "raw": sorted(map(tuple, tables["raw_statements"]
                              .select("raw_id", "day").collect())),
            "groups": sorted(map(tuple, tables["pa_groups"]
                                 .select("mk_hash", "component_id").collect())),
        }

    inc = tempfile.mkdtemp(prefix="kg_undated_")
    full = tempfile.mkdtemp(prefix="kg_undated_full_")
    try:
        run_pipeline(spark, spark.createDataFrame(old_rows, schema), inc,
                     pages_fingerprint="u0", source_expr=synth_source_expr)
        batch = spark.createDataFrame(new_rows, schema)
        got = snap(supplement_corpus(spark, inc, batch,
                                     source_expr=synth_source_expr))
        want = snap(run_pipeline(
            spark, spark.createDataFrame(old_rows + new_rows, schema), full,
            pages_fingerprint="u1", source_expr=synth_source_expr,
        ).tables)
        assert got == want
        assert {d for _, d in got["raw"]} >= {"undated", "2024-03-09"}
        assert "undated" in {d for _, _, d in got["ev"]}
        again = snap(supplement_corpus(spark, inc, batch,
                                       source_expr=synth_source_expr))
        assert again == want
    finally:
        shutil.rmtree(inc, ignore_errors=True)
        shutil.rmtree(full, ignore_errors=True)


def test_streaming_wrapper(spark):
    from indra_db_spark.streaming.stream import incremental_assembly_stream

    base = tempfile.mkdtemp(prefix="kg_stream_")
    out_dir, stream_dir, ckpt = f"{base}/out", f"{base}/in", f"{base}/ckpt"
    try:
        run_pipeline(
            spark, synth_pages(spark, 100, seed=42), out_dir, pages_fingerprint="s0",
            source_expr=synth_source_expr
        )
        n0 = spark.read.parquet(f"{out_dir}/pa_statements").count()
        # drop a new batch of pages into the stream dir
        synth_pages(spark, 160, seed=42).where("url > 'https://ex9'").write.parquet(
            f"{stream_dir}/batch1"
        )
        q = incremental_assembly_stream(spark, f"{stream_dir}/*", out_dir, ckpt,
                                        source_expr=synth_source_expr)
        q.awaitTermination(120)
        n1 = spark.read.parquet(f"{out_dir}/pa_statements").count()
        assert n1 >= n0
        # restart with no new files → no-op
        q2 = incremental_assembly_stream(spark, f"{stream_dir}/*", out_dir, ckpt,
                                         source_expr=synth_source_expr)
        q2.awaitTermination(120)
        assert spark.read.parquet(f"{out_dir}/pa_statements").count() == n1
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_version_bump_supersedes_evidence(spark, monkeypatch):
    """A supplement batch re-reading urls at a HIGHER extractor version
    supersedes the old readings: pa_statements AND evidence match a full
    rebuild over the mixed-version raw log (the append-only evidence bug:
    stale rows from superseded readings must not survive)."""
    from indra_db_spark.operators.dedup import (
        build_evidence,
        build_pa_statements,
    )
    from indra_db_spark.operators.distill import distill
    from indra_db_spark.operators.extract import extract_statements
    from indra_db_spark.operators.grounding import ground_statements
    from indra_db_spark.sources import dims

    base = tempfile.mkdtemp(prefix="kg_vb_")
    try:
        pages = synth_pages(spark, 80, seed=42)
        run_pipeline(spark, pages, base, pages_fingerprint="vb_old",
                     source_expr=synth_source_expr)
        doc_idx = F.regexp_extract("url", r"doc/(\d+)", 1).cast("long")
        reread = pages.where(doc_idx >= 40)  # re-read half at a new version
        monkeypatch.setattr(extract_op, "EXTRACTOR_VERSION", "3.0")
        tables = supplement_corpus(
            spark, base, reread, source_expr=synth_source_expr
        )

        # expected: mixed-version raw log -> distill -> pa/evidence
        gm = dims.grounding_map_df(spark)
        raw_all = ground_statements(
            extract_statements(pages, "2.0"), gm, source_expr=synth_source_expr
        ).unionByName(
            ground_statements(
                extract_statements(reread, "3.0"), gm,
                source_expr=synth_source_expr,
            )
        )
        distilled = distill(raw_all)
        want_pa = sorted(
            (r["mk_hash"], r["ev_count"])
            for r in build_pa_statements(distilled).collect()
        )
        got_pa = sorted(
            (r["mk_hash"], r["ev_count"])
            for r in tables["pa_statements"].collect()
        )
        assert got_pa == want_pa
        want_ev = sorted(
            (r["mk_hash"], r["raw_id"])
            for r in build_evidence(distilled).collect()
        )
        got_ev = sorted(
            (r["mk_hash"], r["raw_id"])
            for r in tables["evidence"].select("mk_hash", "raw_id").collect()
        )
        assert got_ev == want_ev
        # no superseded v2.0 evidence survives on re-read urls
        stale = (
            tables["evidence"]
            .join(reread.select("url"), "url", "left_semi")
            .join(
                tables["raw_statements"].where(
                    F.col("extractor_version") == "2.0"
                ).select("raw_id"),
                "raw_id",
                "left_semi",
            )
        )
        assert stale.count() == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_append_manifest_row_count_accumulates(spark, tmp_path):
    """ADVICE r2: in append mode the manifest must describe the TABLE
    (prior + batch rows), not just the appended batch."""
    import json
    import os

    from indra_db_spark.sources.storage import read_manifest, write_table

    path = str(tmp_path / "t")
    df1 = spark.range(7).select(F.col("id").alias("k"))
    df2 = spark.range(5).select((F.col("id") + 100).alias("k"))
    write_table(df1, path)
    assert read_manifest(path)["row_count"] == 7
    write_table(df2, path, mode="append")
    m = read_manifest(path)
    assert m["row_count"] == 12
    assert spark.read.parquet(path).count() == 12


def test_supplement_rejects_pre_r3_corpus(spark):
    """A corpus missing the current layout markers (evidence day
    partitioning doctored away here) is rejected up front with an
    explicit rebuild-required error instead of dying mid-merge with an
    AnalysisException or rewriting the wrong partitions (ADVICE r3)."""
    import json

    base = tempfile.mkdtemp(prefix="kg_prer3_")
    try:
        pages = synth_pages(spark, 40, seed=11)
        run_pipeline(spark, pages, base, pages_fingerprint="pr0",
                     source_expr=synth_source_expr)
        mpath = f"{base}/evidence/_table_manifest.json"
        with open(mpath) as f:
            m = json.load(f)
        m["partition_by"] = []
        with open(mpath, "w") as f:
            json.dump(m, f)
        with pytest.raises(ValueError, match="rebuild"):
            supplement_corpus(spark, base, pages,
                              source_expr=synth_source_expr)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_supplement_rejects_corpus_missing_subj_column(spark):
    """A corpus whose raw_statements lacks the subj column entirely must
    get the same friendly rebuild-required ValueError, not an opaque
    KeyError from indexing the absent struct field (ADVICE r4, low)."""
    from indra_db_spark.sources import storage

    base = tempfile.mkdtemp(prefix="kg_nosubj_")
    try:
        pages = synth_pages(spark, 40, seed=12)
        run_pipeline(spark, pages, base, pages_fingerprint="ns0",
                     source_expr=synth_source_expr)
        path = f"{base}/raw_statements"
        # sever lineage from the very files the overwrite deletes
        doctored = storage.read_table(spark, path).drop("subj").localCheckpoint()
        storage.write_table(
            doctored, path, storage.LAYOUT["raw_statements"], mode="overwrite"
        )
        with pytest.raises(ValueError, match="rebuild"):
            supplement_corpus(spark, base, pages,
                              source_expr=synth_source_expr)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_incremental_cc_merges_old_components_bucket_scoped(spark):
    """r5 incremental CC: a batch statement refining two statements that
    live in DIFFERENT old components must merge them (labels equal the
    full rebuild's), and the pa_groups rewrite must touch ONLY the
    buckets holding the merged region's members — every other bucket
    directory stays byte-identical (mtime + content)."""
    import datetime as dt
    import glob
    import hashlib
    import os

    base = tempfile.mkdtemp(prefix="kg_inccc_")
    full = tempfile.mkdtemp(prefix="kg_inccc_full_")
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    try:
        # two sibling-gene statements: no refinement edge between them →
        # two singleton components; + filler spread across buckets
        old_rows = [
            ("https://ex0.org/a", dt.datetime(2024, 3, 1), None,
             "BRAFGEN activates KRASGEN.", "en"),
            ("https://ex0.org/b", dt.datetime(2024, 3, 1), None,
             "RAF1GEN activates KRASGEN.", "en"),
        ] + [
            (f"https://ex0.org/f{i}", dt.datetime(2024, 3, 2), None,
             f"{pair.split()[0]} binds {pair.split()[1]}.", "en")
            for i, pair in enumerate(
                ("MYCGEN JUNGEN", "FOSGEN STAT3GEN", "JAK2GEN SRCGEN",
                 "ABL1GEN MTORGEN", "CDK2GEN CCND1GEN", "RB1GEN PTENGEN",
                 "PIK3CAGEN NFKB1GEN", "IKBKBGEN TNFGEN", "IL6GEN TGFB1GEN",
                 "SMAD3GEN WNT1GEN", "CTNNB1GEN GSK3BGEN", "NOTCH1GEN HES1GEN",
                 "SHHGEN GLI1GEN", "HIF1AGEN VEGFAGEN"),
            )
        ]
        # batch: the family-level generalization — BOTH old statements
        # support it (BRAFGEN, RAF1GEN are RAFFAM members) → merge
        new_rows = [
            ("https://ex1.org/g", dt.datetime(2024, 3, 9), None,
             "RAFFAM activates KRASGEN.", "en"),
        ]
        old_pages = spark.createDataFrame(old_rows, schema)
        new_pages = spark.createDataFrame(new_rows, schema)
        run_pipeline(spark, old_pages, base, pages_fingerprint="icc0",
                     source_expr=synth_source_expr)

        def snap_buckets():
            out = {}
            for p in sorted(glob.glob(f"{base}/pa_groups/bucket=*/*")):
                with open(p, "rb") as f:
                    out[os.path.relpath(p, base)] = (
                        hashlib.md5(f.read()).hexdigest(), os.path.getmtime(p)
                    )
            return out

        before = snap_buckets()
        tables = supplement_corpus(spark, base, new_pages,
                                   source_expr=synth_source_expr)
        after = snap_buckets()

        run_pipeline(spark, old_pages.unionByName(new_pages), full,
                     pages_fingerprint="icc_full", source_expr=synth_source_expr)
        from indra_db_spark.sources.storage import read_table

        got = sorted(map(tuple, tables["pa_groups"]
                         .select("mk_hash", "component_id").collect()))
        want = sorted(map(tuple, read_table(spark, f"{full}/pa_groups")
                          .select("mk_hash", "component_id").collect()))
        assert got == want
        # the three merged statements share one component = min hash
        merged = [
            r["mk_hash"]
            for r in tables["raw_statements"].where(
                F.col("url").isin(
                    "https://ex0.org/a", "https://ex0.org/b", "https://ex1.org/g"
                )
            ).select("mk_hash").distinct().collect()
        ]
        assert len(merged) == 3
        labels = {c for h, c in got if h in set(merged)}
        assert labels == {min(merged)}
        # bucket scoping: only buckets holding a region member were touched
        from indra_db_spark.sources.storage import PA_BUCKETS

        region_buckets = {h % PA_BUCKETS for h in merged}
        changed = {
            p.split("/")[1] for p in set(after) | set(before)
            if before.get(p) != after.get(p)
        }
        assert changed == {f"bucket={b}" for b in region_buckets}, (
            changed, region_buckets)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(full, ignore_errors=True)


def test_crash_between_link_and_groups_writes_then_retry(spark, monkeypatch):
    """The coupled pa_link+pa_groups crash window (review r5): a retry
    after a crash between the two overwrites sees an EMPTY edge diff
    (pa_link already merged), so the diff-seeded incremental CC would
    miss the merge region and permanently split components the rebuild
    joins. The in-flight marker must route that retry through the
    self-healing full-CC recompute — labels equal the rebuild's."""
    import datetime as dt
    import os

    from indra_db_spark.sources import storage
    from indra_db_spark.sources.storage import read_table

    base = tempfile.mkdtemp(prefix="kg_crashcc_")
    full = tempfile.mkdtemp(prefix="kg_crashcc_full_")
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    try:
        # two singleton components that the batch's family-level
        # generalization merges (both BRAFGEN and RAF1GEN are RAFFAM
        # members) — the exact shape of the review's failure scenario
        old_rows = [
            ("https://ex0.org/a", dt.datetime(2024, 3, 1), None,
             "BRAFGEN activates KRASGEN.", "en"),
            ("https://ex0.org/b", dt.datetime(2024, 3, 1), None,
             "RAF1GEN activates KRASGEN.", "en"),
            ("https://ex0.org/c", dt.datetime(2024, 3, 2), None,
             "MYCGEN binds JUNGEN.", "en"),
        ]
        new_rows = [
            ("https://ex1.org/g", dt.datetime(2024, 3, 9), None,
             "RAFFAM activates KRASGEN.", "en"),
        ]
        old_pages = spark.createDataFrame(old_rows, schema)
        new_pages = spark.createDataFrame(new_rows, schema)
        run_pipeline(spark, old_pages, base, pages_fingerprint="ccc0",
                     source_expr=synth_source_expr)

        real = storage.scoped_overwrite

        def boom(df, table_path, part_col, scope_values):
            if table_path.endswith("pa_groups"):
                # pa_link is already overwritten; die before pa_groups
                raise RuntimeError("injected crash")
            return real(df, table_path, part_col, scope_values)

        monkeypatch.setattr(storage, "scoped_overwrite", boom)
        with pytest.raises(RuntimeError, match="injected crash"):
            supplement_corpus(spark, base, new_pages,
                              source_expr=synth_source_expr)
        monkeypatch.undo()
        # the crash left the in-flight marker; raw was NOT appended
        assert os.path.exists(f"{base}/_supplement_inflight.json")

        tables = supplement_corpus(spark, base, new_pages,
                                   source_expr=synth_source_expr)
        assert not os.path.exists(f"{base}/_supplement_inflight.json")

        run_pipeline(spark, old_pages.unionByName(new_pages), full,
                     pages_fingerprint="ccc_full", source_expr=synth_source_expr)
        got = sorted(map(tuple, tables["pa_groups"]
                         .select("mk_hash", "component_id").collect()))
        want = sorted(map(tuple, read_table(spark, f"{full}/pa_groups")
                          .select("mk_hash", "component_id").collect()))
        assert got == want
        assert _pa_snapshot(tables["pa_statements"]) == _pa_snapshot(
            read_table(spark, f"{full}/pa_statements")
        )
        # the healed corpus accepts further (incremental-path) batches
        before = sorted(map(tuple, tables["pa_groups"].collect()))
        tables2 = supplement_corpus(spark, base, new_pages,
                                    source_expr=synth_source_expr)
        assert sorted(map(tuple, tables2["pa_groups"].collect())) == before
    finally:
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(full, ignore_errors=True)


def test_gather_isin_fallback_equals_pruned_path(spark, monkeypatch):
    """The evidence gather's two modes — pruned filter-pushed read
    (dirty urls collectable) vs semi-join full scan (over the cap) —
    must produce identical corpora; GATHER_ISIN_MAX=0 forces the
    fallback on an otherwise identical supplement."""
    import datetime as dt

    from indra_db_spark.streaming import supplement

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    old_rows = [
        ("https://ex0.org/a", dt.datetime(2024, 3, 1), None,
         "BRAFGEN activates KRASGEN.", "en"),
        # same url re-crawled on ANOTHER day with a different statement:
        # the pruned path must gather BOTH days of the url, not just the
        # days its affected rows live on
        ("https://ex0.org/a", dt.datetime(2024, 3, 5), None,
         "BRAFGEN activates KRASGEN. MYCGEN binds JUNGEN.", "en"),
        ("https://ex0.org/b", dt.datetime(2024, 3, 2), None,
         "AKT1GEN binds MTORGEN.", "en"),
    ]
    new_rows = [
        # re-read of url a (supersedes) + a genuinely new page
        ("https://ex0.org/a", dt.datetime(2024, 3, 9), None,
         "RAF1GEN activates KRASGEN.", "en"),
        ("https://ex1.org/c", dt.datetime(2024, 3, 9), None,
         "EGFRGEN activates KRASGEN.", "en"),
    ]
    # NOTE: null-url pages are rejected much earlier (src_counts maps are
    # keyed by the url-derived source: NULL_MAP_KEY — rebuild and
    # supplement fail identically), so the gather's defensive null
    # filtering is unreachable on valid input and not fixture-testable.
    outs = {}
    bases = []
    try:
        for mode in ("pruned", "fallback"):
            if mode == "fallback":
                monkeypatch.setattr(supplement, "GATHER_ISIN_MAX", 0)
            base = tempfile.mkdtemp(prefix=f"kg_gather_{mode}_")
            bases.append(base)
            run_pipeline(spark, spark.createDataFrame(old_rows, schema), base,
                         pages_fingerprint="g0", source_expr=synth_source_expr)
            tables = supplement_corpus(
                spark, base, spark.createDataFrame(new_rows, schema),
                source_expr=synth_source_expr,
            )
            outs[mode] = {
                "pa": _pa_snapshot(tables["pa_statements"]),
                "ev": sorted(map(tuple, tables["evidence"]
                                 .select("mk_hash", "raw_id", "url").collect())),
                "groups": sorted(map(tuple, tables["pa_groups"]
                                     .select("mk_hash", "component_id").collect())),
            }
        assert outs["pruned"] == outs["fallback"]
        # the superseded day-5 re-read of url a must have been re-distilled
        # in both modes (its old extractor-version rows replaced)
        assert outs["pruned"]["ev"], "evidence empty — fixture degenerate"
    finally:
        for b in bases:
            shutil.rmtree(b, ignore_errors=True)
