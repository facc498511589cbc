"""Checkpoint / lineage / idempotent-resume properties (SURVEY.md §8.8)."""

import glob
import json
import os
import shutil
import tempfile

from indra_db_spark.pipeline import run_pipeline
from indra_db_spark.sources import lexicon as LX
from indra_db_spark.sources.storage import read_manifest
from indra_db_spark.sources.synth import source_expr as synth_source_expr, synth_pages

N = 150


def _run(spark, out, fp="resume_t"):
    # wide ts stride → pages span several day-partitions (137 s would put
    # all 150 test pages on one day)
    pages = synth_pages(spark, N, seed=42, ts_stride_s=50000)
    return run_pipeline(spark, pages, out, pages_fingerprint=fp,
                        source_expr=synth_source_expr)


def test_rerun_is_noop_and_partition_manifests_exist(spark):
    out = tempfile.mkdtemp(prefix="kg_resume_")
    try:
        r1 = _run(spark, out)
        assert r1.skipped == []
        snap1 = read_manifest(f"{out}/pa_statements")["snapshot_id"]
        # per-partition lineage records exist for the day-partitioned stage
        parts = glob.glob(f"{out}/_manifest/stage=raw_statements/part=*.json")
        assert parts, "expected per-partition manifests"
        rec = json.load(open(parts[0]))
        assert rec["rows"] > 0
        # stage metrics carry throughput
        assert r1.metrics["raw_statements"]["rows_per_sec"] > 0

        r2 = _run(spark, out)
        assert set(r2.skipped) == {
            "raw_statements", "pa_base", "pa_link", "components", "belief", "meta",
        }
        assert read_manifest(f"{out}/pa_statements")["snapshot_id"] == snap1
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_dim_change_invalidates_exactly_its_stages(spark, tmp_path, monkeypatch):
    """The stage fingerprints hash each dim's driver rows: a changed
    prior recomputes belief and meta only, a changed grounding row every
    stage, and unchanged dims resume everything."""
    out = str(tmp_path / "kg")
    _run(spark, out)
    assert len(_run(spark, out).skipped) == 6
    snap = read_manifest(f"{out}/pa_statements")["snapshot_id"]

    priors = LX.prior_rows()
    priors[0] = (priors[0][0], 0.5, priors[0][2])
    monkeypatch.setattr(LX, "prior_rows", lambda: priors)
    r = _run(spark, out)
    assert r.skipped == ["raw_statements", "pa_base", "pa_link", "components"]
    # the recomputed beliefs are the new prior's, not the old corpus's
    assert read_manifest(f"{out}/pa_statements")["snapshot_id"] != snap

    grounding = LX.grounding_rows()
    grounding[0] = grounding[0][:3] + ("RENAMED",) + grounding[0][4:]
    monkeypatch.setattr(LX, "grounding_rows", lambda: grounding)
    assert _run(spark, out).skipped == []


def test_mid_stage_partition_resume(spark):
    """Kill the stage commit, keep some partition manifests → rerun only
    processes the missing days and converges to the same output."""
    out1 = tempfile.mkdtemp(prefix="kg_resA_")
    out2 = tempfile.mkdtemp(prefix="kg_resB_")
    try:
        r1 = _run(spark, out1)
        snap = read_manifest(f"{out1}/pa_statements")["snapshot_id"]

        # Simulate a mid-stage crash in out2: run fully, then delete the
        # stage commit + half the day partitions' data and manifests.
        _run(spark, out2)
        stage_dir = f"{out2}/_manifest/stage=raw_statements"
        os.remove(os.path.join(stage_dir, "_stage.json"))
        parts = sorted(glob.glob(os.path.join(stage_dir, "part=*.json")))
        assert len(parts) >= 2
        killed_days = []
        for p in parts[: len(parts) // 2]:
            killed_days.append(json.load(open(p))["partition"])
            os.remove(p)
        for day in killed_days:
            shutil.rmtree(f"{out2}/raw_statements/day={day}", ignore_errors=True)
        # downstream stages must also recompute: nuke their commits
        for s in ["pa_base", "pa_link", "components", "belief", "meta"]:
            os.remove(f"{out2}/_manifest/stage={s}/_stage.json")

        r2 = _run(spark, out2)
        assert "raw_statements" not in r2.skipped
        assert read_manifest(f"{out2}/pa_statements")["snapshot_id"] == snap
        assert (
            read_manifest(f"{out2}/raw_statements") is not None
            and r2.tables["raw_statements"].count()
            == r1.tables["raw_statements"].count()
        )
    finally:
        shutil.rmtree(out1, ignore_errors=True)
        shutil.rmtree(out2, ignore_errors=True)


def test_partial_resume_keeps_undated_pages(spark):
    """A page without a crawl timestamp lands in the 'undated' day
    partition; a partial resume that lost that partition must re-extract
    the page (a NULL day would make the ``not in done days`` filter drop
    it), converging to the uninterrupted run's output."""
    import datetime as dt

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    pages = spark.createDataFrame(
        [
            ("https://ex0.org/a", dt.datetime(2024, 3, 1), None,
             "EGFRGEN activates KRASGEN.", "en"),
            ("https://ex0.org/b", dt.datetime(2024, 3, 2), None,
             "AKT1GEN binds MTORGEN.", "en"),
            ("https://ex1.org/c", None, None, "BRAFGEN activates KRASGEN.", "en"),
        ],
        schema,
    )
    out1 = tempfile.mkdtemp(prefix="kg_resU_")
    out2 = tempfile.mkdtemp(prefix="kg_resV_")
    try:
        r1 = run_pipeline(spark, pages, out1, pages_fingerprint="u",
                          source_expr=synth_source_expr)
        snap = read_manifest(f"{out1}/pa_statements")["snapshot_id"]
        run_pipeline(spark, pages, out2, pages_fingerprint="u",
                     source_expr=synth_source_expr)
        # lose the stage commit and every non-date partition (data and
        # manifest); the two dated days stay done
        stage_dir = f"{out2}/_manifest/stage=raw_statements"
        os.remove(os.path.join(stage_dir, "_stage.json"))
        for p in glob.glob(os.path.join(stage_dir, "part=*.json")):
            if not str(json.load(open(p))["partition"]).startswith("2024-"):
                os.remove(p)
        for d in glob.glob(f"{out2}/raw_statements/day=*"):
            if not os.path.basename(d).startswith("day=2024-"):
                shutil.rmtree(d)
        for s in ["pa_base", "pa_link", "components", "belief", "meta"]:
            os.remove(f"{out2}/_manifest/stage={s}/_stage.json")

        r2 = run_pipeline(spark, pages, out2, pages_fingerprint="u",
                          source_expr=synth_source_expr)
        assert "raw_statements" not in r2.skipped
        assert sorted(
            map(tuple, r2.tables["raw_statements"].select("raw_id", "day").collect())
        ) == sorted(
            map(tuple, r1.tables["raw_statements"].select("raw_id", "day").collect())
        )
        assert read_manifest(f"{out2}/pa_statements")["snapshot_id"] == snap
    finally:
        shutil.rmtree(out1, ignore_errors=True)
        shutil.rmtree(out2, ignore_errors=True)


def test_changed_fingerprint_invalidates(spark):
    out = tempfile.mkdtemp(prefix="kg_resC_")
    try:
        _run(spark, out, fp="fp_a")
        r2 = _run(spark, out, fp="fp_b")
        assert "raw_statements" not in r2.skipped
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_changed_source_expr_invalidates(spark, tmp_path):
    """Review r2: the stage fingerprint must derive from the RESOLVED
    source expression, not the callable's __name__ — two different
    lambdas must not collide into a silently-stale rerun."""
    from pyspark.sql import functions as F

    from indra_db_spark.pipeline import run_pipeline
    from indra_db_spark.sources.synth import synth_pages

    out = str(tmp_path / "kg")
    pages = synth_pages(spark, 60, seed=42)
    run_pipeline(spark, pages, out, pages_fingerprint="v60",
                 source_expr=lambda u: F.lit("alpha"))
    r2 = run_pipeline(spark, pages, out, pages_fingerprint="v60",
                      source_expr=lambda u: F.lit("beta"))
    assert "raw_statements" not in r2.skipped
    srcs = {r["source"] for r in r2.tables["raw_statements"].select("source").distinct().collect()}
    assert srcs == {"beta"}
    # identical expression -> still resumes
    r3 = run_pipeline(spark, pages, out, pages_fingerprint="v60",
                      source_expr=lambda u: F.lit("beta"))
    assert "raw_statements" in r3.skipped
    # a Column is tagged by its own expression: a different Column
    # invalidates, the same Column resumes
    r4 = run_pipeline(spark, pages, out, pages_fingerprint="v60",
                      source_expr=F.lit("gamma"))
    assert "raw_statements" not in r4.skipped
    srcs = {r["source"] for r in r4.tables["raw_statements"].select("source").distinct().collect()}
    assert srcs == {"gamma"}
    r5 = run_pipeline(spark, pages, out, pages_fingerprint="v60",
                      source_expr=F.lit("gamma"))
    assert "raw_statements" in r5.skipped


def test_torn_manifest_means_uncommitted(spark, tmp_path):
    """Review r2: a truncated stage manifest (crash mid-write before the
    atomic-rename fix existed) must read as 'not committed', not crash."""
    from indra_db_spark.lineage import LineageLog

    log = LineageLog(str(tmp_path))
    log.commit_stage("s1", "fpA", 1.0, 10, partition_counts={"d1": 10})
    assert log.completed("s1", "fpA")
    with open(log._stage_path("s1"), "w") as f:
        f.write('{"stage": "s1", "input_fing')  # torn
    assert not log.completed("s1", "fpA")
    assert log.read("s1") is None
    # torn partition manifest: that partition just doesn't count
    import os

    d = log._stage_dir("s1")
    part = [n for n in os.listdir(d) if n.startswith("part=")][0]
    with open(os.path.join(d, part), "w") as f:
        f.write("{")
    assert log.completed_partitions("s1", "fpA") == set()


def test_mid_commit_crash_does_not_duplicate(spark, tmp_path):
    """Review r4: crash between write_table and the full commit_stage
    (table complete, SOME part manifests written, no stage commit) —
    resume must replace the 'missing' days, never append duplicates."""
    import os

    from indra_db_spark.lineage import LineageLog
    from indra_db_spark.pipeline import run_pipeline
    from indra_db_spark.sources.synth import synth_pages

    out = str(tmp_path / "kg")
    pages = synth_pages(spark, 120, seed=42)
    r1 = run_pipeline(spark, pages, out, pages_fingerprint="v120")
    n_raw = r1.tables["raw_statements"].count()

    # simulate the mid-commit crash: drop the stage commit and HALF the
    # part manifests, leave ALL the data on disk
    log = LineageLog(out)
    os.remove(log._stage_path("raw_statements"))
    d = log._stage_dir("raw_statements")
    parts = sorted(n for n in os.listdir(d) if n.startswith("part="))
    for name in parts[: len(parts) // 2]:
        os.remove(os.path.join(d, name))

    r2 = run_pipeline(spark, pages, out, pages_fingerprint="v120")
    assert "raw_statements" not in r2.skipped
    assert r2.tables["raw_statements"].count() == n_raw  # no duplicates
