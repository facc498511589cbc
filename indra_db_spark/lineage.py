"""Per-stage / per-partition checkpoint, lineage & metrics manifests.

Analog of the reference's bookkeeping tables (principal_schema.py:
``updates``, ``reading_updates``, ``preassembly_updates`` — watermarks that
make every CLI stage incremental) generalized per BASELINE.json north_star:
"checkpoints per-partition with lineage + throughput metrics, resumes
idempotently mid-stage".

Layout under ``<out_dir>/_manifest/``:

    stage=<name>/_stage.json            stage-level record
    stage=<name>/part=<value>.json      per-partition record (row counts)

A stage record carries the **input fingerprint** (hash of upstream snapshot
ids + stage params); resume skips a stage iff its recorded fingerprint
matches the current one AND its output manifest exists — so editing params
or regenerating input invalidates exactly the right suffix of the DAG.
All outputs are written with deterministic ids + full-partition overwrite,
so a re-run of a half-completed stage is idempotent.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from indra_db_spark.sources.storage import _write_json_atomic


def fingerprint(*parts: object) -> str:
    return hashlib.md5(
        "|".join(str(p) for p in parts).encode("utf-8")
    ).hexdigest()


class LineageLog:
    def __init__(self, out_dir: str):
        self.root = os.path.join(out_dir, "_manifest")

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, f"stage={stage}")

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "_stage.json")

    def completed(self, stage: str, input_fingerprint: str) -> bool:
        rec = self.read(stage)
        return rec is not None and rec.get("input_fingerprint") == input_fingerprint

    def read(self, stage: str) -> dict | None:
        """None for missing OR unreadable (torn-write) manifests — an
        undecodable commit pointer means 'not committed', never a crash
        that bricks every later resume."""
        p = self._stage_path(stage)
        if not os.path.exists(p):
            return None
        try:
            with open(p) as f:
                return json.load(f)
        except json.JSONDecodeError:
            return None

    def commit_stage(
        self,
        stage: str,
        input_fingerprint: str,
        wall_secs: float,
        rows_out: int,
        partition_counts: dict[str, int] | None = None,
        **extra: object,
    ) -> None:
        d = self._stage_dir(stage)
        os.makedirs(d, exist_ok=True)
        if partition_counts:
            for part, n in partition_counts.items():
                safe = str(part).replace("/", "_")
                _write_json_atomic(
                    os.path.join(d, f"part={safe}.json"),
                    {
                        "partition": str(part),
                        "rows": n,
                        "input_fingerprint": input_fingerprint,
                    },
                )
        rec = {
            "stage": stage,
            "input_fingerprint": input_fingerprint,
            "wall_secs": round(wall_secs, 3),
            "rows_out": rows_out,
            "rows_per_sec": round(rows_out / wall_secs, 1) if wall_secs > 0 else None,
            "committed_at_unix": int(time.time()),
            **extra,
        }
        # Manifest written last = the atomic commit pointer (temp+rename:
        # a crash mid-write must leave old-or-nothing, not torn JSON).
        _write_json_atomic(self._stage_path(stage), rec)

    def completed_partitions(self, stage: str, input_fingerprint: str) -> set[str]:
        """Partitions committed for this stage under ``input_fingerprint``
        — a partial resume must never trust partitions from a run with
        different inputs/params."""
        d = self._stage_dir(stage)
        if not os.path.isdir(d):
            return set()
        out = set()
        for name in os.listdir(d):
            if name.startswith("part=") and name.endswith(".json"):
                try:
                    with open(os.path.join(d, name)) as f:
                        rec = json.load(f)
                except json.JSONDecodeError:
                    continue  # torn write = that partition not committed
                if rec.get("input_fingerprint") != input_fingerprint:
                    continue
                out.add(str(rec["partition"]))
        return out

    def clear_stage(self, stage: str) -> None:
        """Drop a stage's commit + partition records (fingerprint-
        invalidated rerun: the stage's outputs are about to be rebuilt from
        scratch, so stale bookkeeping must not survive either)."""
        d = self._stage_dir(stage)
        if not os.path.isdir(d):
            return
        for name in os.listdir(d):
            if name == "_stage.json" or (
                name.startswith("part=") and name.endswith(".json")
            ):
                os.remove(os.path.join(d, name))

    def all_stages(self) -> dict[str, dict]:
        if not os.path.isdir(self.root):
            return {}
        out = {}
        for name in sorted(os.listdir(self.root)):
            if name.startswith("stage="):
                rec = self.read(name[len("stage=") :])
                if rec:
                    out[name[len("stage=") :]] = rec
        return out
