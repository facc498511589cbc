"""Layered benchmark of the indra_db_spark knowledge-graph engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 8 --trace 0

Runs one workload (see README.md) on a local[4] Spark session and prints,
as the last line of stdout, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` enables the Spark event log and reports
the per-layer metrics instead. Progress goes to stderr.

All generated data lives under ``.perfbench_work/`` in the repository
root: the base corpus is built there once per library version (before the
measured session starts) and reused, per-run scratch is removed on exit, and a traced run leaves its event log and per-layer JSON
in ``.perfbench_work/trace/<workload>/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MB = 1024 * 1024
DRIVER_MEM = "2g"  # the session default (16g) exceeds a 15 GB, 4-core host


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _environment(run_dir: str) -> None:
    """Make the run independent of the caller's working directory and
    environment, and keep every file it writes inside the work area."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python UDF workers import indra_db_spark: without the repository on
    # their PYTHONPATH they fail with ModuleNotFoundError
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def start_spark(run_dir: str, trace: bool):
    from indra_db_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{events}",
        }
    return get_spark(app_name="perfbench", master="local[4]", extra_conf=conf)


def _peak_rss_mb(spark) -> float:
    """High-water resident set size of the Spark JVM (VmHWM)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin pipe from this process closes)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def end_to_end(out) -> dict:
    return {
        "setup_s": (statistics.median(out.setup_s), "s"),
        "op_ms": (1000 * statistics.median(out.op_s), "ms"),
        "work_per_s": (out.items / sum(out.op_s), "1/s"),
    }


def per_layer(out, usages: dict, units: dict[str, str]) -> dict:
    """Every per-layer metric; a layer the workload does not run reads 0."""
    import eventlog
    import workloads

    v = dict.fromkeys(units, 0.0)
    v |= {k: x for k, x in out.layers.items() if k in v}
    v["trace.op_ms"] = 1000 * statistics.median(out.op_s)

    def fill(prefix: str, u) -> None:
        v[f"{prefix}.task_s"] = u.task_ms / 1000
        v[f"{prefix}.shuffle_write_mb"] = u.shuffle_write_bytes / MB
        v[f"{prefix}.spill_mb"] = u.spill_bytes / MB
        v[f"{prefix}.skew"] = u.skew()

    for s in workloads.STAGES:
        if f"stage:{s}" in usages:
            fill(s, usages[f"stage:{s}"])
    if "stage:raw_statements" in usages:
        v["storage.write_mb"] = eventlog.total(usages, "stage:").output_bytes / MB
    if "supplement" in usages:
        u = usages["supplement"]
        fill("supplement", u)
        v["supplement.input_mb"] = u.input_bytes / MB
        v["supplement.output_mb"] = u.output_bytes / MB
        v["supplement.jobs"] = u.jobs
    for desc, u in usages.items():
        if desc.startswith("q:"):
            v[f"q.{desc[2:]}.shuffle_write_mb"] = u.shuffle_write_bytes / MB
    req = eventlog.total(usages, "req:")
    if req.jobs:
        n = out.layers["serve.requests"]
        v["plans.jobs_per_req"] = req.jobs / n
        v["plans.tasks_per_req"] = req.tasks / n
        v["plans.input_mb_per_req"] = req.input_bytes / MB / n
        v["plans.rows_scanned_per_row_returned"] = req.input_records / max(
            out.layers["serve.rows_returned"], 1
        )
    return {k: (x, units[k]) for k, x in v.items()}


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _run(args, run_dir: str):
    """Run one workload; returns its outcome and the metrics to report."""
    import eventlog
    import inputs
    import workloads

    base = (
        inputs.base_corpus(ROOT, WORK, log) if args.workload in workloads.NEEDS_BASE_CORPUS
        else None
    )
    t0 = time.perf_counter()
    spark = start_spark(run_dir, bool(args.trace))
    log(f"spark up in {time.perf_counter() - t0:.1f}s")
    try:
        bench = workloads.Bench(
            spark=spark, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), plant=args.plant, base=base,
            run_dir=run_dir, log=log,
        )
        out = workloads.WORKLOADS[args.workload](bench)
        out.layers["jvm.peak_rss_mb"] = _peak_rss_mb(spark)
    finally:
        stop_spark(spark)
    if not args.trace:
        return out, end_to_end(out)
    events = eventlog.find_log(os.path.join(run_dir, "events"))
    metrics = per_layer(out, eventlog.usage_by_description(events), _per_layer_units())
    keep = os.path.join(WORK, "trace", args.workload)
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    shutil.copy(events, os.path.join(keep, "eventlog.json"))
    with open(os.path.join(keep, "layers.json"), "w") as f:
        json.dump({k: x for k, (x, _) in metrics.items()}, f, indent=1)
    log(f"event log and per-layer JSON kept in {keep}")
    return out, metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--plant", action="store_true",
        help="self-test: corrupt every output before its check",
    )
    args = ap.parse_args()

    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    _environment(run_dir)

    try:
        out, metrics = _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(
        f"{args.workload}: {out.attempted} ops, {out.failed} failed, "
        f"op walls {[round(x, 3) for x in out.op_s]}, setup {[round(x, 3) for x in out.setup_s]}"
    )
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": x, "unit": u} for k, (x, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
