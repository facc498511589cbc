"""Physical-plan health audit → PLANS.md.

For each audited query: does the filter reach the parquet scan
(PushedFilters), is the projection pruned (ReadSchema), which join
strategies got picked, and how wide are the WholeStageCodegen spans.
This is the '.explain and iterate' evidence the scale review asks for.

Usage: python tools/plan_audit.py [sf_dir] [--plans DIR [query ...]]

``--plans DIR`` writes each query's ``explain("formatted")`` text to
``DIR/<query>.txt`` (default: the AUDIT list; any query of
``__spark_entry__.queries()`` is accepted) and leaves PLANS.md alone —
diff two such dumps to compare the plans of two checkouts.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AUDIT = [
    "filter_predicates",
    "star_join",
    "semi_anti_join",
    "agg_rollup",
    "window_topk",
    "docs_ngram_jaccard",
    "docs_minhash_lsh",
    "embeddings_topk",
    "mk_hash",
    "docs_winnow",
    "docs_token_counts",
    "embeddings_ivf_ann",
    "docs_dup_clusters",
    "docs_repetition",
    "urls_canonical",
    "docs_pii_redacted",
    "docs_curated",
    "multimodal_headers",
    "docs_dedup_incremental",
]

JOIN_PAT = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"
)


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    args = sys.argv[1:]
    plans_dir = None
    if "--plans" in args:
        i = args.index("--plans")
        if i + 1 == len(args):
            sys.exit("usage: plan_audit.py [sf_dir] [--plans DIR [query ...]]")
        plans_dir, names = args[i + 1], args[i + 2 :] or AUDIT
        args = args[:i]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    import __spark_entry__ as em
    from indra_db_spark.session import get_spark

    spark = get_spark(app_name="plan_audit", master="local[8]")
    qs = em.queries()

    if plans_dir is not None:
        unknown = [n for n in names if n not in qs]
        if unknown:
            sys.exit(f"unknown queries: {unknown}")
        os.makedirs(plans_dir, exist_ok=True)
        for name in names:
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                f.write(_formatted(qs[name](spark, sf_dir)))
        print(f"wrote {len(names)} plans to {plans_dir}")
        return

    out = [
        "# PLANS — physical-plan audit (generated by tools/plan_audit.py)",
        "",
        f"Source: `{sf_dir}`. Checks: predicate pushdown, column pruning,",
        "join strategy, exchange count (plans are pre-execution AQE plans).",
        "",
    ]
    for name in AUDIT:
        p = _formatted(qs[name](spark, sf_dir))
        pushed = [l.strip() for l in p.splitlines() if "PushedFilters" in l and "[]" not in l]
        schemas = [
            l.strip()[len("ReadSchema: ") :]
            for l in (x.strip() for x in p.splitlines())
            if l.startswith("ReadSchema")
        ]
        joins = JOIN_PAT.findall(p)
        n_exch = p.count("Exchange")
        out += [
            f"## {name}",
            "",
            f"- joins: {joins or 'none'}",
            f"- exchanges: {n_exch} (pre-AQE; codegen spans appear only in final executed plans)",
            f"- pushed filters: {pushed or 'none (no filter in query)'}",
            "- read schemas (column pruning): "
            + ("; ".join(f"`{s[:110]}`" for s in schemas[:3]) or "n/a"),
            "",
        ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
