"""Generate PLANS.md — physical-plan fingerprints for the bench set.

For every bench query (legacy + extended headline sets), records the
scan schemas (column pruning evidence), exchange count (shuffle
budget), join strategies, and whether Python workers appear in the
plan — the four facts a scale review checks first. Regenerate after
plan-affecting changes: ``python tools/gen_plan_manifest.py``.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def fingerprint(plan: str) -> dict:
    reads = sorted(set(re.findall(r"ReadSchema: (struct<[^\n]*)", plan)))
    joins = sorted(
        set(
            re.findall(
                r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)\b",
                plan,
            )
        )
    )
    return {
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("hashpartitioning("),
        "broadcasts": plan.count("BroadcastExchange"),
        "joins": joins,
        "python": bool(
            re.search(r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas|MapInArrow", plan)
        ),
        "reads": reads,
    }


def main() -> None:
    import bench
    from simplemapreduce_spark import catalog
    from simplemapreduce_spark.session import get_spark

    catalog.load_all()
    spark = get_spark("plan-manifest")
    lines = [
        "# PLANS — bench-set physical-plan fingerprints",
        "",
        "Generated by `tools/gen_plan_manifest.py` at sf0.01 (plan shapes are",
        "SF-independent apart from AQE runtime rewrites). Columns: shuffle",
        "exchange count / broadcast exchange count / join strategies /",
        "Python-worker stages / pruned scan schemas.",
        "",
        "| query | exch | bcast | joins | python | scans (pruned) |",
        "|---|---|---|---|---|---|",
    ]
    for name in bench.HEADLINE + bench.EXTENDED:
        fn = catalog.QUERIES[name]
        try:
            df = fn(spark, os.environ["SPARK_GRAFT_SF_DIR"])
            plan = df._jdf.queryExecution().explainString(
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # streaming drains execute eagerly; skip cleanly
            lines.append(f"| `{name}` | — | — | executes eagerly ({type(e).__name__}) | — | — |")
            continue
        fp = fingerprint(plan)
        reads = "<br>".join(
            f"`{r[:90]}`" for r in fp["reads"][:4]
        ) or "(in-memory)"
        lines.append(
            f"| `{name}` | {fp['exchanges']} | {fp['broadcasts']} | "
            f"{', '.join(fp['joins']) or '—'} | "
            f"{'yes' if fp['python'] else 'no'} | {reads} |"
        )
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"PLANS.md: {len(bench.HEADLINE + bench.EXTENDED)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
