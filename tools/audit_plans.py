"""Full-catalog physical-plan audit for the optimization round.

For EVERY registered query, constructs the plan at sf0.01 and records
the scale-review facts (exchange count, join strategies, Python-worker
nodes, scan schemas), then flags anti-patterns:

  - python_row: BatchEvalPython (row-at-a-time pickled UDF)
  - cartesian:  CartesianProduct (non-broadcast cross product)
  - wide_scan:  a parquet scan reading >12 columns (pruning suspect)
  - many_exch:  >8 shuffle exchanges in one plan
  - smj:        SortMergeJoin present (review: is a side broadcastable?)

Streaming queries execute a real drain on construction; they are
included (their cost is the fixed micro-batch machinery, not the plan).

Usage: python tools/audit_plans.py [out.json]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/plan_audit.json"
    import contextlib
    import io

    from simplemapreduce_spark import catalog
    from simplemapreduce_spark.session import get_spark

    catalog.load_all()
    spark = get_spark("plan-audit")
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    audit: dict[str, dict] = {}
    for name in sorted(catalog.QUERIES):
        t0 = time.perf_counter()
        try:
            df = catalog.QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001 — audit must not die mid-catalog
            audit[name] = {"error": f"{type(e).__name__}: {e}"}
            continue
        reads = re.findall(r"ReadSchema: struct<([^\n]*)", plan)
        flags = []
        if "BatchEvalPython" in plan:
            flags.append("python_row")
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        for r in reads:
            if r.count(",") + 1 > 12 and r.strip(">"):
                flags.append("wide_scan")
                break
        # formatted-mode plans put the operator name in "(n) Exchange"
        # detail headers; BroadcastExchange headers are separate.
        n_exch = len(re.findall(r"\(\d+\) Exchange\b", plan))
        if n_exch > 8:
            flags.append("many_exch")
        if "SortMergeJoin" in plan:
            flags.append("smj")
        plans_dir = os.environ.get("SMR_AUDIT_PLANS_DIR")
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        audit[name] = {
            "exchanges": n_exch,
            "broadcasts": plan.count("BroadcastExchange"),
            "joins": sorted(
                set(
                    re.findall(
                        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                        r"BroadcastNestedLoopJoin|CartesianProduct)\b",
                        plan,
                    )
                )
            ),
            "python": sorted(
                set(
                    re.findall(
                        r"\b(BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|"
                        r"MapInPandas|MapInArrow|FlatMapGroupsInPandasWithState|"
                        r"TransformWithStateInPandas)\b",
                        plan,
                    )
                )
            ),
            "n_scan_cols": [r.count(",") + 1 if r.strip(">") else 0 for r in reads],
            "flags": flags,
            "construct_s": round(time.perf_counter() - t0, 3),
        }
    with open(out_path, "w") as fh:
        json.dump(audit, fh, indent=1, sort_keys=True)
    flagged = {k: v for k, v in audit.items() if v.get("flags") or v.get("error")}
    print(json.dumps(flagged, indent=1, sort_keys=True))
    print(f"audited {len(audit)} queries; {len(flagged)} flagged -> {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
