"""Generate PLANS.md: formatted physical plans for the headline queries,
with the scale-critical properties (pushdown, pruning, broadcasts,
partial aggregation, top-k) annotated. Evidence artifact for plan-quality
review; regenerate after planner-affecting changes:

    python tools/explain_all.py > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_revenue",
    "q_big_spenders",
    "q_events_sessionize",
    "catalog_federated_revenue",
    "dedup_neardup_suite",
    "ann_topk_suite",
    "text_lm_suite",
    "corpus_profile_suite",
    "curation_pipeline",
    "temporal_rollup",
]

KEEP = re.compile(
    r"^\s*[*+:]?[-\s]*(\(?\d+\)?\s)?(Scan|Filter|Project|BroadcastHashJoin|"
    r"SortMergeJoin|BroadcastNestedLoopJoin|HashAggregate|SortAggregate|"
    r"Exchange|Sort |TakeOrderedAndProject|Window|Expand|Generate|"
    r"BroadcastExchange|AQEShuffleRead|ReusedExchange|MapInPandas|"
    r"ArrowEvalPython|WholeStageCodegen|AdaptiveSparkPlan|InMemory)" , re.I)


def main() -> None:
    from lightning_metastore_spark.session import get_spark
    import __spark_entry__ as ep

    spark = get_spark("explain_all")
    spark.sparkContext.setLogLevel("ERROR")
    qs = ep.queries()
    sf_dir = "/root/testdata/sf0.01"

    print("# PLANS — physical plans of headline queries (sf0.01)")
    print()
    print("Generated by `python tools/explain_all.py`. Node lines only;")
    print("`PushedFilters`/`ReadSchema` retained to show scan-level")
    print("pushdown and column pruning. Guarded by tests/test_plan_quality.py.")
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        print(f"\n## {name}\n\n```")
        for line in plan.splitlines():
            if KEEP.search(line) or "PushedFilters" in line or "ReadSchema" in line:
                print(line[:160])
        print("```")


if __name__ == "__main__":
    main()
