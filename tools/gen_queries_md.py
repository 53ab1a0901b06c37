"""Generate QUERIES.md — the index of every gate query: what it
exercises and whether it is DuckDB-oracle-backed or rows-only.

    python tools/gen_queries_md.py > QUERIES.md
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    from lightning_metastore_spark.plans.queries import RELATIONAL_QUERIES
    from lightning_metastore_spark.plans.pipeline_queries import PIPELINE_QUERIES

    print("# QUERIES — the correctness-gate registry")
    print()
    print("Every entry in `__spark_entry__.queries()`; oracle ✅ = the")
    print("driver compares the Spark result against the DuckDB SQL")
    print("(row count + schema + value hash). Generated by")
    print("`python tools/gen_queries_md.py`.")
    for title, reg in (("Relational surface (delegated to Catalyst)",
                        RELATIONAL_QUERIES),
                       ("Catalog, pipeline and streaming operators",
                        PIPELINE_QUERIES)):
        print(f"\n## {title}\n")
        print("| query | exercises | oracle |")
        print("|---|---|---|")
        for name, spec in reg.items():
            oracle = "✅" if spec.oracle else "rows-only"
            print(f"| `{name}` | {spec.doc} | {oracle} |")
    n = len(RELATIONAL_QUERIES) + len(PIPELINE_QUERIES)
    n_oracle = sum(1 for r in (RELATIONAL_QUERIES, PIPELINE_QUERIES)
                   for s in r.values() if s.oracle)
    print(f"\n**{n} queries, {n_oracle} oracle-backed.**")


if __name__ == "__main__":
    main()
