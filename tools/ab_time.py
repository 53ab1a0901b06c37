"""Interleaved A/B timing for declared queries (the r15 adjudication
protocol): run the named queries in one warm session, alternating
passes, report min/median per query. Use to validate an optimization
against ambient drift — run from the OLD tree and the NEW tree in the
same machine state, or pass two refs via PYTHONPATH wrappers.

Usage: python tools/ab_time.py <n_passes> <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    n = int(sys.argv[1])
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as ep
    from lightning_metastore_spark.session import get_spark

    spark = get_spark("ab-time")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qs = ep.queries()
    # warm pass (untimed): session caches, JIT, page cache
    for name in names:
        qs[name](spark, sf_dir).collect()
    out: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(n):
        for name in names:
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).collect()
            out[name].append(round(time.perf_counter() - t0, 3))
    res = {name: {"min": min(ts), "med": round(statistics.median(ts), 3),
                  "runs": ts} for name, ts in out.items()}
    print(json.dumps(res, indent=1))


if __name__ == "__main__":
    main()
