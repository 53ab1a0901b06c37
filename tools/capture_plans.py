"""Capture .explain("formatted") for declared queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [suffix] [query ...]
Writes plans/<tag>/<query>_<suffix>.txt (suffix default "before").
Queries whose build runs driver-side actions (the lakehouse gate) are
built as usual — the plan captured is the final returned DataFrame's.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r17"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])

    import __spark_entry__ as ep
    from lightning_metastore_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name, build in ep.queries().items():
        if only and name not in only:
            continue
        try:
            df = build(spark, sf_dir)
            import contextlib
            import io
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building {name}: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"captured {name}", file=sys.stderr)


if __name__ == "__main__":
    main()
