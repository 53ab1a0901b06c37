"""Schema-drift detection for snapshot-registered tables.

``REGISTER CATALOG`` freezes each source table's schema into the
metastore (`RegisteredTable.schema_json` — the reference's
ingested-schema mechanism, `AbstractLightningCatalog.loadTable`
:266-271). Sources keep evolving underneath; this module reports the
diff between every frozen snapshot and the CURRENT source schema, so
operators can re-register (or fix the source) before queries start
failing with missing-column errors at resolution time
(`resolver._load_registered` raises on removed columns).

Driver-side metadata work only: schemas come from catalog metadata /
parquet footers / JDBC metadata, never a data scan — cost is per
registered table, independent of data volume.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from lightning_metastore_spark.session import local_frame

DRIFT_SCHEMA = ("table string, column string, change string, "
                "stored_type string, current_type string, "
                "upcast_ok boolean")


def schema_drift(ctx, ns: list[str]) -> DataFrame:
    """One row per drifted column across every snapshot table under
    ``lightning.metastore.<ns...>``:

    - ``removed``      column in the snapshot, gone from the source
      (queries through the snapshot WILL fail — highest severity)
    - ``added``        new source column the snapshot doesn't expose
    - ``type_changed`` same column, different type; ``upcast_ok`` is
      True when the new type still upcasts losslessly into the stored
      one (the ACTIVATE USL lattice — reads keep working via the
      ingested-schema cast), False when re-registration is required

    Tables with identical schemas produce no rows.
    """
    from lightning_metastore_spark.parser.dispatcher import type_accepts

    from lightning_metastore_spark.catalog.resolver import ResolutionError

    rows = []
    for name in ctx.metastore.list_tables(ns):
        t = ctx.metastore.load_table(ns, name)
        if t is None:
            continue
        stored = StructType.fromJson(json.loads(t.schema_json))
        src = t.source_fqn
        if src and src[0].lower() == "lightning":
            src = src[1:]
        try:
            current = ctx.resolver.load_table(src).schema
        except ResolutionError:
            # the whole source table is gone — the most severe drift;
            # report it instead of blowing up the sweep
            rows.append((name, "*", "source_missing", None, None, False))
            continue
        cur = {f.name: f.dataType.simpleString() for f in current.fields}
        old = {f.name: f.dataType.simpleString() for f in stored.fields}
        for col, dt in old.items():
            if col not in cur:
                rows.append((name, col, "removed", dt, None, False))
            elif cur[col] != dt:
                rows.append((name, col, "type_changed", dt, cur[col],
                             bool(type_accepts(dt, cur[col]))))
        for col, dt in cur.items():
            if col not in old:
                rows.append((name, col, "added", None, dt, True))
    return local_frame(ctx.spark, rows, DRIFT_SCHEMA)
