"""Shared MERGE clause semantics: ordered, optionally-conditional
WHEN MATCHED [AND c] THEN UPDATE/DELETE and WHEN NOT MATCHED [AND c]
THEN INSERT clauses, compiled to Spark Column expressions over the
joined (target-alias, source-alias) row.

ANSI/Delta semantics implemented here (Spark's own MERGE and the
reference's Iceberg MERGE both follow them):

- clauses are evaluated IN ORDER; the FIRST clause whose condition
  holds claims the row; rows claimed by no clause pass through
  unchanged (matched) or are not inserted (not matched);
- an unconditional clause anywhere but last makes later clauses of
  the same group unreachable — rejected at parse/validate time;
- the duplicate-match cardinality error applies only when WHEN
  MATCHED clauses exist, and is then independent of clause
  conditions (a target row matched twice is ambiguous even when only
  one match satisfies a condition — delta-spark raises the same
  way). An insert-only MERGE against a duplicate-key source is LEGAL
  (delta-spark parity): the matched source rows simply don't insert.

Used by `delta_reader.merge_into_delta`,
`iceberg_writer.merge_into_iceberg`, and the dispatcher's plain
file-table fallback, so the three paths cannot drift.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import Column, functions as F


class MergeClauseError(Exception):
    pass


_EQUI_CONJ_RE = re.compile(
    r"^\s*(?:`([^`]+)`|(\w+))\s*\.\s*(?:`([^`]+)`|(\w+))"
    r"\s*=\s*"
    r"(?:`([^`]+)`|(\w+))\s*\.\s*(?:`([^`]+)`|(\w+))\s*$")


def _split_top_and(cond: str) -> Optional[list[str]]:
    """Split on top-level (paren-depth-0, quote-aware) ANDs; None when
    a top-level OR exists — then NO piece is a conjunct of the whole
    expression (`x AND y OR z` parses as `(x AND y) OR z`)."""
    parts, buf, depth, i, n = [], [], 0, 0, len(cond)
    saw_or = False
    while i < n:
        ch = cond[i]
        if ch in "'\"":
            q = ch
            j = i + 1
            while j < n and cond[j] != q:
                j += 1
            buf.append(cond[i:j + 1])
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0 and ch in "aAoO":
            word = cond[i:i + 3].upper()
            before = cond[i - 1] if i else " "
            if (word == "AND" and not before.isalnum()
                    and before != "_"
                    and (i + 3 >= n or not (cond[i + 3].isalnum()
                                            or cond[i + 3] == "_"))):
                parts.append("".join(buf))
                buf = []
                i += 3
                continue
            word2 = cond[i:i + 2].upper()
            if (word2 == "OR" and not before.isalnum()
                    and before != "_"
                    and (i + 2 >= n or not (cond[i + 2].isalnum()
                                            or cond[i + 2] == "_"))):
                saw_or = True
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return None if saw_or else parts


def equi_key_pairs(on_cond: str, target_alias: str,
                   source_alias: str) -> list[tuple[str, str]]:
    """(target_col, source_col) pairs from the top-level equi-join
    conjuncts of a MERGE ON condition — the handles for file-skipping
    the discovery scan (source key bounds prune target files whose
    stats prove no key can match). Pairs are extracted from a SUBSET
    of conjuncts, which is sound for pruning (it over-approximates
    the match set); a top-level OR yields [] (no conjunct of the
    whole expression is certain)."""
    parts = _split_top_and(on_cond)
    if parts is None:
        return []
    ta, sa = target_alias.lower(), source_alias.lower()
    pairs = []
    for p in parts:
        # strip one level of wrapping parens: `(t.id = s.id)` — only
        # when the opening paren really matches the closing one
        q = p.strip()
        while q.startswith("(") and q.endswith(")"):
            depth = 0
            wraps = True
            for k, ch in enumerate(q):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0 and k != len(q) - 1:
                        wraps = False
                        break
            if not wraps or depth != 0:
                break
            q = q[1:-1].strip()
        m = _EQUI_CONJ_RE.match(q)
        if not m:
            continue
        la = (m.group(1) or m.group(2)).lower()
        lc = m.group(3) or m.group(4)
        ra = (m.group(5) or m.group(6)).lower()
        rc = m.group(7) or m.group(8)
        if la == ta and ra == sa:
            pairs.append((lc, rc))
        elif la == sa and ra == ta:
            pairs.append((rc, lc))
    return pairs


def source_prune_conjuncts(src, pairs: list[tuple[str, str]],
                           max_in: int = 200) -> list[tuple]:
    """[(target_col, op, literal)] prune conjuncts from ONE small agg
    over the (localCheckpointed) MERGE source: per equi key, min/max
    bounds always, plus the exact distinct set (strictly tighter `in`
    pruning) when it is small. This is delta-spark's merge file
    skipping — the difference between a 10-row upsert touching one
    file and scanning 100 TB to find it. Sound: pruned conjuncts
    over-approximate the source keys, and the stats pruner itself
    keeps any file it cannot disprove."""
    if not pairs:
        return []
    src_cols = {c.lower(): c for c in src.columns}
    pairs = [(t, src_cols[s.lower()]) for t, s in pairs
             if s.lower() in src_cols]
    if not pairs:
        return []
    aggs = []
    for i, (_t, s) in enumerate(pairs):
        aggs.append(F.min(F.col(f"`{s}`")).alias(f"mn{i}"))
        aggs.append(F.max(F.col(f"`{s}`")).alias(f"mx{i}"))
        aggs.append(F.approx_count_distinct(F.col(f"`{s}`"))
                    .alias(f"nd{i}"))
    try:
        row = src.agg(*aggs).collect()[0]
    except Exception:
        # exotic key types (array/map equi-joins) may not aggregate —
        # pruning is advisory, never fail the MERGE over it
        return []
    conjs: list[tuple] = []
    for i, (t, s) in enumerate(pairs):
        mn, mx = row[f"mn{i}"], row[f"mx{i}"]
        if mn is None:
            continue  # all-NULL key: equi-join matches nothing
        if int(row[f"nd{i}"] or 0) <= max_in:
            vals = [r[0] for r in
                    src.select(F.col(f"`{s}`")).distinct().collect()
                    if r[0] is not None]
            if vals and len(vals) <= max_in:
                conjs.append((t, "in", tuple(vals)))
                continue
        conjs.append((t, ">=", mn))
        conjs.append((t, "<=", mx))
    return conjs


def normalize_clauses(update_set: Optional[dict],
                      matched_delete: bool,
                      insert_cols: Optional[list],
                      insert_values: Optional[list],
                      insert_all: bool,
                      matched_clauses: Optional[list] = None,
                      insert_clauses: Optional[list] = None,
                      source_clauses: Optional[list] = None
                      ) -> tuple[list, list, list]:
    """-> (matched_clauses, insert_clauses, source_clauses) in the
    list form: matched/source: [(cond|None, "update", sets) |
    (cond|None, "delete", None)]; insert: [(cond|None, cols|None,
    vals|None)] where cols=None means INSERT *. Source clauses are
    `WHEN NOT MATCHED BY SOURCE` (delta-spark's extension): they
    claim TARGET rows with no source match, so their conditions and
    SET expressions may reference target columns only. The legacy
    single-clause kwargs map to unconditional one-entry lists."""
    if matched_clauses is None:
        matched_clauses = []
        if update_set:
            matched_clauses.append((None, "update", dict(update_set)))
        if matched_delete:
            matched_clauses.append((None, "delete", None))
    if insert_clauses is None:
        insert_clauses = []
        if insert_all:
            insert_clauses.append((None, None, None))
        elif insert_cols:
            insert_clauses.append((None, list(insert_cols),
                                   list(insert_values or [])))
    return (list(matched_clauses), list(insert_clauses),
            list(source_clauses or []))


def validate_clauses(matched_clauses: list,
                     insert_clauses: list,
                     source_clauses: Optional[list] = None) -> None:
    for group, name in ((matched_clauses, "WHEN MATCHED"),
                        (insert_clauses, "WHEN NOT MATCHED"),
                        (source_clauses or [],
                         "WHEN NOT MATCHED BY SOURCE")):
        for i, clause in enumerate(group):
            if clause[0] is None and i != len(group) - 1:
                raise MergeClauseError(
                    f"unconditional {name} clause makes the following "
                    f"{name} clause(s) unreachable — every row they "
                    f"could claim is ambiguous with it; add AND "
                    f"conditions or drop a clause")


def matched_clause_idx(matched_clauses: list,
                       matched: Column) -> Column:
    """0-based index of the FIRST matched clause whose condition
    holds for this joined row, -1 when none (or not matched)."""
    out = None
    for i, (cond, _kind, _sets) in enumerate(matched_clauses):
        c = matched if cond is None else (matched & F.expr(cond))
        out = (F.when(c, F.lit(i)) if out is None
               else out.when(c, F.lit(i)))
    return F.lit(-1) if out is None else out.otherwise(F.lit(-1))


def delete_idxs(matched_clauses: list) -> list[int]:
    return [i for i, (_c, kind, _s) in enumerate(matched_clauses)
            if kind == "delete"]


def matched_field_value(field, matched_clauses: list, ta: str,
                        cidx: Column,
                        base: Optional[Column] = None) -> Column:
    """Post-merge value of one target field for a (possibly) matched
    row: the claiming UPDATE clause's SET expression (cast to the
    field type), else ``base`` (default: the old value). DELETE-
    claimed rows are filtered separately; their value here is the old
    one (irrelevant). Passing another clause group's chain as
    ``base`` stacks groups whose claim indexes are mutually
    exclusive (matched vs not-matched-by-source)."""
    t_val = (F.col(f"{ta}.`{field.name}`") if base is None else base)
    out = None
    for i, (_cond, kind, sets) in enumerate(matched_clauses):
        if kind != "update":
            continue
        sets_ci = {k.lower(): v for k, v in (sets or {}).items()}
        expr = sets_ci.get(field.name.lower())
        if expr is None:
            continue
        v = F.expr(expr).cast(field.dataType)
        out = (F.when(cidx == i, v) if out is None
               else out.when(cidx == i, v))
    return t_val if out is None else out.otherwise(t_val)


def insert_clause_idx(insert_clauses: list) -> Column:
    """0-based index of the first NOT MATCHED clause whose condition
    holds for this source row, -1 when none. Evaluated over the
    source relation (conditions may reference source columns)."""
    out = None
    for i, (cond, _cols, _vals) in enumerate(insert_clauses):
        c = F.lit(True) if cond is None else F.expr(cond)
        out = (F.when(c, F.lit(i)) if out is None
               else out.when(c, F.lit(i)))
    return F.lit(-1) if out is None else out.otherwise(F.lit(-1))


def insert_field_value(field, insert_clauses: list,
                       s_cols_ci: dict, iidx: Column) -> Column:
    """Value of one target field for an inserted source row, per the
    claiming clause: INSERT * maps source columns case-insensitively
    (missing -> NULL); INSERT (cols) VALUES (exprs) evaluates the
    positional expression; unlisted columns -> NULL. ``s_cols_ci``
    maps lowercased source names to COMPLETE column references
    (backquoted, alias-qualified if the frame needs it)."""
    out = None
    for i, (_cond, cols, vals) in enumerate(insert_clauses):
        if cols is None:          # INSERT *
            sc = s_cols_ci.get(field.name.lower())
            v = F.col(sc) if sc else F.lit(None)
        else:
            ci = {c.lower(): j for j, c in enumerate(cols)}
            j = ci.get(field.name.lower())
            v = F.expr(vals[j]) if j is not None else F.lit(None)
        v = v.cast(field.dataType)
        out = (F.when(iidx == i, v) if out is None
               else out.when(iidx == i, v))
    return (F.lit(None).cast(field.dataType) if out is None
            else out.otherwise(F.lit(None).cast(field.dataType)))
