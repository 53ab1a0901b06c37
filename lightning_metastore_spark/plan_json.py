"""Planning hints read from the JSON form of Spark's parse.

`TreeNode.toJSON` writes each tree as a pre-order list of nodes; a
node's children follow it, and plans or expressions held in fields
(subquery plans, CTE bodies) are nested lists. Spark has already
decided what a comment, a quote, an escape, BETWEEN, precedence or a
typed literal means; the readers here only match shapes. The resolver
reads SELECT hints with them, and the Delta/Iceberg writers read DML
predicates and MERGE ON conditions.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
from typing import Optional

_CMP = {"EqualTo": "=", "LessThan": "<", "LessThanOrEqual": "<=",
        "GreaterThan": ">", "GreaterThanOrEqual": ">="}
_FLIP_OP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}


def kind(node: dict) -> str:
    return node["class"].rsplit(".", 1)[-1]


def tree(text: str) -> list:
    """A `toJSON()` string loaded, with every node's children listed
    under "_kids"."""
    def nest(value):
        if isinstance(value, dict):
            for v in value.values():
                nest(v)
        elif isinstance(value, list):
            for v in value:
                nest(v)
            if (value and isinstance(value[0], dict)
                    and "num-children" in value[0]):
                it = iter(value)

                def build():
                    node = next(it)
                    node["_kids"] = [build()
                                     for _ in range(node["num-children"])]
                    return node
                build()
    out = json.loads(text)
    nest(out)
    return out


def nodes(value):
    """Every node of a `tree`, nested plans and expressions included."""
    if isinstance(value, list):
        for v in value:
            yield from nodes(v)
    elif isinstance(value, dict):
        if "class" in value:
            yield value
        for k, v in value.items():
            if k != "_kids":
                yield from nodes(v)


def plan_tree(plan) -> Optional[list]:
    """``plan`` as a `tree`, or None when Spark cannot render it."""
    try:
        return tree(plan.toJSON())
    except Exception:
        return None


def name_parts(rendered: str, sql: str) -> Optional[tuple]:
    """The parts of a name that toJSON renders as `[a, b, c]`, or None
    when a quoted part may itself hold ", " (the text then carries two
    neighbouring pieces joined by it, quote characters doubled)."""
    parts = tuple(rendered[1:-1].split(", "))
    for a, b in zip(parts, parts[1:]):
        if any(f"{a}, {b}".replace(q, q + q) in sql for q in "`\""):
            return None
    return parts


def literal(node: dict):
    """A Literal node as a hint value, else None: an int, a Decimal (a
    decimal such as `10.15`), a float (a double such as `1.015E1`;
    never a FLOAT, which Spark compares at single precision), a str, a
    date, or a timestamp as a naive datetime on the session zone's
    wall clock (as Spark renders it). TIMESTAMP_NTZ, NULL and every
    other type give none."""
    if kind(node) != "Literal" or node["value"] is None:
        return None
    v, t = node["value"], node["dataType"]
    if t in ("integer", "long", "short", "byte"):
        return int(v)
    if t == "double":
        return float(v)
    if str(t).startswith("decimal"):
        return decimal.Decimal(v)
    if t == "string":
        return v
    if t == "date":
        return dt.date.fromisoformat(v)
    if t == "timestamp":
        return dt.datetime.fromisoformat(v)
    return None


def and_members(expr: dict):
    if kind(expr) == "And":
        for kid in expr["_kids"]:
            yield from and_members(kid)
    else:
        yield expr


def conjunct(expr: dict, sql: str) -> list[tuple]:
    """[(name parts, op, literal)] for one AND member: `col <op> lit`
    either way round, literal BETWEEN (its two bounds), `IS [NOT] NULL`
    and `IN (lit, ...)`; empty for any other shape."""
    k, kids = kind(expr), expr["_kids"]
    if k == "UnresolvedFunction":
        if expr["nameParts"].lower() != "[between]" or len(kids) != 3:
            return []
        terms = [(kids[0], ">=", kids[1]), (kids[0], "<=", kids[2])]
    elif k in _CMP:
        left, right = kids
        op = _CMP[k]
        if kind(left) == "Literal":
            left, right, op = right, left, _FLIP_OP[op]
        terms = [(left, op, right)]
    elif k in ("IsNull", "IsNotNull"):
        terms = [(kids[0], "isnull" if k == "IsNull" else "notnull", None)]
    elif k == "In":
        terms = [(kids[0], "in", kids[1:])]
    else:
        return []
    out = []
    for col, op, lit in terms:
        parts = (name_parts(col["nameParts"], sql)
                 if kind(col) == "UnresolvedAttribute" else None)
        if op == "in":
            value = tuple(literal(k) for k in lit)
            ok = all(m is not None for m in value)
        else:
            value = None if lit is None else literal(lit)
            ok = lit is None or value is not None
        if parts and ok:
            out.append((parts, op, value))
    return out


def _expression(spark, text: str) -> dict:
    """The root of Spark's parse of an expression, as a `tree` node."""
    return tree(spark._jsparkSession.sessionState().sqlParser()
                .parseExpression(text).toJSON())[0]


def simple_where_conjuncts(spark, predicate: str) -> list[tuple]:
    """[(col, op, literal)] planning hints from a bare DML predicate
    (the DELETE/UPDATE WHERE body of ONE table), read from Spark's
    parse of it with the shapes `conjunct` matches. Qualified
    references are skipped (a DML predicate has no alias to vouch for
    them); a predicate Spark cannot parse gives none."""
    try:
        return [(parts[0], op, lit)
                for member in and_members(_expression(spark, predicate))
                for parts, op, lit in conjunct(member, predicate)
                if len(parts) == 1]
    except Exception:
        return []


def equi_key_pairs(spark, on_cond: str, target_alias: str,
                   source_alias: str) -> list[tuple[str, str]]:
    """(target col, source col) for each top-level AND member of a
    MERGE ON condition that is `t.a = s.b` either way round, read from
    Spark's parse of it: the keys whose source bounds file-skip the
    MERGE discovery scan. A subset of the conjuncts over-approximates
    the matches, so it is sound; a top-level OR, or a condition Spark
    cannot parse, gives none."""
    side = {target_alias.lower(): 0, source_alias.lower(): 1}
    pairs = []
    try:
        for expr in and_members(_expression(spark, on_cond)):
            if kind(expr) != "EqualTo":
                continue
            names = [name_parts(k["nameParts"], on_cond)
                     if kind(k) == "UnresolvedAttribute" else None
                     for k in expr["_kids"]]
            if all(n and len(n) == 2 for n in names):
                cols = {side.get(q.lower()): c for q, c in names}
                if set(cols) == {0, 1}:
                    pairs.append((cols[0], cols[1]))
    except Exception:
        return []
    return pairs
