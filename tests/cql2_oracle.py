"""Row-level CQL2 evaluator: the test oracle for cql2.to_column.

An independent second semantics of the same AST, evaluated in Python
against one flat item dict — the reference's single-item
`expr.matches(flat_item_json)` (crates/core/src/item.rs:619-622,
706-713). SQL three-valued logic: missing/None propagates to None,
filtered as non-match. Tests compare it with the Spark result of
`to_column`, row for row.
"""

import datetime as _dt
import re

import numpy as np

from rustac_spark.geo.predicates import rects_intersect_pieces
from rustac_spark.geo.wkbio import (geojson_to_wkb, geometry_pieces,
                                    parse_wkb, wkb_bounds)
from rustac_spark.stac.cql2 import (_ACCENTS, _ACCENTS_FOLDED, Cql2Error, Lit,
                                    Prop, parse, s_intersects_literal)


def evaluate(ast, item: dict):
    """One CQL2 AST against one item dict → True | False | None."""
    if isinstance(ast, Prop):
        return item.get(ast.name)
    if isinstance(ast, Lit):
        return ast.value
    if isinstance(ast, list):  # array literal
        return [evaluate(x, item) for x in ast]
    op, a = ast.op, ast.args

    def ev(n):
        return evaluate(n, item)

    if op in ("and", "or"):
        l, r = ev(a[0]), ev(a[1])
        if op == "and":
            return (False if l is False or r is False
                    else None if l is None or r is None else True)
        return (True if l is True or r is True
                else None if l is None or r is None else False)
    if op == "not":
        v = ev(a[0])
        return None if v is None else not v
    if op == "isNull":
        return ev(a[0]) is None
    if op == "casei":
        v = ev(a[0])
        return v.lower() if isinstance(v, str) else v
    if op == "accenti":
        v = ev(a[0])
        if not isinstance(v, str):
            return v
        return v.translate(str.maketrans(_ACCENTS, _ACCENTS_FOLDED))
    if op == "in":
        v = ev(a[0])
        if v is None:
            return None
        return v in [x.value if isinstance(x, Lit) else ev(x) for x in a[1]]
    if op == "like":
        v = ev(a[0])
        if v is None:
            return None
        pat = "^" + re.escape(a[1].value).replace("%", ".*") \
            .replace("_", ".") + "$"
        return bool(re.match(pat, v))
    if op == "between":
        v, lo, hi = ev(a[0]), ev(a[1]), ev(a[2])
        if v is None or lo is None or hi is None:
            return None
        return lo <= v <= hi
    if op == "s_intersects":
        lit_wkb = s_intersects_literal(a).wkb
        geom_val = item.get("geometry")
        if geom_val is None:
            return None
        if isinstance(geom_val, dict):
            geom_val = geojson_to_wkb(geom_val)
        pieces = geometry_pieces(parse_wkb(lit_wkb))
        # empty geometries (GeoJSON-legal empty collections) intersect
        # nothing, on either side
        if not pieces or not geometry_pieces(parse_wkb(bytes(geom_val))):
            return False
        # item side evaluated on its bounding box — the same covering
        # discipline the Column path uses (bbox struct ≙ the item)
        gx0, gy0, gx1, gy1 = wkb_bounds(bytes(geom_val))
        return bool(rects_intersect_pieces(
            np.array([gx0]), np.array([gy0]),
            np.array([gx1]), np.array([gy1]), pieces)[0])
    l, r = ev(a[0]), ev(a[1])
    if l is None or r is None:
        return None
    # item timestamps are naive-UTC (session TZ pinned UTC); CQL2
    # TIMESTAMP() literals parse tz-aware — normalize both to naive-UTC
    if isinstance(l, _dt.datetime) and isinstance(r, _dt.datetime):
        if l.tzinfo is not None:
            l = l.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        if r.tzinfo is not None:
            r = r.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if op == "=" or op == "t_intersects":
        return l == r
    if op == "<>":
        return l != r
    if op == "a_equals":
        return sorted(l) == sorted(r)
    if op == "a_contains":
        return set(r) <= set(l)
    if op == "a_containedby":
        return set(l) <= set(r)
    if op == "a_overlaps":
        return bool(set(l) & set(r))
    if op == "+":
        return l + r
    if op == "-":
        return l - r
    if op == "*":
        return l * r
    if op == "/":
        return l / r
    if op == "%":
        return l % r
    # strict temporal BEFORE/AFTER (CQL2 instants)
    if op == "<" or op == "t_before":
        return l < r
    if op == "<=":
        return l <= r
    if op == ">" or op == "t_after":
        return l > r
    if op == ">=":
        return l >= r
    raise Cql2Error(f"cannot evaluate op {op!r}")


def matches(filt, item: dict) -> bool:
    """True iff the item matches the CQL2 filter (None → False)."""
    return evaluate(parse(filt), item) is True
