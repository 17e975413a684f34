"""CQL2 (text + JSON) → pyspark Column compiler.

Reference behavior being reimplemented (NOT ported — the reference
delegates to the external cql2 crate and DuckDB's SQL engine,
crates/duckdb/src/client.rs:386-394):

- Expr variants supported: Property, Float, Literal(str), Bool,
  Timestamp, Date, Array, Operation{op,args}
  (crates/core/src/api/filter.rs:11-70).
- Operators: = <> < <= > >= ; arithmetic + - * / % (standard
  precedence, infix-aware minus) ; and/or/not ; IS [NOT] NULL ;
  [NOT] IN ; [NOT] LIKE ; BETWEEN ; casei() → lower() ;
  accenti() → accent folding (fixed Latin map, pure Column) ;
  t_before/t_after (strict < / > on instants) / t_intersects ;
  s_intersects(geometry, <WKT | BBOX(...) | GeoJSON dict>), literal
  in either argument position — the reference compiles spatial CQL2
  ops to DuckDB ST_Intersects (crates/duckdb/src/client.rs:386-394);
  here each compiles to the one Column of colgeom.intersects_column
  (bbox compares for points and rects, else a bbox prefilter AND the
  exact predicate), valid anywhere under AND, OR and NOT.
- Plan-time empty-result short-circuit: if any referenced property is
  not a column, the whole query returns empty
  (expr_properties_match, crates/duckdb/src/client.rs:433-455).

The compiler produces a ``pyspark.sql.Column`` tree so Catalyst can
push the predicate into the parquet scan — CQL2 filters cost the same
as native filters.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import functions as F

from ..geo.colgeom import intersects_column
from ..geo.wkbio import (bbox_polygon_wkb, geojson_to_wkb, linestring_wkb,
                         multilinestring_wkb, multipoint_wkb,
                         multipolygon_wkb, point_wkb, polygon_wkb)
from .datetime_parse import parse_rfc3339


class Cql2Error(ValueError):
    pass


# ------------------------------------------------------------------ AST

@dataclass
class Prop:
    name: str


@dataclass
class Lit:
    value: Any  # str | float | int | bool | datetime


@dataclass
class Op:
    op: str
    args: list


@dataclass
class Geom:
    """A spatial literal (WKT in cql2-text, GeoJSON in cql2-json),
    normalized to WKB — the engine's wire format for geometry."""
    wkb: bytes


_ACCENTS = ("àáâãäåāăąèéêëēĕėęěìíîïĩīĭįòóôõöøōŏőùúûüũūŭůçćĉċčñńņňýÿ"
            "ÀÁÂÃÄÅĀĂĄÈÉÊËĒĔĖĘĚÌÍÎÏĨĪĬĮÒÓÔÕÖØŌŎŐÙÚÛÜŨŪŬŮÇĆĈĊČÑŃŅŇÝŸ")
_ACCENTS_FOLDED = ("aaaaaaaaaeeeeeeeeeiiiiiiiiooooooooouuuuuuuucccccnnnnyy"
                   "AAAAAAAAAEEEEEEEEEIIIIIIIIOOOOOOOOOUUUUUUUUCCCCCNNNNYY")


# ------------------------------------------------------------- tokenizer

_TOKEN = re.compile(r"""
    \s*(?:
      (?P<string>'(?:[^']|'')*')
    | (?P<number>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_:.]*|"[^"]+")
    | (?P<op><>|<=|>=|=|<|>|[+\-*/%])
    | (?P<punct>[(),])
    )""", re.VERBOSE)

_KEYWORDS = {"and", "or", "not", "is", "null", "in", "like", "between",
             "true", "false", "timestamp", "date", "casei", "accenti"}

# WKT geometry literal heads (+ the cql2 BBOX() literal)
_WKT_TYPES = {"point", "linestring", "polygon", "multipoint",
              "multilinestring", "multipolygon", "bbox"}

# boolean function-call operators in cql2-text
_FN_OPS = {"s_intersects", "t_before", "t_after", "t_intersects",
           "a_equals", "a_contains", "a_containedby", "a_overlaps"}


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        if text[pos].isspace():
            pos += 1
            continue
        m = _TOKEN.match(text, pos)
        if not m:
            raise Cql2Error(f"cql2-text: bad token at {text[pos:pos+20]!r}")
        pos = m.end()
        for kind in ("string", "number", "ident", "op", "punct"):
            v = m.group(kind)
            if v is not None:
                if kind == "number" and v.startswith("-") and out and (
                        out[-1][0] in ("ident", "number", "string")
                        or out[-1] == ("punct", ")")):
                    # infix context: "-5" after an operand is minus + 5
                    out.append(("op", "-"))
                    v = v[1:]
                if kind == "ident" and v.lower() in _KEYWORDS:
                    out.append(("kw", v.lower()))
                else:
                    out.append((kind, v))
                break
    out.append(("eof", ""))
    return out


class _Parser:
    """Recursive-descent cql2-text parser (precedence: OR < AND < NOT
    < comparison)."""

    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind, val=None):
        k, v = self.next()
        if k != kind or (val is not None and v.lower() != val):
            raise Cql2Error(f"cql2-text: expected {val or kind}, got {v!r}")
        return v

    def parse(self):
        e = self.or_expr()
        if self.peek()[0] != "eof":
            raise Cql2Error(f"cql2-text: trailing input {self.peek()[1]!r}")
        return e

    def or_expr(self):
        e = self.and_expr()
        while self.peek() == ("kw", "or"):
            self.next()
            e = Op("or", [e, self.and_expr()])
        return e

    def and_expr(self):
        e = self.not_expr()
        while self.peek() == ("kw", "and"):
            self.next()
            e = Op("and", [e, self.not_expr()])
        return e

    def not_expr(self):
        if self.peek() == ("kw", "not"):
            self.next()
            return Op("not", [self.not_expr()])
        return self.comparison()

    def arith(self):
        """Additive level: term (('+'|'-') term)*."""
        e = self.term()
        while self.peek() in (("op", "+"), ("op", "-")):
            _, op = self.next()
            e = Op(op, [e, self.term()])
        return e

    def term(self):
        """Multiplicative level: primary (('*'|'/'|'%') primary)*."""
        e = self.primary()
        while self.peek() in (("op", "*"), ("op", "/"), ("op", "%")):
            _, op = self.next()
            e = Op(op, [e, self.primary()])
        return e

    def comparison(self):
        left = self.arith()
        k, v = self.peek()
        if k == "op":
            self.next()
            return Op(v, [left, self.arith()])
        if k == "kw" and v == "is":
            self.next()
            negate = False
            if self.peek() == ("kw", "not"):
                self.next()
                negate = True
            self.expect("kw", "null")
            e = Op("isNull", [left])
            return Op("not", [e]) if negate else e
        negate = False
        if k == "kw" and v == "not":
            self.next()
            negate = True
            k, v = self.peek()
        if k == "kw" and v == "in":
            self.next()
            self.expect("punct", "(")
            vals = [self.arith()]
            while self.peek() == ("punct", ","):
                self.next()
                vals.append(self.arith())
            self.expect("punct", ")")
            e = Op("in", [left, vals])
        elif k == "kw" and v == "like":
            self.next()
            e = Op("like", [left, self.primary()])
        elif k == "kw" and v == "between":
            self.next()
            lo = self.arith()
            self.expect("kw", "and")
            hi = self.arith()
            e = Op("between", [left, lo, hi])
        else:
            if negate:
                raise Cql2Error("cql2-text: dangling NOT")
            return left
        return Op("not", [e]) if negate else e

    def primary(self):
        k, v = self.next()
        if k == "string":
            return Lit(v[1:-1].replace("''", "'"))
        if k == "number":
            return Lit(float(v) if ("." in v or "e" in v.lower()) else int(v))
        if k == "punct" and v == "(":
            e = self.or_expr()
            if self.peek() == ("punct", ","):
                # cql2-text array literal: ('a', 'b', ...) — a
                # parenthesized list with a comma is an array, a
                # single-element group stays a grouping
                items = [e]
                while self.peek() == ("punct", ","):
                    self.next()
                    items.append(self.or_expr())
                self.expect("punct", ")")
                return items
            self.expect("punct", ")")
            return e
        if k == "kw" and v in ("true", "false"):
            return Lit(v == "true")
        if k == "kw" and v in ("timestamp", "date"):
            self.expect("punct", "(")
            s = self.expect("string")[1:-1]
            self.expect("punct", ")")
            if v == "date":
                s = s + "T00:00:00Z"
            return Lit(parse_rfc3339(s))
        if k == "kw" and v in ("casei", "accenti"):
            self.expect("punct", "(")
            e = self.or_expr()
            self.expect("punct", ")")
            return Op(v, [e])
        if k == "ident":
            name = v[1:-1] if v.startswith('"') else v
            low = name.lower()
            if self.peek() == ("punct", "("):
                if low in _WKT_TYPES:
                    return self._wkt(low)
                if low in _FN_OPS:
                    self.next()  # consume "("
                    args = [self.or_expr()]
                    while self.peek() == ("punct", ","):
                        self.next()
                        args.append(self.or_expr())
                    self.expect("punct", ")")
                    return Op(low, args)
                raise Cql2Error(f"cql2-text: unsupported function {name!r}")
            return Prop(name)
        raise Cql2Error(f"cql2-text: unexpected token {v!r}")

    # ---- WKT geometry literals (OGC cql2-text §geometry) -----------

    def _num(self) -> float:
        k, v = self.next()
        if (k, v) == ("op", "-"):
            # the infix-minus tokenizer split doesn't apply inside WKT
            # coordinate lists ("... 39, -105 39 ..."): re-join here
            k, v = self.next()
            v = "-" + v
        if k != "number":
            raise Cql2Error(f"cql2-text: expected number in WKT, got {v!r}")
        return float(v)

    def _coord(self):
        return (self._num(), self._num())

    def _coord_list(self):
        """x y, x y, ... (inside one paren level)."""
        pts = [self._coord()]
        while self.peek() == ("punct", ","):
            self.next()
            pts.append(self._coord())
        return pts

    def _ring_list(self):
        """(x y, ...), (x y, ...), ..."""
        rings = []
        while True:
            self.expect("punct", "(")
            rings.append(self._coord_list())
            self.expect("punct", ")")
            if self.peek() == ("punct", ","):
                self.next()
                continue
            return rings

    def _wkt(self, kind: str) -> Geom:
        self.expect("punct", "(")
        if kind == "bbox":
            vals = [self._num()]
            while self.peek() == ("punct", ","):
                self.next()
                vals.append(self._num())
            self.expect("punct", ")")
            if len(vals) == 6:  # 3D bbox literal — z dropped for 2D test
                vals = [vals[0], vals[1], vals[3], vals[4]]
            if len(vals) != 4:
                raise Cql2Error(f"cql2-text: BBOX needs 4 or 6 values: {vals}")
            return Geom(bbox_polygon_wkb(*vals))
        if kind == "point":
            pt = self._coord()
            self.expect("punct", ")")
            return Geom(point_wkb(*pt))
        if kind == "linestring":
            pts = self._coord_list()
            self.expect("punct", ")")
            return Geom(linestring_wkb(pts))
        if kind == "polygon":
            rings = self._ring_list()
            self.expect("punct", ")")
            return Geom(polygon_wkb(*rings))
        if kind == "multipoint":
            # MULTIPOINT (1 2, 3 4) or MULTIPOINT ((1 2), (3 4))
            pts = []
            while True:
                if self.peek() == ("punct", "("):
                    self.next()
                    pts.append(self._coord())
                    self.expect("punct", ")")
                else:
                    pts.append(self._coord())
                if self.peek() == ("punct", ","):
                    self.next()
                    continue
                break
            self.expect("punct", ")")
            return Geom(multipoint_wkb(pts))
        if kind == "multilinestring":
            lines = self._ring_list()
            self.expect("punct", ")")
            return Geom(multilinestring_wkb(lines))
        if kind == "multipolygon":
            polys = []
            while True:
                polys.append(self._ring_list_outer())
                if self.peek() == ("punct", ","):
                    self.next()
                    continue
                break
            self.expect("punct", ")")
            return Geom(multipolygon_wkb(polys))
        raise Cql2Error(f"cql2-text: unsupported WKT type {kind!r}")

    def _ring_list_outer(self):
        """( (x y, ...), (x y, ...) ) — consumes the outer parens."""
        self.expect("punct", "(")
        rings = self._ring_list()
        self.expect("punct", ")")
        return rings


def parse_text(text: str):
    return _Parser(text).parse()


# ----------------------------------------------------------- json walker

_JSON_OPS = {"=", "<>", "<", "<=", ">", ">=", "and", "or", "not",
             "isNull", "in", "like", "between", "casei", "accenti",
             "t_before", "t_after", "t_intersects", "s_intersects",
             "a_equals", "a_contains", "a_containedby", "a_overlaps",
             "+", "-", "*", "/", "%"}

_GEOJSON_TYPES = {"Point", "LineString", "Polygon", "MultiPoint",
                  "MultiLineString", "MultiPolygon", "GeometryCollection"}


def parse_json(obj) -> Any:
    """cql2-json dict → AST (same node types as the text parser)."""
    if isinstance(obj, dict):
        if "property" in obj:
            return Prop(obj["property"])
        if obj.get("type") in _GEOJSON_TYPES:
            return Geom(geojson_to_wkb(obj))
        if "bbox" in obj and len(obj) == 1:  # cql2-json bbox literal
            b = list(obj["bbox"])
            if len(b) == 6:
                b = [b[0], b[1], b[3], b[4]]
            return Geom(bbox_polygon_wkb(*b))
        if "timestamp" in obj:
            return Lit(parse_rfc3339(obj["timestamp"]))
        if "date" in obj:
            return Lit(parse_rfc3339(obj["date"] + "T00:00:00Z"))
        if "op" in obj:
            op = obj["op"]
            if op.lower().startswith("a_"):
                op = op.lower()  # spec spells a_containedBy camelCase
            if op not in _JSON_OPS:
                raise Cql2Error(f"cql2-json: unsupported op {op!r}")
            args = obj.get("args", [])
            if op == "in":
                return Op("in", [parse_json(args[0]),
                                 [parse_json(a) for a in args[1]]])
            return Op(op, [parse_json(a) for a in args])
        raise Cql2Error(f"cql2-json: unrecognized node {obj!r}")
    if isinstance(obj, (str, int, float, bool)):
        return Lit(obj)
    if isinstance(obj, list):
        return [parse_json(a) for a in obj]
    raise Cql2Error(f"cql2-json: unsupported literal {obj!r}")


def parse(filt) -> Any:
    """str → cql2-text; dict → cql2-json."""
    return parse_text(filt) if isinstance(filt, str) else parse_json(filt)


# ------------------------------------------------------------- compiler

def properties(ast) -> set[str]:
    """All property names referenced by the expression — drives the
    plan-time empty short-circuit (client.rs:433-455)."""
    out: set[str] = set()

    def walk(n):
        if isinstance(n, Prop):
            out.add(n.name)
        elif isinstance(n, Op):
            for a in n.args:
                walk(a)
        elif isinstance(n, list):
            for a in n:
                walk(a)

    walk(ast)
    return out


def _col(name: str):
    return F.col(f"`{name}`") if ("." in name or ":" in name) else F.col(name)


def s_intersects_literal(args) -> Geom:
    """The geometry literal of ``s_intersects(geometry, <literal>)``,
    accepted in either argument order. The other argument must be the
    item ``geometry`` property: the bbox struct the predicate tests
    covers the item footprint only."""
    if len(args) == 2:
        prop, geom = args if isinstance(args[1], Geom) else args[::-1]
        if (isinstance(geom, Geom) and isinstance(prop, Prop)
                and prop.name == "geometry"):
            return geom
    raise Cql2Error("s_intersects takes the `geometry` property and one "
                    "geometry literal")


def to_column(ast):
    """AST → pyspark Column (pure Column tree — pushdown-friendly)."""
    if isinstance(ast, Prop):
        return _col(ast.name)
    if isinstance(ast, Lit):
        return F.lit(ast.value)
    if isinstance(ast, list):  # array literal
        return F.array(*[to_column(x) for x in ast])
    if isinstance(ast, Op):
        op, a = ast.op, ast.args
        if op == "and":
            return to_column(a[0]) & to_column(a[1])
        if op == "or":
            return to_column(a[0]) | to_column(a[1])
        if op == "not":
            return ~to_column(a[0])
        if op == "=":
            return to_column(a[0]) == to_column(a[1])
        if op == "<>":
            return to_column(a[0]) != to_column(a[1])
        if op == "+":
            return to_column(a[0]) + to_column(a[1])
        if op == "-":
            return to_column(a[0]) - to_column(a[1])
        if op == "*":
            return to_column(a[0]) * to_column(a[1])
        if op == "/":
            return to_column(a[0]) / to_column(a[1])
        if op == "%":
            return to_column(a[0]) % to_column(a[1])
        # array predicates (CQL2 arrays extension) — set/multiset
        # semantics over ArrayType columns, pure Column
        if op == "a_equals":
            return (F.array_sort(to_column(a[0]))
                    == F.array_sort(to_column(a[1])))
        if op == "a_contains":
            return F.size(F.array_except(to_column(a[1]),
                                         to_column(a[0]))) == 0
        if op == "a_containedby":
            return F.size(F.array_except(to_column(a[0]),
                                         to_column(a[1]))) == 0
        if op == "a_overlaps":
            return F.size(F.array_intersect(to_column(a[0]),
                                            to_column(a[1]))) > 0
        # CQL2 temporal BEFORE/AFTER are STRICT inequalities on instants
        if op == "<" or op == "t_before":
            return to_column(a[0]) < to_column(a[1])
        if op == "<=":
            return to_column(a[0]) <= to_column(a[1])
        if op == ">" or op == "t_after":
            return to_column(a[0]) > to_column(a[1])
        if op == ">=":
            return to_column(a[0]) >= to_column(a[1])
        if op == "t_intersects":
            return to_column(a[0]) == to_column(a[1])
        if op == "s_intersects":
            return intersects_column(s_intersects_literal(a).wkb)
        if op == "isNull":
            return to_column(a[0]).isNull()
        if op == "in":
            vals = [v.value if isinstance(v, Lit) else v for v in a[1]]
            return to_column(a[0]).isin(vals)
        if op == "like":
            return to_column(a[0]).like(a[1].value)
        if op == "between":
            c = to_column(a[0])
            return (c >= to_column(a[1])) & (c <= to_column(a[2]))
        if op == "casei":
            return F.lower(to_column(a[0]))
        if op == "accenti":
            # accent folding via a fixed Latin-1/Latin-Extended map —
            # pure Column (F.translate), the common-case cover of the
            # cql2 crate's ACCENTI
            return F.translate(to_column(a[0]), _ACCENTS, _ACCENTS_FOLDED)
        raise Cql2Error(f"unsupported op {op!r}")
    raise Cql2Error(f"cannot compile node {ast!r}")


def compile_filter(filt, columns: list[str]):
    """→ (Column | None, short_circuit: bool).

    short_circuit=True ⇒ a referenced property is not a column of the
    table: the whole query must return empty (plan-time anti-join
    against the schema, client.rs:386-394).
    """
    ast = parse(filt)
    if properties(ast) - set(columns):
        return None, True
    return to_column(ast), False
