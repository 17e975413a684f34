"""CQL2 text/JSON parser + compiler unit tests."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from rustac_spark.geo.wkbio import (bbox_polygon_wkb, geojson_to_wkb,
                                    point_wkb, polygon_wkb, wkb_bounds)
from rustac_spark.stac.cql2 import (
    Cql2Error, Geom, Lit, Op, Prop, compile_filter, parse, parse_text,
    properties,
)

from cql2_oracle import evaluate, matches


def test_parse_comparison():
    ast = parse_text("sat:relative_orbit = 98")
    assert isinstance(ast, Op) and ast.op == "="
    assert ast.args[0].name == "sat:relative_orbit"
    assert ast.args[1].value == 98


def test_parse_precedence():
    ast = parse_text("a = 1 or b = 2 and c = 3")
    assert ast.op == "or"
    assert ast.args[1].op == "and"


def test_parse_not_and_parens():
    ast = parse_text("not (a = 1 or b = 2)")
    assert ast.op == "not" and ast.args[0].op == "or"


def test_parse_in_like_between_null():
    assert parse_text("a in (1, 2, 3)").op == "in"
    assert parse_text("a like 'foo%'").op == "like"
    assert parse_text("a between 1 and 5").op == "between"
    assert parse_text("a is null").op == "isNull"
    ast = parse_text("a is not null")
    assert ast.op == "not" and ast.args[0].op == "isNull"
    ast = parse_text("a not in (1)")
    assert ast.op == "not" and ast.args[0].op == "in"


def test_parse_casei_and_strings():
    ast = parse_text("casei(name) = 'it''s'")
    assert ast.args[0].op == "casei"
    assert ast.args[1].value == "it's"


def test_parse_timestamp():
    ast = parse_text("datetime >= timestamp('2024-01-01T00:00:00Z')")
    assert ast.args[1].value.year == 2024


def test_parse_json():
    ast = parse({"op": "and", "args": [
        {"op": "=", "args": [{"property": "collection"}, "c1"]},
        {"op": ">", "args": [{"property": "eo:cloud_cover"}, 50]},
    ]})
    assert ast.op == "and"
    assert properties(ast) == {"collection", "eo:cloud_cover"}


def test_properties_collection():
    assert properties(parse_text("a = 1 and b in (2,3) or not c is null")) \
        == {"a", "b", "c"}


def test_compile_short_circuit(spark):
    col, short = compile_filter("nope = 1", ["id", "collection"])
    assert short and col is None
    col, short = compile_filter("id = 'x'", ["id", "collection"])
    assert not short and col is not None


def test_parse_arithmetic():
    ast = parse_text("a + 2 * b < 10")
    assert ast.op == "<" and ast.args[0].op == "+"
    assert ast.args[0].args[1].op == "*"  # precedence: * binds tighter
    # infix minus vs negative literal
    ast = parse_text("a - 1 = -1")
    assert ast.args[0].op == "-" and ast.args[0].args[1].value == 1
    assert ast.args[1].value == -1


def test_evaluate_arithmetic():
    item = {"a": 7.0, "b": 2.0}
    assert evaluate(parse_text("a + 2 * b < 12"), item) is True
    assert evaluate(parse_text("a % 2 = 1"), item) is True
    assert evaluate(parse_text("(a - 1) / b = 3"), item) is True
    assert evaluate(parse_text("a * b > 100"), item) is False


def test_compile_arithmetic(spark):
    col, short = compile_filter(
        "eo:cloud_cover * 2 + 1 < 50", ["id", "eo:cloud_cover"])
    assert not short and col is not None


def test_accenti(spark):
    from rustac_spark.stac.cql2 import to_column
    ast = parse_text("accenti(name) = 'cafe'")
    assert ast.args[0].op == "accenti"
    assert evaluate(ast, {"name": "café"}) is True
    assert evaluate(ast, {"name": "cafe"}) is True
    assert evaluate(ast, {"name": "caff"}) is False
    df = spark.createDataFrame([("café",), ("naïve",)], ["name"])
    got = {r["name"] for r in df.where(to_column(ast)).collect()}
    assert got == {"café"}


def test_array_ops():
    item = {"tags": ["a", "b", "c"]}
    assert evaluate(parse_text("a_contains(tags, ('a', 'c'))"), item) is True
    assert evaluate(parse_text("a_contains(tags, ('a', 'z'))"), item) is False
    assert evaluate(parse_text("a_overlaps(tags, ('z', 'c'))"), item) is True
    assert evaluate(parse_text("a_containedBy(tags, "
                               "('a','b','c','d'))"), item) is True
    assert evaluate(parse_text("a_equals(tags, ('c','b','a'))"), item) is True
    assert evaluate(parse_text("a_equals(tags, ('a','b'))"), item) is False
    # json dialect, camelCase op spelling normalized
    ast = parse({"op": "a_containedBy", "args": [
        {"property": "tags"}, ["a", "b", "c", "d"]]})
    assert ast.op == "a_containedby"
    assert evaluate(ast, item) is True
    # single-element parenthesized expression is still a grouping
    assert parse_text("(a) = 1").op == "="


def test_array_ops_compile(spark):
    from pyspark.sql import functions as F
    from rustac_spark.stac.cql2 import to_column
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["b", "c"]), (3, [])],
        "id bigint, tags array<string>")
    got = {r["id"] for r in df.where(to_column(parse_text(
        "a_overlaps(tags, ('a', 'c'))"))).collect()}
    assert got == {1, 2}
    got = {r["id"] for r in df.where(to_column(parse_text(
        "a_contains(tags, ('b', 'c'))"))).collect()}
    assert got == {2}


def test_parse_wkt_literals():
    from rustac_spark.geo.wkbio import geometry_pieces, parse_wkb
    from rustac_spark.stac.cql2 import Geom
    ast = parse_text("s_intersects(geometry, POINT(-106 40.5))")
    assert ast.op == "s_intersects"
    assert isinstance(ast.args[0], Prop) and ast.args[0].name == "geometry"
    assert isinstance(ast.args[1], Geom)
    assert parse_wkb(ast.args[1].wkb) == ("point", (-106.0, 40.5))

    ast = parse_text(
        "S_INTERSECTS(geometry, POLYGON((-107 39, -105 39, -106 41, -107 39)))")
    kind, rings = parse_wkb(ast.args[1].wkb)
    assert kind == "polygon" and rings[0].shape == (4, 2)

    ast = parse_text("s_intersects(geometry, BBOX(-107, 39, -105, 41))")
    kind, rings = parse_wkb(ast.args[1].wkb)
    assert kind == "polygon" and rings[0].shape == (5, 2)

    ast = parse_text(
        "s_intersects(geometry, MULTIPOLYGON((( -1 -1, 1 -1, 1 1, -1 -1)),"
        "((5 5, 6 5, 6 6, 5 5))))")
    kind, polys = parse_wkb(ast.args[1].wkb)
    assert kind == "multipolygon" and len(polys) == 2
    assert len(geometry_pieces((kind, polys))) == 2

    ast = parse_text("s_intersects(geometry, LINESTRING(0 0, 2 2, 4 0))")
    kind, pts = parse_wkb(ast.args[1].wkb)
    assert kind == "linestring" and pts.shape == (3, 2)

    ast = parse_text("s_intersects(geometry, MULTIPOINT((0 0), (1 1)))")
    assert parse_wkb(ast.args[1].wkb) == (
        "multipoint", [(0.0, 0.0), (1.0, 1.0)])


def test_parse_json_geometry():
    from rustac_spark.stac.cql2 import Geom
    ast = parse({"op": "s_intersects", "args": [
        {"property": "geometry"},
        {"type": "Polygon",
         "coordinates": [[[-107, 39], [-105, 39], [-106, 41], [-107, 39]]]},
    ]})
    assert ast.op == "s_intersects" and isinstance(ast.args[1], Geom)
    assert properties(ast) == {"geometry"}


def test_temporal_strict(spark):
    from datetime import datetime
    item = {"datetime": datetime(2024, 6, 1)}
    boundary = "t_before(datetime, timestamp('2024-06-01T00:00:00Z'))"
    assert evaluate(parse(boundary), item) is False  # strict: equal ⇒ False
    after = "t_after(datetime, timestamp('2024-06-01T00:00:00Z'))"
    assert evaluate(parse(after), item) is False
    before = "t_before(datetime, timestamp('2024-06-02T00:00:00Z'))"
    assert evaluate(parse(before), item) is True
    eq = "t_intersects(datetime, timestamp('2024-06-01T00:00:00Z'))"
    assert evaluate(parse(eq), item) is True


# --- s_intersects: one Column, anywhere in the filter ----------------

ITEM_SCHEMA = ("id string, geometry binary, "
               "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>, "
               "n bigint, `eo:cloud_cover` double, name string")

PENTAGON = "POLYGON((0 0, 4 0, 5 3, 2 5, -1 3, 0 0))"


def _star(n=300, r0=1.0, r1=0.4):
    """n-vertex star ring around the origin: over DEFAULT_VERTEX_BUDGET.
    Vertices snap to a 1/1024 grid, so its bounds sit on a grid that
    quarter-grid item rects either touch exactly or miss by >= 1/1024."""
    t = np.linspace(0, 2 * np.pi, n, endpoint=False)
    r = np.where(np.arange(n) % 2 == 0, r0, r1)
    xy = np.column_stack([r * np.cos(t), r * np.sin(t)])
    xy = np.round(xy * 1024) / 1024
    ring = [[float(x), float(y)] for x, y in xy]
    return {"type": "Polygon", "coordinates": [ring + [ring[0]]]}


def _item(i, geometry, n=None, cloud=None, name=None) -> dict:
    return {"id": f"i{i}", "geometry": geometry, "n": n,
            "eo:cloud_cover": cloud, "name": name}


def _items_df(spark, items):
    rows = [(it["id"],
             None if it["geometry"] is None else bytearray(it["geometry"]),
             None if it["geometry"] is None else wkb_bounds(it["geometry"]),
             it["n"], it["eo:cloud_cover"], it["name"]) for it in items]
    return spark.createDataFrame(rows, ITEM_SCHEMA)


def _grid_items(lo, hi):
    """0.3-wide rects on a half-step grid over [lo, hi)^2, plus two
    NULL geometries."""
    steps = np.arange(lo, hi, 0.5)
    items = [_item(k, bbox_polygon_wkb(x, y, x + 0.3, y + 0.3))
             for k, (x, y) in enumerate((x, y) for x in steps for y in steps)]
    return items + [_item("null1", None), _item("null2", None)]


def _search_ids(spark, items, filt) -> set:
    from rustac_spark.stac.search import Search, build_plan
    df = build_plan(_items_df(spark, items), Search(filter=filt))
    return {r["id"] for r in df.collect()}


@pytest.mark.parametrize("geom", ["pentagon", "star"])
def test_s_intersects_under_or_and_not_matches_evaluate(spark, geom):
    """A non-rectangular s_intersects compiles in place under OR and
    NOT, through build_plan, and keeps three-valued logic: NULL
    geometries match neither the term nor its negation."""
    if geom == "pentagon":
        items = _grid_items(-2, 6)
        term = f"s_intersects(geometry, {PENTAGON})"
        or_filter, not_filter = f"{term} OR id = 'nope'", f"NOT {term}"
    else:
        items = _grid_items(-1.5, 1.5)
        term = {"op": "s_intersects",
                "args": [{"property": "geometry"}, _star()]}
        or_filter = {"op": "or", "args": [
            term, {"op": "=", "args": [{"property": "id"}, "nope"]}]}
        not_filter = {"op": "not", "args": [term]}
    hits = _search_ids(spark, items, or_filter)
    negated = _search_ids(spark, items, not_filter)
    for filt, got in ((or_filter, hits), (not_filter, negated)):
        assert got == {it["id"] for it in items if matches(filt, it)}
    assert hits and negated and hits.isdisjoint(negated)
    assert len(hits | negated) == len(items) - 2  # the NULL geometries


def test_s_intersects_literal_in_either_position(spark):
    items = [_item(0, bbox_polygon_wkb(0, 0, 1, 1)),
             _item(1, bbox_polygon_wkb(5, 5, 6, 6)), _item(2, None)]
    for lit in ("POINT(0.5 0.5)", PENTAGON):
        a = _search_ids(spark, items, f"s_intersects(geometry, {lit})")
        b = _search_ids(spark, items, f"s_intersects({lit}, geometry)")
        assert a == b == {"i0"}


def test_s_intersects_needs_the_geometry_property(spark):
    """Any other property is a 400, not a silent footprint test."""
    columns = ["id", "geometry", "bbox", "eo:cloud_cover"]
    for filt in ("s_intersects(eo:cloud_cover, POINT(0.5 0.5))",
                 "s_intersects(POINT(0.5 0.5), eo:cloud_cover)",
                 "s_intersects(geometry, geometry)",
                 "s_intersects(POINT(0 0), POINT(0 0))"):
        with pytest.raises(Cql2Error):
            compile_filter(filt, columns)


def test_s_intersects_column_compile(spark):
    # every literal compiles to one Column, in any position
    for filt in (
            "s_intersects(geometry, POINT(-106 40.5)) and id = 'x'",
            "s_intersects(geometry, POLYGON((-107 39, -105 39, -106 41, "
            "-107 39)))",
            "id = 'x' or s_intersects(geometry, "
            "POLYGON((-107 39, -105 39, -106 41, -107 39)))",
            "not s_intersects(geometry, "
            "POLYGON((-107 39, -105 39, -106 41, -107 39)))"):
        col, short = compile_filter(filt, ["id", "geometry", "bbox"])
        assert not short and col is not None


EMPTY_GC = {"type": "GeometryCollection", "geometries": []}


def test_s_intersects_empty_geometry(spark):
    """An empty literal intersects nothing: false for an item with a
    geometry, NULL for a NULL one — so NOT keeps the NULL row out."""
    term = {"op": "s_intersects",
            "args": [{"property": "geometry"}, EMPTY_GC]}
    col, short = compile_filter(term, ["id", "geometry", "bbox"])
    assert not short and col is not None
    assert evaluate(parse(term), {"geometry": bbox_polygon_wkb(0, 0, 1, 1)}) \
        is False
    items = [_item("a", bbox_polygon_wkb(0, 0, 1, 1)),
             _item("nullgeom", None)]
    assert _search_ids(spark, items, term) == set()
    assert _search_ids(spark, items, {"op": "not", "args": [term]}) == {"ia"}


def test_s_intersects_empty_ring_polygon(spark):
    """A polygon with a zero-vertex exterior ring must COMPILE to the
    empty-geometry predicate, not crash wkb_bounds (round-2 ADVICE):
    degenerate pieces are dropped in geometry_pieces."""
    import struct

    from rustac_spark.geo.colgeom import intersects_column
    from rustac_spark.geo.wkbio import geometry_pieces, parse_wkb

    # WKB: little-endian, type=3 (Polygon), 1 ring with 0 points —
    # pieces drop to [] (wkb_bounds is never reached)
    empty_poly = struct.pack("<BIII", 1, 3, 1, 0)
    assert geometry_pieces(parse_wkb(empty_poly)) == []
    assert intersects_column(empty_poly) is not None
    # a GeoJSON polygon with no rings compiles end-to-end, no crash
    col, short = compile_filter(
        {"op": "s_intersects", "args": [
            {"property": "geometry"},
            {"type": "Polygon", "coordinates": []}]},
        ["id", "geometry", "bbox"])
    assert not short and col is not None


def test_s_intersects_evaluate():
    tri = "s_intersects(geometry, POLYGON((0 0, 4 0, 2 4, 0 0)))"
    inside = {"geometry": bbox_polygon_wkb(1.5, 0.5, 2.5, 1.5)}
    outside = {"geometry": bbox_polygon_wkb(10, 10, 11, 11)}
    geojson = {"geometry": {"type": "Point", "coordinates": [2.0, 1.0]}}
    assert evaluate(parse(tri), inside) is True
    assert evaluate(parse(tri), outside) is False
    assert evaluate(parse(tri), geojson) is True
    assert evaluate(parse(tri), {"geometry": None}) is None


# --- property: to_column == the row evaluator, three-valued ----------
# Coordinates sit on a quarter grid, where the compiled closed-set SAT
# test and the numpy kernel agree exactly (no rect falls inside the
# kernel's 1e-12 on-edge shell without touching).

_q = st.integers(-16, 16).map(lambda i: i / 4)
_small = st.integers(-5, 5)
_name_chars = "aAbéÉ"


@st.composite
def _items(draw):
    out = []
    for k in range(draw(st.integers(3, 10))):
        kind = draw(st.sampled_from(["null", "rect", "rect", "point"]))
        x, y = draw(_q), draw(_q)
        if kind == "rect":
            w, h = draw(st.sampled_from([0, 0.25, 1, 3])), draw(
                st.sampled_from([0, 0.25, 1, 3]))
            geom = bbox_polygon_wkb(x, y, x + w, y + h)
        else:
            geom = point_wkb(x, y) if kind == "point" else None
        out.append(_item(k, geom,
                         draw(st.none() | _small),
                         draw(st.none() | _q),
                         draw(st.none() | st.text(_name_chars, max_size=3))))
    return out


def _shape(ring, dx, dy, holes=()):
    return polygon_wkb(*[[(x + dx, y + dy) for x, y in r]
                         for r in (ring, *holes)])


_SHAPES = [  # in-budget, non-rectangular: convex, concave, holed, L
    ([(0, 0), (2, 0), (1, 2), (0, 0)], ()),
    ([(0, 0), (3, 0), (3, 3), (1.5, 1), (0, 3), (0, 0)], ()),
    ([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)],
     ([(1, 1), (3, 1), (3, 3), (1, 3), (1, 1)],)),
    ([(0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (0, 3), (0, 0)], ()),
]


@st.composite
def _s_intersects(draw):
    kind = draw(st.sampled_from(["point", "rect", "poly", "poly", "star"]))
    x, y = draw(_q), draw(_q)
    if kind == "point":
        wkb = point_wkb(x, y)
    elif kind == "rect":
        wkb = bbox_polygon_wkb(x, y, x + draw(_q.map(abs)),
                               y + draw(_q.map(abs)))
    elif kind == "poly":
        ring, holes = draw(st.sampled_from(_SHAPES))
        wkb = _shape(ring, x, y, holes)
    else:
        star = _star(120, 3.0, 1.0)
        star["coordinates"][0] = [[px + x, py + y]
                                  for px, py in star["coordinates"][0]]
        wkb = geojson_to_wkb(star)
    args = [Prop("geometry"), Geom(wkb)]
    return Op("s_intersects", args[::-1] if draw(st.booleans()) else args)


_num_leaf = st.one_of(st.just(Prop("n")), st.just(Prop("eo:cloud_cover")),
                      _small.map(Lit), _q.map(Lit))
_num = st.recursive(_num_leaf, lambda c: st.one_of(
    st.tuples(st.sampled_from(["+", "-", "*"]), c, c).map(
        lambda t: Op(t[0], [t[1], t[2]])),
    st.tuples(c, st.sampled_from([2, 4, -2, 0.5])).map(
        lambda t: Op("/", [t[0], Lit(t[1])]))), max_leaves=3)
_str = st.one_of(st.just(Prop("name")), st.just(Op("casei", [Prop("name")])),
                 st.just(Op("accenti", [Prop("name")])))
_str_lit = st.text(_name_chars, max_size=3).map(Lit)
_cmp = st.sampled_from(["=", "<>", "<", "<=", ">", ">="])
_pred = st.one_of(
    st.tuples(_cmp, _num, _num).map(lambda t: Op(t[0], [t[1], t[2]])),
    st.tuples(_cmp, _str, _str_lit).map(lambda t: Op(t[0], [t[1], t[2]])),
    st.tuples(_num, _q, _q).map(lambda t: Op("between", [t[0], Lit(t[1]),
                                                        Lit(t[2])])),
    st.tuples(st.sampled_from([Prop("n"), Prop("eo:cloud_cover")]),
              st.lists(_small.map(Lit), min_size=1, max_size=3)).map(
        lambda t: Op("in", list(t))),
    st.tuples(_str, st.lists(_str_lit, min_size=1, max_size=3)).map(
        lambda t: Op("in", list(t))),
    st.tuples(_str, st.text(_name_chars + "%_", max_size=3)).map(
        lambda t: Op("like", [t[0], Lit(t[1])])),
    st.sampled_from(["n", "eo:cloud_cover", "name", "geometry"]).map(
        lambda p: Op("isNull", [Prop(p)])),
)
_bool = st.recursive(_pred, lambda c: st.one_of(
    st.tuples(st.sampled_from(["and", "or"]), c, c).map(
        lambda t: Op(t[0], [t[1], t[2]])),
    c.map(lambda e: Op("not", [e]))), max_leaves=4)


def _splice(draw, tree, term):
    """`tree` with `term` AND-ed or OR-ed onto a randomly chosen
    subtree (descending through and/or/not)."""
    if (isinstance(tree, Op) and tree.op in ("and", "or", "not")
            and draw(st.booleans())):
        args = list(tree.args)
        k = draw(st.integers(0, len(args) - 1))
        args[k] = _splice(draw, args[k], term)
        return Op(tree.op, args)
    pair = [tree, term] if draw(st.booleans()) else [term, tree]
    return Op(draw(st.sampled_from(["and", "or"])), pair)


@st.composite
def _filter(draw):
    """A generated boolean AST with 0-2 s_intersects terms spliced in
    at random depths, under AND, OR or NOT."""
    tree = draw(_bool)
    for _ in range(draw(st.integers(0, 2))):
        term = draw(_s_intersects())
        tree = _splice(draw, tree, Op("not", [term]) if draw(st.booleans())
                       else term)
    return tree


@given(_items(), st.lists(_filter(), min_size=1, max_size=3))
@settings(max_examples=30, deadline=None)
def test_to_column_matches_evaluate_property(spark, items, filters):
    from rustac_spark.stac.cql2 import to_column
    df = _items_df(spark, items).select(
        "id", *[to_column(f).alias(f"f{k}") for k, f in enumerate(filters)])
    got = {r["id"]: [r[f"f{k}"] for k in range(len(filters))]
           for r in df.collect()}
    for it in items:
        assert got[it["id"]] == [evaluate(f, it) for f in filters], (
            it, filters)


def test_bad_input():
    with pytest.raises(Cql2Error):
        parse_text("a = ")
    with pytest.raises(Cql2Error):
        parse_text("a ~ 1")
    with pytest.raises(Cql2Error):
        parse({"op": "weird", "args": []})
