"""Search model + plan builder: the engine's core query path.

Reimplements the reference's search semantics as a lazy DataFrame plan
(Catalyst = the IR, replacing the reference's SQL-text IR built in
crates/duckdb/src/client.rs:267-417):

- Search/Items query object: crates/core/src/api/search.rs:12-30,
  items.rs:11-54
- all predicates AND-combined: client.rs:396-399, search.rs:160-165
- ids / collections IN-filters (empty list = no-op, null collection
  never matches): client.rs:333-355, search.rs:185-213
- bbox → ST_Intersects vs footprint, null geometry → no match:
  client.rs:357-359, item.rs:457-468
- datetime inclusive interval with [start_datetime ?? datetime,
  end_datetime ?? datetime] coalesce: client.rs:361-385,
  item.rs:527-554
- fields include/exclude: fields.rs:17-57, applied client.rs:292-306
- sortby / limit / offset: sort.rs:10-74, client.rs:400-408
- `query` extension intentionally unimplemented (parity with
  items.rs:240-247)
- validation: bbox valid + bbox/intersects mutually exclusive:
  items.rs:116-142, search.rs:139-146
- plan-time empty short-circuit for unknown CQL2 columns:
  client.rs:386-394

Spark-first notes: every predicate is a Column expression, so
Catalyst pushes it into the parquet scan (bbox-struct min/max column
stats ⇒ row-group skipping — the covering-index effect of the
reference's GeoParquet `covering` metadata, geoparquet.rs:397-435).
An `intersects` geometry, like a CQL2 `s_intersects` literal, is one
Column from colgeom.intersects_column: the bbox prefilter plus the
exact predicate.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from ..geo.colgeom import bbox_overlap_col, intersects_column
from ..geo.wkbio import geojson_to_wkb
from . import cql2
from .datetime_parse import parse_interval


class SearchValidationError(ValueError):
    pass


class QueryNotImplemented(NotImplementedError):
    """Legacy `query` extension — intentionally unimplemented, matching
    the reference (items.rs:240-247, client.rs:270-272)."""


@dataclass
class Search:
    ids: list[str] | None = None
    collections: list[str] | None = None
    intersects: bytes | dict | None = None   # WKB bytes or GeoJSON dict
    bbox: tuple | list | None = None
    datetime: str | None = None
    filter: str | dict | None = None         # cql2-text or cql2-json
    fields: str | None = None                # "+a,-b"
    sortby: str | list | None = None         # "-f,+g"
    limit: int | None = None
    offset: int | None = None
    query: dict | None = None                # legacy — raises

    def validate(self) -> None:
        if self.query is not None:
            raise QueryNotImplemented("the `query` extension is not implemented")
        if self.bbox is not None:
            b = list(self.bbox)
            if len(b) not in (4, 6):
                raise SearchValidationError(f"bbox must have 4 or 6 values: {b}")
            if len(b) == 6:
                # zmin ≤ zmax validated like the reference
                # (crates/core/src/bbox.rs:42-50); z is then dropped for
                # the 2D overlap test
                if not b[2] <= b[5]:
                    raise SearchValidationError(f"invalid bbox (zmin > zmax): {b}")
                b = [b[0], b[1], b[3], b[4]]
            if not (b[0] <= b[2] and b[1] <= b[3]):
                raise SearchValidationError(f"invalid bbox: {b}")
        if self.bbox is not None and self.intersects is not None:
            raise SearchValidationError(
                "bbox and intersects are mutually exclusive")
        if self.datetime is not None:
            parse_interval(self.datetime)  # raises on invalid


def parse_fields(spec: str) -> tuple[list[str], list[str]]:
    """'+a,-b,c' → (include, exclude) (fields.rs:17-57)."""
    include, exclude = [], []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if part.startswith("-"):
            exclude.append(part[1:])
        elif part.startswith("+"):
            include.append(part[1:])
        else:
            include.append(part)
    return include, exclude


def parse_sortby(spec) -> list[tuple[str, bool]]:
    """'-f,+g,h' → [(field, ascending)] (sort.rs:10-74)."""
    if isinstance(spec, (list, tuple)):
        parts = spec
    else:
        parts = [p.strip() for p in spec.split(",") if p.strip()]
    out = []
    for p in parts:
        if isinstance(p, tuple):
            out.append(p)
        elif p.startswith("-"):
            out.append((p[1:], False))
        elif p.startswith("+"):
            out.append((p[1:], True))
        else:
            out.append((p, True))
    return out


def _q(name: str) -> str:
    return f"`{name}`" if (":" in name or "." in name) else name


def _geojson_to_wkb(g: dict) -> bytes:
    """Any GeoJSON geometry → WKB (search.rs:236-251 accepts them all)."""
    try:
        return geojson_to_wkb(g)
    except ValueError as e:
        raise SearchValidationError(str(e)) from e


def build_plan(df: DataFrame, search: Search) -> DataFrame:
    """Compile a Search into a lazy DataFrame plan.

    The ``intersects`` geometry and every CQL2 ``s_intersects`` literal
    compile through colgeom.intersects_column to one boolean Column
    over the bbox struct: plain compares for points and axis-aligned
    rects, else a pushdown bbox prefilter AND the exact test
    (colgeom.geometry_predicate — the predicate spatial_join uses —
    or, past its budget, the numpy kernel as an Arrow UDF). Compiled
    verdicts use closed-set separating-axis math, so an item bbox
    separated from the geometry by less than 1e-12 is rejected, where
    the numpy kernel's on-edge tolerance shell accepts it (the join's
    round-5 change); only rects within 1e-12 of the geometry can see
    the difference.
    """
    search.validate()

    # --- plan-time CQL2 short-circuit (before anything else) ---------
    filter_col = None
    if search.filter is not None:
        filter_col, short = cql2.compile_filter(search.filter, df.columns)
        if short:
            df = df.where(F.lit(False))

    preds = []
    if search.ids:
        preds.append(F.col("id").isin(list(search.ids)))
    if search.collections:
        preds.append(F.col("collection").isin(list(search.collections)))
    if search.bbox is not None:
        b = list(search.bbox)
        if len(b) == 6:
            b = [b[0], b[1], b[3], b[4]]
        preds.append(bbox_overlap_col(*b))
    if search.intersects is not None:
        wkb = (search.intersects if isinstance(search.intersects, bytes)
               else _geojson_to_wkb(search.intersects))
        preds.append(intersects_column(wkb))
    if search.datetime is not None:
        start, end = parse_interval(search.datetime)
        item_start = F.coalesce(F.col("start_datetime"), F.col("datetime"))
        item_end = F.coalesce(F.col("end_datetime"), F.col("datetime"))
        if start is not None:
            preds.append(item_end >= F.lit(start.replace(tzinfo=None)))
        if end is not None:
            preds.append(item_start <= F.lit(end.replace(tzinfo=None)))
    if filter_col is not None:
        preds.append(filter_col)

    if preds:
        # AND-combined (client.rs:396-399) in ONE Filter: Spark pushes
        # every deterministic conjunct of it into the scan, including
        # those after an anchored (nondeterministic) geometry term
        df = df.where(reduce(operator.and_, preds))

    if search.fields:
        include, exclude = parse_fields(search.fields)
        keep = [c for c in df.columns
                if c not in exclude and (not include or c in include)]
        df = df.select(*[_q(c) for c in keep])

    if search.sortby:
        keys = parse_sortby(search.sortby)
        # NULLS LAST for both directions — the reference's engine
        # (DuckDB default_null_order) sorts nulls last under ASC and
        # DESC alike; Spark's bare asc() would put them first
        df = df.orderBy(*[F.col(_q(f)).asc_nulls_last() if asc
                          else F.col(_q(f)).desc_nulls_last()
                          for f, asc in keys])

    if search.offset:
        df = df.offset(int(search.offset))
    if search.limit is not None:
        df = df.limit(int(search.limit))
    return df
