"""Reachability guard: every top-level def in ``rustac_spark/`` is reached
from an entry point other than the tests, or is allowlisted below.

The scan is name-based and reads the source with ``ast`` only. Roots:
the driver entry (``__spark_entry__.py``), ``bench.py``, ``perfbench/``,
``scripts/``, ``bench/``, the CLI, the STAC server, the top-level API,
and the module-level code of every package module. A reached piece of
code reaches every def whose name it mentions: as a name, an
attribute, an imported name, or an identifier-shaped string. Tests are
not roots, so a def that only tests call shows up here.
"""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "rustac_spark"

# package files whose every def is an entry point
ENTRY_MODULES = ("cli.py", "stac/server.py", "toplevel.py")

# "<module path under rustac_spark/>:<def>" → why it stays unreached
ALLOWLIST = {
    "__init__.py:__getattr__":
        "module __getattr__; Python calls it for rustac_spark.read etc.",
    "geo/colgeom.py:compile_pieces_predicate":
        "SAT-only reference the cover-accept property test compares to",
    "stac/io.py:is_absolute":
        "reference semantics: href helpers (crates/core/src/href.rs)",
    "stac/io.py:absolutize":
        "reference semantics: href helpers (crates/core/src/href.rs)",
    "stac/io.py:relativize":
        "reference semantics: href helpers (crates/core/src/href.rs)",
    "stac/validate.py:validate_json_column":
        "reference semantics: validate over raw JSON strings",
    "stac/schema_validate.py:schema_validate_json_column":
        "reference semantics: JSON-schema validate over raw JSON strings",
    "stac/translate.py:read_stac_geoparquet_metadata":
        "reference semantics: stac-geoparquet file metadata reader",
    "stac/translate.py:flatten_items":
        "reference semantics: stac-geoparquet flatten",
    "stac/translate.py:unflatten_items":
        "reference semantics: stac-geoparquet unflatten",
    "stac/datetime_parse.py:parse_permissively":
        "reference semantics: permissive datetime parse",
    "stac/datetime_parse.py:normalize":
        "reference semantics: datetime interval normalize",
    "stac/datetime_parse.py:_rfc3339_str":
        "helper of normalize",
    "stac/translate.py:migrate_item":
        "reference semantics: per-item version migration",
    "stac/translate.py:_migrate_bands":
        "helper of migrate_item",
    "stac/translate.py:_migrate_license":
        "helper of migrate_item",
    "stac/translate.py:_migrate_links":
        "helper of migrate_item",
}


def _roots() -> list[pathlib.Path]:
    return [REPO / "__spark_entry__.py", REPO / "bench.py",
            *sorted((REPO / "perfbench").glob("*.py")),
            *sorted((REPO / "scripts").glob("*.py")),
            *sorted((REPO / "bench").glob("*.py"))]


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            out.add(n.value)
    return out


def unreached_defs() -> dict[str, int]:
    """``{"<module>:<def>": line count}`` of the top-level defs in
    ``rustac_spark/`` that no root reaches."""
    defs: dict[str, tuple[str, int, set[str]]] = {}
    seeds: set[str] = set()
    for path in _roots():
        seeds |= _names(ast.parse(path.read_text()))
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for st in ast.parse(path.read_text()).body:
            if not isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef,
                                   ast.ClassDef)):
                seeds |= _names(st)
                continue
            start = min([st.lineno] + [d.lineno for d in st.decorator_list])
            defs[f"{mod}:{st.name}"] = (st.name, st.end_lineno - start + 1,
                                        _names(st) - {st.name})
            if mod in ENTRY_MODULES:
                seeds.add(st.name)
    by_name: dict[str, list[str]] = {}
    for key, (name, _, _) in defs.items():
        by_name.setdefault(name, []).append(key)
    reached, seen, todo = set(), set(), list(seeds)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for key in by_name.get(name, []):
            reached.add(key)
            todo.extend(defs[key][2])
    return {k: defs[k][1] for k in sorted(defs) if k not in reached}


def test_no_def_is_reached_only_from_tests():
    orphans = {k: n for k, n in unreached_defs().items()
               if k not in ALLOWLIST}
    assert not orphans, (
        "top-level defs that only tests reach (delete them, move a pure "
        f"test oracle into tests/, or allowlist with a reason): {orphans}")


def test_allowlist_is_current():
    stale = sorted(set(ALLOWLIST) - set(unreached_defs()))
    assert not stale, f"allowlisted defs now reached or gone: {stale}"
