"""Every public top-level ``def``/``class`` in ``sparkh3/`` is reached
by code other than tests (Spark-free: an AST scan, no imports).

A name counts as reached when code outside ``tests/`` references it
(a bare name, an attribute, or an import) anywhere other than inside
its own definition: from another module, from ``__spark_entry__.py``,
``bench.py``, ``jobs/``, ``scripts/`` or ``perfbench/``, or from
another definition of its own module (a public helper its module's
operators call is reached through them). ``__all__`` lists do not
count. Names are matched by spelling, so two modules defining the
same name share its references.

``KEPT`` names what nothing but tests reaches and stays anyway, each
with a one-word reason:
- parity: the H3-Pandas method surface that ``sparkh3.dataframe``
  reproduces;
- survey: a method in SURVEY.md's method tables;
- probe: a read-only probe the tests use to observe behaviour;
- tool: a maintenance entry point (file re-sizing, snapshot expiry,
  the generator of the committed kernel tables).
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CONSUMERS = ["sparkh3", "__spark_entry__.py", "bench.py", "jobs", "scripts", "perfbench"]
REASONS = {"parity", "survey", "probe", "tool"}

KEPT = {
    # sparkh3/dataframe.py
    "h3": "parity",
    "h3_get_base_cell": "parity",
    "h3_get_resolution": "parity",
    "h3_is_valid": "parity",
    "h3_to_center_child": "parity",
    "h3_to_parent": "parity",
    "h3_uncompact": "parity",
    "polyfill_resample": "parity",
    # sparkh3/functions.py
    "cells_to_edge_udf": "survey",
    "edge_destination_udf": "survey",
    "s2_level_int": "survey",
    "s2_to_latlng_udf": "survey",
    "s2_token_to_cell_udf": "survey",
    # sparkh3/kernel/traversal.py
    "cells_to_directed_edge": "survey",
    "directed_edge_boundary": "survey",
    "is_valid_directed_edge": "survey",
    "origin_to_directed_edges": "survey",
    "grid_distance": "survey",
    "grid_ring": "survey",
    "neighbors": "survey",
    "grid_disk_distances_grouped": "probe",
    # sparkh3/kernel/s2.py
    "get_face": "survey",
    "merge_ranges": "survey",
    "polygon_covering": "survey",
    # sparkh3/kernel/tables.py
    "write_tables_cache": "tool",
    # sparkh3/operators/
    "bloom_merge": "survey",
    "cms_estimate": "survey",
    "cms_merge": "survey",
    "decode_image": "survey",
    "ivfpq_topk": "survey",
    "ivfpq_write_corpus": "survey",
    "lsh_cosine_topk": "survey",
    "span_fingerprint": "probe",
    # sparkh3/sources/
    "compact_table": "tool",
    "delete_table": "survey",
    "expire_snapshots": "tool",
    "ingest_table": "survey",
    "pruned_file_count": "probe",
}


def _files(rel):
    path = ROOT / rel
    found = [path] if path.is_file() else sorted(path.rglob("*.py"))
    return [
        f for f in found
        if "tests" not in f.relative_to(ROOT).parts
        and not f.name.startswith("test_")
        and f.name != "conftest.py"
    ]


def _names(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def _is_all(node):
    return isinstance(node, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
    )


def _scan():
    """(public top-level names of sparkh3 -> defining files, names
    referenced outside their own definitions)."""
    public: dict[str, list[str]] = {}
    used: set[str] = set()
    for rel in CONSUMERS:
        for f in _files(rel):
            for node in ast.parse(f.read_text()).body:
                if _is_all(node):
                    continue
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    if rel == "sparkh3" and not node.name.startswith("_"):
                        public.setdefault(node.name, []).append(
                            str(f.relative_to(ROOT))
                        )
                    used.update(n for n in _names(node) if n != node.name)
                else:
                    used.update(_names(node))
    return public, used


def test_every_public_name_is_reached():
    public, used = _scan()
    unreached = {
        name: files for name, files in public.items()
        if name not in used and name not in KEPT
    }
    assert not unreached, (
        "public names reached only by tests (delete them, or keep them "
        f"in KEPT with a reason): {unreached}"
    )


def test_kept_list_is_current():
    public, used = _scan()
    assert set(KEPT.values()) <= REASONS
    assert not [n for n in KEPT if n not in public], "KEPT names a missing def"
    assert not [n for n in KEPT if n in used], "KEPT names a reached def"
