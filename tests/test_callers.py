"""Caller scan: every public package function is reached from product code.

An AST reachability walk (the caller-scan recipe of the verify skill):

* **Roots:** ``__spark_entry__.py``, ``scripts/*.py``, ``bench*.py`` and
  ``perfbench/*.py``, plus every package module's top-level code
  (statements outside ``def``/``class`` bodies, such as ``QUERIES`` tables).
* **Identifiers followed:** ``ast.Name.id``, ``ast.Attribute.attr`` and the
  names and module tails of ``import``/``from … import``. Docstrings and
  comments are never read, so a mention in prose is not a caller.
* **Walk:** every top-level function and class, and every method, is
  indexed by its bare name. Each reached name adds the identifiers of every
  package def of that name. Matching by bare name can only over-count
  callers, never miss one.

What stays unreached is the kept list below, each entry with its reason.
Anything else is a function only tests call: give it a product caller or
delete it with its tests.
"""

import ast
import sys
from pathlib import Path

import geotiff_scalable_analysis_pipeline_spark as pkg

PKG_DIR = Path(pkg.__file__).parent
REPO = PKG_DIR.parent

KEPT_UNREACHED = {
    # numpy oracles the tests compare the engine against
    "cells.cell_id_np", "cells.cell_xy_np", "cells.k_ring_np",
    "cells.morton_np", "cells.parent_np",
    "datagen.campaigns_np", "datagen.graph_edges_np", "datagen.points_np",
    "datagen.rect_zones_b_np",
    # the hand-timed metrics table, to be replaced by Spark's event log
    "metrics.emit", "metrics.instrumented", "metrics.metrics_table",
    "metrics.stage_summary",
    # the reader of a table layout, kept in the module that writes the layout
    "pyramid.read_viewport",
}


def _roots() -> list[Path]:
    return sorted(
        [REPO / "__spark_entry__.py"]
        + list((REPO / "scripts").glob("*.py"))
        + list(REPO.glob("bench*.py"))
        + list((REPO / "perfbench").glob("*.py"))
    )


def _identifiers(nodes) -> set[str]:
    out: set[str] = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                if n.module:
                    out.add(n.module.rsplit(".", 1)[-1])
                out.update(a.name for a in n.names)
            elif isinstance(n, ast.Import):
                out.update(a.name.rsplit(".", 1)[-1] for a in n.names)
    return out


def _defs(tree: ast.Module):
    """``(qualname, node)`` of every top-level def/class and every method."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        if isinstance(node, ast.ClassDef):
            for m in node.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    yield f"{node.name}.{m.name}", m


def unreached_public_defs() -> set[str]:
    by_name: dict[str, list[ast.AST]] = {}
    public: dict[str, str] = {}  # "module.qualname" -> bare name
    seeds: set[str] = set()
    for path in PKG_DIR.rglob("*.py"):
        tree = ast.parse(path.read_text(), str(path))
        seeds |= _identifiers(
            n for n in tree.body
            if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        )
        for qual, node in _defs(tree):
            by_name.setdefault(node.name, []).append(node)
            if not any(part.startswith("_") for part in qual.split(".")):
                public[f"{path.stem}.{qual}"] = node.name
    for path in _roots():
        seeds |= _identifiers([ast.parse(path.read_text(), str(path))])

    reached: set[str] = set()
    frontier = seeds
    while frontier:
        name = frontier.pop()
        if name in reached or name not in by_name:
            continue
        reached.add(name)
        frontier |= _identifiers(by_name[name]) - reached
    return {q for q, name in public.items() if name not in reached}


def test_only_the_kept_list_is_unreached():
    assert unreached_public_defs() == KEPT_UNREACHED


def test_scan_reads_code_not_docstrings(tmp_path, monkeypatch):
    """A name mentioned only in prose stays unreached; a call reaches it."""
    pkg_dir = tmp_path / "pkg"
    pkg_dir.mkdir()
    (pkg_dir / "mod.py").write_text(
        '"""helper is documented here."""\n'
        "def helper():\n    return 1\n\n"
        "def orphan():\n    '''Calls helper.'''\n\n"
        "class Box:\n    def used(self):\n        return helper()\n"
        "    def unused(self):\n        pass\n"
    )
    (tmp_path / "__spark_entry__.py").write_text("from pkg.mod import Box\nBox().used()\n")
    this = sys.modules[__name__]
    monkeypatch.setattr(this, "PKG_DIR", pkg_dir)
    monkeypatch.setattr(this, "REPO", tmp_path)
    assert unreached_public_defs() == {"mod.orphan", "mod.Box.unused"}
