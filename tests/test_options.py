"""Option scan: every optional parameter gets two values from product code.

An AST walk over the same roots and the same bare-name matching as the
caller scan (``tests/test_callers.py``):

* **Defs scanned:** every top-level function and every method of a package
  module, with its defaulted parameters (positional and keyword-only).
  Defs that product code never calls are skipped; they are the caller
  scan's business.
* **Call sites:** every call in a package module or a root whose callee's
  bare name (``f(...)``, ``x.f(...)``; ``Cls(...)`` for ``Cls.__init__``)
  names the def. Each call site gives each defaulted parameter one value:
  - a literal or an UPPER_CASE constant gives its source text;
  - an omitted argument gives the default's source text;
  - any other expression is a value of its own;
  - ``*args`` or ``**kw`` make every parameter of the def vary.
  ``Tracer.call(name, fn, *args)`` is a call of ``fn`` with the arguments
  after ``fn``.

A parameter with exactly one value is an option no workload uses: fold it
into the code as a constant, a literal or a required parameter, and delete
what its other values selected. What stays is the kept list below, each
entry with its reason.
"""

import ast
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))

import test_callers as tc  # noqa: E402
from test_callers import _defs, _roots  # noqa: E402

KEPT_SINGLE = {
    # a deployment setting: product code runs at the default master
    "session.get_spark.master",
    # the snapshot reads through which the concurrency tests prove that no
    # committed row is lost
    "catalog.TableCatalog.read.snapshot",
    "catalog.TableCatalog.row_count.snapshot",
    # passed by name from the frozen bench.py / bench_extra.py / perfbench
    # harnesses, which cannot change
    "interpolate.idw.oid",
    "pip_join.pip_join.x",
    "pip_join.pip_join.y",
    "temporal.gap_fill_locf.keys",
}

VARIES = object()


def _default_params(fn: ast.FunctionDef, is_method: bool):
    """``(positional names, {defaulted name: default text})`` of ``fn``."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    if is_method:
        pos = pos[1:]
    defaults = {}
    for p, d in zip((a.posonlyargs + a.args)[::-1], a.defaults[::-1]):
        defaults[p.arg] = ast.unparse(d)
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            defaults[p.arg] = ast.unparse(d)
    return pos, defaults


def _value(node: ast.expr, site: str):
    try:
        ast.literal_eval(node)
        return ast.unparse(node)
    except (ValueError, TypeError, SyntaxError):
        pass
    name = node.id if isinstance(node, ast.Name) else getattr(node, "attr", "")
    if name.isupper():
        return ast.unparse(node)
    return site


def _calls(tree: ast.Module, path: Path):
    """``(callee bare name, args, keywords, site)`` of every call in ``tree``."""
    for n in ast.walk(tree):
        if not isinstance(n, ast.Call):
            continue
        f, args = n.func, n.args
        if isinstance(f, ast.Attribute) and f.attr == "call" and len(args) >= 2:
            f, args = args[1], args[2:]
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name:
            yield name, args, n.keywords, f"{path.name}:{n.lineno}:{n.col_offset}"


def single_valued_options() -> set[str]:
    subjects: dict[str, list] = {}  # bare callee name -> [(qualname, pos, defaults)]
    sources = list(_roots())
    for path in sorted(tc.PKG_DIR.rglob("*.py")):
        sources.append(path)
        if path.name == "datagen.py":  # the corpus generator: tests size corpora through cfg
            continue
        for qual, node in _defs(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ClassDef):
                continue
            cls = "." in qual
            pos, defaults = _default_params(node, cls)
            if defaults:
                key = qual.split(".")[0] if node.name == "__init__" else node.name
                subjects.setdefault(key, []).append((f"{path.stem}.{qual}", pos, defaults))

    values: dict[str, set] = {}
    for path in sources:
        for name, args, kws, site in _calls(ast.parse(path.read_text(), str(path)), path):
            for qual, pos, defaults in subjects.get(name, ()):
                spread = any(isinstance(a, ast.Starred) for a in args) or any(
                    k.arg is None for k in kws
                )
                given = {p: a for p, a in zip(pos, args)}
                given.update((k.arg, k.value) for k in kws if k.arg)
                for p, d in defaults.items():
                    v = VARIES if spread else _value(given[p], site) if p in given else d
                    values.setdefault(f"{qual}.{p}", set()).add(v)
    return {q for q, vs in values.items() if len(vs) == 1 and VARIES not in vs}


def test_only_the_kept_list_is_single_valued():
    assert single_valued_options() == KEPT_SINGLE


def test_scan_counts_values_not_mentions(tmp_path, monkeypatch):
    """One literal everywhere is flagged; a second value, a variable from a
    second site or ``**kw`` clears the flag; an omitted argument counts as
    the default; a docstring mention is not a call."""
    pkg_dir = tmp_path / "pkg"
    pkg_dir.mkdir()
    (pkg_dir / "mod.py").write_text(
        '"""same(x, k=9) and var(x, k=3) are documented here."""\n'
        "def same(x, k=1):\n    return x + k\n\n"
        "def two(x, k=1):\n    return x + k\n\n"
        "def omitted(x, k=2):\n    return x + k\n\n"
        "def var(x, k=1):\n    return x + k\n\n"
        "def spread(x, k=1):\n    return x + k\n\n"
        "def prose(x, k=1):\n    '''Call as prose(x, k=5).'''\n    return x\n"
    )
    (tmp_path / "__spark_entry__.py").write_text(
        "from pkg.mod import same, two, omitted, var, spread, prose\n"
        "n = 4\nopts = {'k': 3}\n"
        "same(0, k=7)\nsame(1, 7)\n"
        "two(0, k=7)\ntwo(1, k=8)\n"
        "omitted(0)\nomitted(1, k=2)\n"
        "var(0, k=n)\nvar(1, k=n)\n"
        "spread(0, k=7)\nspread(1, **opts)\n"
        "prose(0, k=7)\n"
    )
    monkeypatch.setattr(tc, "PKG_DIR", pkg_dir)
    monkeypatch.setattr(tc, "REPO", tmp_path)
    assert single_valued_options() == {"mod.same.k", "mod.omitted.k", "mod.prose.k"}
