"""Worker-reuse guard: every partition-iterator UDF drains its input.

Spark hands a Python worker back to the pool only when the UDF consumed its
whole input iterator. A ``mapInPandas``/``mapInArrow``/``mapPartitions``
generator that leaves its ``for batch in it:`` loop early (``break`` or
``return``) makes the next stage fork a fresh worker and pay the
pandas+pyarrow import again (~0.65 s per stage). This scans the package
source: every generator function whose loop iterates its first argument must
have no ``break`` (of that loop) and no ``return`` inside that loop.

Row-emitting decode UDFs share one such loop, ``operators/rows.map_rows``;
only UDFs that compute over a whole batch at once call ``mapInPandas``
themselves, and each of those is named in ``BATCH_UDFS``.
"""

import ast
from pathlib import Path

import geotiff_scalable_analysis_pipeline_spark as pkg

PKG_DIR = Path(pkg.__file__).parent
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)
_LOOPS = (ast.For, ast.AsyncFor, ast.While)

# ``module.function`` of every ``mapInPandas`` call outside ``rows.map_rows``:
# each computes over a whole Arrow batch (matmul, top-k, a prefix scan, a
# per-range partial), not one output tuple per input row
BATCH_UDFS = {
    "kmeans.lloyd_kmeans",
    "knn._oneshot_knn",
    "packing.prefix_offsets",
    "ranktests.rank_tests_2sample",
    "similarity.cosine_topk", "similarity.ivf_probes", "similarity.lsh_buckets",
}


def _own_nodes(nodes, skip=_SCOPES):
    """Walk ``nodes`` without descending into nested scopes (or ``skip``)."""
    stack = [n for n in nodes if not isinstance(n, skip)]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(c for c in ast.iter_child_nodes(n) if not isinstance(c, skip))


def _early_exits(loop: ast.For) -> list[ast.stmt]:
    """``return`` anywhere in the loop body, ``break`` that exits this loop."""
    exits = [n for n in _own_nodes(loop.body) if isinstance(n, ast.Return)]
    exits += [
        n for n in _own_nodes(loop.body, _SCOPES + _LOOPS) if isinstance(n, ast.Break)
    ]
    return exits


def _drain_loops(fn):
    """The ``for ... in <first arg>`` loops of a generator function."""
    args = fn.args.posonlyargs + fn.args.args
    if not args:
        return []
    own = list(_own_nodes(fn.body))
    if not any(isinstance(n, (ast.Yield, ast.YieldFrom)) for n in own):
        return []
    first = args[0].arg
    return [
        n for n in own
        if isinstance(n, ast.For) and isinstance(n.iter, ast.Name) and n.iter.id == first
    ]


def scan(root: Path):
    """(number of drain loops, [file:line of each early exit])."""
    loops, bad = 0, []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for loop in _drain_loops(fn):
                loops += 1
                bad += [
                    f"{path.relative_to(root)}:{n.lineno} ({fn.name})"
                    for n in _early_exits(loop)
                ]
    return loops, bad


def test_partition_udfs_drain_their_input():
    loops, bad = scan(PKG_DIR)
    assert loops >= 10, f"scan found only {loops} partition-iterator loops"
    assert not bad, f"early exit from a UDF's input loop: {bad}"


def map_in_pandas_callers(root: Path) -> set[str]:
    """``module.top-level function`` of every ``mapInPandas`` call."""
    out = set()
    for path in sorted(root.rglob("*.py")):
        for top in ast.parse(path.read_text(), filename=str(path)).body:
            for n in ast.walk(top):
                if isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "mapInPandas":
                    out.add(f"{path.stem}.{getattr(top, 'name', '<module>')}")
    return out


def test_row_udfs_share_one_loop():
    assert map_in_pandas_callers(PKG_DIR) == {"rows.map_rows"} | BATCH_UDFS


def test_guard_flags_break_and_return_but_not_nested_scopes():
    src = '''
def drains(it):
    for pdf in it:
        for row in pdf:
            break            # inner loop only
        def helper():
            return 1         # nested scope
        yield pdf

def breaks(it):
    for pdf in it:
        if len(pdf):
            break
        yield pdf

def returns(it, k):
    for pdf in it:
        yield pdf
        return
'''
    tree = ast.parse(src)
    fns = {f.name: f for f in tree.body}
    exits = {name: sum(len(_early_exits(l)) for l in _drain_loops(f)) for name, f in fns.items()}
    assert exits == {"drains": 0, "breaks": 1, "returns": 1}
