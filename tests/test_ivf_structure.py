"""One home per shared IVF step: across functions/similarity.py and
functions/pq.py the per-query top-k window and the IVF list assignment
are each built in exactly one function, and ``ivf_topk`` has one body
(no ``method`` fork, no ``seed``).  No test here launches a Spark job."""

from __future__ import annotations

import ast
import os

FUNCTIONS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "openetlagent_spark",
    "functions",
)
MODULES = ("similarity.py", "pq.py")


def _functions():
    """(module, name, node) for every top-level function of MODULES."""
    for module in MODULES:
        with open(os.path.join(FUNCTIONS, module)) as fh:
            tree = ast.parse(fh.read())
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                yield module, node.name, node


def _functions_where(matches) -> set[tuple[str, str]]:
    return {
        (module, name)
        for module, name, fn in _functions()
        if any(matches(node) for node in ast.walk(fn))
    }


def _is_call(node, attr: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
    )


def test_query_topk_window_built_once():
    """A ``Window.partitionBy(…).orderBy(…)`` whose order names
    neighbor_id is the per-query top-k window (the cosine rank and the
    ADC refine cut both use it)."""

    def rank_window(node) -> bool:
        if not (_is_call(node, "orderBy") and _is_call(node.func.value, "partitionBy")):
            return False
        base = node.func.value.func.value
        return (
            isinstance(base, ast.Name)
            and base.id == "Window"
            and any(
                isinstance(n, ast.Constant) and n.value == "neighbor_id"
                for arg in node.args
                for n in ast.walk(arg)
            )
        )

    assert _functions_where(rank_window) == {("similarity.py", "_top_per_query")}


def test_list_assignment_built_once():
    """nearest_centroid_ids has two callers: assign_lists, which every
    IVF list assignment (direct, store build, append, serve, IVF-PQ)
    goes through, and the PQ encoder's per-subspace code lookup."""

    def calls_nearest(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "nearest_centroid_ids"
        )

    assert _functions_where(calls_nearest) == {
        ("similarity.py", "assign_lists"),
        ("pq.py", "pq_codes_expr"),
    }


def test_ivf_topk_has_one_body():
    (fn,) = [fn for module, name, fn in _functions() if name == "ivf_topk"]
    params = {a.arg for a in fn.args.args + fn.args.kwonlyargs}
    assert not params & {"method", "seed"}
