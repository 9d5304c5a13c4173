"""Source guard: per-group top-k cuts are built in one place.

``operators/ranking.py`` owns the salted two-stage window
(``salted_topk_per_group``) and ``operators/similarity.py`` owns the
cosine ranking order (``cosine_topk``: round(cos, 6) descending, then
neighbor_id). A hand-written copy elsewhere in the package fails here,
so a fix to the shared cut cannot miss a copy."""

from __future__ import annotations

import ast
import os

import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spotify_podcasts_airflow_batch_spark",
)


def _modules():
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), ast.parse(fh.read())


def _is_call(node, owner: str, attr: str) -> bool:
    """``owner.attr(...)``, e.g. ``Window.partitionBy(...)``."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == owner
    )


def _is_cosine_key(node) -> bool:
    """``F.round(<score>, 6).desc()``."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "desc"
    ):
        return False
    inner = node.func.value
    return (
        _is_call(inner, "F", "round")
        and len(inner.args) == 2
        and ast.unparse(inner.args[1]) == "6"
    )


def _is_neighbor_pin(node) -> bool:
    return _is_call(node, "F", "col") and ast.unparse(node) == (
        "F.col('neighbor_id')"
    )


@pytest.mark.fast
def test_salted_and_cosine_topk_are_not_hand_written():
    salted, cosine = [], []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if _is_call(node, "Window", "partitionBy") and any(
                _is_call(sub, "F", "pmod")
                for arg in node.args
                for sub in ast.walk(arg)
            ):
                salted.append(f"{rel}:{node.lineno}")
            # the cosine order: (round(score, 6) desc, neighbor_id) as
            # consecutive arguments or list elements
            elts = (
                node.args
                if isinstance(node, ast.Call)
                else node.elts
                if isinstance(node, (ast.List, ast.Tuple))
                else []
            )
            for a, b in zip(elts, elts[1:]):
                if _is_cosine_key(a) and _is_neighbor_pin(b):
                    cosine.append(f"{rel}:{a.lineno}")
    assert [s.split(":")[0] for s in salted] == ["operators/ranking.py"], salted
    assert [c.split(":")[0] for c in cosine] == [
        "operators/similarity.py"
    ], cosine
