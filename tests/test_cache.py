"""The session cache (data_framework_spark/cache.py): invalidate-on-write
for the ivfpq index components, release of superseded entries, and the
guard that keeps every in-process cache in that one module."""

from __future__ import annotations

import ast
import os
import pathlib

from pyspark.sql import functions as F

from data_framework_spark import cache
from tests.conftest import SF_SMALL

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "data_framework_spark"
_CONTAINERS = (ast.Dict, ast.List, ast.Set, ast.DictComp, ast.ListComp, ast.SetComp)
_CONTAINER_CALLS = {"dict", "list", "set", "defaultdict", "OrderedDict", "deque"}
_MUTATORS = {
    "append", "extend", "insert", "add", "update", "setdefault",
    "pop", "popitem", "remove", "discard", "clear",
}


def _module_containers(tree: ast.Module) -> set[str]:
    """Names bound at module level to a mutable container."""
    names = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        is_call = (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id in _CONTAINER_CALLS
        )
        if isinstance(value, _CONTAINERS) or is_call:
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def _mutated_in_functions(tree: ast.Module, names: set[str]) -> set[str]:
    """The subset of `names` some function body mutates in place."""
    hit = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for n in ast.walk(fn):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in _MUTATORS
                and isinstance(n.func.value, ast.Name)
            ):
                hit.add(n.func.value.id)
            targets = []
            if isinstance(n, (ast.Assign, ast.Delete)):
                targets = n.targets
            elif isinstance(n, ast.AugAssign):
                targets = [n.target]
            hit |= {
                t.value.id
                for t in targets
                if isinstance(t, ast.Subscript) and isinstance(t.value, ast.Name)
            }
    return hit & names


def test_no_module_level_cache_outside_cache_module():
    """A module-level dict/list/set that a function fills is a cache
    with its own key and invalidation rule; cache.py is the only
    module allowed one."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "cache.py":
            continue
        tree = ast.parse(path.read_text())
        for name in sorted(_mutated_in_functions(tree, _module_containers(tree))):
            offenders.append(f"{path.relative_to(PACKAGE.parent)}: {name}")
    assert offenders == []


def test_scan_sees_cache_module_state():
    """The guard is live: it finds cache.py's own registry."""
    tree = ast.parse((PACKAGE / "cache.py").read_text())
    assert "_ENTRIES" in _mutated_in_functions(tree, _module_containers(tree))


def test_superseded_entry_is_released_on_source_rewrite(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"v1")
    released = []

    def build():
        return f"v{len(released) + 1}"

    v1 = cache.get_or_build(spark, "t_unit", str(sf), 0, build, released.append)
    assert cache.get_or_build(spark, "t_unit", str(sf), 0, build) == v1
    (sf / "t.parquet").write_bytes(b"v2-longer")
    v2 = cache.get_or_build(spark, "t_unit", str(sf), 0, build, released.append)
    assert released == [v1] and v2 != v1
    assert cache.entries("t_unit") == [v2]
    cache.invalidate("t_unit")
    assert released == [v1, v2] and cache.entries("t_unit") == []


def test_ivfpq_rewrite_at_same_path_serves_fresh_components(spark, tmp_path):
    """Rewriting an index at a path already searched in this session
    must make the next search load the NEW centroids and codebooks,
    not the session-cached ones of the index it replaced."""
    from data_framework_spark.similarity.ivfpq import (
        _load_index_driver_side,
        ivfpq_index_write,
        ivfpq_topk_from_index,
    )
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 5).orderBy("vec_id").collect()
    ]
    path = os.path.join(str(tmp_path), "idx")

    ivfpq_index_write(emb, path, ncells=8)
    first = ivfpq_topk_from_index(spark, path, queries).collect()
    assert len(_load_index_driver_side(spark, path)[0]) == 8

    ivfpq_index_write(emb.filter(F.col("vec_id") < 250), path, ncells=4)
    second = ivfpq_topk_from_index(spark, path, queries).collect()
    cents, books = _load_index_driver_side(spark, path)
    on_disk = spark.read.parquet(f"{path}/centroids").orderBy("cid").collect()
    assert cents == [[float(x) for x in r["embedding"]] for r in on_disk]
    assert len(cents) == 4
    book_rows = spark.read.parquet(f"{path}/pq_books").collect()
    assert books.shape[1] == max(r["code"] for r in book_rows) + 1
    for r in book_rows:
        assert list(books[r["subspace"], r["code"]]) == list(r["vec"])
    # the search equals one over a cold load of the rewritten index
    cache.invalidate("ivfpq_index")
    assert ivfpq_topk_from_index(spark, path, queries).collect() == second
    assert second != first
