"""One owner for materialized data.

Engine code persists and checkpoints only through ``session.persisted``
and ``session.checkpoint``: the first releases what it holds when its
block exits, the second applies the checkpoint replica policy. The guard
below keeps them the only owner; the corpus sweep checks that no query
leaves a cached plan or a non-checkpoint block behind.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from test_similarity import SF_DIR  # the sf0.01 testdata directory

ENGINE = Path(__file__).resolve().parent.parent / "etl_process_spark"


def _materializing_calls(tree: ast.AST) -> list[tuple[int, str]]:
    found = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)):
            continue
        attr = node.func.attr
        if attr in ("localCheckpoint", "persist") or (
            attr == "cache" and not node.args and not node.keywords
        ):
            found.append((node.lineno, attr))
    return sorted(found)


def test_guard_sees_every_materializing_call():
    src = "a.localCheckpoint(eager=False)\nb.persist()\nc.cache()\nd.cache(1)\n"
    assert _materializing_calls(ast.parse(src)) == [
        (1, "localCheckpoint"), (2, "persist"), (3, "cache")]


def test_engine_materializes_only_through_session():
    offenders = []
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE)
        if rel.parts[0] == "vendor" or rel == Path("session.py"):
            continue
        for line, attr in _materializing_calls(ast.parse(path.read_text())):
            offenders.append(f"{rel}:{line}: .{attr}(")
    assert offenders == [], (
        "use session.checkpoint / session.persisted instead: " + ", ".join(offenders)
    )


@pytest.mark.slow  # corpus-sweep/long-property tier (see pytest.ini)
def test_no_query_leaves_cached_plans_or_blocks(spark):
    """Every registered builder, written to a noop sink at sf0.01, leaves
    the CacheManager empty and no persisted RDD but local-checkpoint
    blocks. Checked while the result is still referenced, so its own
    checkpoint blocks are allowed; they go when the DataFrame dies."""
    from etl_process_spark.queries import QUERIES

    cm = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc
    leaks = {}
    for name in sorted(QUERIES):
        spark.catalog.clearCache()
        for rdd in jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        df = QUERIES[name].builder(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        held = [rdd.id() for rdd in jsc.getPersistentRDDs().values()
                if not rdd.rdd().isLocallyCheckpointed()]
        if not cm.isEmpty() or held:
            leaks[name] = {"cached_plans": cm.cachedData().size(), "rdds": held}
        del df
    assert leaks == {}, leaks
