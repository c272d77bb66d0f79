"""Shared cache-scope lifetime helper (VERDICT r6 #7): one copy of the
register-and-release-on-NEXT-call boilerplate, per-family scopes, and a
release_all() for session teardown."""

import ast
import pathlib
from collections import Counter

from hgt2osm2_spark import cache
from hgt2osm2_spark.ops import contours, elevation, spatial, text

PACKAGE = pathlib.Path(__file__).parent.parent / "hgt2osm2_spark"

#: the package's .cache()/.persist()/.localCheckpoint() calls that no
#: CacheScope holds and their function does not drop, by (module,
#: function), each with the reason
UNSCOPED_CACHES = {
    ("ops/sampling.py", "pack_sequences"):
        "the returned packing reads its range checkpoint, and the ranges "
        "must never be recomputed (RangePartitioner samples afresh)",
}

_CACHE_CALLS = ("cache", "persist", "localCheckpoint")


def test_scopes_are_singletons_and_per_family():
    assert cache.scope("text") is cache.scope("text")
    assert cache.scope("text") is not cache.scope("knn")
    # the four operator families share the one implementation
    assert text._CACHES is cache.scope("text")
    assert spatial._CACHES is cache.scope("knn")
    assert contours._CACHES is cache.scope("contours")
    assert elevation._CACHES is cache.scope("elevation")


def test_hold_release_and_release_all(spark):
    df = spark.range(10).cache()
    sc = cache.scope("_test_scope")
    assert sc.hold(df) is df
    assert len(sc) == 1
    df.count()
    assert df.storageLevel.useMemory
    sc.release()
    assert len(sc) == 0
    assert not df.storageLevel.useMemory

    df2 = spark.range(5).cache()
    cache.scope("_test_scope").hold(df2)
    df2.count()
    cache.release_all()
    assert not df2.storageLevel.useMemory
    assert len(cache.scope("_test_scope")) == 0


def test_release_on_next_call_pattern(spark):
    """The operator contract: calling a family operator releases the
    PREVIOUS call's cache (here exercised through bm25, the original
    carrier of the pattern)."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the lazy dog")],
        "doc_id long, text string")
    text.bm25_scores(docs, ["quick"]).collect()
    held = list(text._CACHES._live)
    assert len(held) == 1
    text.bm25_scores(docs, ["lazy"]).collect()
    assert held[0] not in text._CACHES._live
    cache.release_all()


def test_pair_operators_release_their_caches(spark):
    """The three pair operators hold their cached intermediate in the
    dedup_pairs scope: a call releases the previous call's, and
    release_all leaves no persisted RDD of theirs behind."""
    from hgt2osm2_spark.ops import dedup

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 4} jumps over the lazy dog {i % 3}")
         for i in range(12)], "doc_id long, text string")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    for _ in range(2):
        assert dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2).count() > 0
        assert dedup.minhash_lsh_pairs(docs, k=16, bands=8, threshold=0.5).count() > 0
        assert dedup.simhash_near_pairs(docs, max_hamming=3).count() >= 0
        assert len(cache.scope("dedup_pairs")) == 1
    assert len(persisted() - before) == 1
    cache.release_all()
    assert persisted() - before == set()


def _functions(node):
    """(function, the nodes of its own body outside nested functions)
    for every function under node, methods and nested ones included."""
    own, todo = [], list(ast.iter_child_nodes(node))
    while todo:
        n = todo.pop()
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _functions(n)
        else:
            own.append(n)
            todo.extend(ast.iter_child_nodes(n))
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        yield node, own


def _unscoped_cache_calls(tree: ast.AST) -> Counter:
    """Cache calls of one module that no ``.hold(..)`` wraps and whose
    assigned name their function never passes to ``.hold``/``.drop``
    nor ``.unpersist()``s, counted by that function's name."""
    found = Counter()
    for fn, own in _functions(tree):
        parent = {c: n for n in own for c in ast.iter_child_nodes(n)}
        calls, released, wrapped = [], set(), set()
        for n in own:
            if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                continue
            if n.func.attr in _CACHE_CALLS:
                calls.append(n)
            elif n.func.attr == "unpersist" and isinstance(n.func.value, ast.Name):
                released.add(n.func.value.id)
            elif n.func.attr in ("hold", "drop"):
                for a in n.args:
                    wrapped.update(map(id, ast.walk(a)))
                    if isinstance(a, ast.Name):
                        released.add(a.id)
        for c in calls:
            if id(c) in wrapped:
                continue
            up = c
            while up in parent and not isinstance(up, ast.Assign):
                up = parent[up]
            names = ({t.id for tgt in up.targets for t in ast.walk(tgt)
                      if isinstance(t, ast.Name)} if isinstance(up, ast.Assign) else set())
            if not names & released:
                found[fn.name] += 1
    return found


def test_every_cache_is_scoped_or_dropped():
    """Every .cache(), .persist() and .localCheckpoint() in the package
    is held by a CacheScope (released on the family's next call or by
    release_all) or unpersisted/dropped in its own function; the named
    exceptions carry their reason."""
    found = Counter()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        for fn, k in _unscoped_cache_calls(ast.parse(path.read_text())).items():
            found[(module, fn)] += k
    assert found == Counter(dict.fromkeys(UNSCOPED_CACHES, 1))
