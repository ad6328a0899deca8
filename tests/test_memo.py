"""memo.py: the package's one memo layer. Session-scoped entries are keyed
by the JVM session (stable across a stream's micro-batches, new for
``spark.newSession()``); file-derived entries carry no session and are
reloaded when their files change. No other module holds a cache."""

import ast
import json
import pathlib

from pyspark.sql import functions as F


def _record_calls(monkeypatch, cls, method, keep):
    """Record the first argument of every ``cls.method`` call that
    ``keep`` accepts; the call itself goes through unchanged."""
    seen = []
    orig = getattr(cls, method)

    def spy(self, *args, **kwargs):
        if args and keep(args[0]):
            seen.append(args[0])
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, method, spy)
    return seen


def _describes(monkeypatch):
    from pyspark.sql import SparkSession

    return _record_calls(
        monkeypatch, SparkSession, "sql",
        lambda q: str(q).startswith("DESCRIBE TABLE"),
    )


def test_foreachbatch_batches_share_one_session_key(spark, tmp_path, monkeypatch):
    """foreachBatch hands every micro-batch a new Python proxy for the
    same JVM session. A store appended to and read back in each of 4
    batches has its catalog spec validated once, each batch still reads
    its own writes, and the session-scoped memo holds one entry per
    kind for that JVM session, not one per batch."""
    from connect_server_spark import storage

    store = str(tmp_path / "store")
    storage.write_bucketed_path(
        spark.range(0, 8).select(F.col("id").alias("k")), store, "k"
    )
    src = tmp_path / "src"
    src.mkdir()
    for b in range(4):
        (src / f"b{b}.json").write_text(
            "\n".join(json.dumps({"k": 100 * (b + 1) + i}) for i in range(5))
        )
    describes = _describes(monkeypatch)
    seen = []

    def sink(batch_df, batch_id):
        session = batch_df.sparkSession
        storage.write_bucketed_path(batch_df, store, "k", mode="append")
        rows = storage.read_bucketed(session, store, "k").count()
        seen.append((session._jsparkSession.sessionUUID(), rows))

    q = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None
    assert [rows for _, rows in seen] == [13, 18, 23, 28]
    uuids = {u for u, _ in seen}
    assert len(uuids) == 1
    assert len(describes) == 1, describes

    from connect_server_spark import memo

    (uuid,) = uuids
    name = storage._bucket_table_name(store)
    entries = sorted(k for k in memo.shared.keys() if k[1:2] == (uuid,))
    assert entries == [("bucket_spec", uuid, name), ("refreshed", uuid, name)]


def test_new_session_misses_session_memos_not_file_memos(
    spark, tmp_path, monkeypatch
):
    """A new session re-validates and refreshes a bucketed store the old
    session has memoized, and is served the IVF centroids (a value of
    the model files) without a reload. Once a row is appended to those
    files, the next call reloads them: no stale hit in either scope."""
    import numpy as np
    from pyspark.sql.catalog import Catalog
    from pyspark.sql.readwriter import DataFrameReader

    from connect_server_spark import memo, storage
    from connect_server_spark.operators.similarity import (
        read_ivf_centroids,
        write_ivf_index,
    )

    store = str(tmp_path / "store")
    storage.write_bucketed_path(
        spark.range(0, 8).select(F.col("id").alias("k")), store, "k"
    )
    assert storage.read_bucketed(spark, store, "k").count() == 8
    rng = np.random.RandomState(5)
    ix = str(tmp_path / "ivf")
    write_ivf_index(
        spark.createDataFrame(
            [(i, rng.randn(4).tolist()) for i in range(40)],
            ["vec_id", "embedding"],
        ),
        ix,
        nlist=4,
    )
    first = read_ivf_centroids(spark, ix)

    describes = _describes(monkeypatch)
    refreshes = _record_calls(monkeypatch, Catalog, "refreshTable", bool)
    model_reads = _record_calls(
        monkeypatch, DataFrameReader, "parquet",
        lambda p: str(p).endswith("/centroids"),
    )
    other = spark.newSession()
    assert memo.session_key(other) != memo.session_key(spark)
    name = storage._bucket_table_name(store)

    assert storage.read_bucketed(other, store, "k").count() == 8
    assert len(describes) == 1 and refreshes == [name]
    storage.read_bucketed(spark, store, "k")  # its memo still hits
    assert len(describes) == 1 and refreshes == [name]

    assert read_ivf_centroids(other, ix) is first
    assert model_reads == []
    other.createDataFrame(
        [(4, [0.0] * 4)], "cell int, weights array<double>"
    ).write.mode("append").parquet(f"{ix}/centroids")
    grown = read_ivf_centroids(spark, ix)
    assert len(model_reads) == 1
    assert grown.shape == (5, 4) and np.array_equal(grown[:4], first)


# Module-level tables filled at import time by registration, not caches.
_REGISTRIES = {
    ("registry.py", "_QUERIES"),
    ("registry.py", "_DEFERRED"),
    ("registry.py", "_ORACLE"),
}
_EMPTY_CONTAINERS = {
    "dict", "set", "OrderedDict", "defaultdict",
    "WeakKeyDictionary", "WeakValueDictionary",
}


def _cache_sites(rel: str, tree: ast.Module) -> list[str]:
    functools_names = {"functools"}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            functools_names |= {
                a.asname or a.name for a in node.names if a.name == "functools"
            }
    out = []
    for node in ast.walk(tree):
        where = f"{rel}:{getattr(node, 'lineno', 0)}"
        if (
            isinstance(node, ast.Attribute)
            and node.attr in ("lru_cache", "cache")
            and isinstance(node.value, ast.Name)
            and node.value.id in functools_names
        ):
            out.append(f"{where}: functools.{node.attr}")
        elif isinstance(node, ast.ImportFrom) and node.module == "functools":
            out += [
                f"{where}: from functools import {a.name}"
                for a in node.names
                if a.name in ("lru_cache", "cache")
            ]
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "id"
            and node.args
            and isinstance(node.args[0], ast.Attribute)
            and node.args[0].attr == "_jsparkSession"
        ):
            out.append(f"{where}: id(<session>._jsparkSession)")
        elif isinstance(node, ast.FunctionDef) and node.name == "memo_expr":
            out.append(f"{where}: a memo_expr outside memo.py")
    if rel == "memo.py":
        return []
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign):
            targets, value = stmt.targets, stmt.value
        elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
            targets, value = [stmt.target], stmt.value
        else:
            continue
        empty = (isinstance(value, ast.Dict) and not value.keys) or (
            isinstance(value, ast.Call)
            and not value.args
            and getattr(value.func, "id", getattr(value.func, "attr", None))
            in _EMPTY_CONTAINERS
        )
        for t in targets:
            if (
                empty
                and isinstance(t, ast.Name)
                and (rel, t.id) not in _REGISTRIES
            ):
                out.append(f"{rel}:{stmt.lineno}: module-level cache {t.id}")
    return out


def test_no_cache_outside_memo_module():
    """The memo code is in one place: no lru_cache/functools.cache, no
    session keyed by the Python proxy's id, no second memo_expr and no
    module-level table filled at run time anywhere but memo.py."""
    import connect_server_spark

    pkg = pathlib.Path(connect_server_spark.__file__).parent
    problems = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        problems += _cache_sites(rel, ast.parse(path.read_text()))
    assert problems == []
