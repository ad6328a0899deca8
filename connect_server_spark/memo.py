"""The package's one memo layer: every driver-side cache lives here.

* :func:`memo_expr` memoizes pure Column builders on their arguments'
  expression text, one LRU per builder.
* :func:`cached` memoizes a value derived from files (a schema, an IVF
  or PQ model, a BM25 ledger, a store-size verdict, a row count) while
  the :func:`~connect_server_spark.fsutil.fs_signature` of every path
  it reads is unchanged. Such values carry no session in their key: a
  new session is served them as long as the files are the same.
* :func:`session_key` names the JVM session, for the few entries that
  really are per session (a table's validated bucket spec, a store's
  last refresh).

Entries stay valid across session restarts in one process:
``SparkContext.stop()`` leaves the py4j gateway running, so a cached
Column tree still resolves in the next session.

Plan construction is driver-side but not single-threaded (foreachBatch
bodies, ``execution.run_concurrently`` chains), so every access to an
:class:`LRU` holds its lock. The lock never spans a build, a load or a
Spark call.
"""

from __future__ import annotations

import functools
import threading
from collections import OrderedDict

from pyspark.sql import Column

__all__ = ["MEMO_CAP", "LRU", "memo_expr", "cached", "session_key", "shared"]

MEMO_CAP = 256


class LRU:
    """A bounded least-recently-used map: a hit moves its entry to the
    back, an insert past :data:`MEMO_CAP` evicts the front."""

    def __init__(self) -> None:
        self._data: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key, default=None):
        with self._lock:
            if key not in self._data:
                return default
            self._data.move_to_end(key)
            return self._data[key]

    def put(self, key, value) -> None:
        with self._lock:
            self._data[key] = value
            self._data.move_to_end(key)
            if len(self._data) > MEMO_CAP:
                self._data.popitem(last=False)

    def pop(self, key) -> None:
        with self._lock:
            self._data.pop(key, None)

    def keys(self) -> list:
        with self._lock:
            return list(self._data)

    def clear(self) -> None:
        with self._lock:
            self._data.clear()


# file-derived values (keyed by what they are and the paths they read)
# and session-scoped state (keyed by session_key)
shared = LRU()


def memo_expr(fn):
    """Memoize a pure Column-builder on its arguments' expression text.

    The heavy text expressions (language_id, quality_score: ~0.1 s of
    py4j round-trips EACH to build their stopword/score trees) are pure
    functions of their input expressions, and Column objects are
    immutable — the same tree can appear in any number of plans.

    Columns are keyed on the NORMALIZED column-node string
    (``_jc.node().normalized()`` — origins stripped, so two identical
    unresolved trees print identically), not the ``Column`` repr: a
    dataset-bound column like ``df["text"]`` prints ``Column<'text'>``
    exactly like ``F.col("text")`` but carries a resolved attribute of
    ONE DataFrame (node string ``text#<exprId>`` vs
    ``UnresolvedAttribute`` — the exprId disambiguates), and serving
    df1's tree to df2 would raise MISSING_ATTRIBUTES or silently bind
    the wrong side of a join.
    Lambda variables (``let_col`` bodies) get a fresh JVM name per
    construction, so those call sites miss by design — the cache is an
    :class:`LRU`, so they cannot grow a long-lived driver, and the win
    stays with the unresolved-``F.col`` hot sites.

    Scalar kwargs join the key."""

    def _key(v):
        if isinstance(v, Column):
            # normalized() carries resolved exprIds (df1["text"] vs
            # df2["text"]) but prints typed literals identically
            # (Literal(1,...) for both 1 and "1"); sql() quotes string
            # literals but drops exprIds. Key on BOTH so neither
            # blindness can serve a wrong tree.
            node = v._jc.node()
            return f"C:{node.normalized().toString()}\x00{node.sql()}"
        # scalars: 1, True and 1.0 are equal as dict keys — pair the
        # type so a bool-flagged call never hits an int-flagged entry
        return (type(v), v)

    cache = LRU()

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            key = (
                tuple(_key(a) for a in args),
                tuple(sorted((k, _key(v)) for k, v in kwargs.items())),
            )
            hash(key)  # an unhashable arg surfaces HERE, not in .get
        except Exception:  # unhashable / Connect-only Column: uncached
            return fn(*args, **kwargs)
        hit = cache.get(key)
        if hit is None:
            hit = fn(*args, **kwargs)
            cache.put(key, hit)
        return hit

    wrapped.cache_clear = cache.clear
    return wrapped


def cached(spark, key, paths, load):
    """``load()``, memoized under ``key`` while the ``fs_signature`` of
    every path in ``paths`` is unchanged. Parquet files are immutable
    once committed, so any append, rewrite or publish moves a signature
    and the next call reloads. A missing path (signature ``None``) is
    never cached, nor is a load that raised. The signatures are taken
    before the load, so a write racing the load leaves an entry that
    the next call reloads, never one that hides the write."""
    from connect_server_spark.fsutil import fs_signature

    sig = tuple(fs_signature(spark, p) for p in paths)
    if None in sig:
        return load()
    hit = shared.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    value = load()
    shared.put(key, (sig, value))
    return value


def session_key(spark) -> str:
    """The JVM session's identity (one py4j call). Not the Python
    proxy's ``id``: ``foreachBatch`` wraps every micro-batch's session
    in a new proxy for the same JVM session."""
    return spark._jsparkSession.sessionUUID()
