"""Streaming continuous-aggregate maintenance: the hypertable rollup
(:mod:`connect_server_spark.operators.temporal`) kept fresh by a
Structured Streaming ``foreachBatch`` sink.

Design: an **append-only partial log + merge-on-read + compaction**, the
classic exactly-once split for mergeable aggregates (the same discipline
TimescaleDB's continuous-aggregate refresh and a Kafka-Streams
changelog+compaction pair use):

* Each micro-batch appends its ``rollup_cascade`` partials to
  ``<store>/partials`` stamped with the batch id — O(batch) work, no
  read-modify-write of history, so late data lands in old buckets for
  free (its partial rows simply carry old ``bucket_ts`` values).
* A replayed batch (checkpoint restart) is detected by its batch id
  against the log ∪ the ``<store>/seen`` ledger and appends nothing —
  the log is exactly-once per batch even though the write itself is
  at-least-once.
* ``read_rollup`` merges the log's partials per (keys, bucket, level):
  associative ``merge_partials``, so read-side cost is proportional to
  DISTINCT buckets (bounded by time-range × keys), not to how many
  batches contributed.
* ``compact_rollup`` bounds log growth: merge the log into one row per
  bucket and publish it as a new GENERATION of the log behind a
  ``_CURRENT`` pointer (``fsutil.publish_generation``; the pointer flip
  is one atomic small-file replace, object-store-safe, and a crash
  mid-compaction leaves the live log simply UNTOUCHED). Absorbed batch
  ids move to ``seen`` FIRST, then the publish: a crash between the
  two leaves a still-raw log (reads stay correct) and an
  already-updated ledger (replays stay gated) — the safe ordering;
  publish-first would let a replayed absorbed batch double-count. Writer contract: appends and compaction of ONE store
  run in one thread (the foreachBatch body) — same single-writer rule
  as every generational swap.
"""

from __future__ import annotations

import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_server_spark.fsutil import (
    append_resolved,
    begin_generation,
    publish_generation,
    resolve_store,
)
from connect_server_spark.operators.temporal import (
    merge_partials,
    rollup_cascade,
)

__all__ = ["rollup_refresh_sink", "read_rollup", "compact_rollup"]

_COMPACTED = -1  # batch_id sentinel on compacted rows


def _partials_path(store: str) -> str:
    return posixpath.join(store, "partials")


def _seen_path(store: str) -> str:
    return posixpath.join(store, "seen")


def _batch_already_ingested(
    spark: SparkSession, store: str, batch_id: int
) -> bool:
    """Point lookup: has this batch id landed in the log or been
    absorbed by a compaction? Both scans are filter-pushdown point
    probes over narrow columns."""
    for path, col in (
        (resolve_store(spark, _partials_path(store)), "batch_id"),
        (_seen_path(store), "batch_id"),
    ):
        try:
            hit = (
                spark.read.parquet(path)
                .filter(F.col(col) == batch_id)
                .limit(1)
                .count()
            )
        except Exception as exc:  # PATH_NOT_FOUND on first batch
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            continue
        if hit:
            return True
    return False


def rollup_refresh_sink(
    spark: SparkSession,
    store: str,
    ts_col: str,
    value_col: str,
    keys: list[str],
    widths_seconds: list[int],
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function maintaining a persisted
    multi-resolution rollup. Per batch: skip if the batch id is already
    ingested (replay), else append the batch's cascade partials. Late
    rows merge into their (old) buckets at read time — no history
    rewrite, no watermark data loss at the store level."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if _batch_already_ingested(spark, store, batch_id):
            return
        partials = rollup_cascade(
            batch_df, ts_col, value_col, keys, widths_seconds
        ).withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        # a post-compaction log lives behind the _CURRENT pointer
        append_resolved(partials, _partials_path(store))

    return sink


def read_rollup(
    spark: SparkSession,
    store: str,
    keys: list[str],
    width_seconds: int | None = None,
) -> DataFrame:
    """The current rollup state: log partials merged per (keys, bucket,
    level). ``width_seconds`` prunes to one level scan-stage (the
    filter pushes down to the parquet scan)."""
    log = spark.read.parquet(resolve_store(spark, _partials_path(store)))
    if width_seconds is not None:
        log = log.filter(F.col("bucket_seconds") == width_seconds)
    return merge_partials(log.drop("batch_id"), keys)


def compact_rollup(
    spark: SparkSession, store: str, keys: list[str]
) -> int:
    """Fold the partial log to one row per (keys, bucket, level).

    Ledger-first ordering (see module docstring), then the
    generation-pointer publish. Crash analysis, window by window:
    before the ledger append — nothing changed. Between ledger and
    publish — raw log intact (reads correct), absorbed batches gated by
    ``seen``; re-running compaction re-absorbs (idempotent: ``seen``
    appends duplicate ids harmlessly, the probe is existence).
    Mid-build — the pointer (and the live log) untouched; the orphan
    generation dir is GC'd by the next successful publish. After
    publish — done; the pre-publish log survives one publish as reader
    grace. Returns the compacted row count.
    """
    ppath = _partials_path(store)
    live = resolve_store(spark, ppath)
    log = spark.read.parquet(live)
    absorbed = log.select("batch_id").distinct().filter(
        F.col("batch_id") != _COMPACTED
    )
    # 1. ledger first: replayed absorbed batches must stay gated even if
    # the publish below never happens.
    absorbed.write.mode("append").parquet(_seen_path(store))
    merged = merge_partials(log.drop("batch_id"), keys).withColumn(
        "batch_id", F.lit(_COMPACTED).cast("long")
    )
    n = merged.count()
    # 2. build the merged log as a new generation, then flip the pointer
    gen = begin_generation(spark, ppath)
    merged.write.mode("overwrite").parquet(gen)
    publish_generation(spark, ppath, gen)
    return n
