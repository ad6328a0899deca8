"""Storage-layout helpers: bucketed tables for co-located joins, salted
aggregation for skewed keys.

At 100 TB the status table is joined on ``source_id`` by every read path
(J2 latest-status, J5 insert guard). Bucketing both sides by the join key
at write time removes the per-query shuffle entirely: Spark recognizes
matching bucket specs and plans the join with **zero Exchange** — the
co-location is paid once, at ingest.

Skewed keys (one org owning half the submissions) break the "partial agg
handles it" assumption for holistic aggregates like ``collect_set``:
every value of the hot key lands on one reducer. ``salted_collect_set``
splits each key into ``salt`` subkeys, aggregates the shards in
parallel, then merges shard results — two small shuffles instead of one
giant straggler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_server_spark import memo

__all__ = [
    "write_bucketed",
    "write_bucketed_path",
    "read_bucketed",
    "ensure_bucketed_table",
    "compact_bucketed",
    "maintain_bucketed",
    "probe_side",
    "write_partitioned",
    "write_status_layout",
    "status_point_read",
    "compact",
    "compact_partitioned",
    "read_table",
    "read_snapshot",
    "ledger_batch_ids",
    "merge_batch_ledger",
    "salted_collect_set",
    "snapshot_diff",
]


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a parquet table bucketed (and sorted) by
    ``key``. Two tables written with the same (key, buckets) spec join
    on that key with no Exchange on either side."""
    (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def _bucket_table_name(path: str) -> str:
    """Deterministic catalog name for a path-addressed bucketed store.

    Bucket metadata (key, count, sort) lives in the catalog, not in the
    parquet files, so a PATH-based store needs a stable table identity
    that any session can re-derive from the path alone — a content hash
    of the absolute path. The in-memory catalog is per-session; a fresh
    session re-registers via :func:`ensure_bucketed_table`."""
    import hashlib
    import os

    return "bkt_" + hashlib.md5(
        os.path.abspath(path).encode("utf-8")
    ).hexdigest()[:16]


def _spec_key(spark: SparkSession, name: str) -> tuple:
    """Memo key of the bucket spec this session last validated for
    catalog table ``name`` — see :func:`ensure_bucketed_table`."""
    return ("bucket_spec", memo.session_key(spark), name)


def _drop_bucketed_table(spark: SparkSession, path: str) -> None:
    """Drop the catalog registration for ``path`` AND its validation
    memo — the one in-package route for dropping bucketed tables, so
    the :func:`ensure_bucketed_table` memo can never outlive the
    registration it vouches for."""
    name = _bucket_table_name(path)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    memo.shared.pop(_spec_key(spark, name))


def ensure_bucketed_table(
    spark: SparkSession,
    path: str,
    key: str,
    buckets: int = 32,
    sort_key: str | None = None,
    schema=None,
) -> str:
    """Register (if absent) the external bucketed table describing the
    parquet files at ``path`` and return its catalog name.

    Spark persists the bucket id in each FILE NAME (``..._00007...``)
    but the spec itself only in catalog metadata — a plain
    ``spark.read.parquet(path)`` forgets the layout and every join
    re-shuffles. This re-attaches the spec in a new session with a
    ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` DDL over the existing
    files, so the layout guarantee survives process restarts (the
    daily-ingest case: the index is built by yesterday's job).

    An existing registration is VALIDATED against the requested spec
    and recreated on mismatch: table names are content-hashed from the
    path, so a reused path (a store overwritten under a different key,
    or generation numbering restarting after an overwrite reset) would
    otherwise be served under a stale CLUSTERED BY — wrong bucket
    assignments, silently wrong joins.

    The validation (a ``DESCRIBE TABLE EXTENDED`` command) runs ONCE
    per (JVM session, table, spec): serving paths call this on every
    probe (``read_bucketed``), and the r9 bench decomposition measured
    the per-read DESCRIBE as the dominant added driver-side cost of the
    generation-pointer conversion. The memo holds the spec last
    validated per (session, table), so a same-session respec
    (``write_bucketed_path`` overwrite under a new key) re-validates;
    cross-session drops recreate the table through the ``tableExists``
    miss. The memo is invalidated when the table is dropped through
    :func:`_drop_bucketed_table` (the only in-package drop route)."""
    name = _bucket_table_name(path)
    wanted = (key, buckets, sort_key or key)
    spec_key = _spec_key(spark, name)
    if spark.catalog.tableExists(name):
        if memo.shared.get(spec_key) == wanted:
            return name
        spec = {
            r.col_name: r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        }
        if (
            spec.get("Num Buckets") == str(buckets)
            and spec.get("Bucket Columns") == f"[`{key}`]"
            and spec.get("Sort Columns") == f"[`{sort_key or key}`]"
        ):
            memo.shared.put(spec_key, wanted)
            return name
        spark.sql(f"DROP TABLE IF EXISTS {name}")  # stale spec: rebuild
    if schema is None:
        schema = spark.read.parquet(path).schema
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    spark.sql(
        f"CREATE TABLE {name} ({cols}) USING PARQUET "
        f"CLUSTERED BY (`{key}`) SORTED BY (`{sort_key or key}`) "
        f"INTO {buckets} BUCKETS LOCATION '{path}'"
    )
    memo.shared.put(spec_key, wanted)  # just created with exactly this spec
    return name


def _by_bucket(df: DataFrame, key: str, buckets: int) -> DataFrame:
    """Shuffle ``df`` so each shuffle partition holds one bucket's rows
    before a bucketed write. Both branches hash with
    ``pmod(murmur3(key), buckets)``, the bucketed writer's own bucket
    id, so partition *i* is bucket *i*.

    With AQE on (read at call time), a REBALANCE hint lets AQE coalesce
    contiguous partitions to its advisory size: a tiny append runs as
    one task writing one file per bucket it touches, and a large write
    keeps its parallelism. AQE may split a partition above the advisory
    size, giving that bucket more than one file in the write, which
    bucketed reads accept as they accept appended files. Spark ignores
    the hint with AQE off, where an N-partition input would write up to
    N files per bucket, so that session keeps a fixed ``buckets``-way
    repartition."""
    conf = df.sparkSession.conf.get("spark.sql.adaptive.enabled", "true")
    if conf.strip().lower() == "true":
        return df.hint("rebalance", buckets, key)
    return df.repartition(buckets, F.col(key))


def write_bucketed_path(
    df: DataFrame,
    path: str,
    key: str,
    buckets: int = 32,
    mode: str = "overwrite",
    sort_key: str | None = None,
) -> None:
    """:func:`write_bucketed` addressed by filesystem PATH (external
    table): the layout for persisted index/feature stores that outlive
    any one session. A store written here joins on ``key`` with **zero
    Exchange on the store side** — batch-sized probes shuffle to the
    store's bucketing; the O(corpus) store never moves.

    ``mode="append"`` appends bucket-suffixed files (the daily-ingest
    leg); Spark validates the spec against the registered table, so an
    append can never silently break the layout. NOTE: appended stores
    must be compacted with :func:`compact_bucketed` — plain
    :func:`compact` would rewrite files WITHOUT bucket-id names and
    corrupt the bucketed read.

    Generation-pointer stores: ``overwrite`` RESETS the store to a
    flat-at-birth layout (deleting any pointer + generations — it is an
    overwrite); ``append`` resolves the pointer and appends into the
    LIVE generation so post-compaction appends are never orphaned in a
    superseded directory.

    Writes shuffle by the bucket hash first (:func:`_by_bucket`): a
    bucketed save otherwise emits up to ``input_partitions × buckets``
    files — the sf0.1 minhash band index came out as ~3,000 files from
    a 94-partition input, and at 1000 executors the same shape is tens
    of thousands of files PER STORE, paid back on every listing and
    scan. With the shuffle, a write adds at most one file per bucket,
    except buckets above AQE's advisory partition size, which AQE may
    split across tasks. With AQE on, AQE also sizes the task count to
    the data, so a ~160-row append runs as one task, not ``buckets``;
    with AQE off, the write falls back to a fixed ``buckets``-way
    repartition."""
    from connect_server_spark.fsutil import resolve_store

    spark = df.sparkSession
    sort_key = sort_key or key
    df = _by_bucket(df, key, buckets)
    if mode == "overwrite":
        from connect_server_spark.fsutil import GENERATION_PREFIX, fs_list

        name = _bucket_table_name(path)
        _drop_bucketed_table(spark, path)
        # deleting the root resets generation NUMBERING, so also drop
        # any per-generation registrations — a later compact recreating
        # _gen-00000001 must not inherit a stale CLUSTERED BY spec
        # (ensure_bucketed_table re-validates too; this keeps the
        # catalog from accreting dead entries)
        for child in fs_list(spark, path):
            if child.startswith(GENERATION_PREFIX):
                _drop_bucketed_table(spark, f"{path}/{child}")
        hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
        jpath = hadoop_path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", path)
            .bucketBy(buckets, key)
            .sortBy(sort_key)
            .saveAsTable(name)
        )
    elif mode == "append":
        live = resolve_store(spark, path)
        name = ensure_bucketed_table(
            spark, live, key, buckets, sort_key, schema=df.schema
        )
        (
            df.write.mode("append")
            .format("parquet")
            .bucketBy(buckets, key)
            .sortBy(sort_key)
            .saveAsTable(name)
        )
    else:
        raise ValueError(f"write_bucketed_path: unsupported mode {mode!r}")


def read_bucketed(
    spark: SparkSession,
    path: str,
    key: str,
    buckets: int = 32,
    sort_key: str | None = None,
) -> DataFrame:
    """Read a :func:`write_bucketed_path` store WITH its layout: the
    scan reports ``HashPartitioning(key, buckets)`` so a join on ``key``
    needs no Exchange on this side (re-registering the table first if
    this session has never seen it).

    Refreshes WHEN THE STORE CHANGED: the session's table-relation
    cache pins the FILE LISTING from the previous read, and an append
    from another session (the streaming foreachBatch clone is one)
    would otherwise be invisible — batch N+1 must see the rows batch N
    appended. Change detection is one ``listStatus`` signature
    (parquet files are immutable once committed, so any append or
    rewrite changes it) instead of an unconditional ``refreshTable``
    whose invalidation forces a full re-listing on EVERY probe — the
    serving-path probes (minhash bands, BM25 terms, winnow posts) call
    this per query, and an unchanged store should cost zero catalog
    work. Read-your-writes is preserved exactly: changed signature →
    refresh.

    ``path`` may be a generation-pointer root (a store
    :func:`compact_bucketed` has swapped at least once): the pointer is
    resolved first, and the catalog table is registered against the
    LIVE generation directory — each generation gets its own table
    name, so a swap can never leave a reader on a stale location."""
    from connect_server_spark.fsutil import resolve_store

    live = resolve_store(spark, path)
    name = ensure_bucketed_table(spark, live, key, buckets, sort_key)
    # refresh only when the store changed since this session last did
    memo.cached(
        spark, ("refreshed", memo.session_key(spark), name), [live],
        lambda: spark.catalog.refreshTable(name),
    )
    return spark.table(name)


def broadcastable(spark: SparkSession, path: str) -> bool:
    """True when the data at ``path`` fits the session's
    autoBroadcastJoinThreshold — the store-size probe behind the
    adaptive join strategy for bucketed stores: a store under the
    threshold joins fastest BROADCAST (one tiny table ships, no
    Exchange anywhere); past it, the bucketed layout + a shuffled-hash
    hint keeps the store-side scan Exchange-free while only probes
    move. One driver-side content-summary call, memoized per directory
    signature; -1/unset thresholds read as never-broadcast."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("b", 1)):
        if raw.endswith(suffix):
            raw, mult = raw[: -len(suffix)], m
            break
    try:
        threshold = int(raw) * mult
    except ValueError:
        threshold = 10 * 1024 * 1024
    if threshold <= 0:
        return False
    from connect_server_spark.fsutil import resolve_store

    # size the LIVE generation only — a root-level summary would count
    # the grace-period previous generation and read ~2× the real size
    path = resolve_store(spark, path)

    def fits() -> bool:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs.exists(jpath) and (
            fs.getContentSummary(jpath).getLength() <= threshold
        )

    # the threshold is part of the key, so a session that changes
    # autoBroadcastJoinThreshold re-probes instead of serving a stale
    # yes/no
    return memo.cached(
        spark, ("fits_broadcast", path, threshold), [path], fits
    )


def probe_side(spark: SparkSession, path: str, df: DataFrame) -> DataFrame:
    """The batch side of a join against the bucketed store at ``path``,
    hinted for the store's size — the one store-join rule every
    incremental probe uses.

    The strategy is size-adaptive (one memoized driver-side size probe
    per store, :func:`broadcastable`): a store still under the broadcast
    threshold gets no hint, so Catalyst broadcasts the store itself —
    the fastest shape while a corpus is small, zero Exchange anywhere.
    Past the threshold the batch side is hinted ``shuffle_hash`` with
    the batch as the build side: sort-merge would insert an O(corpus)
    Sort above the store scan (appended stores have several files per
    bucket, so the scan cannot claim sortedness); a shuffled-hash join
    streams the store through a batch-sized hash table instead, and the
    bucketed layout keeps the store-side scan Exchange-free. At 100 TB
    the stores are always past the threshold, so the at-scale plan is
    exactly the hinted one."""
    return df if broadcastable(spark, path) else df.hint("shuffle_hash")


def compact_bucketed(
    spark: SparkSession,
    path: str,
    key: str,
    buckets: int = 32,
    sort_key: str | None = None,
    keep: int = 1,
) -> None:
    """Compact an append-accreted bucketed store back to ~one file per
    bucket WITHOUT losing the layout: rewrite through a bucketed write
    (so the new files carry bucket-id names) into a NEW GENERATION
    directory, then flip the store's ``_CURRENT`` pointer
    (:func:`~connect_server_spark.fsutil.publish_generation`).
    ``repartition(buckets, key)`` uses the same murmur3-mod-buckets hash
    as the bucketed writer, so each task holds exactly one bucket's rows
    → at most one file per bucket, with AQE on or off. Unlike appends
    (:func:`_by_bucket`), the rewrite keeps the fixed repartition: AQE
    neither coalesces nor splits it, so no bucket is split into several
    files however large it grows — a split would leave the store above
    its maintenance file threshold right after compacting it.

    The pointer flip is ONE small-file replace — object-store-safe,
    unlike a directory-rename swap (a per-object copy on S3A that a
    concurrent reader can observe half-done). A reader that resolved
    before the flip keeps the previous generation, which survives this
    publish (grace) and is GC'd by the next one; a crash mid-rewrite
    leaves the pointer untouched and the orphan generation dir is GC'd
    at the next successful publish. Each generation registers its own
    catalog table (name = hash of the generation path), so
    :func:`read_bucketed` after the flip can never serve a stale file
    listing."""
    from connect_server_spark.fsutil import (
        begin_generation,
        publish_generation,
        resolve_store,
    )

    sort_key = sort_key or key
    live = resolve_store(spark, path)
    name = ensure_bucketed_table(spark, live, key, buckets, sort_key)
    spark.catalog.refreshTable(name)
    # the table's files as plain parquet, not the bucketed table: over a
    # scan that reports the same bucketing, the planner drops the
    # repartition below and then the bucketed scan too, and the rewrite
    # kept the live files' mix of buckets per task (48 appended files
    # compacted to 29, not 8)
    df = spark.read.schema(spark.table(name).schema).parquet(live)

    gen = begin_generation(spark, path)
    tmp_table = f"{_bucket_table_name(gen)}_ctmp"
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    (
        df.repartition(buckets, F.col(key))
        .write.mode("overwrite")
        .format("parquet")
        .option("path", gen)
        .bucketBy(buckets, key)
        .sortBy(sort_key)
        .saveAsTable(tmp_table)
    )
    # metadata-only drop: the files stay; read_bucketed re-registers
    # the generation under its canonical hashed name on first read
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    publish_generation(spark, path, gen, keep=keep)


def maintain_bucketed(
    spark: SparkSession,
    path: str,
    key: str,
    buckets: int = 32,
    max_files_per_bucket: int = 8,
    keep: int = 1,
) -> int:
    """The maintenance rule for an append-accreted bucketed store: past
    ``max_files_per_bucket`` data files per bucket on average (each
    append adds up to one file per bucket it touches, which every probe
    then pays in scan-footer and task overhead), compact it with
    :func:`compact_bucketed`. A healthy store costs one file listing.
    Returns the number of data files compacted, 0 when nothing ran."""
    from connect_server_spark.fsutil import fs_list, resolve_store

    live = resolve_store(spark, path)
    n_files = sum(1 for f in fs_list(spark, live) if f.endswith(".parquet"))
    if n_files <= buckets * max_files_per_bucket:
        return 0
    compact_bucketed(spark, path, key, buckets, keep=keep)
    return n_files


def write_partitioned(
    df: DataFrame, path: str, key: str, mode: str = "overwrite"
) -> None:
    """Persist ``df`` as hive-partitioned parquet on ``key``: an
    equality/IN filter on the key at read time prunes to the matching
    directories before any file is opened (``PartitionFilters`` in the
    scan). The layout for low-cardinality scan keys (lang, date,
    event_type) — bucketing covers high-cardinality JOIN keys."""
    df.write.mode(mode).partitionBy(key).parquet(path)


def write_status_layout(
    df: DataFrame,
    path: str,
    hash_key: str,
    range_key: str,
    n_buckets: int = 256,
    mode: str = "overwrite",
) -> None:
    """The status table's 100 TB layout: the DynamoDB hash+range-key
    access pattern (``infra/mdf/modules/dynamo/main.tf:7-8`` — hash key
    ``source_id``, range key ``version``) mapped to parquet.

    * **hash key** → a ``key_bucket`` partition directory
      (``pmod(xxhash64(hash_key), n_buckets)``): a point read prunes to
      1/``n_buckets`` of the table via PartitionFilters before any file
      opens. Bounded bucket count (not one directory per key) keeps the
      metastore sane at billions of keys.
    * **range key** → files sorted by (hash_key, range_key) within each
      bucket, so parquet row-group min/max stats prune range predicates
      (the Query-with-range-condition analog) inside the surviving
      bucket.
    """
    # key_bucket leads the sort so the child ordering satisfies the
    # dynamic-partition writer's required ordering (it sorts by the
    # partition column before opening files); without it FileFormatWriter
    # inserts its own sort on key_bucket alone and the (hash_key,
    # range_key) clustering inside each file would depend on that sorter's
    # stability instead of the declared plan ordering.
    (
        df.withColumn(
            "key_bucket", F.pmod(F.xxhash64(F.col(hash_key)), F.lit(n_buckets))
        )
        .repartition("key_bucket")
        .sortWithinPartitions("key_bucket", hash_key, range_key)
        .write.mode(mode)
        .partitionBy("key_bucket")
        .parquet(path)
    )


def status_point_read(
    spark: SparkSession, path: str, hash_key: str, value, n_buckets: int = 256
) -> DataFrame:
    """Point read against :func:`write_status_layout`: the bucket
    predicate is a *foldable* expression (``xxhash64`` of a literal), so
    Catalyst constant-folds it to a single partition directory and the
    key equality pushes to the parquet scan — the plan touches one
    bucket's files, never the table. Resolves the generation pointer
    (no-op on flat stores) so object-store compactions
    (``compact_partitioned(publish_root=True)``) stay invisible here."""
    from connect_server_spark.fsutil import resolve_store

    df = spark.read.parquet(resolve_store(spark, path))
    # xxhash64 hashes by physical type: a Python int literal (INT) and a
    # BIGINT column hash differently — cast the probe to the column type
    # so the folded bucket equals the written bucket.
    key = F.lit(value).cast(df.schema[hash_key].dataType)
    return df.filter(
        (F.col("key_bucket") == F.pmod(F.xxhash64(key), F.lit(n_buckets)))
        & (F.col(hash_key) == key)
    )


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    shuffle: bool = False,
    generational: bool = True,
    keep: int = 1,
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files.

    Streaming sinks and idempotent appends accrete small files (every
    micro-batch / retry writes its own); at 100 TB the resulting
    footer-read and task-scheduling overhead dominates scan cost, so
    periodic compaction is part of the table lifecycle. The new file
    count is ``ceil(bytes_on_disk / target)``; ``shuffle=False`` uses
    ``coalesce`` (no data movement — merges co-located files),
    ``shuffle=True`` uses ``repartition`` for evenly-sized output when
    the inputs are badly skewed.

    ``generational=True`` (default, store roots): the compacted copy is
    written to a new ``_gen-*`` child and the store's ``_CURRENT``
    pointer flips in ONE small-file replace
    (:func:`~connect_server_spark.fsutil.publish_generation`) —
    object-store-safe, where a directory rename is a non-atomic
    per-object copy on S3A. Readers go through
    :func:`~connect_server_spark.fsutil.resolve_store` (no-op on
    flat stores); the previous generation survives one publish as
    grace for in-flight readers, and a crash mid-rewrite leaves the
    pointer — and therefore the store — untouched.

    ``generational=False`` (partition LEAVES — :func:`compact_partitioned`):
    a ``_CURRENT`` pointer inside a leaf would be invisible to the
    whole-table scan (underscore names are excluded from partition
    discovery), so leaves keep the two-rename swap into DOT-PREFIXED
    siblings (hidden from partition discovery mid-compaction and after
    a crash, which leaves ``.*._compact_old`` — recoverable, never
    deleted). Rename atomicity is an HDFS property; on object stores,
    compact a partitioned table by publishing the whole table root
    generationally instead.

    Returns the new file count.
    """
    import math

    from connect_server_spark.fsutil import (
        begin_generation,
        publish_generation,
        resolve_store,
    )

    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    if generational:
        live = resolve_store(spark, path)
        df = spark.read.parquet(live)
        fs = hadoop_path(live).getFileSystem(spark._jsc.hadoopConfiguration())
        size = fs.getContentSummary(hadoop_path(live)).getLength()
        n = max(1, math.ceil(size / target_file_bytes))
        out = df.repartition(n) if shuffle else df.coalesce(n)
        gen = begin_generation(spark, path)
        out.write.mode("overwrite").parquet(gen)
        publish_generation(spark, path, gen, keep=keep)
        return n

    df = spark.read.parquet(path)
    jpath = hadoop_path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    size = fs.getContentSummary(jpath).getLength()
    n = max(1, math.ceil(size / target_file_bytes))
    out = df.repartition(n) if shuffle else df.coalesce(n)

    parent, name = jpath.getParent(), jpath.getName()
    tmp = hadoop_path(parent, f".{name}._compact_tmp")
    old = hadoop_path(parent, f".{name}._compact_old")
    fs.delete(tmp, True)
    fs.delete(old, True)
    out.write.mode("overwrite").parquet(str(tmp))
    if not fs.rename(jpath, old):
        raise IOError(f"compact: could not move {path} aside to {old}")
    if not fs.rename(tmp, jpath):
        fs.rename(old, jpath)  # roll back: original data wins
        raise IOError(f"compact: could not swap {tmp} into {path}")
    fs.delete(old, True)
    return n


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def ledger_batch_ids(spark: SparkSession, live: str) -> list[int]:
    """Sorted batch ids of a ``batch=<id>/`` partial ledger, from the
    directory listing (never a data scan)."""
    from connect_server_spark.fsutil import fs_list

    out = []
    for name in fs_list(spark, live):
        if name.startswith("batch="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def merge_batch_ledger(
    spark: SparkSession,
    root: str,
    agg,
    merge_ids: list[int],
    keep_ids: list[int],
    keep: int = 1,
) -> None:
    """The shared replay-safe ledger-compaction mechanic (BM25
    termstats/meta and the HLL sketch ledger both use it): aggregate
    the ``merge_ids`` batches' partials with ``agg`` into ONE partial
    under the HIGHEST merged id, copy the ``keep_ids`` partials
    through, and publish as a new generation behind the store pointer.

    The replay-safety invariants live HERE so the callers cannot
    drift: ``keep_ids`` must include the ledger's newest id — only the
    LATEST batch can replay under the monotone-id contract, and a
    replay overwrites its own ``batch=<id>`` dir, so merging it would
    let one redelivery silently destroy the absorbed history. Merged
    ids are committed and never reissued, which is what makes merging
    THEM safe."""
    from connect_server_spark.fsutil import (
        begin_generation,
        publish_generation,
        resolve_store,
    )

    if not merge_ids:
        raise ValueError("merge_batch_ledger: nothing to merge")
    newest = max(merge_ids + keep_ids)
    if newest not in keep_ids:
        raise ValueError(
            "merge_batch_ledger: the newest batch id must stay unmerged "
            f"(keep_ids={keep_ids}, merge_ids={merge_ids}) — only the "
            "latest batch can replay, and a replayed overwrite of a "
            "merged partial would destroy the absorbed history"
        )
    live = resolve_store(spark, root)
    merged = agg(
        spark.read.parquet(*[f"{live}/batch={int(b)}" for b in merge_ids])
    )
    gen = begin_generation(spark, root)
    merged.coalesce(1).write.mode("overwrite").parquet(
        f"{gen}/batch={int(max(merge_ids))}"
    )
    for b in keep_ids:  # tiny single-file partials: copy-through
        spark.read.parquet(f"{live}/batch={int(b)}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{gen}/batch={int(b)}")
    publish_generation(spark, root, gen, keep=keep)


def read_snapshot(
    spark: SparkSession, path: str, generation: int | str | None = None
) -> DataFrame:
    """Time-travel read of a generation-pointer store: the live payload
    by default, or the pinned ``generation`` snapshot (a number or
    ``_gen-*`` name still inside the retention window —
    ``compact(keep=N)`` / ``publish_generation(keep=N)`` hold the N
    most recent superseded payloads). SUPERSEDED generations are
    immutable, so a pin below the live pointer is a consistent
    snapshot for the DataFrame's whole lifetime regardless of
    concurrent compactions; a pin EQUAL to the live pointer of an
    append-idiom store reads the live payload and observes concurrent
    appends like any live reader (append sinks mutate the live
    generation in place by design). Pins outside retention refuse
    loudly
    (:func:`~connect_server_spark.fsutil.resolve_store`), and
    :func:`~connect_server_spark.fsutil.list_generations` inventories
    what is readable."""
    from connect_server_spark.fsutil import resolve_store

    return spark.read.parquet(resolve_store(spark, path, generation=generation))


def salted_collect_set(
    df: DataFrame, key: str, value: str, salt: int = 16
) -> DataFrame:
    """``groupBy(key).agg(collect_set(value))`` that survives a hot key:
    stage 1 aggregates (key, hash(value) % salt) shards — spreading the
    hot key over ``salt`` reducers — stage 2 merges the per-shard sets.
    Output matches the unsalted aggregation exactly (set semantics make
    the merge associative)."""
    shards = (
        df.select(
            F.col(key),
            (F.abs(F.xxhash64(F.col(value))) % salt).alias("_salt"),
            F.col(value),
        )
        .groupBy(key, "_salt")
        .agg(F.collect_set(value).alias("_shard"))
    )
    return (
        shards.groupBy(key)
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("_shard")))
            ).alias(f"{value}_set")
        )
    )


def compact_partitioned(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    shuffle: bool = False,
    max_workers: int = 8,
    timings: dict | None = None,
    publish_root: bool = False,
) -> dict:
    """Compact every LEAF partition directory of a hive-partitioned table
    (``band=*/``, ``cell=*/``, nested ``a=*/b=*/``) independently — the
    lifecycle pass the append-mode index stores need: each daily
    ``mode="append"`` batch adds its own small files per partition, and
    after N days a band/cell directory holds N tiny files whose footer
    reads dominate probe cost.

    Rows never cross partition directories (the partition value lives in
    the directory NAME, which is preserved) and each leaf swap reuses
    :func:`compact`'s temp-dir + two-rename discipline — so a crash
    mid-pass leaves every partition either fully old or fully new, never
    mixed. Leaves compact CONCURRENTLY through a bounded thread pool
    (SparkContext is thread-safe; each leaf is one independent read +
    write + swap): a 256-partition lifecycle pass overlaps its per-leaf
    scheduling and I/O stalls instead of serializing 256 jobs, while
    ``max_workers`` bounds transient extra disk at that many partitions'
    size. ``timings`` (optional, test hook) is filled with
    ``{leaf: (start_monotonic, end_monotonic)}`` so concurrency is
    assertable. Returns ``{leaf_path: new_file_count}``.

    ``publish_root=True`` is the OBJECT-STORE form (r9): leaf renames
    are non-atomic per-object copies on S3A, so instead the WHOLE table
    is rewritten — partition layout preserved — into a new generation
    and the root's ``_CURRENT`` pointer flips atomically
    (:func:`~connect_server_spark.fsutil.publish_generation`). Costs a
    full-table rewrite instead of per-leaf increments; readers resolve
    the pointer (:func:`status_point_read` does; a no-op on flat
    stores). Returns ``{generation_path: file_count}``. For the IVF
    cell store specifically, prefer ``rebalance_ivf_index`` — it IS the
    pointer-published full rewrite, with re-training included."""
    from concurrent.futures import ThreadPoolExecutor

    from connect_server_spark.fsutil import resolve_store

    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    fs = hadoop_path(path).getFileSystem(spark._jsc.hadoopConfiguration())

    if publish_root:
        return _compact_partitioned_root(
            spark, path, target_file_bytes, fs, hadoop_path
        )
    live = resolve_store(spark, path)
    if live != path:
        raise ValueError(
            f"compact_partitioned: {path} is generation-pointered — keep "
            "compacting it with publish_root=True (leaf renames inside a "
            "published generation would mutate an immutable snapshot)"
        )

    def leaves(p) -> list:
        subs = [
            s.getPath()
            for s in fs.listStatus(p)
            # hidden names (".", "_" prefixes) are invisible to Spark's
            # partition discovery — and include our own work dirs
            if s.isDirectory()
            and "=" in s.getPath().getName()
            and not s.getPath().getName().startswith((".", "_"))
        ]
        if not subs:
            return [p]
        out = []
        for s in subs:
            out.extend(leaves(s))
        return out

    import time

    def work(leaf_str: str) -> tuple[str, int]:
        t0 = time.monotonic()
        # generational=False: a pointer file inside a LEAF would be
        # invisible to the whole-table scan (underscore exclusion), so
        # leaves keep the hidden-sibling rename swap (HDFS-atomic;
        # object stores should publish the table root instead)
        n = compact(spark, leaf_str, target_file_bytes, shuffle,
                    generational=False)
        if timings is not None:
            timings[leaf_str] = (t0, time.monotonic())
        return leaf_str, n

    leaf_paths = [
        str(leaf.toUri().getPath()) for leaf in leaves(hadoop_path(path))
    ]
    results = {}
    with ThreadPoolExecutor(
        max_workers=max(1, min(max_workers, len(leaf_paths) or 1))
    ) as pool:
        for leaf_str, n in pool.map(work, leaf_paths):
            results[leaf_str] = n
    return results


def _compact_partitioned_root(
    spark: SparkSession, path: str, target_file_bytes: int, fs, hadoop_path
) -> dict:
    """The ``publish_root=True`` body: rewrite the whole partitioned
    table into a new generation, partition columns detected from the
    live layout's directory names so the hive structure (and therefore
    PartitionFilters pruning) survives the rewrite."""
    import math

    from connect_server_spark.fsutil import (
        begin_generation,
        publish_generation,
        resolve_store,
    )

    live = resolve_store(spark, path)
    # partition columns, outermost-first, from the first leaf's
    # relative path (a=1/b=2 → [a, b]); hidden/underscore names are
    # not partition dirs
    part_cols: list[str] = []
    probe = hadoop_path(live)
    while True:
        subs = [
            s.getPath()
            for s in fs.listStatus(probe)
            if s.isDirectory()
            and "=" in s.getPath().getName()
            and not s.getPath().getName().startswith((".", "_"))
        ]
        if not subs:
            break
        part_cols.append(subs[0].getName().split("=", 1)[0])
        probe = subs[0]
    if not part_cols:
        raise ValueError(
            f"compact_partitioned(publish_root=True): no partition "
            f"directories under {live} — use compact() for flat stores"
        )
    df = spark.read.parquet(live)
    size = fs.getContentSummary(hadoop_path(live)).getLength()
    n = max(1, math.ceil(size / target_file_bytes))
    gen = begin_generation(spark, path)
    (
        # repartition on the partition columns co-locates each hive
        # partition's rows (≈1 file per partition per owning task);
        # n caps the task count so file sizes track the byte target
        df.repartition(n, *[F.col(c) for c in part_cols])
        .write.mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(gen)
    )
    publish_generation(spark, path, gen)
    return {gen: n}


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join that survives a pathologically hot key on the LEFT
    side: left rows take a deterministic salt in ``[0, salt)`` and the
    right side replicates ``salt`` times, so the hot key's rows spread
    over ``salt`` shuffle partitions instead of one straggler task.

    The salt comes from ``xxhash64`` of the left row's NON-key columns —
    never ``rand()``: a retried task must land every row on the same
    salt or the join silently duplicates/drops under speculative
    execution. Rows identical in all non-key columns share a salt,
    which is correct (any salt works for correctness; spread only
    matters for distinct payloads, which is exactly the skew case).

    Supported ``how``: ``inner`` and ``left`` — each left row matches
    exactly its own replica of the right side, so multiplicities equal
    the plain join's (pytest pins equivalence). Cost: right side scans
    ``salt``× — use when the right side is modest but over the
    broadcast threshold and the left has known hot keys. Spark's AQE
    skew handling covers sort-merge joins at runtime; this primitive is
    for when AQE is unavailable (bucketed SHJ inputs, streaming
    micro-batch plans) or the skew lives upstream of where AQE can
    split.
    """
    if salt <= 0:
        raise ValueError("salt must be positive")
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner|left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    payload = [c for c in left.columns if c not in keys]
    if not payload:
        raise ValueError(
            "salted_join: left side has no non-key columns to salt on"
        )
    l = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in payload]), F.lit(salt)).cast(
            "int"
        ),
    )
    # generators can't nest inside expressions (no .cast around explode);
    # sequence of int literals already yields ints
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = l.join(r, keys + ["__salt"], how)
    return out.drop("__salt")


def snapshot_diff(
    old: "DataFrame",
    new: "DataFrame",
    id_col: str,
    payload_cols: list[str],
) -> "DataFrame":
    """Release-to-release dataset diff: classify every id as ``added``
    (only in new), ``removed`` (only in old), ``changed`` (both, payload
    digest differs) or ``unchanged`` — the audit a corpus release pipeline
    runs before publishing ("what moved since v3?") and the input to an
    incremental downstream rebuild (re-embed/re-tokenize ONLY
    added+changed).

    Payloads are compared by an md5 over the listed columns, each
    null-tagged and unit-separated so (``"a", null``) and (``"a\\x1f"``,
    ``""``) can't collide and column order is part of the contract. The
    digests travel INSTEAD of the payloads: each side reduces to
    (id, 32-char digest) at the scan, so the full-outer equi-join on id
    shuffles two narrow columns per row regardless of document size —
    at 100 TB the diff moves ~50 bytes/doc, not the corpus. md5 (not
    xxhash64) keeps the digest reproducible in DuckDB/python audits.

    Returns (id_col, status, old_digest, new_digest); digests are null
    on the side the id is missing from.
    """
    def digested(df: "DataFrame", name: str) -> "DataFrame":
        parts = []
        for c in payload_cols:
            parts.append(
                F.coalesce(
                    F.col(c).cast("string"), F.lit("\x00NULL")
                )
            )
        sep = F.lit("\x1f")
        concat_cols: list = []
        for i, p in enumerate(parts):
            if i:
                concat_cols.append(sep)
            concat_cols.append(p)
        return df.select(
            F.col(id_col), F.md5(F.concat(*concat_cols)).alias(name)
        )

    o = digested(old, "old_digest")
    n = digested(new, "new_digest")
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(
            F.col("old_digest") == F.col("new_digest"), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        id_col, status.alias("status"), "old_digest", "new_digest"
    )


def heavy_hitters(
    df: DataFrame,
    key_cols: list[str] | str,
    k: int = 20,
) -> DataFrame:
    """The skew report that decides whether :func:`salted_join` (or a
    higher AQE skew threshold) is needed BEFORE a 100 TB join runs: the
    ``k`` most frequent join-key values with their row counts and share
    of the table.

    Scale shape: one narrow (key, count) hash aggregation — partial
    map-side combine makes the shuffle carry one row per distinct key
    per task, never data rows — then a TakeOrdered top-k (per-partition
    heap + driver merge of ``k × partitions`` rows; NO global sort).
    The total for ``share`` is the sum over the aggregated counts
    (computed from the same frame, so share is exact), carried as a
    one-row broadcast. Ties break on the key ascending so the report is
    deterministic across runs and engines.

    Returns ``(*key_cols, n, share)`` ordered by n desc, length ≤ k.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = df.groupBy(*keys).agg(F.count("*").alias("n"))
    # the one-row total attaches as a broadcast nested-loop with a
    # single-row build side — a bounded 1×N scalar attach (Catalyst
    # constant-folds any literal equi-key back to this shape anyway);
    # declared in the plan audit's bounded-broadcast allowlist
    total = counts.agg(F.sum("n").alias("_tot"))
    return (
        counts.join(F.broadcast(total))
        .select(
            *keys,
            F.col("n"),
            F.round(F.col("n") / F.col("_tot"), 6).alias("share"),
        )
        .orderBy(F.col("n").desc(), *[F.col(c).asc() for c in keys])
        .limit(k)
    )
