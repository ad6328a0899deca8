"""Write-path sinks (SURVEY §2: S8, S9).

* ``idempotent_append`` — the conditional-insert discipline
  (``aws/dynamo_manager.py:339-377``): left-anti join against the
  current table state, then append. Safe to re-run: a crashed writer
  re-appends nothing.
* ``search_ingest`` — the search-index sink
  (``automate/minimus_mdf_flow.py:359-375``): records keyed by subject
  (versioned_source_id), overwrite-by-subject semantics via dynamic
  partition overwrite on a bounded subject bucket (hashing the subject
  into ``n_buckets`` keeps partition counts sane at 100 TB — one
  directory per subject would melt the metastore).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.errors.exceptions.base import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_server_spark.execution import stage_boundary

from connect_server_spark.fsutil import fs_exists, read_text, write_text_atomic
from connect_server_spark.operators.org import anti_join_insert

__all__ = [
    "fresh_rows",
    "idempotent_append",
    "search_ingest",
    "read_search_index",
    "write_feedstock",
    "read_feedstock",
    "write_training_shards",
    "read_training_shards",
]


def _is_path_not_found(exc: AnalysisException) -> bool:
    """True only for the "the table does not exist yet" read failure.

    Anything else (permissions, corrupt footer, transient storage error)
    must propagate: treating an arbitrary read failure as "first write"
    would silently drop the existing data under overwrite semantics."""
    cond = exc.getCondition() or ""
    return cond.startswith("PATH_NOT_FOUND") or "PATH_NOT_FOUND" in str(exc)


def fresh_rows(
    spark: SparkSession, incoming: DataFrame, path: str, keys: Sequence[str]
) -> DataFrame:
    """The read side of the S8 guard: rows of ``incoming`` whose key tuple
    is absent from the table at ``path``. Materialized once (checkpointed)
    so callers can count AND write without re-running the anti-join — the
    checkpoint also severs lineage from ``path``, which the append itself
    targets. Exposed for sinks that need the surviving rows themselves
    (the streaming ingest-dedup loop appends them to a second artifact).

    The read resolves the store's ``_CURRENT`` pointer first (no-op on
    flat stores), so the guard keeps working after the table has been
    compacted generationally."""
    from connect_server_spark.fsutil import resolve_store

    try:
        existing = spark.read.parquet(
            resolve_store(spark, path)
        ).select(*keys)
        fresh = anti_join_insert(incoming, existing, keys)
    except AnalysisException as exc:
        if not _is_path_not_found(exc):
            raise  # a real read failure must not masquerade as first-write
        fresh = incoming  # first write: nothing to guard against
    return fresh.transform(stage_boundary, eager=True, pin=True)


def idempotent_append(
    spark: SparkSession, incoming: DataFrame, path: str, keys: Sequence[str]
) -> int:
    """S8: append only rows whose key tuple is absent. Returns appended
    row count (the reference returns a duplicate error per row; batch
    semantics surface it as incoming-minus-appended). Appends follow the
    pointer into the live generation — a flat append beside published
    generations would be invisible to resolving readers and GC'd as
    legacy by the next publish. The pointer resolves ONCE — the guard
    read and the append see the same generation (fresh_rows is a no-op
    re-resolve on an already-resolved dir), so a compaction publishing
    between the two cannot split them."""
    from connect_server_spark.fsutil import resolve_store

    live = resolve_store(spark, path)
    fresh = fresh_rows(spark, incoming, live, keys)
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(live)
    return n


def search_ingest(
    df: DataFrame, path: str, subject_col: str, n_buckets: int = 256
) -> None:
    """S9: upsert-by-subject into the search index.

    Dynamic partition overwrite rewrites only the hash buckets this batch
    touches; surviving rows of those buckets (subjects NOT in the batch)
    are carried over, so the operation is a true replace-by-subject. The
    I/O cost is proportional to touched buckets, not the index size."""
    spark = df.sparkSession
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "dynamic")
    try:
        _search_ingest_inner(spark, df, path, subject_col, n_buckets)
    finally:
        # the session is shared: leaking "dynamic" would silently change
        # the semantics of any later overwrite+partitionBy write
        if prior is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prior)


def _search_ingest_inner(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    subject_col: str,
    n_buckets: int,
) -> None:
    batch = df.withColumn(
        "subject_bucket", F.pmod(F.xxhash64(F.col(subject_col)), n_buckets)
    )
    try:
        existing = spark.read.parquet(path)
        affected = batch.select("subject_bucket").distinct()
        survivors = (
            existing.join(F.broadcast(affected), "subject_bucket")
            .join(batch.select(subject_col).distinct(), subject_col, "left_anti")
            .select(*batch.columns)
            # sever lineage from `path`: Spark refuses to overwrite a path
            # its own read plan references
            .transform(stage_boundary, eager=True, pin=True)
        )
        out = survivors.unionByName(batch)
    except AnalysisException as exc:
        if not _is_path_not_found(exc):
            # Overwriting on a transient read failure would drop every
            # surviving subject in the touched buckets — fail loudly.
            raise
        out = batch  # first write
    out.write.mode("overwrite").partitionBy("subject_bucket").parquet(path)


def read_search_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop("subject_bucket")


def write_feedstock(df: DataFrame, path: str) -> None:
    """Feedstock sink: the validator's scroll_id-addressed record stream
    (``tests/test_validator.py:165-247``) as newline-delimited JSON — the
    artifact the flow's SearchIngest step pulls over HTTPS
    (``automate/mdf_flow_def.json:102,302-303``). Partitioned JSONL: the
    write stays distributed (one file per task), and ``scroll_id`` stays
    the record address, independent of file layout."""
    df.write.mode("overwrite").json(path)


def read_feedstock(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Read a feedstock directory back. Pass ``schema`` to pin field
    types (JSONL carries no schema of its own); without it Spark infers,
    which is fine for the self-written artifact."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


# --------------------------------------------------------------------------
# Training-shard sink: the hand-off artifact between the Spark pipeline
# (dedup → curation → sampling → pack) and a training loader. No
# reference analog — builder's-brief LLM surface, like operators/packing.


def write_training_shards(
    packed: DataFrame,
    path: str,
    n_shards: int,
    pack_col: str = "pack_id",
    token_col: str = "n_tokens",
    shuffle_packs: bool = True,
    shuffle_seed: int = 0,
) -> dict:
    """Write packed sequences as ``n_shards`` loader-ready shard
    partitions plus a driver-written manifest, manifest-last so the
    manifest's existence IS the commit marker.

    Shard assignment is ``pmod(xxhash64(pack_id), n_shards)`` — all rows
    of a pack land in one shard (a loader must never see half a pack),
    assignment is deterministic under retry, and shards are balanced in
    expectation without a global sort. The data lands via ONE
    ``repartition(n_shards, shard)`` so each shard directory is a single
    task's output (≈ total/n_shards rows each); pick ``n_shards`` so a
    shard is 0.5–2 GB at the target scale, exactly like sizing shuffle
    partitions.

    ``shuffle_packs`` (default on) additionally hash-randomizes the PACK
    ORDER inside each shard with a ``sortWithinPartitions`` on a seeded
    pack hash — no extra Exchange. Without it, a shard replays the
    upstream order (source-grouped, time-grouped — whatever the pipeline
    produced), and a loader reading shards sequentially trains on
    correlated batches; with it, consecutive packs are an unbiased
    sample of the shard. Rows of one pack stay contiguous and
    slot-ordered (the hash ties on ``pack_id`` then the slot columns),
    the order is deterministic under retry and across reruns, and
    ``shuffle_seed`` reshuffles epochs without rewriting assignment
    (same shards, new within-shard order).

    The manifest records per-shard pack/row/token counts and an
    order-independent content checksum (``bit_xor`` of row hashes —
    associative, so it can be recomputed shard-parallel by any reader).
    Write order: data first, ``_manifest.json`` LAST via a same-directory
    two-step rename; a crashed writer leaves data without a manifest,
    which readers refuse — re-running the writer is then safe because
    the data write is a full overwrite.

    Returns the manifest dict.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    if "shard" in packed.columns:
        raise ValueError(
            "input already has a 'shard' column — it would be silently "
            "overwritten and corrupt the manifest checksum contract; "
            "rename or drop it before writing"
        )
    shard = F.pmod(F.xxhash64(F.col(pack_col)), n_shards).cast("int")
    tagged = packed.withColumn("shard", shard)
    arranged = tagged.repartition(n_shards, "shard")
    if shuffle_packs:
        # pack-slot columns (when present) keep a pack's rows in loader
        # order behind the randomized pack position
        order_tail = [
            F.col(c)
            for c in ("pack_slot", "chunk_idx")
            if c in packed.columns
        ]
        # "shard" leads the sort: the partitionBy writer REQUIRES its
        # input sorted by the partition columns and would insert its own
        # (order-destroying) sort otherwise — leading with shard makes
        # this sort satisfy that requirement, so the hash order survives
        # into the files (pinned by the loader-order test).
        arranged = arranged.sortWithinPartitions(
            "shard",
            F.xxhash64(F.col(pack_col), F.lit(shuffle_seed)),
            F.col(pack_col),
            *order_tail,
        )
    (
        arranged.write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )

    # Manifest stats come from READING BACK the written files, never
    # from re-executing the input's lineage: a second lineage run is
    # only checksum-identical if every upstream transform is
    # bit-deterministic, and a manifest that disagrees with the disk
    # would brick every verify=True read of perfectly intact data.
    data_cols = [c for c in packed.columns]
    # explicit schema: an empty write leaves no files to infer from, and
    # the guard below must see zero rows, not a schema-inference error
    written = packed.sparkSession.read.schema(tagged.schema).parquet(path)
    stats = (
        written.withColumn(
            "_rh", F.xxhash64(*[F.col(c) for c in data_cols])
        )
        .groupBy("shard")
        .agg(
            F.count_distinct(F.col(pack_col)).alias("n_packs"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(token_col)).alias("n_tokens"),
            F.expr("bit_xor(_rh)").alias("checksum"),
        )
        .collect()
    )
    if not stats:
        # an empty release is an upstream bug (over-aggressive
        # curation) — refuse by name BEFORE the manifest commit, so the
        # data-less directory stays uncommitted and readers keep
        # refusing it. (r12: detected from the same read-back
        # aggregation that computes the manifest stats — zero shard
        # groups means zero rows — instead of a separate isEmpty job;
        # one fewer sequential driver action per release, guide §5.4.)
        raise ValueError(
            "write_training_shards: input has no rows — refusing to "
            "commit an empty release"
        )
    manifest = {
        "n_shards": n_shards,
        "pack_col": pack_col,
        "token_col": token_col,
        "columns": data_cols,
        "shards": {
            int(r.shard): {
                "n_packs": int(r.n_packs),
                "n_rows": int(r.n_rows),
                "n_tokens": int(r.n_tokens or 0),
                "checksum": int(r.checksum),
            }
            for r in stats
        },
    }
    import json as _json
    import posixpath as _pp

    # Hadoop FS, not local open(): the shard store lives wherever the
    # data plane lives (HDFS/S3), and write_text_atomic gives the same
    # tmp-then-rename commit semantics on every scheme.
    write_text_atomic(
        packed.sparkSession,
        _pp.join(path, "_manifest.json"),
        _json.dumps(manifest, sort_keys=True),
    )
    return manifest


def read_training_shards(
    spark: SparkSession, path: str, verify: bool = True
) -> DataFrame:
    """Read a shard directory back, refusing an uncommitted (crashed)
    write — no manifest, no data. ``verify=True`` recomputes per-shard
    row counts + checksums against the manifest in one aggregation and
    raises on any divergence (a truncated or double-written shard must
    not reach a training run silently)."""
    import json as _json
    import posixpath as _pp

    mpath = _pp.join(path, "_manifest.json")
    if not fs_exists(spark, mpath):
        raise FileNotFoundError(
            f"{path}: no _manifest.json — the shard write never committed; "
            "re-run the writer (data-only directories are safe to discard)"
        )
    manifest = _json.loads(read_text(spark, mpath))
    df = spark.read.parquet(path)
    if verify:
        cols = manifest["columns"]
        got = {
            int(r.shard): (int(r.n_rows), int(r.checksum))
            for r in df.withColumn(
                "_rh", F.xxhash64(*[F.col(c) for c in cols])
            )
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.expr("bit_xor(_rh)").alias("checksum"),
            )
            .collect()
        }
        want = {
            int(s): (v["n_rows"], v["checksum"])
            for s, v in manifest["shards"].items()
        }
        if got != want:
            bad = sorted(
                s for s in set(got) | set(want)
                if got.get(s) != want.get(s)
            )
            raise ValueError(
                f"{path}: shard verification failed for shards {bad} — "
                "data does not match the committed manifest"
            )
    return df
