"""Loaders for the synthetic test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an sf dir.

At 100 TB these would be partitioned/bucketed parquet (or a lakehouse
table format); the loader API stays identical — only the path changes —
so everything downstream is written against DataFrames, never files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from connect_server_spark.memo import cached

__all__ = [
    "TABLES",
    "default_sf_dir",
    "load_table",
    "load_events",
    "normalize_event_ts",
    "spread_scan",
]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or default_sf_dir()
    if name not in TABLES:
        raise KeyError(f"unknown table '{name}'; known: {TABLES}")
    if name == "events":
        # Older testdata generations wrote events.ts as TIMESTAMP(NANOS),
        # which Spark can only read as raw longs under this conf; current
        # generations write timestamp[us], where the conf is a no-op.
        # Setting it unconditionally keeps reads working either way, on
        # sessions we did not build (the correctness driver makes its own).
        # It also changes what inference RETURNS for legacy files (bigint
        # vs timestamp), so it must be set before the memo-filling read —
        # which this ordering guarantees on every path.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Schema inference runs a one-task Spark job to read a footer on
    # every bare spark.read.parquet; the schema is a function of the
    # committed files, so it is memoized behind their signature. A miss
    # returns the frame its inference read instead of reading again.
    inferred = []

    def infer():
        inferred.append(spark.read.parquet(path))
        return inferred[0].schema

    schema = cached(spark, ("parquet_schema", path), [path], infer)
    return inferred[0] if inferred else spark.read.schema(schema).parquet(path)


def spread_scan(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Round-robin-spread a frame whose scan yields fewer partitions
    than the session's parallelism — the generalized "one-split lesson"
    (multimodal_gif_frames / corpus_ingest_files): the test parquets are
    single-row-group files, so every scan is ONE input split and all
    scan-stage work — the heavy per-row expression trees (quality
    metrics, shingle hashing, fingerprinting) and Arrow-batched UDF
    stages — runs on a single core no matter how many the session has.

    Scale-adaptive by construction (guide §2.5 "input skew — one huge
    unsplittable file"): the decision reads the actual scan partition
    count at plan time, so on a production table (thousands of splits
    ≥ cores) the condition is false and NO repartition node enters the
    plan — the corpus still never shuffles on the 100 TB path. The
    round-robin Exchange this adds locally carries the scanned rows
    once; downstream checkpoints/aggregations inherit the parallelism.
    """
    sc = df.sparkSession.sparkContext
    p = parallelism or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p)


def normalize_event_ts(ev: DataFrame) -> DataFrame:
    """Add ``event_ts`` (session-tz timestamp) derived from ``ts``.

    The testdata's ``ts`` physical type has changed across generations
    (TIMESTAMP(NANOS) read as long nanos vs plain ``timestamp[us]``), so
    branch on the dtype actually read rather than assuming either:

    * timestamp / timestamp_ntz → cast to session-tz timestamp (UTC).
    * bigint (legacy nanos-as-long) → integer ``div`` to micros, then
      ``timestamp_micros``. Integer ``div``, not ``/1000``: double
      division loses sub-µs precision at ~1.7e15 µs (ulp 0.25 µs) and
      shifts session starts by 1 µs.

    Works on batch and streaming DataFrames alike (pure projection).
    """
    from pyspark.sql import functions as F

    ts_type = dict(ev.dtypes)["ts"]
    if ts_type == "bigint":
        event_ts = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        event_ts = F.col("ts").cast("timestamp")
    return ev.withColumn("event_ts", event_ts)


def load_events(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """``events`` with ``ts`` normalized to an ``event_ts`` timestamp
    (see :func:`normalize_event_ts` for the dtype-robust conversion)."""
    return normalize_event_ts(load_table(spark, "events", sf_dir))


def dataset_cache_key(sf_dir: str, table: str) -> str:
    """Cache key for per-dataset derived artifacts (persisted dedup/ANN
    indexes cached under /tmp): a short digest of the table's ABSOLUTE
    path, mtime, and size — two sf_dirs sharing a basename, or a dataset
    regenerated in place, can never be served a stale index (keying by
    basename alone would)."""
    import hashlib

    path = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    try:
        st = os.stat(path)
        stamp = f"{path}:{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        stamp = path  # directory-shaped tables: path identity only
    return hashlib.md5(stamp.encode()).hexdigest()[:16]
