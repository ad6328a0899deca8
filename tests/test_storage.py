"""Tests for storage-layout helpers: bucketed co-located joins (no
Exchange) and salted skew aggregation."""

import pytest
from pyspark.sql import functions as F

from connect_server_spark.storage import (
    read_bucketed,
    salted_collect_set,
    write_bucketed_path,
)


@pytest.fixture()
def no_broadcast(spark):
    """Force the join planner away from broadcast so the bucket-join
    effect (no shuffle on either SMJ side) is observable."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, no_broadcast, tmp_path):
    status = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("source_id"), F.col("id").alias("payload")
    )
    subs = spark.range(0, 200).select(
        (F.col("id") % 97).alias("source_id"), F.col("id").alias("sub")
    )
    status_path, subs_path = str(tmp_path / "status"), str(tmp_path / "subs")
    write_bucketed_path(status, status_path, "source_id")
    write_bucketed_path(subs, subs_path, "source_id")
    joined = read_bucketed(spark, status_path, "source_id").join(
        read_bucketed(spark, subs_path, "source_id"), "source_id"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # co-location must not change results
    assert joined.count() == status.join(subs, "source_id").count()


def test_status_layout_point_read_prunes_partitions(spark, sf_dir, tmp_path):
    """The status table's hash+range layout (DynamoDB analog): a point
    read must (a) constant-fold the bucket hash into a PartitionFilter —
    pruning to one directory in 1/n_buckets of the table — and (b) push
    the key equality into the parquet scan, and (c) return exactly the
    rows a full-scan filter would."""
    from connect_server_spark.storage import status_point_read, write_status_layout
    from connect_server_spark.tables import load_table

    orders = load_table(spark, "orders", sf_dir)
    path = str(tmp_path / "status_layout")
    write_status_layout(
        orders, path, hash_key="o_custkey", range_key="o_orderkey", n_buckets=16
    )

    probe = orders.select("o_custkey").first().o_custkey
    read = status_point_read(spark, path, "o_custkey", probe, n_buckets=16)
    plan = read._jdf.queryExecution().executedPlan().toString()
    # bucket predicate folded to a literal partition filter
    part_section = plan.split("PartitionFilters")[1][:200]
    assert "key_bucket" in part_section, plan
    assert "xxhash64" not in part_section, part_section  # folded, not runtime
    # key equality pushed to the parquet reader
    pushed = plan.split("PushedFilters")[1][:200]
    assert "o_custkey" in pushed, plan

    want = sorted(
        r.o_orderkey for r in orders.filter(F.col("o_custkey") == probe).collect()
    )
    got = sorted(r.o_orderkey for r in read.collect())
    assert got == want and len(got) > 0


def test_aqe_splits_skewed_join(spark):
    """The skew story for big fact-fact joins: one hot key (a dominant
    org/source) must not serialize the join onto one reducer — AQE's
    runtime skew-join splitting handles it without salting. Asserted on
    the finalized adaptive plan (SortMergeJoin(skew=true))."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        # shrink thresholds so test-sized data exhibits "skew"
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        left = spark.range(0, 300000).select(
            F.when(F.col("id") % 3 == 0, 0)
            .otherwise(F.col("id") % 97)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = left.join(right, "k")
        assert len(joined.collect()) == 300000
        # executedPlan AFTER execution = the finalized adaptive plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_compact_merges_small_files(spark, tmp_path):
    """Micro-batch sinks accrete small files; compaction must rewrite to
    the size-targeted count without changing the data."""
    from connect_server_spark.storage import compact

    path = str(tmp_path / "frag")
    df = spark.range(0, 10000).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    )
    df.repartition(64).write.parquet(path)  # 64 tiny files
    import glob

    assert len(glob.glob(f"{path}/part-*.parquet")) == 64
    # KB of data, far under the file target → one file, published as a new
    # generation (the pointer flip IS the swap; the 64-file flat payload
    # survives one publish as reader grace)
    from connect_server_spark.fsutil import resolve_store

    n = compact(spark, path)
    live = resolve_store(spark, path)
    assert live != path
    files = glob.glob(f"{live}/part-*.parquet")
    assert n == 1 and len(files) == 1
    back = spark.read.parquet(live)
    assert back.count() == 10000
    assert back.agg(F.sum("id")).first()[0] == sum(range(10000))


def test_compact_partitioned_splits_large_partitions(
    spark, tmp_path, monkeypatch
):
    """A hive partition above the file target compacts into several
    files, a tiny one into one; rows and partition pruning survive."""
    import glob
    import os

    from connect_server_spark import storage
    from connect_server_spark.fsutil import resolve_store

    monkeypatch.setattr(storage, "COMPACT_FILE_BYTES", 32 * 1024)
    path = str(tmp_path / "parts")
    big = spark.range(0, 8000).select(
        F.lit("big").alias("p"), "id", F.sha2(F.col("id").cast("string"), 256).alias("h")
    )
    tiny = spark.range(0, 3).select(
        F.lit("tiny").alias("p"), "id", F.sha2(F.col("id").cast("string"), 256).alias("h")
    )
    big.unionByName(tiny).repartition(8).write.partitionBy("p").parquet(path)
    want = sorted(map(tuple, spark.read.parquet(path).collect()))

    n = storage.compact(spark, path)
    live = resolve_store(spark, path)

    def n_files(value):
        return len(glob.glob(os.path.join(live, f"p={value}", "part-*.parquet")))

    assert n > 1
    assert 1 < n_files("big") <= n
    assert n_files("tiny") == 1
    back = spark.read.parquet(live)
    assert sorted(map(tuple, back.collect())) == want
    pruned = back.filter(F.col("p") == "tiny")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "tiny" in plan.split("PartitionFilters")[1][:160]
    assert pruned.count() == 3


def test_salted_collect_set_matches_unsalted(spark):
    df = spark.createDataFrame(
        [("hot", f"u{i % 7}") for i in range(200)] + [("cold", "u1")],
        ["k", "v"],
    )
    salted = {
        r.k: r.v_set for r in salted_collect_set(df, "k", "v", salt=8).collect()
    }
    plain = {
        r.k: sorted(r.s)
        for r in df.groupBy("k").agg(F.collect_set("v").alias("s")).collect()
    }
    assert salted == plain


def test_write_partitioned_prunes_at_read(spark, sf_dir, tmp_path):
    """A key filter over the hive-partitioned layout becomes a
    PartitionFilter — directories prune before any parquet footer is
    touched."""
    from connect_server_spark.storage import write_partitioned
    from connect_server_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, "lang")

    filtered = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
    want = docs.filter(F.col("lang") == "en").count()
    assert filtered.count() == want


def test_compact_bucketed_merges_files_and_preserves_layout(spark, tmp_path):
    """The append-mode lifecycle for the BUCKETED stores (minhash band
    index + shingle store): appends accrete bucket-suffixed small files;
    compact_bucketed rewrites to ~one file per bucket WITHOUT losing the
    bucket layout — the probe plan afterwards still shows bucketed scans
    and shuffled-hash joins (no Exchange, no Sort on the store side)."""
    import glob

    from connect_server_spark.operators.dedup import (
        minhash_neardup_against_index,
        write_minhash_index,
    )
    from connect_server_spark.storage import compact_bucketed

    def words(tag, n=21):
        return " ".join(f"{tag}w{j}" for j in range(n))

    ix, sh = str(tmp_path / "ix"), str(tmp_path / "sh")
    corpus = spark.createDataFrame(
        [(i, words(f"c{i}")) for i in range(1, 6)], "doc_id long, text string"
    )
    write_minhash_index(corpus, "doc_id", "text", ix, sh)
    for day in range(4):  # daily appends → small files accrete per bucket
        batch = spark.createDataFrame(
            [(100 + day, words(f"d{day}"))], "doc_id long, text string"
        )
        write_minhash_index(batch, "doc_id", "text", ix, sh, mode="append")

    from connect_server_spark.fsutil import resolve_store

    rows_before = sorted(tuple(r) for r in spark.read.parquet(ix).collect())
    files_before = len(glob.glob(f"{ix}/*.parquet"))
    compact_bucketed(spark, ix, "band_hash")
    compact_bucketed(spark, sh, "doc_id")
    live = resolve_store(spark, ix)
    assert live != ix  # compaction published a generation
    files_after = len(glob.glob(f"{live}/*.parquet"))
    assert files_after < files_before
    assert sorted(tuple(r) for r in spark.read.parquet(live).collect()) == rows_before

    # the compacted stores still serve the probe path, with the layout
    # guarantee intact: bucketed scans, batch-side-build hash joins
    # (broadcast disabled to expose the at-scale shape — the adaptive
    # strategy would rightly broadcast a test-sized store)
    probe = spark.createDataFrame(
        [(900, words("d1"))], "doc_id long, text string"
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = minhash_neardup_against_index(
            probe, spark, ix, sh, "doc_id", "text"
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Bucketed: true") == 2, plan
        assert plan.count("ShuffledHashJoin") == 2, plan
        assert {(r.new_id, r.corpus_id) for r in pairs.collect()} == {(900, 101)}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_salted_join_matches_plain_join_on_skewed_data(spark):
    """Equivalence under heavy skew: 5k rows on one hot key + a long
    tail, inner and left, exact multiset equality with the plain join."""
    from connect_server_spark.storage import salted_join

    left = spark.range(6000).select(
        F.when(F.col("id") < 5000, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("id").cast("string")))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.createDataFrame(
        [("hot", 1), ("hot", 2), ("k5000", 3), ("missing", 4)],
        "k string, rv int",
    )
    for how in ("inner", "left"):
        got = sorted(
            map(tuple, salted_join(left, right, "k", salt=8, how=how).collect())
        )
        want = sorted(map(tuple, left.join(right, "k", how).collect()))
        assert got == want, how


def test_salted_join_spreads_hot_key_and_is_deterministic(spark):
    from connect_server_spark.storage import salted_join

    left = spark.range(5000).select(
        F.lit("hot").alias("k"), F.col("id").alias("payload")
    )
    right = spark.createDataFrame([("hot", 1)], "k string, rv int")
    # deterministic across runs
    a = sorted(map(tuple, salted_join(left, right, "k", salt=8).collect()))
    b = sorted(map(tuple, salted_join(left, right, "k", salt=8).collect()))
    assert a == b and len(a) == 5000
    # the hot key's rows actually spread: every salt bucket is populated
    l = left.withColumn(
        "__salt", F.pmod(F.xxhash64("payload"), F.lit(8)).cast("int")
    )
    counts = [r.n for r in l.groupBy("__salt").agg(
        F.count(F.lit(1)).alias("n")).collect()]
    assert len(counts) == 8
    assert max(counts) < 2 * (5000 / 8)


def test_salted_join_rejects_bad_args(spark):
    from connect_server_spark.storage import salted_join

    left = spark.createDataFrame([("a", 1)], "k string, v int")
    right = spark.createDataFrame([("a", 2)], "k string, rv int")
    with pytest.raises(ValueError, match="salt must be positive"):
        salted_join(left, right, "k", salt=0)
    with pytest.raises(ValueError, match="inner|left"):
        salted_join(left, right, "k", how="right")
    with pytest.raises(ValueError, match="no non-key columns"):
        salted_join(left.select("k"), right, "k")


def test_snapshot_diff_semantics(spark):
    """All four statuses; null payloads diff correctly — (\"a\", NULL)
    vs (\"a\", \"\") must read as changed, never unchanged."""
    from connect_server_spark.storage import snapshot_diff

    old = spark.createDataFrame(
        [
            (1, "a", "x"),
            (2, "b", None),
            (3, "c", "y"),
            (5, "a", None),
        ],
        ["id", "t", "u"],
    )
    new = spark.createDataFrame(
        [
            (1, "a", "x"),
            (2, "b", "edited"),
            (4, "d", "z"),
            (5, "a", ""),
        ],
        ["id", "t", "u"],
    )
    out = {
        r.id: r.status
        for r in snapshot_diff(old, new, "id", ["t", "u"]).collect()
    }
    assert out == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "added",
        5: "changed",
    }


def test_snapshot_diff_moves_digests_not_payloads(spark):
    """The join input carries (id, 32-char digest) only: no payload
    column survives past the scan-side projection."""
    from connect_server_spark.storage import snapshot_diff

    old = spark.createDataFrame([(1, "blob")], ["id", "payload"])
    new = spark.createDataFrame([(1, "blob")], ["id", "payload"])
    df = snapshot_diff(old, new, "id", ["payload"])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "payload" not in df.columns
    # the only join is the full-outer id equi-join
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in ex
    assert "BroadcastNestedLoopJoin" not in ex


def test_heavy_hitters_semantics_and_plan(spark):
    """The skew report: exact counts, shares over the whole table, hot
    key first with deterministic ties, k bound respected; plan uses
    TakeOrdered (no global-sort Exchange) and the aggregation is the
    only place rows meet a shuffle."""
    from connect_server_spark.storage import heavy_hitters

    rows = (
        [("hot", i) for i in range(60)]
        + [("warm", i) for i in range(30)]
        + [(f"u{i}", i) for i in range(10)]
    )
    df = spark.createDataFrame(rows, ["user_id", "x"])
    out = heavy_hitters(df, "user_id", k=5).collect()
    assert [(r.user_id, r.n) for r in out][:2] == [("hot", 60), ("warm", 30)]
    assert len(out) == 5
    # singleton ties resolve by key ascending
    assert [r.user_id for r in out[2:]] == ["u0", "u1", "u2"]
    assert abs(out[0].share - 60 / 100) < 1e-9
    total_share = sum(
        r.share for r in heavy_hitters(df, "user_id", k=1000).collect()
    )
    assert abs(total_share - 1.0) < 1e-4

    plan = (
        heavy_hitters(df, "user_id", k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be positive"):
        heavy_hitters(df, "user_id", k=0)


def test_fs_signature_change_detection_both_legs(spark, tmp_path):
    """fs_signature is the change detector behind every serving memo
    (read_bucketed refresh skip, model reloads, broadcastable verdict).
    Both legs — the os.scandir local fast path and the one-gateway-call
    JVM rendering used for remote schemes (r11: the per-FileStatus py4j
    iteration it replaced cost ~500 ms on a 3,000-file store) — must
    agree on the semantics: None for missing, stable while unchanged,
    different after any append."""
    import os

    from connect_server_spark.fsutil import (
        _fs_signature_remote,
        fs_signature,
    )

    d = str(tmp_path / "store")
    os.makedirs(d)
    for legname, sig in (
        ("local", lambda: fs_signature(spark, d)),
        ("jvm", lambda: _fs_signature_remote(spark, d)),
    ):
        missing = (
            fs_signature(spark, str(tmp_path / "nope"))
            if legname == "local"
            else _fs_signature_remote(spark, str(tmp_path / "nope"))
        )
        assert missing is None, legname
        with open(f"{d}/a.parquet", "wb") as f:
            f.write(b"x" * 64)
        s1, s2 = sig(), sig()
        assert s1 == s2, legname  # unchanged store: stable signature
        with open(f"{d}/b.parquet", "wb") as f:
            f.write(b"y" * 64)
        assert sig() != s1, legname  # append: signature must move
        os.remove(f"{d}/b.parquet")

    # the local fast path actually engages on this session (defaultFS is
    # file: under local[*]) — a plain path must NOT pay the JVM route
    from connect_server_spark.fsutil import _local_fs_path

    assert _local_fs_path(spark, d) == d
    assert _local_fs_path(spark, "s3a://bucket/x") is None
    assert _local_fs_path(spark, "file:///tmp/x") == "/tmp/x"


def test_fs_list_local_leg_matches_hadoop_leg(spark, tmp_path, monkeypatch):
    """A driver-local ``fs_list`` (one ``os.scandir``) returns the same
    child names as the Hadoop ``listStatus`` leg — files, directories
    and ``_``-prefixed names alike, and none of the ``.crc`` checksum
    files Hadoop's local filesystem hides — and ``[]`` for a missing
    directory."""
    import os

    from connect_server_spark import fsutil

    d = str(tmp_path / "store")
    spark.range(0, 3).write.parquet(d)  # part files, _SUCCESS, .crc files
    os.makedirs(f"{d}/_gen-00000001")
    os.makedirs(f"{d}/batch=1")
    fsutil.write_text_atomic(spark, f"{d}/_CURRENT", "_gen-00000001\n")
    missing = str(tmp_path / "nope")

    local = sorted(fsutil.fs_list(spark, d))
    assert fsutil.fs_list(spark, missing) == []
    monkeypatch.setattr(fsutil, "_local_fs_path", lambda spark, path: None)
    hadoop = sorted(fsutil.fs_list(spark, d))
    assert fsutil.fs_list(spark, missing) == []

    assert local == hadoop
    assert {"_gen-00000001", "batch=1", "_CURRENT", "_SUCCESS"} <= set(local)
    assert any(n.endswith(".parquet") for n in local)
    assert any(n.endswith(".crc") for n in os.listdir(d))
    assert not any(n.endswith(".crc") for n in local)


def test_bucketed_writes_emit_one_file_per_bucket(spark, tmp_path):
    """write_bucketed_path shuffles by the bucket hash before the save
    (r11): a bucketed save from an N-partition input otherwise emits up
    to N x buckets files — the sf0.1 minhash band index came out as
    ~3,000 files from a 94-partition input, and every listing, footer
    read, and scan open paid for it. Overwrite AND append must each add
    at most ``STORE_BUCKETS`` data files, with AQE on and with AQE off.

    With AQE on, the shuffle is a REBALANCE that AQE sizes to the data:
    a few-row append runs as ONE task (every new file shares one
    ``part-00000-<uuid>`` prefix, no bucket repeats), and even when AQE
    splits partitions above a tiny advisory size, each ``_000bb`` file
    holds only bucket ``bb``'s rows. Compaction is exempt from the
    split: it still leaves at most one file per bucket."""
    import os

    from connect_server_spark.fsutil import resolve_store
    from connect_server_spark.storage import (
        STORE_BUCKETS,
        compact_bucketed,
        read_bucketed,
        write_bucketed_path,
    )

    def rows(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS k", "id * 2 AS v"
        ).repartition(16)  # many input partitions, deliberately

    def data_files(path):
        return {
            n for n in os.listdir(path)
            if n.endswith(".parquet") and not n.startswith(".")
        }

    def bucket_of(name):  # part-00000-<uuid>_000bb.c000.snappy.parquet
        return int(name.rsplit("_", 1)[1].split(".")[0])

    def write_pair(path):
        """Overwrite 2,000 rows, then append 20; return both writes'
        new files."""
        write_bucketed_path(rows(0, 2000), path, "k")
        first = data_files(path)
        write_bucketed_path(rows(2000, 2020), path, "k", mode="append")
        return first, data_files(path) - first

    path = str(tmp_path / "store")
    first, added = write_pair(path)
    assert 0 < len(first) <= STORE_BUCKETS, sorted(first)
    assert 0 < len(added) <= STORE_BUCKETS, sorted(added)
    # (a) the small append is one task: one part prefix, one file per
    # bucket it touches
    prefixes = {n.rsplit("_", 1)[0] for n in added}
    assert len(prefixes) == 1 and prefixes.pop().startswith("part-00000-"), (
        sorted(added)
    )
    buckets_hit = [bucket_of(n) for n in added]
    assert len(buckets_hit) == len(set(buckets_hit)), sorted(added)
    # >1 bucket, so one prefix means one task wrote several buckets
    assert len(buckets_hit) > 1, sorted(added)

    # layout intact: the read reports the bucketing (no Exchange on a
    # self-join by key) and every row survived
    out = read_bucketed(spark, path, "k")
    assert out.count() == 2020

    # (b) AQE off: Spark ignores the REBALANCE hint, so the fixed
    # repartition must keep each write at <= STORE_BUCKETS files
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        off = str(tmp_path / "store_aqe_off")
        first, added = write_pair(off)
        assert 0 < len(first) <= STORE_BUCKETS, sorted(first)
        assert 0 < len(added) <= STORE_BUCKETS, sorted(added)
        assert read_bucketed(spark, off, "k").count() == 2020
    finally:
        spark.conf.set(key, old)

    # (c) a tiny advisory size makes AQE split partitions: a bucket may
    # then get several files, but every file holds only its bucket
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        split = str(tmp_path / "store_split")
        write_bucketed_path(rows(0, 20000), split, "k")
        files = data_files(split)
        # compaction keeps its fixed repartition, which AQE never
        # splits: the store is back to at most one file per bucket
        compacted = str(tmp_path / "store_compacted")
        write_bucketed_path(rows(0, 20000), compacted, "k")
        compact_bucketed(spark, compacted, "k")
        live = resolve_store(spark, compacted)
        assert 0 < len(data_files(live)) <= STORE_BUCKETS, sorted(
            data_files(live)
        )
    finally:
        spark.conf.set(key, old)
    assert read_bucketed(spark, compacted, "k").count() == 20000
    assert len(files) > STORE_BUCKETS, sorted(files)  # AQE did split
    placed = (
        spark.read.parquet(split)
        .select(
            F.regexp_extract(F.input_file_name(), r"_(\d+)\.c\d+", 1)
            .cast("int").alias("file_bucket"),
            F.expr(f"pmod(hash(k), {STORE_BUCKETS})").alias("row_bucket"),
        )
        .groupBy("file_bucket", "row_bucket")
        .count()
        .collect()
    )
    assert {r.file_bucket for r in placed} == {bucket_of(n) for n in files}
    assert all(r.file_bucket == r.row_bucket for r in placed), placed
    assert read_bucketed(spark, split, "k").count() == 20000


def test_bucketed_append_inside_foreachbatch_is_one_task(spark, tmp_path):
    """The daily ingest appends from a ``foreachBatch`` sink, whose
    DataFrames belong to the stream's own cloned session, not the
    caller's. That session must still run the append as AQE's one
    coalesced task (one ``part-00000-<uuid>`` prefix), or every
    micro-batch would pay the fixed ``STORE_BUCKETS``-way write."""
    import json
    import os

    from connect_server_spark.execution import stage_boundary
    from connect_server_spark.storage import STORE_BUCKETS, write_bucketed_path

    path = str(tmp_path / "store")
    write_bucketed_path(
        spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS v"), path, "k"
    )
    before = set(os.listdir(path))
    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(
        json.dumps({"k": 5000 + i, "v": i}) for i in range(160)
    ))
    seen = {}

    def sink(batch_df, batch_id):
        fresh = batch_df.repartition(16).transform(
            stage_boundary, eager=True, pin=True
        )
        seen["aqe"] = fresh.sparkSession.conf.get("spark.sql.adaptive.enabled")
        write_bucketed_path(fresh, path, "k", mode="append")

    q = (
        spark.readStream.schema("k long, v long").json(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    added = {
        n for n in set(os.listdir(path)) - before
        if n.endswith(".parquet") and not n.startswith(".")
    }
    assert seen["aqe"] == "true"
    assert 1 < len(added) <= STORE_BUCKETS, sorted(added)
    prefixes = {n.rsplit("_", 1)[0] for n in added}
    assert len(prefixes) == 1 and prefixes.pop().startswith("part-00000-"), (
        sorted(added)
    )
    assert spark.read.parquet(path).count() == 2160


def test_concurrent_bucketed_stores_in_one_session(spark, tmp_path):
    """Threads of one session share the memo of bucket specs and
    refreshes: N chains overwrite, append and read back distinct
    bucketed stores at once, and every store reads back exactly its own
    rows. The shared memo is padded to its cap, so every entry a chain
    records evicts another while other threads read and write it — the
    interleaving an unlocked LRU would corrupt."""
    import sys

    from connect_server_spark import memo, storage
    from connect_server_spark.execution import run_concurrently

    n = 8  # more threads than the session's cores
    pad = [("pad", i) for i in range(memo.MEMO_CAP)]
    for k in pad:
        memo.shared.put(k, True)

    def chain(i: int):
        def run():
            path = str(tmp_path / f"store_{i}")
            base = spark.range(0, 40).select(
                F.col("id").alias("k"), F.lit(i).alias("owner")
            )
            more = spark.range(40, 60).select(
                F.col("id").alias("k"), F.lit(i).alias("owner")
            )
            for _ in range(3):
                storage.write_bucketed_path(base, path, "k")
                storage.write_bucketed_path(more, path, "k", mode="append")
            return sorted(
                tuple(r)
                for r in storage.read_bucketed(spark, path, "k")
                .select("k", "owner").collect()
            )

        return run

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        got = run_concurrently(*(chain(i) for i in range(n)))
    finally:
        sys.setswitchinterval(old_interval)
        for k in pad:
            memo.shared.pop(k)
    for i, rows in enumerate(got):
        assert rows == [(k, i) for k in range(60)]


def test_maintain_bucketed_compacts_appended_minhash_store(spark, tmp_path):
    """Past its files-per-bucket threshold an appended minhash store is
    compacted by ``maintain_bucketed``; the indexed probe returns the
    same pairs before and after, a healthy store is left alone, and an
    append after the compaction is visible to the probe."""
    import random

    from connect_server_spark.fsutil import fs_list, resolve_store
    from connect_server_spark.operators.dedup import (
        minhash_neardup_against_index,
        write_minhash_index,
    )
    from connect_server_spark.storage import STORE_BUCKETS, maintain_bucketed

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(400)]
    texts = [" ".join(rng.choice(vocab) for _ in range(30)) for _ in range(160)]

    def frame(rows):
        return spark.createDataFrame(rows, "id long, text string")

    # one base write and seven appends of 20 documents: each write adds
    # about 15 shingle files and 32 band-index files
    ix, sh = str(tmp_path / "index"), str(tmp_path / "shingles")
    write_minhash_index(
        frame([(i, texts[i]) for i in range(20)]), "id", "text", ix, sh
    )
    for lo in range(20, 160, 20):
        write_minhash_index(
            frame([(i, texts[i]) for i in range(lo, lo + 20)]), "id", "text",
            ix, sh, mode="append",
        )

    def n_files(path):
        live = resolve_store(spark, path)
        return sum(1 for f in fs_list(spark, live) if f.endswith(".parquet"))

    # near-copies (first word dropped) of documents from three writes
    batch = frame(
        [(1000 + i, texts[i].split(" ", 1)[1]) for i in (3, 45, 157)]
    )

    def probe():
        return {
            (r.new_id, r.corpus_id)
            for r in minhash_neardup_against_index(
                batch, spark, ix, sh, "id", "text"
            ).collect()
        }

    before = probe()
    assert {(1003, 3), (1045, 45), (1157, 157)} <= before
    files = {ix: n_files(ix), sh: n_files(sh)}
    assert min(files.values()) > 2 * STORE_BUCKETS, files
    for path, key in ((ix, "band_hash"), (sh, "id")):
        assert maintain_bucketed(
            spark, path, key, max_files_per_bucket=1
        ) == files[path]
        assert n_files(path) <= STORE_BUCKETS
        assert maintain_bucketed(spark, path, key, max_files_per_bucket=1) == 0
    assert probe() == before

    write_minhash_index(
        frame([(160, "fresh text " + texts[0])]), "id", "text", ix, sh,
        mode="append",
    )
    batch = frame([(2000, "fresh text " + texts[0])])
    assert (2000, 160) in probe()
