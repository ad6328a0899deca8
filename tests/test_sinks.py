"""Tests for the write-path sinks: idempotent append (S8) and
replace-by-subject search ingest (S9)."""

import pytest
from pyspark.errors.exceptions.base import AnalysisException
from pyspark.sql import functions as F

from connect_server_spark.sinks import (
    idempotent_append,
    read_search_index,
    search_ingest,
)


# the first write probes a missing path: its AnalysisException must be
# read without Spark's deprecated error-class accessor
@pytest.mark.filterwarnings("error::FutureWarning")
def test_idempotent_append(spark, tmp_path):
    path = str(tmp_path / "status")
    first = spark.createDataFrame(
        [("a", "1.0", 1), ("b", "1.0", 2)], ["source_id", "version", "payload"]
    )
    assert idempotent_append(spark, first, path, ["source_id", "version"]) == 2

    again = spark.createDataFrame(
        [("a", "1.0", 99), ("a", "1.1", 3), ("c", "1.0", 4)],
        ["source_id", "version", "payload"],
    )
    # ('a','1.0') already present -> only two fresh rows appended
    assert idempotent_append(spark, again, path, ["source_id", "version"]) == 2

    rows = {(r.source_id, r.version): r.payload for r in spark.read.parquet(path).collect()}
    assert rows == {("a", "1.0"): 1, ("b", "1.0"): 2, ("a", "1.1"): 3, ("c", "1.0"): 4}


def test_search_ingest_replaces_by_subject(spark, tmp_path):
    path = str(tmp_path / "index")
    v1 = spark.createDataFrame(
        [("s1-1.0", "first"), ("s2-1.0", "other")], ["subject", "body"]
    )
    search_ingest(v1, path, "subject", n_buckets=4)

    v2 = spark.createDataFrame([("s1-1.0", "updated")], ["subject", "body"])
    search_ingest(v2, path, "subject", n_buckets=4)

    rows = {r.subject: r.body for r in read_search_index(spark, path).collect()}
    # s1 replaced, s2 untouched even if it shares a hash bucket
    assert rows == {"s1-1.0": "updated", "s2-1.0": "other"}


def test_search_ingest_raises_on_unreadable_existing_index(spark, tmp_path):
    """A read failure of an EXISTING index must RAISE, not be treated as
    'first write' — overwriting would drop every surviving subject in the
    touched buckets.

    Empty directory → AnalysisException (UNABLE_TO_INFER_SCHEMA), the
    exact class the first-write branch catches: it must still re-raise
    because the condition is not PATH_NOT_FOUND."""
    d = tmp_path / "index"
    d.mkdir()  # exists, but unreadable as a parquet table
    batch = spark.createDataFrame([("s1-1.0", "x")], ["subject", "body"])
    with pytest.raises(AnalysisException):
        search_ingest(batch, str(d), "subject", n_buckets=4)


def test_search_ingest_does_not_clobber_corrupt_index(spark, tmp_path):
    """Corrupt parquet footer → the executor-side SparkException also
    propagates, and the broken-but-existing data is left untouched for a
    human to recover rather than silently replaced by the batch."""
    d = tmp_path / "index"
    d.mkdir()
    (d / "part-00000.parquet").write_text("this is not parquet")
    batch = spark.createDataFrame([("s1-1.0", "x")], ["subject", "body"])
    with pytest.raises(Exception):
        search_ingest(batch, str(d), "subject", n_buckets=4)
    assert (d / "part-00000.parquet").read_text() == "this is not parquet"


def test_feedstock_roundtrip_into_search_ingest(spark, tmp_path):
    """§3.2 ingest leg end-to-end: validator feedstock (A7) → JSONL
    feedstock artifact → search index keyed by (dataset, scroll_id)
    subject — the validate→feedstock→SearchIngest chain of the flow
    (automate/mdf_flow_def.json SearchIngest pulls the feedstock)."""
    from pyspark.sql import functions as F

    from connect_server_spark.operators.validator import feedstock
    from connect_server_spark.sinks import read_feedstock, write_feedstock

    datasets = spark.createDataFrame([("ds1",), ("ds2",)], ["source_id"])
    records = spark.createDataFrame(
        [("ds1", 10), ("ds1", 30), ("ds1", 20), ("ds2", 5)],
        ["source_id", "rec_id"],
    )
    fs = feedstock(datasets, records, "source_id", "rec_id")
    fpath = str(tmp_path / "feedstock")
    write_feedstock(fs, fpath)
    back = read_feedstock(spark, fpath)
    # scroll ids survive the JSONL roundtrip: header 0 + contiguous 1..N
    got = {
        (r.source_id, r.scroll_id): (r.resource_type, r.record_ref)
        for r in back.collect()
    }
    assert got[("ds1", 0)] == ("dataset", None)
    assert got[("ds1", 1)] == ("record", 10)
    assert got[("ds1", 2)] == ("record", 20)
    assert got[("ds1", 3)] == ("record", 30)
    assert got[("ds2", 1)] == ("record", 5)

    # and the feedstock lands in the search index by composite subject
    ipath = str(tmp_path / "index")
    subj = back.withColumn(
        "subject",
        F.concat_ws("/", "source_id", F.col("scroll_id").cast("string")),
    )
    search_ingest(subj, ipath, "subject", n_buckets=4)
    rows = read_search_index(spark, ipath)
    assert rows.count() == 6  # 2 dataset headers + 4 records
    assert rows.filter(F.col("resource_type") == "dataset").count() == 2


def test_idempotent_append_raises_on_unreadable_existing_table(spark, tmp_path):
    d = tmp_path / "status"
    d.mkdir()  # exists but not a readable table → must raise, not duplicate
    incoming = spark.createDataFrame(
        [("a", "1.0", 1)], ["source_id", "version", "payload"]
    )
    with pytest.raises(AnalysisException):
        idempotent_append(spark, incoming, str(d), ["source_id", "version"])


# ----------------------------------------------------- training shards


def _packed(spark, n_docs=200, budget=512):
    from connect_server_spark.operators.packing import pack_sequences

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), 300) + 1).alias("n_tokens"),
    )
    return pack_sequences(docs, "doc_id", "n_tokens", budget)


def test_training_shards_roundtrip_and_manifest(spark, tmp_path):
    from connect_server_spark.sinks import (
        read_training_shards,
        write_training_shards,
    )

    packed = _packed(spark)
    path = str(tmp_path / "shards")
    manifest = write_training_shards(packed, path, n_shards=4)

    df = read_training_shards(spark, path)  # verify=True recomputes
    got = sorted(map(tuple, df.drop("shard").collect()))
    want = sorted(map(tuple, packed.collect()))
    assert got == want

    # manifest totals equal the data totals
    assert sum(s["n_rows"] for s in manifest["shards"].values()) == len(want)
    assert sum(s["n_tokens"] for s in manifest["shards"].values()) == sum(
        r[1] for r in want
    )
    # a pack never splits across shards
    spread = (
        df.groupBy("pack_id")
        .agg(F.count_distinct("shard").alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    assert spread == 1


def test_training_shards_deterministic_assignment(spark, tmp_path):
    from connect_server_spark.sinks import write_training_shards

    packed = _packed(spark)
    m1 = write_training_shards(packed, str(tmp_path / "a"), n_shards=4)
    m2 = write_training_shards(packed, str(tmp_path / "b"), n_shards=4)
    assert m1["shards"] == m2["shards"]


def test_training_shards_uncommitted_write_refused(spark, tmp_path):
    """Data without a manifest = a crashed writer: readers must refuse."""
    import os

    from connect_server_spark.sinks import (
        read_training_shards,
        write_training_shards,
    )

    packed = _packed(spark)
    path = str(tmp_path / "shards")
    write_training_shards(packed, path, n_shards=2)
    os.remove(os.path.join(path, "_manifest.json"))  # simulate the crash
    with pytest.raises(FileNotFoundError, match="never committed"):
        read_training_shards(spark, path)
    # re-running the writer recommits cleanly (overwrite semantics)
    write_training_shards(packed, path, n_shards=2)
    assert read_training_shards(spark, path).count() == packed.count()


def test_training_shards_detect_corruption(spark, tmp_path):
    """A shard whose data diverges from the committed manifest fails
    verification loudly."""
    import glob
    import os

    from connect_server_spark.sinks import (
        read_training_shards,
        write_training_shards,
    )

    packed = _packed(spark)
    path = str(tmp_path / "shards")
    write_training_shards(packed, path, n_shards=2)
    # drop one shard's parquet files out from under the manifest
    victim = glob.glob(os.path.join(path, "shard=0", "*.parquet"))
    assert victim
    for f in victim:
        os.remove(f)
    with pytest.raises(ValueError, match="shard verification failed"):
        read_training_shards(spark, path)
    # verify=False still reads (for salvage tooling)
    assert read_training_shards(spark, path, verify=False).count() > 0


def test_training_shards_balance(spark, tmp_path):
    """Hash assignment balances packs across shards (no shard more than
    2x the mean at this pack count)."""
    from connect_server_spark.sinks import write_training_shards

    packed = _packed(spark, n_docs=2000)
    m = write_training_shards(packed, str(tmp_path / "s"), n_shards=8)
    counts = [s["n_packs"] for s in m["shards"].values()]
    assert len(counts) == 8
    mean = sum(counts) / len(counts)
    assert max(counts) < 2 * mean


def test_training_shards_compose_chunk_pack(spark, sf_dir, tmp_path):
    """End-to-end: documents → chunk → pack → shard → read; every pack
    within budget, token mass conserved through the whole pipeline."""
    from connect_server_spark.operators.packing import chunk_and_pack
    from connect_server_spark.operators.text import token_count
    from connect_server_spark.sinks import (
        read_training_shards,
        write_training_shards,
    )
    from connect_server_spark.tables import load_table

    budget = 128
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    packed = chunk_and_pack(docs, "doc_id", "n_tokens", budget)
    path = str(tmp_path / "shards")
    write_training_shards(
        packed, path, n_shards=4, pack_col="pack_id",
        token_col="chunk_tokens",
    )
    df = read_training_shards(spark, path)
    per_pack = df.groupBy("pack_id").agg(F.sum("chunk_tokens").alias("t"))
    assert per_pack.filter(F.col("t") > budget).count() == 0
    total_in = docs.agg(F.sum("n_tokens")).first()[0]
    total_out = df.agg(F.sum("chunk_tokens")).first()[0]
    assert total_in == total_out


def test_write_training_shards_refuses_empty_release(spark, tmp_path):
    from connect_server_spark.sinks import write_training_shards

    empty = spark.createDataFrame(
        [], "pack_id long, n_tokens long, id long"
    )
    with pytest.raises(ValueError, match="empty release"):
        write_training_shards(empty, str(tmp_path / "s"), n_shards=2)


def test_training_shards_pack_order_is_shuffled_contiguous_deterministic(
    spark, tmp_path
):
    """The loader-order contract of shuffle_packs: inside each shard
    file (a) every pack's rows are contiguous and slot-ordered, (b) pack
    order follows the seeded hash (matches a Spark-side recompute, so
    it's hash-random w.r.t. the upstream pack_id order), (c) reruns are
    byte-order identical, and (d) a new seed reshuffles order without
    moving any pack across shards."""
    import glob

    import pyarrow.parquet as pq

    from connect_server_spark.sinks import write_training_shards

    packed = _packed(spark)
    p1, p2, p3 = (str(tmp_path / d) for d in ("a", "b", "c"))
    write_training_shards(packed, p1, n_shards=2)
    write_training_shards(packed, p2, n_shards=2)
    write_training_shards(packed, p3, n_shards=2, shuffle_seed=7)

    expected_hash = {
        r.pack_id: r.h
        for r in packed.select(
            "pack_id", F.xxhash64("pack_id", F.lit(0)).alias("h")
        ).distinct().collect()
    }

    def shard_rows(path):
        out = {}
        for d in sorted(glob.glob(f"{path}/shard=*")):
            tbl = pq.read_table(d)
            out[d.rsplit("=", 1)[1]] = list(
                zip(tbl["pack_id"].to_pylist(), tbl["pack_slot"].to_pylist())
            )
        return out

    s1 = shard_rows(p1)
    assert len(s1) == 2 and sum(len(v) for v in s1.values()) == packed.count()
    saw_shuffled_order = False
    for rows in s1.values():
        # contiguity + slot order: packs appear as uninterrupted runs
        order = []
        for pid, slot in rows:
            if not order or order[-1] != pid:
                assert pid not in order, f"pack {pid} split into two runs"
                order.append(pid)
                assert slot == 0
            else:
                prev = [s for p, s in rows if p == pid]
                assert prev == sorted(prev)
        # pack order follows the seeded hash, not the upstream order
        assert order == sorted(order, key=lambda p: (expected_hash[p], p))
        if order != sorted(order):
            saw_shuffled_order = True
    assert saw_shuffled_order  # with ~100 packs, hash order != id order
    assert s1 == shard_rows(p2)  # deterministic rerun
    s3 = shard_rows(p3)
    assert {k: sorted(v) for k, v in s1.items()} == {
        k: sorted(v) for k, v in s3.items()
    }  # same membership under the new seed…
    assert s1 != s3  # …different within-shard order
