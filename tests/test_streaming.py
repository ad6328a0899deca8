"""Structured Streaming tests: the windowed aggregations running as real
streams (readStream + watermark + availableNow trigger) and the stateful
status tracker, each checked against its batch equivalent."""

import pytest
from pyspark.sql import functions as F

from connect_server_spark.streaming.status_stream import track_status
from connect_server_spark.streaming.windows import tumbling_counts

SF_DIR = "/root/testdata/sf0.001"


def _event_stream(spark):
    from connect_server_spark.tables import normalize_event_ts

    schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    return normalize_event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_DIR)
    )


def _run_to_memory(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update" if name == "status" else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_window_stream_matches_batch(spark):
    from connect_server_spark.tables import load_events

    streamed = tumbling_counts(
        _event_stream(spark), watermark="1 hour"
    )
    # complete mode: append would withhold the final windows still inside
    # the watermark when the bounded stream ends
    q = (
        streamed.writeStream.format("memory")
        .queryName("tumbling")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM tumbling").collect()
    }
    expected = {
        (r.window_start, r.event_type): r.n_events
        for r in tumbling_counts(load_events(spark, SF_DIR)).collect()
    }
    assert got == expected and len(got) > 0


def test_sliding_window_stream_matches_batch(spark):
    """T6 gate: 1h/30min sliding value sums computed incrementally must
    equal the oracle-gated batch result."""
    from connect_server_spark.streaming.windows import sliding_value_sums
    from connect_server_spark.tables import load_events

    streamed = sliding_value_sums(_event_stream(spark))
    q = (
        streamed.writeStream.format("memory")
        .queryName("sliding")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.window_start: r.value_cents
        for r in spark.sql("SELECT * FROM sliding").collect()
    }
    expected = {
        r.window_start: r.value_cents
        for r in sliding_value_sums(load_events(spark, SF_DIR)).collect()
    }
    assert got == expected and len(got) > 0


def test_session_window_stream_matches_batch(spark):
    """T6 gate: gap-based session windows computed incrementally
    (readStream + watermark) must equal the oracle-gated batch result."""
    from connect_server_spark.streaming.windows import session_counts
    from connect_server_spark.tables import load_events

    streamed = session_counts(_event_stream(spark), watermark="1 hour")
    q = (
        streamed.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.session_start, r.user_id): r.n_events
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    expected = {
        (r.session_start, r.user_id): r.n_events
        for r in session_counts(load_events(spark, SF_DIR)).collect()
    }
    assert got == expected and len(got) > 0


def test_stateful_status_tracker_matches_batch(spark):
    stream = _event_stream(spark).select("user_id", "ts", "event_type")
    q = _run_to_memory(track_status(stream), "status")
    rows = spark.sql(
        "SELECT user_id, n_events, n_errors, lifecycle FROM status"
    ).collect()
    got = {r.user_id: (r.n_events, r.n_errors) for r in rows}

    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("e"),
        )
    )
    expected = {r.user_id: (r.n, r.e) for r in batch.collect()}
    assert got == expected
    assert all(r.lifecycle in ("active", "failed") for r in rows)


def test_foreachbatch_idempotent_status_sink(spark, tmp_path):
    """T3: the status table as a streaming sink — micro-batches land
    through the S8 insert guard, so a key replayed in a later batch (or a
    restarted writer) appends nothing."""
    import json

    from connect_server_spark.sinks import idempotent_append

    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"source_id": f"s{i}", "version": "1.0"})
                  for i in range(5))
    )
    (src / "b2.json").write_text(
        "\n".join(json.dumps({"source_id": f"s{i}", "version": "1.0"})
                  for i in range(3, 8))  # 3,4 overlap batch 1
    )
    out = str(tmp_path / "status")
    stream = (
        spark.readStream.schema("source_id string, version string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )

    def sink(batch_df, batch_id):
        idempotent_append(
            spark, batch_df, out, ["source_id", "version"]
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 8  # 10 incoming, 2 duplicates guarded out
    assert len({r.source_id for r in rows}) == 8


def test_curation_decision_stream_stream_join(spark, tmp_path):
    """T2 streaming: decisions within the window resolve pending rows;
    a row whose window expires under the watermark emits 'hibernating'."""
    import json

    from connect_server_spark.streaming.status_stream import (
        join_curation_decisions,
    )

    pdir = tmp_path / "pending"
    ddir = tmp_path / "decisions"
    pdir.mkdir(); ddir.mkdir()
    (pdir / "p1.json").write_text("\n".join([
        json.dumps({"source_id": "s1", "submitted_at": "2026-01-01T10:00:00"}),
        json.dumps({"source_id": "s2", "submitted_at": "2026-01-01T10:01:00"}),
        json.dumps({"source_id": "s3", "submitted_at": "2026-01-01T10:02:00"}),
    ]))
    # late heartbeats advance the pending watermark past s2's window
    (pdir / "p2.json").write_text(json.dumps(
        {"source_id": "hb1", "submitted_at": "2026-01-01T11:00:00"}))
    (pdir / "p3.json").write_text(json.dumps(
        {"source_id": "hb2", "submitted_at": "2026-01-01T12:00:00"}))
    (ddir / "d1.json").write_text("\n".join([
        json.dumps({"source_id": "s1", "decided_at": "2026-01-01T10:05:00",
                    "decision": "accept"}),
        json.dumps({"source_id": "s3", "decided_at": "2026-01-01T10:04:00",
                    "decision": "reject"}),
    ]))
    (ddir / "d2.json").write_text(json.dumps(
        {"source_id": "hb1", "decided_at": "2026-01-01T11:00:00",
         "decision": "accept"}))
    (ddir / "d3.json").write_text(json.dumps(
        {"source_id": "hb2", "decided_at": "2026-01-01T12:00:00",
         "decision": "accept"}))

    pending = (
        spark.readStream.schema("source_id string, submitted_at timestamp")
        .option("maxFilesPerTrigger", "1").json(str(pdir))
    )
    decisions = (
        spark.readStream.schema(
            "source_id string, decided_at timestamp, decision string")
        .option("maxFilesPerTrigger", "1").json(str(ddir))
    )
    out = join_curation_decisions(pending, decisions)
    q = (
        out.writeStream.format("memory").queryName("curation_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.source_id: r.curation_state
        for r in spark.sql("SELECT * FROM curation_out").collect()
        if r.source_id.startswith("s")
    }
    assert got["s1"] == "accept"
    assert got["s3"] == "reject"
    assert got["s2"] == "hibernating"  # window expired with no decision


def test_streaming_rollup_refresh_matches_batch_cascade(spark, tmp_path):
    """T6 extension: the persisted continuous aggregate. Two file
    micro-batches stream through rollup_refresh_sink; read_rollup must
    equal rollup_cascade over the union — including a LATE row whose
    bucket is older than batch 1's data."""
    import json

    from connect_server_spark.operators.temporal import rollup_cascade
    from connect_server_spark.streaming.rollup_refresh import (
        read_rollup,
        rollup_refresh_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    rows1 = [
        {"ts": f"2024-01-01 10:{m:02d}:00", "k": "a", "v": float(m)}
        for m in range(10)
    ]
    # batch 2 carries late data: an hour-9 row arriving after hour-10s
    rows2 = [
        {"ts": "2024-01-01 09:59:00", "k": "a", "v": 100.0},
        {"ts": "2024-01-01 10:30:00", "k": "b", "v": 7.0},
    ]
    (src / "b1.json").write_text("\n".join(map(json.dumps, rows1)))
    (src / "b2.json").write_text("\n".join(map(json.dumps, rows2)))

    store = str(tmp_path / "rollup")
    schema = "ts timestamp, k string, v double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(
            rollup_refresh_sink(spark, store, "ts", "v", ["k"], [60, 3600])
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    all_rows = spark.read.schema(schema).json(str(src))
    want = sorted(map(tuple, rollup_cascade(
        all_rows, "ts", "v", ["k"], [60, 3600]
    ).select("k", "bucket_ts", "bucket_seconds", "n", "sum_v",
             "min_v", "max_v").collect()))
    got = sorted(map(tuple, read_rollup(spark, store, ["k"]).select(
        "k", "bucket_ts", "bucket_seconds", "n", "sum_v",
        "min_v", "max_v").collect()))
    assert got == want
    # level pruning returns only that level
    hourly = read_rollup(spark, store, ["k"], width_seconds=3600)
    assert hourly.select("bucket_seconds").distinct().collect()[0][0] == 3600


def test_streaming_rollup_replay_and_compaction(spark, tmp_path):
    """Replayed batch ids append nothing — before AND after compaction
    (the seen ledger carries absorbed ids) — and compaction folds the
    log without changing the merged result."""
    from connect_server_spark.operators.temporal import rollup_cascade
    from connect_server_spark.streaming.rollup_refresh import (
        compact_rollup,
        read_rollup,
        rollup_refresh_sink,
    )

    import datetime as dt

    def batch(vals, day):
        return spark.createDataFrame(
            [(dt.datetime(2024, 1, day, 10, i), "k", float(v))
             for i, v in enumerate(vals)],
            "ts timestamp, k string, v double",
        )

    store = str(tmp_path / "rollup")
    sink = rollup_refresh_sink(spark, store, "ts", "v", ["k"], [60, 3600])
    b1, b2 = batch([1, 2, 3], 1), batch([10, 20], 2)
    sink(b1, 0)
    sink(b2, 1)
    baseline = sorted(map(tuple, read_rollup(spark, store, ["k"]).collect()))

    sink(b1, 0)  # replay before compaction: gated by the log itself
    assert sorted(map(tuple,
                      read_rollup(spark, store, ["k"]).collect())) == baseline

    n = compact_rollup(spark, store, ["k"])
    after = sorted(map(tuple, read_rollup(spark, store, ["k"]).collect()))
    assert after == baseline
    # the LIVE log generation now holds exactly the merged rows (the
    # compaction published a generation behind the _CURRENT pointer)
    from connect_server_spark.fsutil import resolve_store

    live = resolve_store(spark, f"{store}/partials")
    assert live != f"{store}/partials"
    assert spark.read.parquet(live).count() == n

    sink(b2, 1)  # replay after compaction: gated by the seen ledger
    assert sorted(map(tuple,
                      read_rollup(spark, store, ["k"]).collect())) == baseline

    # new batches still land post-compaction and merge with compacted rows
    sink(batch([5], 1), 2)
    union = b1.unionByName(b2).unionByName(batch([5], 1))
    want = sorted(map(tuple, rollup_cascade(
        union, "ts", "v", ["k"], [60, 3600]
    ).select("k", "bucket_ts", "bucket_seconds", "n", "sum_v",
             "min_v", "max_v").collect()))
    got = sorted(map(tuple, read_rollup(spark, store, ["k"]).select(
        "k", "bucket_ts", "bucket_seconds", "n", "sum_v",
        "min_v", "max_v").collect()))
    assert got == want


def test_streaming_rollup_crash_between_ledger_and_swap(spark, tmp_path):
    """The documented crash window: ledger updated, swap never ran.
    Reads stay correct (raw log) and the absorbed batch stays gated."""
    from connect_server_spark.streaming.rollup_refresh import (
        read_rollup,
        rollup_refresh_sink,
    )

    import datetime as dt

    store = str(tmp_path / "rollup")
    sink = rollup_refresh_sink(spark, store, "ts", "v", ["k"], [60])
    b = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 10, 0), "k", 1.0)],
        "ts timestamp, k string, v double",
    )
    sink(b, 0)
    baseline = sorted(map(tuple, read_rollup(spark, store, ["k"]).collect()))

    # simulate: compaction wrote the ledger then crashed before the swap
    spark.createDataFrame([(0,)], "batch_id long").write.mode(
        "append"
    ).parquet(f"{store}/seen")

    assert sorted(map(tuple,
                      read_rollup(spark, store, ["k"]).collect())) == baseline
    sink(b, 0)  # replay of the absorbed batch: still gated
    assert sorted(map(tuple,
                      read_rollup(spark, store, ["k"]).collect())) == baseline


# ---------------------------------------------------------------------------
# The COMPOSED daily-ingest job: every store maintained in one foreachBatch.


def _composed_fixture_rows():
    """Base corpus + two ingest batches exercising every leg: a text
    near-dup, an embedding near-dup, novels, and a batch-2 doc that
    near-dups a batch-1 SURVIVOR (so index growth is observable)."""
    import numpy as np

    rng = np.random.RandomState(77)

    def words(tag, n=21):
        return " ".join(f"{tag}w{j}" for j in range(n))

    def near(text):
        return " ".join(text.split()[:-2])

    def vec(seed):
        v = np.random.RandomState(seed).randn(8)
        return (v / np.linalg.norm(v)).tolist()

    def nearvec(seed, eps=0.05):
        base = np.array(vec(seed))
        v = base + eps * np.random.RandomState(seed + 500).randn(8)
        return (v / np.linalg.norm(v)).tolist()

    corpus = [
        (i, words(f"c{i}"), vec(i), f"2024-01-01 10:{i:02d}:00", float(i))
        for i in range(1, 9)
    ]
    b1 = [
        # near-dup of corpus doc 1's TEXT (vector novel)
        (101, near(words("c1")), vec(101), "2024-01-02 09:00:00", 1.0),
        # near-dup of corpus doc 2's VECTOR (text novel)
        (102, words("n102"), nearvec(2), "2024-01-02 09:10:00", 2.0),
        # fully novel -> survives
        (103, words("n103"), vec(103), "2024-01-02 09:20:00", 3.0),
    ]
    b2 = [
        # near-dup of batch-1 survivor 103's text -> caught only if the
        # minhash index grew
        (201, near(words("n103")), vec(201), "2024-01-03 08:00:00", 4.0),
        # fully novel -> survives
        (202, words("n202"), vec(202), "2024-01-03 08:30:00", 5.0),
    ]
    return corpus, b1, b2


def _composed_build_base(spark, root, corpus_rows):
    from connect_server_spark.streaming.daily_ingest import (
        build_base_stores,
        ingest_store_paths,
    )

    paths = ingest_store_paths(root)
    schema = "doc_id long, text string, embedding array<double>, ts string, v double"
    corpus = spark.createDataFrame(corpus_rows, schema)
    build_base_stores(corpus, paths, nlist=4)
    return paths


def _composed_batch(spark, rows):
    from pyspark.sql import functions as F

    schema = "doc_id long, text string, embedding array<double>, ts string, v double"
    return spark.createDataFrame(rows, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def _composed_state(spark, paths):
    """Full observable state of every store, via each store's SERVING
    path (what a consumer would actually see)."""
    from connect_server_spark.operators.dedup import (
        embedding_neardup_against_index,
        minhash_neardup_against_index,
        winnow_neardup_against_index,
    )
    from connect_server_spark.operators.retrieval import bm25_topk_indexed
    from connect_server_spark.streaming.rollup_refresh import read_rollup

    from connect_server_spark.fsutil import resolve_store

    def _read(key):
        # serving path: resolve the pointer (no-op until the maintenance
        # cadence compacts the log generationally)
        return spark.read.parquet(resolve_store(spark, paths[key]))

    surv = sorted(
        (r.doc_id, r.text) for r in
        _read("survivors").select("doc_id", "text").collect()
    )
    # the pairs logs are at-least-once by contract: consumers key by
    # (new_id, corpus_id), so the observable state is the SET
    pairs_t = sorted({
        (r.new_id, r.corpus_id) for r in _read("pairs_text").collect()
    })
    pairs_v = sorted({
        (r.new_id, r.corpus_id) for r in _read("pairs_vec").collect()
    })
    pairs_w = sorted({
        (r.new_id, r.corpus_id) for r in _read("pairs_winnow").collect()
    })
    bm25 = sorted(map(tuple, bm25_topk_indexed(
        spark, paths["bm25_index"], "n202w1 c1w2 n103w3", k=10
    ).collect()))
    rollup = sorted(map(tuple, read_rollup(spark, paths["rollup"], []).collect()))
    # probe both dedup indexes with a fresh never-ingested batch
    probe = _composed_batch(spark, [
        (901, " ".join(f"n202w{j}" for j in range(19)),
         [0.1] * 8, "2024-01-04 00:00:00", 0.0),
    ])
    mh = sorted(
        (r.new_id, r.corpus_id) for r in minhash_neardup_against_index(
            probe.select("doc_id", "text"), spark,
            paths["minhash_index"], paths["shingles"], "doc_id", "text",
        ).collect()
    )
    ev = sorted(
        (r.new_id, r.corpus_id) for r in embedding_neardup_against_index(
            probe.select("doc_id", "embedding"), spark, paths["ivf_index"],
            id_col="doc_id", vec_col="embedding",
        ).collect()
    )
    wn = sorted(
        (r.new_id, r.corpus_id) for r in winnow_neardup_against_index(
            probe.select("doc_id", "text"), spark, paths["winnow_index"],
            "doc_id", "text",
        ).collect()
    )
    # z-ordered event log (r10 verdict ask #6): at-least-once appends
    # deduped by id — the value SET is the observable, invariant under
    # replays and maintenance re-clusters alike
    events_z = sorted({
        (r.doc_id, r.v)
        for r in _read("events_z").select("doc_id", "v").collect()
    })
    return {
        "survivors": surv, "pairs_t": pairs_t, "pairs_v": pairs_v,
        "pairs_w": pairs_w, "bm25": bm25, "rollup": rollup,
        "mh_probe": mh, "ev_probe": ev, "wn_probe": wn,
        "events_z": events_z,
    }


def _composed_run(spark, root):
    """Base build + b1 + b2 through one clean sink; returns the paths."""
    from connect_server_spark.streaming.daily_ingest import composed_ingest_sink

    corpus, b1, b2 = _composed_fixture_rows()
    paths = _composed_build_base(spark, root, corpus)
    sink = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v"
    )
    sink(_composed_batch(spark, b1), 0)
    sink(_composed_batch(spark, b2), 1)
    return paths


@pytest.fixture(scope="module")
def composed_control_paths(spark, tmp_path_factory):
    """The stores of the never-crashed reference run (read-only)."""
    return _composed_run(
        spark, str(tmp_path_factory.mktemp("composed_control"))
    )


@pytest.fixture(scope="module")
def composed_control(spark, composed_control_paths):
    """The never-crashed reference run: base build + b1 + b2."""
    return _composed_state(spark, composed_control_paths)


def test_composed_ingest_end_to_end_semantics(spark, composed_control):
    """The clean run itself: text/vector near-dups dropped (including a
    batch-2 doc near-dupping a batch-1 survivor), novels survive, both
    pairs logs attribute correctly, search serves the new docs."""
    st = composed_control
    assert [d for d, _ in st["survivors"]] == [103, 202]
    assert (101, 1) in st["pairs_t"]      # text near-dup of corpus
    assert (201, 103) in st["pairs_t"]    # caught because the index GREW
    assert (102, 2) in st["pairs_v"]      # embedding near-dup of corpus
    assert (101, 1) in st["pairs_w"]      # winnow catches the text dup too
    assert len(st["bm25"]) > 0
    assert len(st["rollup"]) > 0


def test_composed_ingest_matches_batch_twins(
    spark, composed_control, composed_control_paths
):
    """The streaming run folds like the batch functions: the text pairs
    log equals folding b1 then b2 through ``minhash_neardup_against``,
    each against base ∪ the survivors committed so far (so b2's
    near-dup of a b1 survivor is only caught because the index grew),
    and indexed BM25 serving equals a one-shot ``bm25_topk`` over
    base ∪ survivors — same ids, same scores, same order."""
    from connect_server_spark.operators.dedup import minhash_neardup_against
    from connect_server_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
    )

    corpus, b1, b2 = _composed_fixture_rows()
    surv = {d for d, _ in composed_control["survivors"]}
    schema = "doc_id long, text string"

    def text_df(rows):
        return spark.createDataFrame([(r[0], r[1]) for r in rows], schema)

    seen = text_df(corpus)
    want_pairs = set()
    for rows in (b1, b2):
        batch = text_df(rows)
        pairs = minhash_neardup_against(
            batch, seen, "doc_id", "text", threshold=0.5
        ).filter(F.col("new_id") != F.col("corpus_id"))
        want_pairs |= {(r.new_id, r.corpus_id) for r in pairs.collect()}
        seen = seen.unionByName(text_df([r for r in rows if r[0] in surv]))
    assert (201, 103) in want_pairs
    assert set(composed_control["pairs_t"]) == want_pairs

    for q in ("n202w1 c1w2 n103w3", "c4w0 c4w1 n202w2 c4w2 n103w5 c7w3"):
        want = [
            (r.doc_id, r.bm25)
            for r in bm25_topk(seen, "doc_id", "text", q, k=10).collect()
        ]
        got = [
            (r.doc_id, r.bm25)
            for r in bm25_topk_indexed(
                spark, composed_control_paths["bm25_index"], q, k=10
            ).collect()
        ]
        assert len(want) >= 3
        assert got == want


def _store_files(paths, keys):
    """Every parquet file path under the stores named by ``keys``."""
    import os

    out = set()
    for key in keys:
        for d, _, files in os.walk(paths[key]):
            out |= {os.path.join(d, f) for f in files if f.endswith(".parquet")}
    return out


def test_composed_ingest_replay_of_committed_batch_writes_nothing(
    spark, tmp_path, composed_control
):
    """A batch re-delivered AFTER it committed (a checkpoint restart
    that replays the last epoch) finds nothing fresh: no survivor,
    index, event-log or rollup file is written, and the observable
    state equals the control. Only the at-least-once pairs logs may
    take duplicate rows, which the keyed state absorbs."""
    from connect_server_spark.fsutil import resolve_store
    from connect_server_spark.streaming.daily_ingest import (
        composed_ingest_sink,
    )

    paths = _composed_run(spark, str(tmp_path / "root"))
    _corpus, _b1, b2 = _composed_fixture_rows()
    written = [
        "survivors", "minhash_index", "shingles", "ivf_index",
        "bm25_index", "winnow_index", "events_z", "rollup",
    ]
    files = _store_files(paths, written)
    n_surv = spark.read.parquet(
        resolve_store(spark, paths["survivors"])
    ).count()

    sink = composed_ingest_sink(
        spark, str(tmp_path / "root"), "doc_id", "text", "embedding", "ts", "v"
    )
    sink(_composed_batch(spark, b2), 1)  # the re-delivery

    assert _store_files(paths, written) == files
    assert spark.read.parquet(
        resolve_store(spark, paths["survivors"])
    ).count() == n_surv
    assert _composed_state(spark, paths) == composed_control


def test_gated_batch_touches_no_composed_store(spark, tmp_path):
    """The benchmark's ingest path: the composed sink with a curation
    ``gate=`` (the C4 document flags the benchmark uses, plus a quality
    floor and bloom decontamination). Rows the gate drops never reach a
    probe, pairs log, index, event log or the survivors table, and the
    rollup counts only the rows that passed the gate; a clean novel row
    survives and a near-dup of the corpus is still caught."""
    from connect_server_spark.fsutil import resolve_store
    from connect_server_spark.operators.curation import (
        benchmark_bloom,
        make_curation_gate,
    )
    from connect_server_spark.operators.retrieval import bm25_topk_indexed
    from connect_server_spark.operators.similarity import read_ivf_cells
    from connect_server_spark.streaming.daily_ingest import (
        composed_ingest_sink,
    )
    from connect_server_spark.streaming.rollup_refresh import read_rollup

    def prose(tag):
        # stopword-rich, and every 6-gram holds a tag-specific token, so
        # the benchmark's grams are unique to the benchmark document
        return " ".join(
            f"the {tag}x{j} of {tag}y{j} and {tag}z{j} is" for j in range(4)
        )

    corpus, _b1, _b2 = _composed_fixture_rows()
    root = str(tmp_path / "root")
    paths = _composed_build_base(spark, root, corpus)
    bench = spark.createDataFrame([(prose("secret"),)], ["q"])
    gate = make_curation_gate(
        "doc_id",
        "text",
        # quality scores: the gibberish row 4.50M, the near-dup of the
        # stopword-free corpus doc 1 4.68M, the prose rows ~6.9M
        min_quality=4_600_000,
        bloom=benchmark_bloom(bench, "q", 6),
        ngram_n=6,
        c4_doc=True,
    )
    vec = [0.0] * 8
    rows = [
        (301, "zxqv wvut qqpl mmnn zzyy xxww ccdd eeff gghh iijj"),  # low quality
        (302, f"prefix {prose('secret')} suffix"),  # leaks a benchmark n-gram
        (303, prose("novel")),  # clean novel
        (304, corpus[0][1].rsplit(" ", 2)[0]),  # near-dup of corpus doc 1
    ]
    batch = _composed_batch(spark, [
        (i, t, vec[:j] + [1.0] + vec[j + 1:], f"2024-01-02 09:{j:02d}:00", 1.0)
        for j, (i, t) in enumerate(rows)
    ])
    sink = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v", gate=gate
    )
    sink(batch, 0)

    def ids(key, col="doc_id", sub=""):
        live = resolve_store(spark, paths[key]) + sub
        return {r[0] for r in spark.read.parquet(live).select(col).collect()}

    assert ids("survivors") == {303}
    assert ids("pairs_text", "new_id") == {304}
    assert (304, 1) in {
        (r.new_id, r.corpus_id)
        for r in spark.read.parquet(paths["pairs_text"]).collect()
    }
    gated = {301, 302}
    seen = (
        ids("shingles")
        | ids("winnow_index", "id", "/fps")
        | ids("events_z")
        | {r.doc_id for r in read_ivf_cells(
            spark, resolve_store(spark, paths["ivf_index"]), "doc_id"
        ).collect()}
    )
    for key in ("pairs_text", "pairs_vec", "pairs_winnow"):
        seen |= ids(key, "new_id") | ids(key, "corpus_id")
    hits = bm25_topk_indexed(
        spark, paths["bm25_index"], "zxqv wvut prefix secretx0 novelx0", k=10
    ).collect()
    seen |= {r.doc_id for r in hits}
    assert seen & gated == set()
    assert 303 in seen
    rollup = read_rollup(spark, paths["rollup"], [], width_seconds=3600)
    assert sum(r.n for r in rollup.collect()) == 2  # 303 and 304


def test_composed_ingest_maintenance_cadence_is_pure_relayout(
    spark, tmp_path, composed_control
):
    """The automated IVF maintenance loop wired into the composed job
    (r8 verdict ask #5): with ``maintain_every`` on and a hair-trigger
    threshold, the rebalance FIRES on cadence (the store swaps to a
    generation pointer) — and the full observable state of every store
    still equals the no-maintenance control, because a rebalance is a
    pure re-layout. A replayed batch after maintenance converges too
    (the post-commit placement keeps the exactly-once contract)."""
    import os

    from connect_server_spark.fsutil import CURRENT_POINTER
    from connect_server_spark.streaming.daily_ingest import (
        composed_ingest_sink,
    )

    root = str(tmp_path / "root")
    corpus, b1, b2 = _composed_fixture_rows()
    paths = _composed_build_base(spark, root, corpus)
    # skew_threshold below 1.0 always trips (max skew >= 1 by
    # definition): the cadence leg must fire after every batch
    sink = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v",
        maintain_every=1, maintain_skew_threshold=0.5,
    )
    sink(_composed_batch(spark, b1), 0)
    assert os.path.exists(
        f"{paths['ivf_index']}/{CURRENT_POINTER}"
    ), "maintenance never fired"
    sink(_composed_batch(spark, b2), 1)
    assert _composed_state(spark, paths) == composed_control
    # replay the last batch (post-maintenance layout): still convergent
    sink(_composed_batch(spark, b2), 1)
    assert _composed_state(spark, paths) == composed_control


def test_composed_ingest_restores_decayed_zorder_layout(spark, tmp_path):
    """r10 verdict ask #6: z-order maintenance composed into the daily
    ingest the way the IVF loop is. Interleaved appends (each batch
    spans the full (doc_id, ts) range) decay the event log's layout
    past the threshold; the next maintenance firing re-clusters it
    behind the generation pointer and pruning health returns — while
    the observable value set stays invariant, including under a replay
    of the last batch AFTER the re-cluster."""
    import numpy as np

    from connect_server_spark.fsutil import list_generations, resolve_store
    from connect_server_spark.operators.layout import clustering_decay_all
    from connect_server_spark.streaming.daily_ingest import (
        composed_ingest_sink,
    )

    root = str(tmp_path / "root")
    corpus, _b1, _b2 = _composed_fixture_rows()
    paths = _composed_build_base(spark, root, corpus)

    def vec(seed):
        v = np.random.RandomState(seed).randn(8)
        return (v / np.linalg.norm(v)).tolist()

    def novel_batch(k, n=14):
        # ids/ts interleave across batches: batch k holds every 4th id
        # (disjoint mod-4 classes, so every batch is all-novel) over the
        # SAME global range — each appended file's (doc_id, ts) span
        # covers the whole table, the decay pattern
        rows = []
        for j in range(n):
            i = 1000 + k + 4 * j
            # event time tracks id (the realistic event-log shape both
            # z-columns can be clustered on at once)
            m = i - 1000
            rows.append((
                i,
                " ".join(f"z{i}q{w}" for w in range(21)),
                vec(9000 + i),
                f"2024-02-01 {m // 60:02d}:{m % 60:02d}:00",
                float(i),
            ))
        # one file per append, spanning the full range
        return _composed_batch(spark, rows).coalesce(1)

    plain = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v"
    )
    for k in range(3):
        plain(novel_batch(k), k)
    z_cols = ["doc_id", "ts"]
    decayed = clustering_decay_all(
        resolve_store(spark, paths["events_z"]), z_cols
    )
    assert max(decayed.values()) > 0.5, decayed

    def values(paths):
        from pyspark.sql import functions as F  # noqa: F811

        return sorted({
            (r.doc_id, r.v)
            for r in spark.read.parquet(
                resolve_store(spark, paths["events_z"])
            ).select("doc_id", "v").collect()
        })

    before = values(paths)
    maintained = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v",
        maintain_every=1, maintain_skew_threshold=1e9,
    )
    maintained(novel_batch(3), 3)
    # maintenance fired: the event log is pointered and pruning-healthy
    assert len(list_generations(spark, paths["events_z"])) >= 1
    restored = clustering_decay_all(
        resolve_store(spark, paths["events_z"]), z_cols
    )
    assert max(restored.values()) <= 0.5, restored
    after = values(paths)
    assert set(before) <= set(after)
    # replay the last batch against the re-clustered layout: the
    # at-least-once append dedupes to the same observable value set
    maintained(novel_batch(3), 3)
    assert values(paths) == after


@pytest.mark.parametrize(
    "failpoint",
    ["rollup", "pairs", "minhash_index", "ivf_index", "bm25_index",
     "winnow_index", "events_z"],
)
def test_composed_ingest_crash_replay_converges(
    spark, tmp_path, composed_control, failpoint
):
    """THE exactly-once pin for the composed job: kill batch 2 right
    after each append step, replay it cleanly, and require the full
    observable state of EVERY store (survivors, both pairs logs, BM25
    serving, both dedup-index probes, the rollup) to equal the
    never-crashed control run."""
    from connect_server_spark.streaming.daily_ingest import (
        composed_ingest_sink,
        ingest_store_paths,
    )

    root = str(tmp_path / "root")
    corpus, b1, b2 = _composed_fixture_rows()
    paths = _composed_build_base(spark, root, corpus)
    clean = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v"
    )
    crashy = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v",
        _failpoint=failpoint,
    )
    clean(_composed_batch(spark, b1), 0)
    with pytest.raises(RuntimeError, match="injected crash"):
        crashy(_composed_batch(spark, b2), 1)
    clean(_composed_batch(spark, b2), 1)  # the replay
    assert _composed_state(spark, paths) == composed_control


def _crawl_payload_batch(spark, rows):
    """The same fixture batches, delivered the way a crawl delivers
    them: packed into real multi-record .warc.gz shard payloads."""
    from pyspark.sql import functions as F

    from connect_server_spark.sources.warc import synthesize_warc

    schema = "doc_id long, text string, embedding array<double>, ts string, v double"
    docs = (
        spark.createDataFrame(rows, schema)
        .select("doc_id", "text")
        .withColumn("shard", F.col("doc_id") % 2)
        .withColumn(
            "domain",
            F.concat(
                F.lit("src"),
                (F.col("doc_id") % 3).cast("string"),
                F.lit(".example"),
            ),
        )
    )
    return synthesize_warc(docs, "doc_id", "text", domain_col="domain")


@pytest.fixture(scope="module")
def crawl_control(spark, tmp_path_factory):
    """Never-crashed reference run of the CRAWL-fed composed job."""
    from connect_server_spark.streaming.daily_ingest import (
        composed_crawl_ingest_sink,
    )

    root = str(tmp_path_factory.mktemp("crawl_control"))
    corpus, b1, b2 = _composed_fixture_rows()
    paths = _composed_build_base(spark, root, corpus)
    sink = composed_crawl_ingest_sink(
        spark, root, block_domains=["blocked.example"], domain_cap=50
    )
    sink(_crawl_payload_batch(spark, b1), 0)
    sink(_crawl_payload_batch(spark, b2), 1)
    return _composed_state(spark, paths)


def test_crawl_leg_end_to_end_ingests_extracted_documents(
    spark, crawl_control
):
    """Sanity on the clean crawl run: the funnel produced survivors
    whose ids came from record URIs and whose texts are the EXTRACTED
    form (title prefix + original words), the rollup recorded both
    batches, and the near-dup probes still serve."""
    st = crawl_control
    ids = [d for d, _ in st["survivors"]]
    assert ids and set(ids) <= {101, 102, 103, 201, 202}
    assert all(t.startswith("doc ") for _, t in st["survivors"])
    assert len(st["rollup"]) > 0
    assert len(st["bm25"]) > 0


@pytest.mark.parametrize(
    "failpoint",
    ["rollup", "pairs", "minhash_index", "ivf_index", "bm25_index",
     "winnow_index"],
)
def test_crawl_leg_crash_replay_converges(
    spark, tmp_path, crawl_control, failpoint
):
    """The kill-mid-batch matrix extended to the crawl leg (r7 verdict
    ask #7): the head is a deterministic function of the shard
    payloads, so a crashed-and-replayed crawl batch must leave every
    store identical to the never-crashed crawl run."""
    from connect_server_spark.streaming.daily_ingest import (
        composed_crawl_ingest_sink,
        ingest_store_paths,
    )

    root = str(tmp_path / "root")
    corpus, b1, b2 = _composed_fixture_rows()
    paths = _composed_build_base(spark, root, corpus)
    kw = dict(block_domains=["blocked.example"], domain_cap=50)
    clean = composed_crawl_ingest_sink(spark, root, **kw)
    crashy = composed_crawl_ingest_sink(
        spark, root, _failpoint=failpoint, **kw
    )
    clean(_crawl_payload_batch(spark, b1), 0)
    with pytest.raises(RuntimeError, match="injected crash"):
        crashy(_crawl_payload_batch(spark, b2), 1)
    clean(_crawl_payload_batch(spark, b2), 1)  # the replay
    assert _composed_state(spark, paths) == crawl_control


# ---------------------------------------------------------------------------
# streaming quality-drift monitor


def test_quality_monitor_matches_batch_metric_drift(spark, tmp_path):
    """The streaming PSI verdict must equal the batch operator's total
    PSI on the same data: reference profile frozen from a uniform
    release, then one faithful batch (psi ~ 0, no alert) and one
    planted-shift batch (psi > 0.25, alert), each cross-checked against
    metric_drift run batch-side."""
    from connect_server_spark.operators.quality import metric_drift
    from connect_server_spark.streaming.quality_monitor import (
        quality_monitor_sink,
        read_monitor_log,
        write_reference_profile,
    )

    ref_vals = [float(i % 100) for i in range(1000)]
    ref = spark.createDataFrame([(v,) for v in ref_vals], "m double")
    prof = str(tmp_path / "profile")
    log = str(tmp_path / "log")
    write_reference_profile(ref, "m", prof, n_buckets=10, rel_err=1e-6)

    sink = quality_monitor_sink(spark, prof, log, "m")
    same = spark.createDataFrame([(v,) for v in ref_vals], "m double")
    shifted = spark.createDataFrame(
        [(v + 50.0,) for v in ref_vals], "m double"
    )
    sink(same, 0)
    sink(shifted, 1)

    rows = {r.batch_id: r for r in read_monitor_log(spark, log).collect()}
    assert set(rows) == {0, 1}
    assert rows[0].n_docs == rows[1].n_docs == 1000
    assert rows[0].psi < 0.01 and not rows[0].alert
    assert rows[1].psi > 0.25 and rows[1].alert

    for bid, batch in ((0, same), (1, shifted)):
        want = sum(
            r.psi_term
            for r in metric_drift(
                ref, batch, "m", n_buckets=10, rel_err=1e-6
            ).collect()
        )
        assert abs(rows[bid].psi - want) < 1e-4


def test_quality_monitor_replay_is_idempotent(spark, tmp_path):
    from connect_server_spark.streaming.quality_monitor import (
        quality_monitor_sink,
        read_monitor_log,
        write_reference_profile,
    )

    ref = spark.createDataFrame(
        [(float(i),) for i in range(200)], "m double"
    )
    prof = str(tmp_path / "profile")
    log = str(tmp_path / "log")
    write_reference_profile(ref, "m", prof, n_buckets=5)
    sink = quality_monitor_sink(spark, prof, log, "m")

    batch = spark.createDataFrame([(float(i),) for i in range(50)], "m double")
    sink(batch, 7)
    first = [tuple(r) for r in read_monitor_log(spark, log).collect()]
    sink(batch, 7)  # checkpoint-restart replay
    second = [tuple(r) for r in read_monitor_log(spark, log).collect()]
    assert first == second and len(first) == 1


def test_quality_monitor_empty_batch_is_heartbeat_not_alarm(spark, tmp_path):
    """An empty (or all-null-metric) micro-batch has no distribution to
    compare: the monitor records a heartbeat row (n_docs=0, psi null)
    and must NEVER alert — idle triggers are routine, not drift."""
    from connect_server_spark.streaming.quality_monitor import (
        quality_monitor_sink,
        read_monitor_log,
        write_reference_profile,
    )

    ref = spark.createDataFrame(
        [(float(i),) for i in range(100)], "m double"
    )
    prof = str(tmp_path / "profile")
    log = str(tmp_path / "log")
    write_reference_profile(ref, "m", prof, n_buckets=5)
    sink = quality_monitor_sink(spark, prof, log, "m")

    empty = spark.createDataFrame([], "m double")
    all_null = spark.createDataFrame([(None,), (None,)], "m double")
    sink(empty, 0)
    sink(all_null, 1)
    rows = {r.batch_id: r for r in read_monitor_log(spark, log).collect()}
    assert set(rows) == {0, 1}
    for r in rows.values():
        assert r.n_docs == 0 and r.psi is None and not r.alert


def test_quality_monitor_excludes_null_metric_rows(spark, tmp_path):
    """Null metric values carry no distribution position: a batch that
    is half nulls must score identically to the same batch without
    them (and count only the non-null rows)."""
    from connect_server_spark.streaming.quality_monitor import (
        quality_monitor_sink,
        read_monitor_log,
        write_reference_profile,
    )

    vals = [float(i % 50) for i in range(500)]
    ref = spark.createDataFrame([(v,) for v in vals], "m double")
    prof = str(tmp_path / "profile")
    write_reference_profile(ref, "m", prof, n_buckets=5, rel_err=1e-6)

    log_a = str(tmp_path / "log_a")
    log_b = str(tmp_path / "log_b")
    clean = spark.createDataFrame([(v,) for v in vals], "m double")
    noisy = spark.createDataFrame(
        [(v,) for v in vals] + [(None,)] * 500, "m double"
    )
    quality_monitor_sink(spark, prof, log_a, "m")(clean, 0)
    quality_monitor_sink(spark, prof, log_b, "m")(noisy, 0)
    a = read_monitor_log(spark, log_a).collect()[0]
    b = read_monitor_log(spark, log_b).collect()[0]
    assert a.n_docs == b.n_docs == 500
    assert a.psi == b.psi and a.alert == b.alert


def _raw_warc_record(body: bytes, uri: str) -> bytes:
    """Hand-built WARC/1.0 response record with an ARBITRARY target URI
    — the crawl head must ingest real-web URLs, not just the fixture's
    /doc/<n> scheme."""
    block = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=utf-8\r\n"
        + f"Content-Length: {len(body)}\r\n\r\n".encode()
        + body
    )
    return (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        + f"WARC-Target-URI: {uri}\r\n".encode()
        + b"WARC-Date: 2024-02-02T00:00:00Z\r\n"
        + b"Content-Type: application/http;msgtype=response\r\n"
        + f"Content-Length: {len(block)}\r\n\r\n".encode()
        + block
        + b"\r\n\r\n"
    )


def test_warc_batch_head_ingests_real_urls_and_custom_text_col(spark):
    """Real crawl records carry arbitrary URLs: the head used to derive
    doc_id ONLY from the fixture /doc/<n> pattern, and the resulting
    NULL ids were silently swallowed by url_dedup's min-id filter —
    every non-fixture record vanished. Ids must be non-null and
    distinct for real URLs (URI hash), the fixture pattern must keep
    its numeric id, and the public text_col parameter must actually
    rename the text column."""
    from connect_server_spark.streaming.daily_ingest import warc_batch_head

    payload = b"".join(
        [
            _raw_warc_record(
                b"<html><p>first real page body words</p></html>",
                "https://example.com/index.html",
            ),
            _raw_warc_record(
                b"<html><p>second real page body words</p></html>",
                "https://other.example/articles/2024",
            ),
            _raw_warc_record(
                b"<html><p>fixture doc body words</p></html>",
                "https://corpus.example/doc/7",
            ),
            # real hosts sharing a /doc/<n> path: the fixture scheme is
            # scoped to .example hosts, so these hash-derive DISTINCT
            # ids (an id collision here would silently drop one doc at
            # the sink's id-keyed anti-join) and neither maps to 7
            _raw_warc_record(
                b"<html><p>site a article words</p></html>",
                "https://site-a.com/doc/7",
            ),
            _raw_warc_record(
                b"<html><p>site b article words</p></html>",
                "https://site-b.org/doc/7",
            ),
            # a 19-digit run overflows BIGINT: must fall through to the
            # URI hash instead of throwing under default ANSI mode
            _raw_warc_record(
                b"<html><p>huge id page words</p></html>",
                "https://corpus.example/doc/9999999999999999999",
            ),
        ]
    )
    batch = spark.createDataFrame(
        [(0, bytearray(payload))], "shard long, payload binary"
    )
    rows = warc_batch_head(spark, text_col="content")(batch).collect()
    ids = sorted(r.doc_id for r in rows)
    assert len(rows) == 6 and None not in ids and len(set(ids)) == 6
    assert 7 in ids  # the fixture scheme still yields its numeric id
    texts = {r.doc_id: r.content for r in rows}
    assert "first real page body words" in texts[
        [i for i in ids if i != 7][0]
    ] or any("first real page" in t for t in texts.values())
    # replay determinism: same payload, same ids (hash, not monotonic)
    again = sorted(
        r.doc_id
        for r in warc_batch_head(spark, text_col="content")(batch).collect()
    )
    assert again == ids


def test_composed_ingest_sketch_telemetry_tracks_committed_survivors(
    spark, tmp_path, composed_control
):
    """sketch_telemetry=True: the ledger's distinct-docs estimate equals
    the committed survivor count exactly at this cardinality (HLL is
    exact in sparse mode), a kill right after the partial write replays
    into an identical ledger AND identical stores, and the maintenance
    cadence compacts the ledger without changing the answer."""
    from connect_server_spark.operators.sketches import (
        distinct_estimates,
        read_sketch_ledger,
    )
    from connect_server_spark.streaming.daily_ingest import (
        composed_ingest_sink,
    )

    root = str(tmp_path / "root")
    corpus, b1, b2 = _composed_fixture_rows()
    paths = _composed_build_base(spark, root, corpus)
    sink = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v",
        sketch_telemetry=True,
    )
    crashy = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v",
        sketch_telemetry=True, _failpoint="sketch_ledger",
    )
    sink(_composed_batch(spark, b1), 0)
    try:
        crashy(_composed_batch(spark, b2), 1)
        raise AssertionError("failpoint did not fire")
    except RuntimeError:
        pass
    sink(_composed_batch(spark, b2), 1)  # replay

    # stores converge exactly as without telemetry
    assert _composed_state(spark, paths) == composed_control
    # ledger: one partial per committed batch; estimate == exact
    # committed survivors (103, 202)
    est = distinct_estimates(spark, paths["sketch_ledger"]).collect()[0]
    assert (est.distinct_est, est.n_rows) == (2, 2)
    batches = sorted(
        r.batch
        for r in read_sketch_ledger(spark, paths["sketch_ledger"])
        .select("batch")
        .distinct()
        .collect()
    )
    assert batches == [0, 1]

    # maintenance cadence compacts the ledger; answer unchanged
    maint = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v",
        sketch_telemetry=True, maintain_every=1,
        maintain_skew_threshold=0.5,
    )
    import numpy as np

    v301 = np.random.RandomState(301).randn(8)
    maint(
        _composed_batch(
            spark,
            [(301, " ".join(f"n301w{j}" for j in range(21)),
              (v301 / np.linalg.norm(v301)).tolist(),
              "2024-01-04 08:00:00", 6.0)],
        ),
        2,
    )
    est2 = distinct_estimates(spark, paths["sketch_ledger"]).collect()[0]
    assert (est2.distinct_est, est2.n_rows) == (3, 3)


def test_composed_ingest_log_compaction_is_state_preserving(
    spark, tmp_path, composed_control
):
    """The append-only logs (survivors + 3 pairs logs) accrete one file
    set per batch forever without maintenance. With a hair-trigger
    log_compact_files the cadence compacts them behind generation
    pointers — and the full observable state still equals the
    no-maintenance control, appends keep landing in the live
    generation, and a replayed batch converges."""
    import glob
    import os

    from connect_server_spark.fsutil import CURRENT_POINTER, resolve_store
    from connect_server_spark.streaming.daily_ingest import (
        composed_ingest_sink,
    )

    root = str(tmp_path / "root")
    corpus, b1, b2 = _composed_fixture_rows()
    paths = _composed_build_base(spark, root, corpus)
    sink = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v",
        maintain_every=1, maintain_skew_threshold=1e9,  # only log upkeep
        log_compact_files=0,
    )
    sink(_composed_batch(spark, b1), 0)
    assert os.path.exists(f"{paths['survivors']}/{CURRENT_POINTER}")
    sink(_composed_batch(spark, b2), 1)

    assert _composed_state(spark, paths) == composed_control
    # batch-2 rows landed inside the live generation, not as doomed
    # flat files beside it
    live = resolve_store(spark, paths["survivors"])
    assert live != paths["survivors"]
    assert not glob.glob(f"{paths['survivors']}/part-*.parquet")
    assert (
        spark.read.parquet(live).filter(F.col("doc_id") == 202).count() == 1
    )
    # replay after compaction: still convergent
    sink(_composed_batch(spark, b2), 1)
    assert _composed_state(spark, paths) == composed_control


def test_maintenance_retention_keeps_reader_snapshot_one_full_cycle(
    spark, tmp_path
):
    """The retention-vs-reader contract (r9 verdict missing #3,
    SCALE.md `keep >= ceil(reader duration / publish interval) + 1`):
    with the composed job's default ``maintain_keep=2``, a reader that
    resolved the IVF store between two maintenance firings still
    collects its EXACT snapshot after the next full firing — i.e. a
    serving query one whole maintenance interval long survives. The
    keep=1 contrast shows the same reader's payload GC'd (loudly
    absent, never silently wrong)."""
    import os

    from connect_server_spark.fsutil import resolve_store
    from connect_server_spark.streaming.daily_ingest import (
        composed_ingest_sink,
    )

    corpus, b1, b2 = _composed_fixture_rows()

    def run(keep):
        root = str(tmp_path / f"root_keep{keep}")
        paths = _composed_build_base(spark, root, corpus)
        sink = composed_ingest_sink(
            spark, root, "doc_id", "text", "embedding", "ts", "v",
            maintain_every=1, maintain_skew_threshold=0.5,
            maintain_keep=keep,
        )
        # firing 1: the store upgrades to a generation pointer
        sink(_composed_batch(spark, b1), 0)
        reader_path = resolve_store(spark, paths["ivf_index"])
        assert "_gen-" in reader_path, "maintenance never published"
        # firing 2 supersedes the reader's generation — it is immutable
        # from this moment (the LIVE generation legitimately absorbs
        # batch appends before the flip, so the snapshot is taken at
        # supersession time, the point the immutability contract
        # starts)
        sink(_composed_batch(spark, b2), 1)
        snapshot = sorted(
            (r.doc_id, r.cell)
            for r in spark.read.parquet(f"{reader_path}/cells").collect()
        )
        # firing 3: the publish AFTER supersession — grace alone no
        # longer protects the reader's payload, only `keep` does
        sink(_composed_batch(spark, b2), 2)  # replay-shaped third firing
        return reader_path, snapshot

    # default keep=2: the reader's generation survives both publishes
    # and re-collects identically
    reader_path, snapshot = run(keep=2)
    again = sorted(
        (r.doc_id, r.cell)
        for r in spark.read.parquet(f"{reader_path}/cells").collect()
    )
    assert again == snapshot and len(snapshot) > 0

    # keep=1 (grace only): the same reader's payload is GONE after two
    # more publishes — the documented loud failure, not wrong rows
    reader_path, _ = run(keep=1)
    assert not os.path.exists(reader_path)


# ------------------------------------------------- composed serving pair


def _serve_pair_build(spark, root):
    from connect_server_spark.streaming.daily_ingest import (
        build_serve_pair,
        ingest_store_paths,
    )

    corpus, b1, b2 = _composed_fixture_rows()
    paths = _composed_build_base(spark, root, corpus)
    schema = (
        "doc_id long, text string, embedding array<double>, "
        "ts string, v double"
    )
    build_serve_pair(
        spark.createDataFrame(corpus, schema), paths, nlist=4
    )
    return paths, b1, b2


def _serve_probe(spark):
    corpus, _, _ = _composed_fixture_rows()
    return spark.createDataFrame(
        [(0, corpus[2][2])], ["probe_id", "probe_vec"]
    )


def _serve_state(spark, paths):
    """Observable serving state of the PQ+refine pair: the composed
    top-k answer for a fixed probe, plus both stores' distinct-id sets
    and the shared quantizer bytes."""
    import numpy as np

    from connect_server_spark.fsutil import resolve_store
    from connect_server_spark.operators.similarity import (
        pq_refine_topk,
        read_ivf_centroids,
    )

    out = sorted(
        (r.probe_id, r.doc_id, r.rank)
        for r in pq_refine_topk(
            _serve_probe(spark), spark, paths["pq_index"],
            paths["refine_index"], 3, nprobe=2,
            corpus_id="doc_id", corpus_vec="embedding",
        ).collect()
    )
    ids = {}
    for key in ("pq_index", "refine_index"):
        live = resolve_store(spark, paths[key])
        ids[key] = {
            r.doc_id
            for r in spark.read.parquet(f"{live}/cells")
            .select("doc_id").distinct().collect()
        }
    c_pq = read_ivf_centroids(spark, paths["pq_index"])
    c_ref = read_ivf_centroids(spark, paths["refine_index"])
    assert np.array_equal(c_pq, c_ref), "pair quantizers diverged"
    return {"topk": out, "ids": ids, "centroids": c_pq.tobytes()}


@pytest.mark.parametrize("failpoint", ["serve_pq", "serve_refine"])
def test_composed_ingest_serve_pair_crash_replay_converges(
    spark, tmp_path, failpoint
):
    """The r11 verdict's composed-drill contract for the ingest-operated
    PQ+refine pair: kill batch 2 after each serving append, replay, and
    require the pair's full observable serving state to equal the
    never-crashed control. Inside the serve_pq crash window (PQ
    appended, refine not) the serving call must REFUSE on the
    distinct-id digest guard — loud, never silently dropped
    candidates."""
    from connect_server_spark.operators.similarity import pq_refine_topk
    from connect_server_spark.streaming.daily_ingest import (
        composed_ingest_sink,
    )

    control_root = str(tmp_path / "control")
    paths_c, b1, b2 = _serve_pair_build(spark, control_root)
    control = composed_ingest_sink(
        spark, control_root, "doc_id", "text", "embedding", "ts", "v",
        serve_pair=True,
    )
    control(_composed_batch(spark, b1), 0)
    control(_composed_batch(spark, b2), 1)
    want = _serve_state(spark, paths_c)
    # the ingest actually grew the serving pair with the survivors
    assert {103, 202} <= want["ids"]["pq_index"]
    assert want["ids"]["pq_index"] == want["ids"]["refine_index"]

    root = str(tmp_path / "crash")
    paths, b1, b2 = _serve_pair_build(spark, root)
    clean = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v",
        serve_pair=True,
    )
    crashy = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v",
        serve_pair=True, _failpoint=failpoint,
    )
    clean(_composed_batch(spark, b1), 0)
    with pytest.raises(RuntimeError, match="injected crash"):
        crashy(_composed_batch(spark, b2), 1)
    if failpoint == "serve_pq":
        # crash window: stores hold different id sets — serving refuses
        with pytest.raises(ValueError, match="different vector sets"):
            pq_refine_topk(
                _serve_probe(spark), spark, paths["pq_index"],
                paths["refine_index"], 3, nprobe=2,
                corpus_id="doc_id", corpus_vec="embedding",
            )
    clean(_composed_batch(spark, b2), 1)  # the replay
    got = _serve_state(spark, paths)
    assert got["topk"] == want["topk"]
    assert got["ids"] == want["ids"]


def test_composed_ingest_serve_pair_maintenance_rebalances_pair(
    spark, tmp_path
):
    """The maintenance cadence operates the PAIR: with a hair-trigger
    skew threshold the refine store rebalances and the PQ store is
    rebuilt under the refine store's NEW centroids (byte-identical) —
    and a pair left half-rebalanced by a crashed cadence (refine
    rebalanced solo) is REPAIRED by the next cadence's always-on drift
    check, not left broken forever."""
    import numpy as np

    from connect_server_spark.operators.similarity import (
        read_ivf_centroids,
    )
    from connect_server_spark.streaming.daily_ingest import (
        composed_ingest_sink,
    )

    root = str(tmp_path / "root")
    paths, b1, b2 = _serve_pair_build(spark, root)
    maintained = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v",
        serve_pair=True, maintain_every=1,
        maintain_skew_threshold=0.5, maintain_cell_size=4,
    )
    maintained(_composed_batch(spark, b1), 0)  # cadence fires at batch 0
    st1 = _serve_state(spark, paths)  # asserts byte-identical centroids
    # after the hair-trigger rebalance nlist is tiny (cell_size=4), so
    # nprobe=2 may cover fewer than k candidates — the drill's contract
    # is PAIR ALIGNMENT, not recall; the probe's own vector must rank 1
    assert st1["topk"] and (0, 3, 1) in st1["topk"]

    # simulate the broken half-pair a crashed maintenance (or a store
    # born separately) leaves behind: the refine store rebuilt under an
    # INDEPENDENTLY trained quantizer at a different nlist
    from connect_server_spark.operators.similarity import write_ivf_index

    corpus, _, _ = _composed_fixture_rows()
    vecs = spark.createDataFrame(
        [(d, v) for d, _, v, _, _ in corpus] + [(103, b1[2][2])],
        ["doc_id", "embedding"],
    )
    write_ivf_index(
        vecs, paths["refine_index"], nlist=3, corpus_id="doc_id",
        corpus_vec="embedding", quantize=True,
    )
    c_ref = read_ivf_centroids(spark, paths["refine_index"])
    c_pq = read_ivf_centroids(spark, paths["pq_index"])
    assert c_ref.shape != c_pq.shape or not np.array_equal(c_ref, c_pq)

    maintained(_composed_batch(spark, b2), 1)  # next cadence repairs
    st2 = _serve_state(spark, paths)
    assert st2["topk"] and (0, 3, 1) in st2["topk"]
    assert st2["ids"]["pq_index"] == st2["ids"]["refine_index"]
