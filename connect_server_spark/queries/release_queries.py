"""The end-to-end TRAINING RELEASE drill: raw corpus → curated
survivors → real-BPE token counts → chunk→pack at the context budget →
manifest-committed training shards → verified read-back.

``training_release`` is the "one command from crawl to loader-ready
shards" composite a pretraining-prep user actually runs — every stage
is an already-shipped, individually-pinned operator; this query is the
composition and its commit discipline:

1. **curate** — :func:`~connect_server_spark.queries.curation_queries.
   curation_full` (boilerplate lines → Gopher/C4 gates → LM routing →
   bloom decontamination → exact dedup → temperature mixing) yields the
   survivor id set over ONE corpus scan.
2. **fetch survivors** — one narrow id semi-join pulls surviving
   payloads (the release's second and last scan of ``documents``; the
   id set is mixing-bounded, broadcastable at any corpus size).
3. **tokenize** — the dataset-cached trained BPE model (Arrow-batched
   segmentation) produces exact ``n_tokens`` per survivor.
4. **chunk→pack** — over-budget docs split into ≤256-token ranges,
   greedy partition-local packing; zero added shuffle; every pack fits.
5. **ship** — ``write_training_shards`` (pack-atomic shard assignment,
   manifest-LAST commit) then ``read_training_shards(verify=True)``
   re-verifies counts+checksums shard-parallel before anything is
   declared released.

Returns the per-shard release summary (shard, n_packs, n_rows,
n_tokens) ordered by shard — the manifest's ledger as a DataFrame.
Registered rows-only (side-effecting composed drill, like
``daily_ingest_composed``); the release invariants are pinned in
``tests/test_release.py``: token coverage across shards is LOSSLESS vs
the survivors' clamped token counts, the summary is deterministic
across reruns, and a manifest-less directory refuses to load.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_server_spark.registry import register
from connect_server_spark.tables import load_table

_BUDGET = 256
_N_SHARDS = 4


def training_release(
    spark: SparkSession, sf_dir: str, out_path: str | None = None
) -> DataFrame:
    from connect_server_spark.operators.packing import chunk_and_pack
    from connect_server_spark.operators.tokenizer import tokenize_bpe as tok
    from connect_server_spark.queries.curation_queries import curation_full
    from connect_server_spark.queries.text_queries import bpe_model_for
    from connect_server_spark.sinks import (
        read_training_shards,
        write_training_shards,
    )

    survivors = curation_full(spark, sf_dir).select("doc_id")
    docs = load_table(spark, "documents", sf_dir)
    kept = docs.join(F.broadcast(survivors), "doc_id").select(
        "doc_id", "text"
    )

    model = bpe_model_for(spark, sf_dir)
    counts = tok(
        kept, "doc_id", "text", model["merges"], model["alphabet"]
    ).select("doc_id", "n_tokens")
    packed = chunk_and_pack(counts, "doc_id", "n_tokens", budget=_BUDGET)

    path = out_path or tempfile.mkdtemp(prefix="training_release_")
    manifest = write_training_shards(
        packed, path, n_shards=_N_SHARDS, pack_col="pack_id",
        token_col="chunk_tokens",
    )
    read_training_shards(spark, path, verify=True)
    # r12 (guide §1.2 — don't recompute what this run already computed):
    # the summary IS the manifest's ledger, and the manifest was built
    # THIS call from a read-back aggregation of the written shards (and
    # just re-verified shard-parallel by the verify read). The old shape
    # scanned the shard files a third time to aggregate the same
    # (n_packs, n_rows, n_tokens) per shard; the ledger DataFrame is
    # value-identical by construction.
    rows = [
        (int(s), v["n_packs"], v["n_rows"], v["n_tokens"])
        for s, v in sorted(
            manifest["shards"].items(), key=lambda kv: int(kv[0])
        )
    ]
    return spark.createDataFrame(
        rows, "shard int, n_packs bigint, n_rows bigint, n_tokens bigint"
    ).orderBy("shard")


register("training_release", training_release, defer=True)


EPOCH_SHUFFLE_EPOCH = 3
EPOCH_SHUFFLE_SHARDS = 8

# Exact DuckDB mirror (md5 is bit-identical across Spark, DuckDB and
# hashlib — the reason the operator keys on it): recomputes shard AND
# in-shard position. Promoted into the 50-slot oracle window in the r11
# fifth rotation (r10 verdict ask #7 — "the cheapest honest gate
# available"); the same SQL keeps running in tests/test_epoch_shuffle.py.
TRAINING_EPOCH_SHUFFLE_ORACLE_SQL = f"""
    WITH keyed AS (
      SELECT doc_id,
             md5(concat(CAST({EPOCH_SHUFFLE_EPOCH} AS VARCHAR), ':',
                        CAST(doc_id AS VARCHAR))) AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(h, 1, 8)) AS BIGINT)
                % {EPOCH_SHUFFLE_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST(concat('0x', substr(h, 1, 8)) AS BIGINT)
                          % {EPOCH_SHUFFLE_SHARDS}
             ORDER BY h, doc_id
           ) AS INT) AS pos
    FROM keyed
"""


def training_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch dataloader order over the corpus
    (``operators/training.py epoch_shuffle``): every document gets a
    (shard, pos) drawn from md5(epoch:id) — a fresh decorrelated order
    each epoch, reproducible across reruns/retries, never a stored
    permutation. One hash-partition Exchange + per-shard sort; the
    assignment is scan-stage Catalyst. Oracle-gated since the r11
    rotation — the EXACT cross-engine mirror (md5 is bit-identical in
    DuckDB) recomputes the assignment, not a proxy;
    determinism/epoch-decorrelation/balance pins run in
    ``tests/test_epoch_shuffle.py``."""
    from connect_server_spark.operators.training import epoch_shuffle

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    return epoch_shuffle(
        docs, "doc_id", EPOCH_SHUFFLE_EPOCH, EPOCH_SHUFFLE_SHARDS
    ).select("doc_id", "shard", "pos")


register(
    "training_epoch_shuffle",
    training_epoch_shuffle,
    sql=TRAINING_EPOCH_SHUFFLE_ORACLE_SQL,
)
