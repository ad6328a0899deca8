"""Release invariants for the end-to-end training_release drill
(curate → tokenize → chunk→pack → manifest-committed shards →
verified read-back)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from connect_server_spark.queries.release_queries import (
    _BUDGET,
    _N_SHARDS,
    training_release,
)


@pytest.fixture(scope="module")
def release(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("release") / "shards")
    summary = training_release(spark, sf_dir, out_path=out).collect()
    return out, summary


def test_release_commits_and_verifies(spark, release):
    out, summary = release
    assert os.path.exists(os.path.join(out, "_manifest.json"))
    shards = sorted(r.shard for r in summary)
    assert len(shards) > 0 and set(shards) <= set(range(_N_SHARDS))
    assert all(r.n_packs > 0 and r.n_rows >= r.n_packs for r in summary)


def test_release_token_coverage_is_lossless(spark, sf_dir, release):
    """Every surviving document's full (clamped) token mass reaches the
    shards: sum of chunk_tokens across ALL shards equals the sum of the
    survivors' BPE token counts — curation decides WHAT ships, packing
    must never decide HOW MUCH of it ships."""
    from connect_server_spark.operators.tokenizer import tokenize_bpe as tok
    from connect_server_spark.queries.curation_queries import curation_full
    from connect_server_spark.queries.text_queries import bpe_model_for
    from connect_server_spark.tables import load_table

    _, summary = release
    shipped = sum(r.n_tokens for r in summary)

    survivors = curation_full(spark, sf_dir).select("doc_id")
    docs = load_table(spark, "documents", sf_dir).join(
        survivors, "doc_id"
    )
    model = bpe_model_for(spark, sf_dir)
    expected = (
        tok(docs, "doc_id", "text", model["merges"], model["alphabet"])
        .agg(F.sum("n_tokens"))
        .collect()[0][0]
    )
    assert shipped == expected > 0


def test_release_packs_fit_budget_and_are_shard_atomic(spark, release):
    """No pack exceeds the context budget and no pack straddles two
    shards (a loader must never see half a pack)."""
    out, _ = release
    rows = spark.read.parquet(out)
    per_pack = rows.groupBy("pack_id").agg(
        F.sum("chunk_tokens").alias("tok"),
        F.count_distinct("shard").alias("n_shards"),
    )
    bad = per_pack.filter(
        (F.col("tok") > _BUDGET) | (F.col("n_shards") != 1)
    ).count()
    assert bad == 0


def test_release_summary_is_deterministic(spark, sf_dir, tmp_path):
    out2 = str(tmp_path / "rerun")
    first = [tuple(r) for r in training_release(
        spark, sf_dir, out_path=out2
    ).collect()]
    out3 = str(tmp_path / "rerun2")
    second = [tuple(r) for r in training_release(
        spark, sf_dir, out_path=out3
    ).collect()]
    assert first == second
