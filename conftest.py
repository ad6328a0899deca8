"""Root conftest: puts the repo on sys.path and provides the shared
SparkSession fixture (session-scoped — JVM startup is ~10 s)."""

from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# sf0.001 keeps unit tests fast; the driver's correctness gate runs sf0.01.
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "objectstore: runs against a real S3 API (local moto server) — "
        "the measured half of SCALE.md's object-store claims",
    )
    config.addinivalue_line(
        "markers",
        "slow: multi-minute evidence drill (composed loops, crash-replay "
        "sequences) — deselected by default so the serial suite fits an "
        "external CI/driver budget; run with --runslow (or "
        "SPARK_GRAFT_RUN_SLOW=1) for the full suite. The full-suite "
        "record for each round lives in PYTEST_r<N>.txt.",
    )


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked 'slow' (the multi-minute evidence "
        "drills; see the marker description)",
    )


# The multi-minute evidence DRILLS (crash-replay convergence, store
# maintenance/rebalance round-trips, streaming-sink idempotence loops),
# marked centrally by nodeid prefix so parametrized families stay
# consistent and the list is auditable in one place. Selection rule
# (r13, from a full --durations=0 run): call+setup ≥ ~45 s on the r13
# container AND the test is a drill — NEVER an oracle mirror, plan
# audit, stage-semantics pin, or cross-mode/batch equivalence gate
# (those stay in the default run regardless of cost: they are the
# correctness evidence). Sum of marked drills on the r13 container:
# ~101 min of a ~143 min serial suite.
_SLOW_DRILLS = (
    "test_streaming.py::test_composed_ingest_",
    "test_streaming.py::test_crawl_leg_",
    "test_streaming.py::test_maintenance_retention",
    "test_streaming.py::test_streaming_ingest_dedup_against_index",
    "test_streaming.py::test_ingest_dedup_",
    "test_streaming.py::test_curation_decision_stream_stream_join",
    "test_streaming.py::test_foreachbatch_idempotent_status_sink",
    "test_streaming.py::test_streaming_search_ingest_",
    "test_streaming.py::test_streaming_embedding_ingest_dedup",
    "test_checkpoint_mode.py::test_composed_ingest_survives_executor_sigkill",
    "test_checkpoint_mode.py::test_reliable_mode_survives_executor_sigkill_midrun",
    "test_checkpoint_mode.py::test_boundary_recovery_contrast",
    "test_retrieval.py::test_maintain_bm25_index_",
    "test_similarity.py::test_maintain_refine_pair",
    "test_similarity.py::test_rebalance_ivf_index_",
    "test_similarity.py::test_pq_refine_serving_regime_guard",
    "test_similarity.py::test_ivf_pq_store_serves_with_recall",
    "test_similarity.py::test_ivf_pq_append_follows_store_format",
    "test_similarity.py::test_ivf_pq_recall_nprobe_curve",
    "test_similarity.py::test_pq_refine_recovers_sq8",
    "test_dedup.py::test_minhash_index_append_closes_ingest_loop",
    "test_dedup.py::test_winnow_index_append_and_hot_fp_cap",
    "test_dedup.py::test_ngram_jaccard_skew_guard",
    "test_arrow_source.py::test_stream_starting_latest",
    "test_arrow_source.py::test_stream_refuses_overwritten",
    "test_arrow_source.py::test_append_mode_merges_manifest",
    "test_arrow_source.py::test_empty_write_leaves_scannable_store",
    "test_arrow_source.py::test_stream_tails_appends_and_restarts",
)


def run_slow_from_env(value: str) -> bool:
    """``SPARK_GRAFT_RUN_SLOW`` parsed strictly: ``1``/``true``/``yes``/
    ``on`` run the drills, unset/empty/``0``/``false``/``no``/``off``
    skip them (case-insensitive), anything else is a usage error rather
    than a silent guess."""
    v = value.strip().lower()
    if v in ("1", "true", "yes", "on"):
        return True
    if v in ("", "0", "false", "no", "off"):
        return False
    raise pytest.UsageError(
        f"SPARK_GRAFT_RUN_SLOW={value!r}: expected 1/true/yes/on or "
        "0/false/no/off"
    )


def pytest_collection_modifyitems(config, items):
    """Default-skip the ``slow`` drills (r12 verdict ask #2: the serial
    suite runs >4 h on slow containers and the external test gate times
    out — a contract failure, not a test failure). The skips are VISIBLE
    (reported as skipped with this reason, never silently deselected),
    and every round's close records a full ``--runslow`` run."""
    for item in items:
        if any(p in item.nodeid for p in _SLOW_DRILLS):
            item.add_marker(pytest.mark.slow)
    if config.getoption("--runslow") or run_slow_from_env(
        os.environ.get("SPARK_GRAFT_RUN_SLOW", "")
    ):
        return
    skip = pytest.mark.skip(
        reason="slow evidence drill — run with --runslow "
        "(full-suite record: PYTEST_r13.txt)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from connect_server_spark.session import get_spark

    s = get_spark(
        app_name="connect_server_spark-tests",
        master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"),
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR


def py_winnow(text: str, k: int = 4, window: int = 4) -> set[str]:
    """hashlib reference of ``operators.dedup.winnow_fingerprints`` —
    the ONE python mirror of the winnowing scheme (normalized positional
    token k-gram md5 hexes, min per sliding window, distinct), shared by
    every test that pins against it."""
    import hashlib
    import re

    toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
    n_grams = max(len(toks) - k, 0) + 1
    hashes = [
        hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
        for i in range(n_grams)
    ]
    n_win = max(len(hashes) - window, 0) + 1
    return {min(hashes[i : i + window]) for i in range(n_win)}
