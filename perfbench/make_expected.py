"""Regenerate perfbench/expected.json, the expected outputs the benchmark
checks, with the provenance of each.

    python3 perfbench/make_expected.py

For each ``mdf_requests`` query it computes the Spark digest at the
current commit and the digest of the query's DuckDB mirror under the same
normalisation: the mirror the query registers, or for a query rotated out
of the registered gate, the frozen mirror ``tests/test_entry_oracle.py``
keeps running. The mirror's digest is the expectation; a disagreement is
reported and the script exits 1. ``corpus_release`` pins this commit's
Spark digests of ``training_release`` and ``dedup_clusters``: the first has
no mirror and the second's DuckDB mirror takes minutes at sf0.1; their
independent checks are named in ``provenance``. The ``ingest_search``
bounds are measured values kept from the previous file (README.md says how
they were set).
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PATH = os.path.join(HERE, "expected.json")
# rows-only queries whose frozen mirror lives beside the query
FROZEN_MIRRORS = {
    "submission_parse": ("transfer_queries", "SUBMISSION_PARSE_ORACLE_SQL"),
    "version_existence_probe": (
        "version_queries", "VERSION_EXISTENCE_PROBE_ORACLE_SQL"),
    "latest_status_join": ("version_queries", "LATEST_STATUS_JOIN_ORACLE_SQL"),
    "status_poll": ("flow_queries", "STATUS_POLL_ORACLE_SQL"),
    "scan_status_read_path": (
        "scan_queries", "SCAN_STATUS_READ_PATH_ORACLE_SQL"),
}


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from connect_server_spark import registry
    from connect_server_spark.session import get_spark
    from connect_server_spark.tables import TABLES, default_sf_dir
    from perfbench.digest import digest, duckdb_digest
    from perfbench.workloads import MDF_QUERIES

    sf_dir = default_sf_dir()
    head = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip()
    with open(PATH) as f:
        old = json.load(f)

    spark = get_spark(app_name="perfbench-expected", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracle = registry.all_queries(), registry.all_oracle_sql()
    mdf, bad = {}, []
    sf = os.path.basename(sf_dir.rstrip("/"))
    for name in MDF_QUERIES:
        df = queries[name](spark, sf_dir)
        got = digest(df)
        if name in oracle:
            sql, src = oracle[name], f"registered duckdb mirror at {sf}"
        else:
            mod, const = FROZEN_MIRRORS[name]
            sql = getattr(importlib.import_module(
                f"connect_server_spark.queries.{mod}"), const)
            src = f"frozen duckdb mirror {mod}.{const} at {sf}"
        want = duckdb_digest(spark, sql, sf_dir, df.schema, list(TABLES))
        if got != want:
            bad.append(f"{name}: spark {got} != mirror {want}")
        mdf[name] = {**want, "provenance": src}
        print(name, want, src, flush=True)
    import tempfile

    from connect_server_spark.queries.release_queries import training_release

    with tempfile.TemporaryDirectory() as out_path:
        release = digest(training_release(spark, sf_dir, out_path=out_path))
    pinned = f"spark digest pinned at {head}"
    corpus = {
        "training_release": {**release, "provenance": (
            f"{pinned}; no mirror — tests/test_release.py checks its"
            " invariants")},
        "dedup_clusters": {**digest(queries["dedup_clusters"](
            spark, sf_dir)), "provenance": (
            f"{pinned}; its duckdb mirror is too slow at {sf} — the"
            " registered mirror gates it at sf0.01"
            " (tests/test_entry_oracle.py)")},
    }
    print(corpus, flush=True)
    spark.stop()

    out = {
        "sf": sf,
        "mdf_requests": mdf,
        "corpus_release": corpus,
        "ingest_search": old["ingest_search"],
    }
    with open(PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    for line in bad:
        print("MISMATCH", line, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
