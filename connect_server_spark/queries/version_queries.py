"""Driver queries for the versioned-read relational core (SURVEY §2: A1,
A2, J2, O1, O2) with DuckDB oracle twins, over the synthetic status
table of :mod:`connect_server_spark.queries._mdf_tables`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_server_spark.functions.source_ids import increment_record_version
from connect_server_spark.operators.versioning import (
    existence_probe,
    latest_per_key,
    latest_version_join,
)
from connect_server_spark.queries._mdf_tables import (
    LATEST_SQL,
    STATUS_SQL,
    SUBMISSION_KEYS_SQL,
    latest_sql,
    source_key,
    source_key_sql,
    status_table,
    submission_keys,
)
from connect_server_spark.registry import register


def latest_version_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/O1: numerically-latest status row per source_id via map-side
    combinable ``max_by`` (no window, no per-key sort)."""
    return latest_per_key(
        status_table(spark, sf_dir),
        key="source_id",
        version="version",
        payload=["o_orderkey", "o_totalprice"],
        tiebreakers=["o_orderkey"],
    )


def latest_version_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/O1 (``current``) unioned with the temporal read (``asof``):
    the same max_by latest-per-key aggregate, once over full history and
    once over history date-filtered to a cutoff — the time-travel variant.
    The cutoff predicate reaches the parquet scan, so partition/row-group
    pruning bounds the as-of read to history ≤ cutoff. Folding the two
    probes keeps both gated in one driver slot; each arm is the exact
    query previously registered standalone."""
    current = latest_version_per_key(spark, sf_dir).select(
        F.lit("current").alias("probe"),
        "source_id",
        "version",
        "o_orderkey",
        F.lit(None).cast("string").alias("as_of_date"),
    )
    asof = status_as_of(spark, sf_dir).select(
        F.lit("asof").alias("probe"),
        "source_id",
        "version",
        "o_orderkey",
        "as_of_date",
    )
    return current.unionAll(asof)


_AS_OF_SQL = latest_sql(f"""
      SELECT source_id, version, o_orderkey,
             CAST(o_orderdate AS VARCHAR) AS as_of_date
      FROM ({STATUS_SQL})
      WHERE o_orderdate <= DATE '1995-06-30'
""")

register(
    "latest_version_probes",
    latest_version_probes,
    sql=f"""
    SELECT 'current' AS probe, source_id, version, o_orderkey,
           CAST(NULL AS VARCHAR) AS as_of_date
    FROM ({LATEST_SQL})
    UNION ALL
    SELECT 'asof' AS probe, source_id, version, o_orderkey, as_of_date
    FROM ({_AS_OF_SQL})
    """,
)


def latest_status_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 + A2: submissions left-joined to their latest status; the next
    version each submission would be assigned (``1.0`` for brand-new keys,
    minor+1 otherwise — ``aws/submit.py:212-216``)."""
    joined = latest_version_join(
        submission_keys(spark, sf_dir),
        status_table(spark, sf_dir),
        key="source_id",
        version="version",
        payload=["o_totalprice"],
        tiebreakers=["o_orderkey"],
    )
    return joined.select(
        "c_custkey",
        "source_id",
        F.col("version").alias("current_version"),
        F.col("o_totalprice").alias("current_totalprice"),
        increment_record_version(F.col("version")).alias("next_version"),
    )


# r12 sixth rotation: demoted (frozen green since r1); oracle preserved
# verbatim in tests/test_entry_oracle.py.
LATEST_STATUS_JOIN_ORACLE_SQL = f"""
    SELECT
      c.c_custkey,
      c.source_id,
      l.version AS current_version,
      l.o_totalprice AS current_totalprice,
      CASE
        WHEN l.version IS NULL THEN '1.0'
        ELSE concat(string_split(l.version, '.')[1], '.',
                    CAST(CAST(string_split(l.version, '.')[2] AS BIGINT) + 1 AS VARCHAR))
      END AS next_version
    FROM ({SUBMISSION_KEYS_SQL}) c
    LEFT JOIN ({LATEST_SQL}) l ON c.source_id = l.source_id
    """

register("latest_status_join", latest_status_join, defer=True)


def version_existence_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: per-submission existence classification — 0 prior versions →
    ``new``, exactly 1 → ``bump``, ≥2 → ``error`` (the reference's
    ``limit 2`` search probe, ``aws/source_id_manager.py:212-229``)."""
    existing = existence_probe(status_table(spark, sf_dir), key="source_id")
    return submission_keys(spark, sf_dir).join(existing, on="source_id", how="left").select(
        "c_custkey",
        "source_id",
        F.coalesce(F.col("n_existing"), F.lit(0)).alias("n_existing"),
        F.coalesce(F.col("classification"), F.lit("new")).alias("classification"),
    )


# r11 fifth rotation: demoted (frozen green since r1); oracle preserved
# verbatim in tests/test_entry_oracle.py.
VERSION_EXISTENCE_PROBE_ORACLE_SQL = f"""
    WITH counts AS (
      SELECT source_id, least(count(*), 2) AS n_existing,
             CASE WHEN count(*) = 1 THEN 'bump' ELSE 'error' END AS classification
      FROM ({STATUS_SQL})
      GROUP BY source_id
    )
    SELECT
      c.c_custkey,
      c.source_id,
      coalesce(n.n_existing, 0) AS n_existing,
      coalesce(n.classification, 'new') AS classification
    FROM ({SUBMISSION_KEYS_SQL}) c
    LEFT JOIN counts n ON c.source_id = n.source_id
    """

register("version_existence_probe", version_existence_probe, defer=True)


def scan_key_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 + S7 in one gated probe over the same synthetic status table.

    * ``point``: the ``get_item (source_id, version)`` key lookup
      (``aws/dynamo_manager.py:328-337``) via the filter-compiler's
      equality path — both conjuncts push to the parquet reader, so at
      scale this is a partition-pruned point probe, not a table pass.
    * ``range``: ALL versions of a set of source_ids
      (``aws/dynamo_manager.py:379-386`` ``for_source_id``: DynamoDB
      Query on the hash key returns every range key); pagination is free
      (A9). Partition-prunes when the table is laid out by source_id.
    """
    from connect_server_spark.plans import scan_table

    status = status_table(spark, sf_dir)
    point = scan_table(
        status,
        fields=["source_id", "version", "o_orderkey"],
        filters=[("source_id", "==", "src_42"), ("version", "==", "3.12")],
    ).select(F.lit("point").alias("probe"), "source_id", "version", "o_orderkey")
    wanted = [f"src_{k}" for k in (7, 97, 404, 911)]
    rng = status.filter(F.col("source_id").isin(wanted)).select(
        F.lit("range").alias("probe"), "source_id", "version", "o_orderkey"
    )
    return point.unionAll(rng)


register(
    "scan_key_probes",
    scan_key_probes,
    sql=f"""
    SELECT 'point' AS probe, source_id, version, o_orderkey
    FROM ({STATUS_SQL})
    WHERE source_id = 'src_42' AND version = '3.12'
    UNION ALL
    SELECT 'range' AS probe, source_id, version, o_orderkey
    FROM ({STATUS_SQL})
    WHERE source_id IN ('src_7', 'src_97', 'src_404', 'src_911')
    """,
)


def submissions_read_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 POST /submissions, end-to-end: user-scoped (P11) latest-status
    resolution (A1/J2) + flow-status letter (F14) + the formatted user
    message (``aws/submissions.py:17-52`` format_status_record — the
    *intended* semantics: the reference's 'action-id' key typo made the
    lookup always UNKNOWN; here the flow status joins for real)."""
    from connect_server_spark.functions.metadata import (
        status_code_letter,
        status_message,
    )

    status = status_table(spark, sf_dir).select(
        "source_id",
        "version",
        "o_orderkey",
        F.col("owner").alias("submitter"),
        F.concat(F.lit("Dataset "), source_key(F.col("o_custkey"))).alias("title"),
        F.col("o_orderdate").cast("string").alias("submission_time"),
        (F.col("o_orderkey") % 23 == 0).alias("test"),
        F.when(F.col("o_orderstatus") == "O", F.lit("ACTIVE"))
        .when(F.col("o_orderstatus") == "F", F.lit("SUCCEEDED"))
        .otherwise(F.lit("FAILED"))
        .alias("flow_status"),
    )
    latest = latest_per_key(
        status,
        "source_id",
        "version",
        payload=[
            "submitter", "title", "submission_time", "test", "flow_status",
        ],
        tiebreakers=["o_orderkey"],
    )
    scoped = latest.filter(F.col("submitter") == "u5")  # P11 user scope
    # Lossless raw retention (``aws/submit.py:299-312``): the status row
    # carries the original submission doc verbatim; the read path returns
    # it so a failed flow can be replayed from status alone. It is a
    # deterministic function of fields the aggregate already carries, so
    # it is (re)built AFTER latest-resolution + user scoping — JSON for
    # the result rows only, never materialized for (or shuffled with)
    # every status row.
    scoped = scoped.withColumn(
        "original_submission",
        F.to_json(
            F.struct(
                "source_id", "version", "title", "submitter",
                "submission_time", "test",
            )
        ),
    )
    return scoped.select(
        "source_id",
        "version",
        status_code_letter(F.col("flow_status")).alias("status_code"),
        status_message(
            F.col("test"),
            F.col("source_id"),
            F.col("title"),
            F.col("submitter"),
            F.col("submission_time"),
        ).alias("status_message"),
        (F.col("flow_status") == "ACTIVE").alias("active"),
        "title",
        "submitter",
        "submission_time",
        "test",
        "original_submission",
    )


register(
    "submissions_read_path",
    submissions_read_path,
    sql=f"""
    WITH status AS (
      SELECT
        source_id, version, o_orderkey, owner AS submitter,
        concat('Dataset ', {source_key_sql("o_custkey")}) AS title,
        CAST(o_orderdate AS VARCHAR) AS submission_time,
        o_orderkey % 23 = 0 AS test,
        CASE o_orderstatus WHEN 'O' THEN 'ACTIVE'
                           WHEN 'F' THEN 'SUCCEEDED'
                           ELSE 'FAILED' END AS flow_status
      FROM ({STATUS_SQL})
    ),
    latest AS ({latest_sql("SELECT * FROM status")})
    SELECT source_id, version,
      CASE flow_status WHEN 'SUCCEEDED' THEN 'S' WHEN 'ACTIVE' THEN 'P'
                       WHEN 'FAILED' THEN 'F' ELSE 'U' END AS status_code,
      concat('Status of ', CASE WHEN test THEN 'TEST ' ELSE '' END,
             'submission ', source_id, ' (', title, ')', chr(10),
             'Submitted by ', submitter, ' at ', submission_time,
             chr(10), chr(10)) AS status_message,
      flow_status = 'ACTIVE' AS active,
      title, submitter, submission_time, test,
      to_json(struct_pack(
        source_id := source_id, version := version, title := title,
        submitter := submitter, submission_time := submission_time,
        test := test)) AS original_submission
    FROM latest
    WHERE submitter = 'u5'
    """,
)


def status_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal read: the latest version per source_id AS OF a cutoff —
    the time-travel variant of A1 (the reference reads only current
    state; a versioned status table at scale also answers 'what was
    current on date X' with the same max_by aggregate over a
    pushed-down date filter — the predicate reaches the parquet scan, so
    partition/row-group pruning bounds the read to history ≤ cutoff)."""
    cutoff = "1995-06-30"
    status = status_table(spark, sf_dir)
    history = status.filter(F.col("o_orderdate") <= cutoff).select(
        "source_id",
        "version",
        "o_orderkey",
        F.col("o_orderdate").cast("string").alias("as_of_date"),
    )
    return latest_per_key(
        history,
        "source_id",
        "version",
        payload=["o_orderkey", "as_of_date"],
        tiebreakers=["o_orderkey"],
    )


# status_as_of is gated through ``latest_version_probes`` above (probe =
# 'asof'); the standalone function stays for the pushdown plan test.
