"""Driver queries for the organization-join family (SURVEY §2: S4, J1,
J3, J4, J5/S8) with DuckDB oracle twins. S4 (org registry scan with
name-or-alias filter and 0/>1-match errors) is the load+filter stage of
``org_resolve``. The org registry and the submissions' org references
come from :mod:`connect_server_spark.queries._mdf_tables`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_server_spark.functions.uris import lookup_http_host
from connect_server_spark.operators.org import (
    anti_join_insert,
    inherit_parent_rules,
    resolve_org,
)
from connect_server_spark.queries._mdf_tables import (
    ORG_LOOKUP_SQL,
    ORG_REF_SQL,
    ORG_REGISTRY_SQL,
    STATUS_SQL,
    SUBMISSION_KEYS_SQL,
    org_ref,
    org_registry,
    status_table,
    submission_keys,
)
from connect_server_spark.registry import register
from connect_server_spark.tables import load_table


def org_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: submissions joined to the org registry by canonical name or
    alias via an exploded-match-key broadcast equi-join, with unknown-org
    and duplicate-match error columns."""
    customer = load_table(spark, "customer", sf_dir)
    submissions = customer.select(F.col("c_custkey"), org_ref().alias("org_ref"))
    orgs = org_registry(spark, sf_dir)
    return resolve_org(submissions, orgs, "org_ref", ["curation"])


register(
    "org_resolve",
    org_resolve,
    sql=f"""
    WITH submissions AS (
      SELECT c_custkey, {ORG_REF_SQL} AS org_ref
      FROM customer
    ),
    lookup AS ({ORG_LOOKUP_SQL}),
    counts AS (
      SELECT match_name, count(*) AS n FROM lookup GROUP BY match_name
    )
    SELECT
      s.c_custkey, s.org_ref, l.canonical_name, l.curation,
      l.canonical_name IS NOT NULL AS org_found,
      CASE
        WHEN l.canonical_name IS NULL THEN 'unknown organization'
        WHEN c.n > 1 THEN 'duplicate organization match'
      END AS org_error
    FROM submissions s
    LEFT JOIN lookup l ON s.org_ref = l.match_name
    LEFT JOIN counts c ON s.org_ref = c.match_name
    """,
)


def org_parent_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: registry with ancestor rules merged in — acl appended (own
    first), curation OR-ed upward."""
    merged = inherit_parent_rules(org_registry(spark, sf_dir))
    return merged.select(
        "canonical_name",
        F.array_join("acl", ",").alias("acl_csv"),
        "curation",
    )


# r11 fifth rotation: demoted (frozen green since r1); oracle preserved
# verbatim in tests/test_entry_oracle.py.
ORG_PARENT_RULES_ORACLE_SQL = f"""
    WITH orgs AS ({ORG_REGISTRY_SQL})
    SELECT
      o.canonical_name,
      CASE WHEN p.canonical_name IS NULL
           THEN array_to_string(o.acl, ',')
           ELSE array_to_string(list_concat(o.acl, p.acl), ',') END AS acl_csv,
      o.curation OR coalesce(p.curation, false) AS curation
    FROM orgs o
    LEFT JOIN orgs p ON len(o.parent_organizations) > 0
                    AND o.parent_organizations[1] = p.canonical_name
    """

register("org_parent_rules", org_parent_rules, defer=True)


def status_insert_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/S8: incoming (source_id, '1.0') rows left-anti-joined against the
    existing status table — only absent key pairs survive to be appended."""
    incoming = submission_keys(spark, sf_dir).select(
        "c_custkey", "source_id", F.lit("1.0").alias("version")
    )
    existing = status_table(spark, sf_dir)
    return anti_join_insert(incoming, existing, ["source_id", "version"])


register(
    "status_insert_guard",
    status_insert_guard,
    sql=f"""
    WITH incoming AS (
      SELECT c_custkey, source_id, '1.0' AS version
      FROM ({SUBMISSION_KEYS_SQL})
    ),
    existing AS ({STATUS_SQL})
    SELECT source_id, version, c_custkey FROM incoming i
    WHERE NOT EXISTS (
      SELECT 1 FROM existing e
      WHERE e.source_id = i.source_id AND e.version = i.version
    )
    """,
)


_MDF_EP = "82f1b5c6-6e9b-11e5-ba47-22000b92c6ec"


def endpoint_http_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: endpoint → HTTP host lookup (vanity-host dim join + generic
    fallback; goldens ``tests/test_utils.py:181-198``)."""
    supplier = load_table(spark, "supplier", sf_dir)
    k = F.col("s_suppkey")
    generic_ep = F.concat(
        F.lit("00000000-0000-0000-0000-"),
        F.lpad((k % 1000000).cast("string"), 12, "0"),
    )
    location = (
        F.when(k % 4 == 0, F.lit(_MDF_EP))
        .when(k % 4 == 1, generic_ep)
        .when(k % 4 == 2, F.concat(F.lit("globus://"), generic_ep, F.lit("/data/path")))
        .otherwise(F.lit("not-an-endpoint"))
    )
    return supplier.select(
        k.alias("s_suppkey"),
        location.alias("location"),
        lookup_http_host(location).alias("http_host"),
    )


# Demoted from the gated-50 window in r10 (third rotation — displaced
# by events_overlap_join): semantics frozen since r3 and pinned by the
# preserved-oracle mirror in tests/test_entry_oracle.py.
ENDPOINT_HTTP_HOST_ORACLE_SQL = f"""
    WITH loc AS (
      SELECT s_suppkey,
        concat('00000000-0000-0000-0000-',
               lpad(CAST(s_suppkey % 1000000 AS VARCHAR), 12, '0')) AS generic_ep,
        CASE
          WHEN s_suppkey % 4 = 0 THEN '{_MDF_EP}'
          WHEN s_suppkey % 4 = 1 THEN concat('00000000-0000-0000-0000-',
               lpad(CAST(s_suppkey % 1000000 AS VARCHAR), 12, '0'))
          WHEN s_suppkey % 4 = 2 THEN concat('globus://',
               concat('00000000-0000-0000-0000-',
                      lpad(CAST(s_suppkey % 1000000 AS VARCHAR), 12, '0')),
               '/data/path')
          ELSE 'not-an-endpoint'
        END AS location
      FROM supplier
    )
    SELECT s_suppkey, location,
      CASE
        WHEN s_suppkey % 4 = 3 THEN NULL
        WHEN s_suppkey % 4 = 0 THEN 'https://data.materialsdatafacility.org'
        ELSE concat('https://', generic_ep, '.e.globus.org')
      END AS http_host
    FROM loc
"""

register("endpoint_http_host", endpoint_http_host, defer=True)
