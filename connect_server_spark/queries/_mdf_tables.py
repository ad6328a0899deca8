"""The MDF Connect fixture mapping, defined once per engine.

Every MDF Connect read path sits on one versioned status table keyed by
``(source_id, version)`` (``aws/dynamo_manager.py:127-286``). It is
derived deterministically from ``orders``: ``source_id = 'src_' ||
o_custkey % 997``, ``version = (1 + o_orderkey % 3) . (o_orderkey %
17)``, ``owner = 'u' || o_custkey % 31`` — minor versions reach 16, so
the numeric-aware ordering trap (``1.13 > 1.2``,
``aws/tests/test_dynamo_manager.py:7-44``) is exercised on every key.
``o_orderkey`` breaks exact-version ties so results are hash-stable.
Each ``customer`` row is a submission whose ``source_id`` follows the
same key rule on ``c_custkey``, whose submitter follows the owner rule,
and whose ``org_ref`` names an organization by canonical name, by
alias, ambiguously, or not at all.

The org registry is synthesized from ``nation`` (child orgs) and
``region`` (parent orgs): nation org ``lower(n_name)`` has aliases
``n{key}`` and ``{name}-org`` and is parented by
``region-{n_regionkey}``. Nation 0 and region 0 both carry alias
``ambiguous`` so duplicate-match detection is exercised
(``aws/organization.py:43-58`` errors on >1 match).

Each table has one PySpark form and one DuckDB form; the queries build
on the first and their oracle mirrors on the second. The Spark
latest-per-key rule is :func:`~connect_server_spark.operators.versioning.latest_per_key`;
:func:`latest_sql` is its one DuckDB mirror.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_server_spark.tables import load_table

KEY_MOD = 997


def source_key(key: Column) -> Column:
    """The numeric part of a source_id, as a string."""
    return (key % KEY_MOD).cast("string")


def source_key_sql(key: str) -> str:
    return f"CAST({key} % {KEY_MOD} AS VARCHAR)"


def source_id(key: Column) -> Column:
    return F.concat(F.lit("src_"), source_key(key))


def source_id_sql(key: str) -> str:
    return f"concat('src_', {source_key_sql(key)})"


def owner(key: Column) -> Column:
    return F.concat(F.lit("u"), (key % 31).cast("string"))


def owner_sql(key: str) -> str:
    return f"concat('u', CAST({key} % 31 AS VARCHAR))"


def version() -> Column:
    k = F.col("o_orderkey")
    return F.concat((k % 3 + 1).cast("string"), F.lit("."), (k % 17).cast("string"))


VERSION_SQL = (
    "concat(CAST(o_orderkey % 3 + 1 AS VARCHAR), '.',"
    " CAST(o_orderkey % 17 AS VARCHAR))"
)


def status_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One status row per order: ``source_id``, ``version``, ``owner``,
    then every ``orders`` column for the queries' own extras."""
    orders = load_table(spark, "orders", sf_dir)
    k = F.col("o_custkey")
    return orders.select(
        source_id(k).alias("source_id"),
        version().alias("version"),
        owner(k).alias("owner"),
        "*",
    )


STATUS_SQL = f"""
      SELECT {source_id_sql("o_custkey")} AS source_id,
             {VERSION_SQL} AS version,
             {owner_sql("o_custkey")} AS owner,
             *
      FROM orders
"""


def latest_sql(rows: str) -> str:
    """DuckDB mirror of ``latest_per_key(rows, "source_id", "version",
    ..., tiebreakers=["o_orderkey"])``: the numerically latest row of the
    ``rows`` query per source_id, every column kept."""
    return f"""
      SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source_id
          ORDER BY CAST(string_split(version, '.')[1] AS BIGINT) DESC,
                   CAST(string_split(version, '.')[2] AS BIGINT) DESC,
                   o_orderkey DESC
        ) AS rn
        FROM ({rows})
      ) WHERE rn = 1
"""


LATEST_SQL = latest_sql(STATUS_SQL)


def submission_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One submission per ``customer`` row: ``c_custkey``, ``source_id``."""
    customer = load_table(spark, "customer", sf_dir)
    return customer.select(
        F.col("c_custkey"), source_id(F.col("c_custkey")).alias("source_id")
    )


SUBMISSION_KEYS_SQL = f"""
      SELECT c_custkey, {source_id_sql("c_custkey")} AS source_id
      FROM customer
"""


def org_ref() -> Column:
    """A ``customer`` row's organization reference: a nation alias, a
    region name, the ambiguous alias, or an unknown name."""
    k = F.col("c_custkey")
    return (
        F.when(k % 4 == 0, F.concat(F.lit("n"), F.col("c_nationkey").cast("string")))
        .when(
            k % 4 == 1,
            F.concat(F.lit("region-"), (F.col("c_nationkey") % 5).cast("string")),
        )
        .when(k % 4 == 2, F.lit("ambiguous"))
        .otherwise(F.concat(F.lit("unknown-org-"), k.cast("string")))
    )


ORG_REF_SQL = """CASE
          WHEN c_custkey % 4 = 0 THEN concat('n', CAST(c_nationkey AS VARCHAR))
          WHEN c_custkey % 4 = 1 THEN concat('region-', CAST(c_nationkey % 5 AS VARCHAR))
          WHEN c_custkey % 4 = 2 THEN 'ambiguous'
          ELSE concat('unknown-org-', CAST(c_custkey AS VARCHAR))
        END"""


def org_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    nation_orgs = nation.select(
        F.lower(F.col("n_name")).alias("canonical_name"),
        F.when(
            F.col("n_nationkey") == 0,
            F.array(
                F.concat(F.lit("n"), F.col("n_nationkey").cast("string")),
                F.concat(F.lower(F.col("n_name")), F.lit("-org")),
                F.lit("ambiguous"),
            ),
        )
        .otherwise(
            F.array(
                F.concat(F.lit("n"), F.col("n_nationkey").cast("string")),
                F.concat(F.lower(F.col("n_name")), F.lit("-org")),
            )
        )
        .alias("aliases"),
        F.array(F.concat(F.lit("grp-"), F.col("n_nationkey").cast("string"))).alias("acl"),
        (F.col("n_nationkey") % 3 == 0).alias("curation"),
        F.array(
            F.concat(F.lit("region-"), F.col("n_regionkey").cast("string"))
        ).alias("parent_organizations"),
    )
    region_orgs = region.select(
        F.concat(F.lit("region-"), F.col("r_regionkey").cast("string")).alias(
            "canonical_name"
        ),
        F.when(
            F.col("r_regionkey") == 0, F.array(F.lower(F.col("r_name")), F.lit("ambiguous"))
        )
        .otherwise(F.array(F.lower(F.col("r_name"))))
        .alias("aliases"),
        F.array(F.concat(F.lit("racl-"), F.col("r_regionkey").cast("string"))).alias("acl"),
        (F.col("r_regionkey") % 2 == 0).alias("curation"),
        F.array().cast("array<string>").alias("parent_organizations"),
    )
    return nation_orgs.unionByName(region_orgs)


ORG_REGISTRY_SQL = """
      SELECT
        lower(n_name) AS canonical_name,
        CASE WHEN n_nationkey = 0
          THEN [concat('n', CAST(n_nationkey AS VARCHAR)),
                concat(lower(n_name), '-org'), 'ambiguous']
          ELSE [concat('n', CAST(n_nationkey AS VARCHAR)),
                concat(lower(n_name), '-org')] END AS aliases,
        [concat('grp-', CAST(n_nationkey AS VARCHAR))] AS acl,
        n_nationkey % 3 = 0 AS curation,
        [concat('region-', CAST(n_regionkey AS VARCHAR))] AS parent_organizations
      FROM nation
      UNION ALL
      SELECT
        concat('region-', CAST(r_regionkey AS VARCHAR)) AS canonical_name,
        CASE WHEN r_regionkey = 0 THEN [lower(r_name), 'ambiguous']
             ELSE [lower(r_name)] END AS aliases,
        [concat('racl-', CAST(r_regionkey AS VARCHAR))] AS acl,
        r_regionkey % 2 = 0 AS curation,
        CAST([] AS VARCHAR[]) AS parent_organizations
      FROM region
"""

# DuckDB mirror of ``operators.org.resolve_org``'s match keys: one row
# per (canonical name or alias, org).
ORG_LOOKUP_SQL = f"""
      SELECT unnest(list_prepend(canonical_name, aliases)) AS match_name,
             canonical_name, curation
      FROM ({ORG_REGISTRY_SQL})
"""
