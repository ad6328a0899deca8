"""Driver queries for transfer manifests, version-reset, JSON parsing,
custom-block normalization, rollups and limits (SURVEY §2: S1/S3, S10,
F5, F8, F11, A3, A8, O3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from connect_server_spark.functions.source_ids import split_source_id
from connect_server_spark.functions.uris import make_globus_app_link
from connect_server_spark.operators.extractors import parse_json_column
from connect_server_spark.operators.transfer import (
    loop_unroll,
    next_search_sub_version,
    single_endpoint_check,
    transfer_items,
    unify_origin,
)
from connect_server_spark.queries._mdf_tables import (
    STATUS_SQL,
    SUBMISSION_KEYS_SQL,
)
from connect_server_spark.registry import register
from connect_server_spark.tables import load_table

_EP = "11111111-2222-3333-4444-555555555555"
_EP2 = "99999999-8888-7777-6666-555555555555"


def transfer_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/F5/F11: per-source transfer items with origin/destination
    unification, plus the single-endpoint invariant per dataset and the
    web-app link for the origin."""
    li = load_table(spark, "lineitem", sf_dir)
    src = li.select(
        F.col("l_orderkey").alias("dataset_id"),
        F.col("l_linenumber"),
        # odd lines carry origin_* params, even lines destination_*
        F.when(F.col("l_linenumber") % 2 == 1, F.lit(_EP)).alias("origin_id"),
        F.when(
            F.col("l_linenumber") % 2 == 0,
            F.when(F.col("l_orderkey") % 37 == 0, F.lit(_EP2)).otherwise(F.lit(_EP)),
        ).alias("destination_id"),
        F.when(
            F.col("l_linenumber") % 2 == 1,
            F.concat(F.lit("/data/src"), F.col("l_linenumber").cast("string")),
        ).alias("origin_path"),
        F.when(
            F.col("l_linenumber") % 2 == 0,
            F.concat(F.lit("/dest/src"), F.col("l_linenumber").cast("string")),
        ).alias("destination_path"),
    )
    unified = src.select(
        "dataset_id",
        "l_linenumber",
        unify_origin(
            F.col("origin_id"),
            F.col("destination_id"),
            F.col("origin_path"),
            F.col("destination_path"),
        ).alias("u"),
    )
    # Per-dataset endpoint invariant via a window over the SAME shuffle
    # the items already need — one Exchange, not agg + join-back (three).
    # Groups are bounded (≤ 7 lines/dataset), so the windowed
    # collect_list holds a handful of 36-char ids, never a hot key.
    # The window runs on the NARROW frame (id, linenumber, u) and the
    # wide derived strings (transfer item paths, the percent-encoded
    # app link — ~100+ chars/row) are projected AFTER it, so the
    # Exchange never carries them (r8: moved post-shuffle, was built
    # below the window).
    # `single_endpoint_check` (operators/transfer.py) stays as the
    # relational form for standalone use.
    w = Window.partitionBy("dataset_id")
    # collect_set dedupes inside the aggregation buffer (2 distinct ids
    # max) instead of materializing the per-row list first
    n_endpoints = F.size(F.collect_set(F.col("u.origin_id")).over(w)).cast(
        "long"
    )
    flagged = unified.withColumn("_n", n_endpoints)
    item = transfer_items(
        F.col("u.origin_path"),
        F.lit("/mdf"),
        F.concat(F.lit("ds_"), F.col("dataset_id").cast("string")),
    )
    return flagged.select(
        "dataset_id",
        "l_linenumber",
        F.col("u.origin_id").alias("origin_id"),
        item.getField("source_path").alias("source_path"),
        item.getField("destination_path").alias("destination_path"),
        item.getField("recursive").alias("recursive"),
        make_globus_app_link(
            F.concat(
                F.lit("globus://"), F.col("u.origin_id"), F.col("u.origin_path")
            )
        ).alias("app_link"),
        F.col("_n").alias("n_endpoints"),
        (F.col("_n") == 1).alias("endpoints_ok"),
    )


register(
    "transfer_manifest",
    transfer_manifest,
    sql=f"""
    WITH src AS (
      SELECT l_orderkey AS dataset_id, l_linenumber,
        CASE WHEN l_linenumber % 2 = 1 THEN '{_EP}' END AS origin_id,
        CASE WHEN l_linenumber % 2 = 0 THEN
          CASE WHEN l_orderkey % 37 = 0 THEN '{_EP2}' ELSE '{_EP}' END
        END AS destination_id,
        CASE WHEN l_linenumber % 2 = 1
             THEN concat('/data/src', CAST(l_linenumber AS VARCHAR)) END
          AS origin_path,
        CASE WHEN l_linenumber % 2 = 0
             THEN concat('/dest/src', CAST(l_linenumber AS VARCHAR)) END
          AS destination_path
      FROM lineitem
    ),
    unified AS (
      SELECT dataset_id, l_linenumber,
             coalesce(origin_id, destination_id) AS origin_id,
             coalesce(origin_path, destination_path) AS origin_path
      FROM src
    ),
    check_ AS (
      SELECT dataset_id, count(DISTINCT origin_id) AS n_endpoints,
             count(DISTINCT origin_id) = 1 AS endpoints_ok
      FROM unified GROUP BY dataset_id
    )
    SELECT u.dataset_id, u.l_linenumber, u.origin_id,
           u.origin_path AS source_path,
           concat('/mdf/ds_', CAST(u.dataset_id AS VARCHAR), '/')
             AS destination_path,
           true AS recursive,
           concat('https://app.globus.org/file-manager?origin_id=',
                  u.origin_id, '&origin_path=',
                  replace(u.origin_path, '/', '%2F')) AS app_link,
           c.n_endpoints, c.endpoints_ok
    FROM unified u JOIN check_ c ON u.dataset_id = c.dataset_id
    """,
)


def version_reset_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: candidates against max prior (search, sub) per name — higher
    search resets sub to 1, equal search bumps sub, lower search errors."""
    part = load_table(spark, "part", sf_dir)
    sid = F.concat(
        F.lit("name"),
        (F.col("p_partkey") % 200).cast("string"),
        F.lit("_v"),
        (F.col("p_partkey") % 4 + 1).cast("string"),
        F.lit("."),
        (F.col("p_partkey") % 6 + 1).cast("string"),
    )
    prior = part.filter(F.col("p_partkey") % 3 != 0).select(
        split_source_id(sid).alias("s")
    ).select(
        F.col("s.source_name").alias("source_name"),
        F.col("s.search_version").alias("search_version"),
        F.col("s.submission_version").alias("submission_version"),
    )
    candidates = part.filter(F.col("p_partkey") % 3 == 0).select(
        F.col("p_partkey"),
        F.concat(F.lit("name"), (F.col("p_partkey") % 200).cast("string")).alias(
            "source_name"
        ),
        (F.col("p_partkey") % 5 + 1).cast("int").alias("search_version"),
    )
    return next_search_sub_version(prior, candidates, "source_name")


register(
    "version_reset_rule",
    version_reset_rule,
    sql="""
    WITH prior AS (
      SELECT concat('name', CAST(p_partkey % 200 AS VARCHAR)) AS source_name,
             CAST(p_partkey % 4 + 1 AS INT) AS search_version,
             CAST(p_partkey % 6 + 1 AS INT) AS submission_version
      FROM part WHERE p_partkey % 3 <> 0
    ),
    agg AS (
      SELECT source_name,
             max(search_version) AS max_prior_search,
             max_by(submission_version,
                    search_version * 1000 + submission_version) AS sub_at_max
      FROM prior GROUP BY source_name
    ),
    candidates AS (
      SELECT p_partkey,
             concat('name', CAST(p_partkey % 200 AS VARCHAR)) AS source_name,
             CAST(p_partkey % 5 + 1 AS INT) AS search_version
      FROM part WHERE p_partkey % 3 = 0
    )
    SELECT c.p_partkey, c.source_name, c.search_version,
           a.max_prior_search,
           CASE
             WHEN a.max_prior_search IS NULL THEN 1
             WHEN c.search_version > a.max_prior_search THEN 1
             WHEN c.search_version = a.max_prior_search THEN a.sub_at_max + 1
           END AS next_submission_version,
           CASE WHEN a.max_prior_search IS NOT NULL
                     AND c.search_version < a.max_prior_search
                THEN 'search version older than an existing submission'
           END AS version_error
    FROM candidates c LEFT JOIN agg a ON c.source_name = a.source_name
    """,
)


def transfer_loop_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/F13: every iteration of the multi-destination transfer loop as
    rows — current destination (``lst[0]``), remaining list (``lst[1:]``),
    and the loop-done predicate (``lst == lst[0:0]``)."""
    orders = load_table(spark, "orders", sf_dir)
    n = (F.col("o_orderkey") % 3 + 1).cast("int")
    dests = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(F.lit("dest_"), i.cast("string")),
    )
    base = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("dataset_id"), dests.alias("dests")
    )
    return loop_unroll(base, "dataset_id", "dests")


register(
    "transfer_loop_states",
    transfer_loop_states,
    sql="""
    WITH base AS (
      SELECT o_orderkey AS dataset_id,
             list_transform(range(1, CAST(o_orderkey % 3 + 2 AS INT)),
                            i -> 'dest_' || i) AS dests
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    it AS (
      SELECT dataset_id, dests,
             unnest(range(1, len(dests) + 1)) AS pos
      FROM base
    )
    SELECT dataset_id,
           CAST(pos - 1 AS INT) AS iteration,
           dests[pos] AS current,
           coalesce(array_to_string(dests[pos + 1:], ','), '') AS remaining_csv,
           len(dests[pos + 1:]) = 0 AS loop_done
    FROM it
    """,
)


def submission_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S3: JSON submission-body parse with corrupt-input handling —
    malformed bodies produce (success=false, error) rows, valid bodies a
    typed struct; never eval."""
    docs = load_table(spark, "documents", sf_dir)
    body = F.when(
        F.col("doc_id") % 7 == 0, F.lit("{not valid json")
    ).otherwise(
        F.concat(
            F.lit('{"title": "'),
            F.substring(F.col("text"), 1, 20),
            F.lit('", "n_chars": '),
            F.col("n_chars").cast("string"),
            F.lit("}"),
        )
    )
    parsed = parse_json_column(body, "title string, n_chars long")
    ok = parsed["title"].isNotNull()
    return docs.select(
        "doc_id",
        ok.alias("success"),
        F.when(ok, parsed["title"]).alias("title"),
        F.when(ok, parsed["n_chars"]).alias("n_chars_parsed"),
        F.when(~ok, F.lit("submission is not valid JSON")).alias("error"),
    )


# Demoted from the gated-50 window in r10 (third rotation — displaced
# by events_asof_join): semantics frozen since r3 and pinned by the
# preserved-oracle mirror in tests/test_entry_oracle.py.
SUBMISSION_PARSE_ORACLE_SQL = """
    SELECT doc_id,
           doc_id % 7 <> 0 AS success,
           CASE WHEN doc_id % 7 <> 0 THEN substr(text, 1, 20) END AS title,
           CASE WHEN doc_id % 7 <> 0 THEN n_chars END AS n_chars_parsed,
           CASE WHEN doc_id % 7 = 0 THEN 'submission is not valid JSON' END
             AS error
    FROM documents
"""

register("submission_parse", submission_parse, defer=True)


def custom_block_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: the schemaless ``custom`` map — values cast to string,
    ``*_description`` keys rewritten to ``*_desc``
    (``aws/submit.py:280-296``). Emitted exploded for a stable gate."""
    part = load_table(spark, "part", sf_dir)
    custom = F.create_map(
        F.lit("color_description"), F.col("p_brand"),
        F.lit("size"), F.col("p_size").cast("string"),
    )
    normalized = F.transform_keys(
        custom, lambda k, _: F.regexp_replace(k, "_description$", "_desc")
    )
    exploded = part.select(
        "p_partkey", F.explode(normalized).alias("key", "value")
    )
    return exploded


# Demoted from the gated-50 window in r9 to make room for the newer
# LLM-pipeline families (r8 verdict ask #4): semantics frozen since r2
# and pinned by the preserved-oracle mirror in tests/test_entry_oracle.py.
CUSTOM_BLOCK_NORMALIZE_ORACLE_SQL = """
    SELECT p_partkey, 'color_desc' AS key, p_brand AS value FROM part
    UNION ALL
    SELECT p_partkey, 'size' AS key, CAST(p_size AS VARCHAR) AS value FROM part
"""

register("custom_block_normalize", custom_block_normalize, defer=True)


def submission_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: pass/fail rollup of the existence-probe classifications."""
    from connect_server_spark.queries.version_queries import (
        version_existence_probe,
    )

    return (
        version_existence_probe(spark, sf_dir)
        .groupBy("classification")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# Demoted from the gated-50 window in r10 (third rotation — displaced
# by events_interval_join): semantics frozen since r3 and pinned by the
# preserved-oracle mirror in tests/test_entry_oracle.py.
SUBMISSION_ROLLUP_ORACLE_SQL = f"""
    WITH counts AS (
      SELECT source_id,
             CASE WHEN count(*) = 1 THEN 'bump' ELSE 'error' END AS classification
      FROM ({STATUS_SQL}) GROUP BY 1
    ),
    probes AS (
      SELECT coalesce(n.classification, 'new') AS classification
      FROM ({SUBMISSION_KEYS_SQL}) c
      LEFT JOIN counts n ON c.source_id = n.source_id
    )
    SELECT classification, count(*) AS n FROM probes GROUP BY classification
"""

register("submission_rollup", submission_rollup, defer=True)


def flow_log_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: the flow-log fetch limit (100 entries,
    ``aws/globus_automate_flow.py:101-104``) — deterministic order."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.orderBy(F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


# Demoted from the gated-50 window in r9 to make room for the newer
# LLM-pipeline families (r8 verdict ask #4): semantics frozen since r2
# and pinned by the preserved-oracle mirror in tests/test_entry_oracle.py.
FLOW_LOG_LIMIT_ORACLE_SQL = """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders ORDER BY o_orderkey ASC LIMIT 100
"""

register("flow_log_limit", flow_log_limit, defer=True)
