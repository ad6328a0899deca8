"""Driver query for the submit pipeline (SURVEY §3.1: S2, S3-slice, P12,
P13, J1, J2, A1, A2 composed) with a full DuckDB oracle twin.

Fixture mapping: :mod:`connect_server_spark.queries._mdf_tables` derives
each ``customer`` row's source_id, submitter and org reference, the
``orders``-derived status table of existing versions and owners, and the
org registry; the submission's other fields (title, update flags, groups,
a numeric leaf that is sometimes NaN) are built here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_server_spark.pipeline.schema_check import check_submission
from connect_server_spark.pipeline.submit import submit_pipeline
from connect_server_spark.queries._mdf_tables import (
    LATEST_SQL,
    ORG_LOOKUP_SQL,
    ORG_REF_SQL,
    STATUS_SQL,
    org_ref,
    org_registry,
    owner,
    owner_sql,
    source_id,
    source_id_sql,
    source_key,
    source_key_sql,
    status_table,
)
from connect_server_spark.registry import register
from connect_server_spark.tables import load_table


def _submissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    k = F.col("c_custkey")
    submitter = owner(k)
    return c.select(
        k.alias("c_custkey"),
        source_id(k).alias("source_id"),
        F.when(k % 17 == 0, F.lit("")).otherwise(F.col("c_name")).alias("title"),
        org_ref().alias("org_ref"),
        (k % 2 == 0).alias("update"),
        (k % 23 == 0).alias("test"),
        (k % 11 == 0).alias("update_metadata_only"),
        F.array(submitter, F.concat(F.lit("alt-"), submitter)).alias("identities"),
        F.array(
            F.concat(F.lit("g"), (k % 7).cast("string")),
            F.concat(F.lit("g"), (k % 5).cast("string")),
        ).alias("user_groups"),
        F.concat(F.lit("g"), (F.col("c_nationkey") % 7).cast("string")).alias(
            "required_group"
        ),
        F.when(k % 13 == 0, F.lit(float("nan"))).otherwise(F.col("c_acctbal")).alias(
            "metadata_value"
        ),
    )


def submit_pipeline_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = submit_pipeline(
        _submissions(spark, sf_dir),
        org_registry(spark, sf_dir),
        status_table(spark, sf_dir),
        status_tiebreaker="o_orderkey",
    )
    return out.select(
        "c_custkey",
        "source_id",
        "success",
        "error",
        "assigned_version",
        "versioned_source_id",
        "previous_versions_csv",
        "update_metadata_only",
        "canonical_name",
        "curation",
    )


register(
    "submit_pipeline",
    submit_pipeline_query,
    sql=f"""
    WITH submissions AS (
      SELECT
        c_custkey,
        {source_id_sql("c_custkey")} AS source_id,
        CASE WHEN c_custkey % 17 = 0 THEN '' ELSE c_name END AS title,
        {ORG_REF_SQL} AS org_ref,
        c_custkey % 2 = 0 AS update_flag,
        c_custkey % 23 = 0 AS test_flag,
        c_custkey % 11 = 0 AS update_metadata_only,
        concat({source_id_sql("c_custkey")},
               CASE WHEN c_custkey % 23 = 0 THEN '-test' ELSE '' END) AS esid,
        {owner_sql("c_custkey")} AS submitter,
        ['g' || CAST(c_custkey % 7 AS VARCHAR),
         'g' || CAST(c_custkey % 5 AS VARCHAR)] AS user_groups,
        'g' || CAST(c_nationkey % 7 AS VARCHAR) AS required_group,
        CASE WHEN c_custkey % 13 = 0 THEN CAST('nan' AS DOUBLE)
             ELSE c_acctbal END AS metadata_value
      FROM customer
    ),
    status AS ({STATUS_SQL}),
    latest AS ({LATEST_SQL}),
    history AS (
      SELECT source_id,
             array_to_string(
               list_sort(list_distinct(list(concat(source_id, '-', version)))),
               ',') AS prev_csv
      FROM status GROUP BY source_id
    ),
    lookup AS ({ORG_LOOKUP_SQL}),
    counts AS (
      SELECT match_name, count(*) AS n FROM lookup GROUP BY match_name
    ),
    joined AS (
      SELECT s.*, l.canonical_name, l.curation,
             l.canonical_name IS NOT NULL AS org_found,
             coalesce(c.n, 0) AS n_org_matches,
             v.version AS cur_version, v.owner,
             h.prev_csv
      FROM submissions s
      LEFT JOIN lookup l ON s.org_ref = l.match_name
      LEFT JOIN counts c ON s.org_ref = c.match_name
      LEFT JOIN latest v ON s.esid = v.source_id
      LEFT JOIN history h ON s.esid = h.source_id
    ),
    checked AS (
      SELECT *,
        CASE
          WHEN NOT list_has_any(user_groups, [required_group])
            THEN 'not in required group'
          WHEN isnan(metadata_value) OR metadata_value IN ('inf'::DOUBLE, '-inf'::DOUBLE)
            THEN 'non-finite value in submission'
          WHEN title IS NULL OR trim(title) = '' THEN 'missing title'
          WHEN NOT org_found THEN 'unknown organization'
          WHEN n_org_matches > 1 THEN 'duplicate organization match'
          WHEN update_flag AND cur_version IS NULL
            THEN 'update of nonexistent source'
          WHEN NOT update_flag AND cur_version IS NOT NULL
            THEN 'source exists and update not set'
          WHEN update_flag AND cur_version IS NOT NULL
               AND NOT list_contains([submitter, 'alt-' || submitter], owner)
            THEN 'not the owner'
        END AS error
      FROM joined
    )
    SELECT
      c_custkey,
      source_id,
      error IS NULL AS success,
      error,
      CASE WHEN error IS NULL THEN
        CASE WHEN update_flag
             THEN concat(string_split(cur_version, '.')[1], '.',
                         CAST(CAST(string_split(cur_version, '.')[2] AS BIGINT) + 1 AS VARCHAR))
             ELSE '1.0' END
      END AS assigned_version,
      CASE WHEN error IS NULL THEN
        concat(esid, '-',
          CASE WHEN update_flag
               THEN concat(string_split(cur_version, '.')[1], '.',
                           CAST(CAST(string_split(cur_version, '.')[2] AS BIGINT) + 1 AS VARCHAR))
               ELSE '1.0' END)
      END AS versioned_source_id,
      CASE WHEN error IS NULL THEN coalesce(prev_csv, '') END
        AS previous_versions_csv,
      update_metadata_only,
      canonical_name,
      curation
    FROM checked
    """,
)


def submit_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 in depth: raw JSON submissions through the constraint-check
    stage (``pipeline/schema_check.py``). Docs are synthesized from
    ``customer`` with eight seeded defect classes (valid, unknown
    top-level key, empty titles, empty creators, numeric
    publicationYear, missing publisher, empty acl, string version) so
    seven DISTINCT constraint failures are exercised and gated — the
    reconstruction of ``connect_submission.json`` validation
    (``aws/submit.py:20-38``, ``tests/test_validator.py:6-348``)."""
    c = load_table(spark, "customer", sf_dir)
    k = F.col("c_custkey")
    d = k % 8

    def when_d(val: int, then: str, otherwise: str) -> F.Column:
        return F.when(d == val, F.lit(then)).otherwise(F.lit(otherwise))

    key_s = source_key(k)
    doc = F.concat(
        F.lit('{"dc": {"creators": '),
        when_d(3, "[]", '[{"creatorName": "Creator"}]'),
        F.lit(', "publicationYear": '),
        when_d(4, "2018", '"2018"'),
        when_d(5, "", ', "publisher": "MDF"'),
        F.lit(', "resourceType": {"resourceTypeGeneral": "Dataset"}, "titles": '),
        when_d(2, "[]", ""),
        F.when(d == 2, F.lit("")).otherwise(
            F.concat(F.lit('[{"title": "Dataset '), key_s, F.lit('"}]'))
        ),
        F.lit('}, "mdf": {"source_name": "src_'),
        key_s,
        F.lit('", "acl": '),
        when_d(6, "[]", '["public"]'),
        F.lit(', "version": '),
        when_d(7, '"one"', "1"),
        F.lit("}"),
        when_d(1, ', "bogus": true', ""),
        F.lit("}"),
    )
    docs = c.select(k.alias("c_custkey"), doc.alias("doc"))
    checked = check_submission(docs, "doc")
    return checked.select(
        "c_custkey",
        F.col("schema_valid").alias("valid"),
        "n_violations",
        "violations_csv",
        F.col("schema_error").alias("error"),
    )


_CONSTRAINT_DOC_SQL = f"""
      SELECT c_custkey,
        '{{"dc": {{"creators": '
        || CASE WHEN c_custkey % 8 = 3 THEN '[]'
                ELSE '[{{"creatorName": "Creator"}}]' END
        || ', "publicationYear": '
        || CASE WHEN c_custkey % 8 = 4 THEN '2018' ELSE '"2018"' END
        || CASE WHEN c_custkey % 8 = 5 THEN '' ELSE ', "publisher": "MDF"' END
        || ', "resourceType": {{"resourceTypeGeneral": "Dataset"}}, "titles": '
        || CASE WHEN c_custkey % 8 = 2 THEN '[]'
                ELSE '[{{"title": "Dataset '
                     || {source_key_sql("c_custkey")} || '"}}]' END
        || '}}, "mdf": {{"source_name": "src_'
        || {source_key_sql("c_custkey")}
        || '", "acl": '
        || CASE WHEN c_custkey % 8 = 6 THEN '[]' ELSE '["public"]' END
        || ', "version": '
        || CASE WHEN c_custkey % 8 = 7 THEN '"one"' ELSE '1' END
        || '}}'
        || CASE WHEN c_custkey % 8 = 1 THEN ', "bogus": true' ELSE '' END
        || '}}' AS doc
      FROM customer
"""

register(
    "submit_constraints",
    submit_constraints,
    sql=f"""
    WITH docs AS ({_CONSTRAINT_DOC_SQL}),
    rules AS (
      SELECT c_custkey,
        len(list_filter(json_keys(doc), k -> k NOT IN
          ('dc','mdf','mrr','custom','services','data','tags','index',
           'data_sources','data_destinations','dataset_acl',
           'extraction_config','no_extract','test','update',
           'update_metadata_only'))) = 0 AS ok_additional,
        json_extract(doc, '$.dc') IS NOT NULL AS ok_dc,
        json_extract(doc, '$.mdf') IS NOT NULL AS ok_mdf,
        coalesce(trim(json_extract_string(doc, '$.dc.titles[0].title')) <> '',
                 FALSE) AS ok_title,
        coalesce(json_array_length(doc, '$.dc.creators') >= 1, FALSE)
          AS ok_creators,
        json_extract_string(doc, '$.dc.creators[0].creatorName') IS NOT NULL
          AS ok_creator_name,
        coalesce(json_type(doc, '$.dc.publicationYear') = 'VARCHAR', FALSE)
          AS ok_year,
        json_extract(doc, '$.dc.publisher') IS NOT NULL AS ok_publisher,
        json_extract(doc, '$.dc.resourceType.resourceTypeGeneral') IS NOT NULL
          AS ok_rtype,
        coalesce(regexp_matches(
          json_extract_string(doc, '$.mdf.source_name'), '^[a-z0-9_-]+$'),
          FALSE) AS ok_source_name,
        coalesce(json_array_length(doc, '$.mdf.acl') >= 1, FALSE) AS ok_acl,
        (json_extract(doc, '$.mdf.version') IS NULL
         OR json_type(doc, '$.mdf.version') IN ('BIGINT', 'UBIGINT'))
          AS ok_version
      FROM docs
    ),
    folded AS (
      SELECT c_custkey,
        list_filter([
          CASE WHEN NOT ok_additional THEN 'additional_properties' END,
          CASE WHEN NOT ok_dc THEN 'dc_required' END,
          CASE WHEN NOT ok_mdf THEN 'mdf_required' END,
          CASE WHEN NOT ok_title THEN 'title_required' END,
          CASE WHEN NOT ok_creators THEN 'creators_min_items' END,
          CASE WHEN NOT ok_creator_name THEN 'creator_name_required' END,
          CASE WHEN NOT ok_year THEN 'publication_year_type' END,
          CASE WHEN NOT ok_publisher THEN 'publisher_required' END,
          CASE WHEN NOT ok_rtype THEN 'resource_type_required' END,
          CASE WHEN NOT ok_source_name THEN 'source_name_format' END,
          CASE WHEN NOT ok_acl THEN 'acl_min_items' END,
          CASE WHEN NOT ok_version THEN 'version_type' END
        ], x -> x IS NOT NULL) AS violations
      FROM rules
    )
    SELECT c_custkey,
           len(violations) = 0 AS valid,
           CAST(len(violations) AS INT) AS n_violations,
           coalesce(array_to_string(violations, ','), '') AS violations_csv,
           CASE WHEN len(violations) > 0
                THEN 'Invalid submission: ' || violations[1] END AS error
    FROM folded
    """,
)
