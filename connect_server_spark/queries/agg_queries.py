"""Driver queries for the grouping-sets aggregation surface.

SURVEY §2.4: the reference has no grouping-set queries, but the Spark
engine gets ``rollup``/``cube`` free from Catalyst (one Expand + one
hash aggregate — map-side combined, no extra shuffle versus a plain
groupBy), so the surface is exposed and oracle-gated here.

Value sums use ``floor(value*100)`` integer cents: ``floor`` over the
identical IEEE product is bit-deterministic in both engines, where a
rounded double sum could drift one ulp across aggregation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_server_spark.registry import register
from connect_server_spark.tables import load_table, spread_scan


def _events_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    return e.select(
        "event_type",
        (F.col("user_id") % 10).alias("cohort"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )


_GSET_COLS = ["event_type", "cohort", "g_type", "g_cohort", "n", "sum_cents"]


def _gset_agg(grouped) -> DataFrame:
    return grouped.agg(
        F.grouping("event_type").cast("int").alias("g_type"),
        F.grouping("cohort").cast("int").alias("g_cohort"),
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
    ).select(*_GSET_COLS)


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (event_type, cohort): per-pair, per-type, and grand
    totals with grouping indicators."""
    base = _events_base(spark, sf_dir)
    return _gset_agg(base.rollup("event_type", "cohort"))


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, cohort): all four grouping sets."""
    base = _events_base(spark, sf_dir)
    return _gset_agg(base.cube("event_type", "cohort"))


def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP and CUBE arms tagged and unioned into one gated result.
    Each arm is one Expand + one map-side-combined hash aggregate — no
    extra shuffle versus a plain groupBy — so the fold costs one extra
    pass over the (3-column) projected scan, nothing at the agg layer."""
    rollup = events_rollup(spark, sf_dir).select(
        F.lit("rollup").alias("gset"), *_GSET_COLS
    )
    cube = events_cube(spark, sf_dir).select(
        F.lit("cube").alias("gset"), *_GSET_COLS
    )
    return rollup.unionAll(cube)


# DuckDB sum(BIGINT) widens to HUGEINT — cast back so the driver's value
# hash sees Spark's int64.
_GSET_SQL = """
    SELECT event_type,
           user_id % 10 AS cohort,
           CAST(GROUPING(event_type) AS INT) AS g_type,
           CAST(GROUPING(user_id % 10) AS INT) AS g_cohort,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events
    GROUP BY {clause} (event_type, user_id % 10)
"""

register(
    "events_grouping_sets",
    events_grouping_sets,
    sql=f"""
    SELECT 'rollup' AS gset, * FROM ({_GSET_SQL.format(clause="ROLLUP")})
    UNION ALL
    SELECT 'cube' AS gset, * FROM ({_GSET_SQL.format(clause="CUBE")})
    """,
)


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based corpus telemetry, the monitoring shape a 100 TB
    pipeline actually runs: per source, document counts, HLL++ distinct
    text estimates (`approx_count_distinct` — fixed-size sketch per
    group, merges map-side, hashes its input internally; an exact
    distinct would shuffle every value) and Greenwald-Khanna rank-error
    quantile summaries over document lengths (`percentile_approx` —
    same bounded-sketch property). rsd=0.02 costs a few KB of registers
    per group and keeps small-group relative error sane (the default
    0.05 measured 12% on 25-distinct groups). Rows-only: sketch values
    are engine-specific (DuckDB's HLL differs); 10% (HLL) / 20%
    (quantile) error-vs-exact bounds are pinned in
    ``tests/test_aggs.py``."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.approx_count_distinct("text", 0.02).alias(
                "approx_distinct_texts"
            ),
            F.percentile_approx("n_chars", 0.5).alias("p50_chars"),
            F.percentile_approx("n_chars", 0.95).alias("p95_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


register("corpus_stats", corpus_stats, defer=True)


def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source release DATA CARD: the one-page telemetry a corpus
    release ships with — volume (docs, tokens), composition (English
    share by the n-gram language guesser), quality (mean heuristic
    score, Gopher pass rate), and redundancy (exact-duplicate rate from
    text digests) — composed in ONE scan of the documents table: every
    per-document metric is a scan-stage expression sharing one token
    split, folded by a single per-source aggregation (the digests the
    distinct-count shuffles are 16-byte keys, never text). Oracle-gated
    since the r12 rotation (the same full per-source DuckDB mirror ran
    in ``tests/test_aggs.py`` since r11)."""
    from connect_server_spark.operators.quality import (
        gopher_flags,
        gopher_pass,
    )
    from connect_server_spark.operators.text import (
        language_id,
        quality_score,
        token_count,
        tokens,
    )

    # the per-document metric projection is CPU-dense: spread the
    # one-split local scan (r12, guide §2.5)
    docs = spread_scan(load_table(spark, "documents", sf_dir))
    t = F.col("text")
    toks = F.col("_toks")
    per_doc = docs.select(
        "source", t.alias("text"), tokens(t).alias("_toks")
    ).select(
        "source",
        token_count(t, toks=toks).alias("_nt"),
        language_id(t, toks=toks).alias("_lang"),
        quality_score(t, toks=toks).alias("_q"),
        gopher_pass(gopher_flags(t, toks=toks)).alias("_gok"),
        F.md5(t).alias("_digest"),
    )
    agged = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        F.round(F.avg("_nt"), 6).alias("avg_tokens"),
        F.round(
            F.avg((F.col("_lang") == "en").cast("double")), 6
        ).alias("en_share"),
        F.round(F.avg(F.col("_q").cast("double")), 6).alias("avg_quality_e7"),
        F.round(
            F.avg(F.col("_gok").cast("double")), 6
        ).alias("gopher_pass_rate"),
        F.count_distinct(F.col("_digest")).alias("n_distinct_texts"),
    )
    return agged.select(
        "*",
        F.round(
            1.0 - F.col("n_distinct_texts") / F.col("n_docs"), 6
        ).alias("dup_rate"),
    ).orderBy("source")


def corpus_datacard_oracle_sql() -> str:
    """The full per-source DuckDB recomputation of the data card —
    volume, English share, mean quality, Gopher pass rate, exact-dup
    rate — reusing the language-score SQL fragments the gated
    text_analysis oracle is built from. A FUNCTION (not a constant):
    the fragments live in text_queries, and importing that module at
    agg_queries import time would reorder query registration, so the
    rotation registers the builder itself (``sql=corpus_datacard_oracle_sql``)
    and the registry resolves it lazily. Driver-gated since r12; it ran
    verbatim in ``tests/test_aggs.py`` since r11."""
    from connect_server_spark.operators.text import STOPWORDS
    from connect_server_spark.queries.text_queries import (
        LANG_CASE,
        SCORES,
        sql_list,
    )

    return rf"""
    WITH toks AS (
      SELECT source, text,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w,
             list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                         x -> len(x) > 0) AS ls,
             row_number() OVER () AS rid
      FROM documents
    ),
    grams AS (
      SELECT rid, concat_ws(' ', w[i], w[i + 1]) AS g
      FROM toks, unnest(range(1, len(w))) AS u(i)
      WHERE len(w) >= 2
    ),
    gcnt AS (SELECT rid, g, count(*) AS c FROM grams GROUP BY 1, 2),
    gtop AS (
      SELECT rid, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top2
      FROM gcnt GROUP BY rid
    ),
    m AS (
      SELECT t.source, t.text,
        len(w) AS n_words,
        {SCORES['en']} AS s_en,
        {SCORES['es']} AS s_es,
        {SCORES['de']} AS s_de,
        round(CAST(len(list_filter(w, x -> list_contains({sql_list(STOPWORDS['en'])}, x))) AS DOUBLE)
              / greatest(len(w), 1), 6) AS swr,
        round(list_sum(list_transform(w, x -> CAST(len(x) AS DOUBLE)))
              / greatest(len(w), 1), 6) AS mwl,
        round(CAST(len(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
              / greatest(len(text), 1), 6) AS pr,
        round(CAST(len(text) - len(replace(text, '#', ''))
                   + len(regexp_extract_all(text, '\.\.\.|…', 0)) AS DOUBLE)
              / greatest(len(w), 1), 6) AS symbol_word_ratio,
        round(CAST(len(list_filter(ls, x -> starts_with(x, '- ')
                                        OR starts_with(x, '* ')
                                        OR starts_with(x, '•'))) AS DOUBLE)
              / greatest(len(ls), 1), 6) AS bullet_line_share,
        round(CAST(len(list_filter(ls, x -> ends_with(x, '...')
                                        OR ends_with(x, '…'))) AS DOUBLE)
              / greatest(len(ls), 1), 6) AS ellipsis_line_share,
        round(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
              / greatest(len(w), 1), 6) AS alpha_word_share,
        len(list_intersect(list_distinct(w),
            ['the','be','to','of','and','that','have','with'])) AS stopword_hits,
        round(CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE)
              / greatest(len(ls), 1), 6) AS dup_line_ratio,
        coalesce(g.top2, 0.0) AS top_2gram_share
      FROM toks t LEFT JOIN gtop g ON t.rid = g.rid
    ),
    per_doc AS (
      SELECT source,
        n_words,
        CASE WHEN ({LANG_CASE}) = 'en' THEN 1.0 ELSE 0.0 END AS is_en,
        CAST(round(swr * 1e6, 0) AS BIGINT) * 4
          + CAST(round(least(mwl / 8.0, 1.0) * 1e6, 0) AS BIGINT) * 3
          + CAST(round((1.0 - least(pr * 4.0, 1.0)) * 1e6, 0) AS BIGINT) * 3
          AS quality_e7,
        CASE WHEN (n_words BETWEEN 50 AND 100000)
             AND (mwl BETWEEN 3.0 AND 10.0)
             AND symbol_word_ratio <= 0.1
             AND bullet_line_share <= 0.9
             AND ellipsis_line_share <= 0.3
             AND alpha_word_share >= 0.8
             AND stopword_hits >= 2
             AND dup_line_ratio <= 0.3
             AND top_2gram_share <= 0.2
             THEN 1.0 ELSE 0.0 END AS gopher_ok,
        md5(text) AS digest
      FROM m
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_tokens,
           round(avg(n_words), 6) AS avg_tokens,
           round(avg(is_en), 6) AS en_share,
           round(avg(CAST(quality_e7 AS DOUBLE)), 6) AS avg_quality_e7,
           round(avg(gopher_ok), 6) AS gopher_pass_rate,
           count(DISTINCT digest) AS n_distinct_texts,
           round(1.0 - CAST(count(DISTINCT digest) AS DOUBLE) / count(*), 6)
             AS dup_rate
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """


# Promoted to the driver gate in the r12 rotation. sql is the BUILDER
# FUNCTION itself (registry resolves it lazily in all_oracle_sql):
# calling it here would import text_queries at agg_queries import time
# and reorder query registration mid-load.
register("corpus_datacard", corpus_datacard, sql=corpus_datacard_oracle_sql)
