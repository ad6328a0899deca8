"""Driver queries for the validator aggregations (SURVEY §2: A4, A5, A6,
A7) with DuckDB oracle twins. Records are synthesized from ``lineitem``
(one record per line, ``files`` arrays built from numeric columns);
datasets are ``orders``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_server_spark.operators.validator import (
    dataset_total_size,
    derive_elements,
    distinct_submitters,
    feedstock,
)
from connect_server_spark.queries._mdf_tables import STATUS_SQL, status_table
from connect_server_spark.registry import register
from connect_server_spark.tables import load_table

_COMPOSITIONS = ["FFO2", "SiO2", "Al2O3", "H2O", "NaCl", "CuZn2Al", "C6H12O6"]


def validator_dataset_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-dataset total of files[].length through the array-aggregate
    path (each record carries two file entries)."""
    li = load_table(spark, "lineitem", sf_dir)
    records = li.select(
        F.col("l_orderkey"),
        F.array(
            F.struct(F.col("l_quantity").cast("long").alias("length")),
            F.struct((F.col("l_linenumber") * 100).cast("long").alias("length")),
        ).alias("files"),
    )
    return dataset_total_size(records, "l_orderkey", "files")


# r11 fifth rotation: demoted (frozen green since r1); oracle preserved
# verbatim in tests/test_entry_oracle.py.
VALIDATOR_DATASET_SIZE_ORACLE_SQL = """
    SELECT l_orderkey,
           -- DuckDB sum(BIGINT) yields HUGEINT; cast back so the driver's
           -- value hash sees the same int64 Spark produces
           CAST(sum(CAST(l_quantity AS BIGINT) + CAST(l_linenumber AS BIGINT) * 100)
                AS BIGINT) AS total_size
    FROM lineitem
    GROUP BY l_orderkey
    """

register("validator_dataset_size", validator_dataset_size, defer=True)


def validator_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: composition → sorted distinct element symbols (as CSV)."""
    part = load_table(spark, "part", sf_dir)
    comp_arr = F.array(*[F.lit(c) for c in _COMPOSITIONS])
    comp = F.element_at(comp_arr, (F.col("p_partkey") % len(_COMPOSITIONS) + 1).cast("int"))
    return part.select(
        F.col("p_partkey"),
        comp.alias("composition"),
        F.array_join(derive_elements(comp), ",").alias("elements_csv"),
    )


_COMP_SQL = (
    "["
    + ", ".join(f"'{c}'" for c in _COMPOSITIONS)
    + f"][CAST(p_partkey % {len(_COMPOSITIONS)} + 1 AS INT)]"
)

# r11 fifth rotation (second tranche): demoted (frozen green since r1);
# oracle preserved verbatim in tests/test_entry_oracle.py.
VALIDATOR_ELEMENTS_ORACLE_SQL = f"""
    SELECT p_partkey,
           {_COMP_SQL} AS composition,
           array_to_string(
             list_sort(list_distinct(
               regexp_extract_all({_COMP_SQL}, '([A-Z][a-z]?)', 1))),
             ',') AS elements_csv
    FROM part
    """

register("validator_elements", validator_elements, defer=True)


def validator_feedstock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: feedstock stream — dataset header (scroll_id 0) + records with
    contiguous scroll_ids ordered by line number."""
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey")
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("o_orderkey"), F.col("l_linenumber")
    )
    return feedstock(orders, li, "o_orderkey", "l_linenumber")


register(
    "validator_feedstock",
    validator_feedstock,
    sql="""
    SELECT o_orderkey, 0 AS scroll_id, 'dataset' AS resource_type,
           CAST(NULL AS BIGINT) AS record_ref
    FROM orders
    UNION ALL
    SELECT l_orderkey AS o_orderkey,
           CAST(row_number() OVER (
             PARTITION BY l_orderkey ORDER BY l_linenumber ASC) AS INT)
             AS scroll_id,
           'record' AS resource_type,
           CAST(l_linenumber AS BIGINT) AS record_ref
    FROM lineitem
    """,
)


def _submitter_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return status_table(spark, sf_dir).select(
        "source_id", F.col("owner").alias("submitter")
    )


def validator_submitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: sorted distinct submitters per source_id."""
    return distinct_submitters(
        _submitter_rows(spark, sf_dir), "source_id", "submitter"
    )


def validator_submitters_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 under skew: the SAME distinct-submitters answer computed through
    the two-stage salted aggregation (``storage.salted_collect_set``) —
    gated against the identical oracle as the unsalted query, proving the
    shard-merge is lossless. The skew story: a hot source_id spreads over
    16 reducers in stage 1; stage 2 merges 16 small sets per key."""
    from connect_server_spark.storage import salted_collect_set

    salted = salted_collect_set(
        _submitter_rows(spark, sf_dir), "source_id", "submitter", salt=16
    )
    return salted.select(
        "source_id",
        F.array_join("submitter_set", ",").alias("submitters_csv"),
        F.size("submitter_set").cast("int").alias("n_submitters"),
    )


def validator_submitters_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4, both execution strategies in one gated result: the one-stage
    collect_set (``direct``) and the two-stage salted aggregation
    (``salted``), tagged and unioned. The oracle emits each answer twice,
    so a divergence between the strategies — a lossy shard merge, a
    dropped submitter — hash-fails even though each arm alone looks
    plausible."""
    direct = validator_submitters(spark, sf_dir).select(
        F.lit("direct").alias("variant"), "*"
    )
    salted = validator_submitters_salted(spark, sf_dir).select(
        F.lit("salted").alias("variant"), "*"
    )
    return direct.unionAll(salted)


_SUBMITTERS_SQL = f"""
    SELECT source_id,
           array_to_string(list_sort(list_distinct(list(owner))), ',')
             AS submitters_csv,
           CAST(count(DISTINCT owner) AS INT) AS n_submitters
    FROM ({STATUS_SQL})
    GROUP BY 1
"""

register(
    "validator_submitters",
    validator_submitters_both,
    sql=f"""
    SELECT 'direct' AS variant, * FROM ({_SUBMITTERS_SQL})
    UNION ALL
    SELECT 'salted' AS variant, * FROM ({_SUBMITTERS_SQL})
    """,
)
