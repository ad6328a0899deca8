"""Order-insensitive output digests, computed by one Spark aggregate.

A digest is ``{"rows": n, "hash": "<sum>:<xor>"}`` over the rows of a
DataFrame: each row is normalised (columns sorted by name, floating-point
values rounded to 9 significant digits the way ``tests/oracle.py``
``_norm_cell`` does, timestamps as epoch microseconds) and hashed with
``xxhash64``; the row hashes are combined with a decimal sum and a xor, so
row order never matters and duplicate rows still count. Hashing every
column makes Spark compute every column, which a ``count()`` would prune.

The same function digests a DuckDB mirror's result once it is loaded into
Spark with the query's schema (:func:`duckdb_digest`), so the expected
digest of a mirrored query is computed by an independent engine and
compared through identical normalisation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_U64 = (1 << 64) - 1


def _norm(col: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        x = col.cast("double")
        # + 0.0 folds -0.0 into 0.0; %.8e keeps 9 significant digits
        return F.when(F.isnan(x), F.lit("NaN")).otherwise(
            F.format_string("%.8e", x + F.lit(0.0))
        )
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda e: _norm(e, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(
            *[_norm(col.getField(f.name), f.dataType).alias(f.name)
              for f in dtype.fields]
        )
    if isinstance(dtype, T.MapType):
        return F.transform_values(
            col, lambda _k, v: _norm(v, dtype.valueType)
        )
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(col)
    if isinstance(dtype, (T.TimestampNTZType, T.DateType, T.DecimalType)):
        return col.cast("string")
    return col


def digest_frame(df: DataFrame) -> DataFrame:
    """One-row aggregate of ``df``: row count, decimal sum and xor of the
    normalised row hashes. Collecting it is the consuming action."""
    cols = sorted(df.columns)
    refs = [F.col(f"`{c}`") for c in cols]
    # xxhash64 skips nulls, so a bitmask of the null columns joins the hash
    nulls = sum(r.isNull().cast("long") * (1 << i) for i, r in enumerate(refs))
    row = F.xxhash64(
        *[_norm(r, df.schema[c].dataType) for r, c in zip(refs, cols)],
        nulls,
    )
    return df.select(row.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.bit_xor("h").alias("x"),
    )


def read_digest(rows) -> dict:
    (out,) = rows
    s = int(out["s"] or 0)
    x = int(out["x"] or 0) & _U64
    return {"rows": int(out["n"]), "hash": f"{s}:{x:016x}"}


def digest(df: DataFrame) -> dict:
    """Row count and order-insensitive hash of ``df`` (one Spark job)."""
    return read_digest(digest_frame(df).collect())


def duckdb_digest(
    spark: SparkSession, sql: str, sf_dir: str, schema: T.StructType,
    tables: list[str],
) -> dict:
    """Digest of a DuckDB mirror's result, cast to the Spark query's
    ``schema`` column by column (matched by name) before digesting."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM"
                f" read_parquet('{sf_dir}/{t}.parquet')"
            )
        table = con.execute(sql).fetch_arrow_table()
    finally:
        con.close()
    got = sorted(table.column_names)
    want = sorted(f.name for f in schema.fields)
    if got != want:
        raise ValueError(f"mirror columns {got} != query columns {want}")
    if table.num_rows == 0:
        df = spark.createDataFrame([], schema)
    else:
        df = spark.createDataFrame(table)
    df = df.select(
        *[F.col(f"`{f.name}`").cast(f.dataType).alias(f.name)
          for f in schema.fields]
    )
    return digest(df)
