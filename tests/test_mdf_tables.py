"""The MDF Connect fixture mapping has one definition per engine, in
``queries/_mdf_tables.py``, and that definition gives hand-written rows
on both engines."""

import ast
import pathlib
import re

import duckdb
from pyspark.sql import types as T

import connect_server_spark.queries as queries_pkg
from connect_server_spark.operators.versioning import latest_per_key
from connect_server_spark.queries._mdf_tables import (
    LATEST_SQL,
    STATUS_SQL,
    SUBMISSION_KEYS_SQL,
    status_table,
    submission_keys,
)

QUERIES = pathlib.Path(queries_pkg.__file__).parent
_COPIES = re.compile(r"997|^\s*_?KEY_MOD\s*=|o_orderkey\W*%\s*17", re.M)


def _private_imports(tree: ast.AST) -> list[str]:
    return [
        f"{node.module}.{alias.name}"
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").startswith("connect_server_spark.queries.")
        for alias in node.names
        if alias.name.startswith("_")
    ]


def test_mapping_is_defined_once():
    found = {}
    for path in sorted(QUERIES.glob("*.py")):
        if path.name == "_mdf_tables.py":
            continue
        text = path.read_text()
        hits = [m.group(0).strip() for m in _COPIES.finditer(text)]
        hits += _private_imports(ast.parse(text))
        if hits:
            found[path.name] = hits
    assert not found


# Two orders of o_custkey 1000 carry versions 1.2 (o_orderkey 36) and
# 1.13 (o_orderkey 30): a string order picks 1.2, the numeric order
# 1.13. Orders 1 and 52 tie on 2.1 under src_5; o_orderkey breaks it.
_ORDERS = [(30, 1000), (36, 1000), (1, 5), (52, 1002)]
_CUSTOMERS = [3, 1000, 7]
_STATUS = {  # o_orderkey -> (source_id, version, owner)
    30: ("src_3", "1.13", "u8"),
    36: ("src_3", "1.2", "u8"),
    1: ("src_5", "2.1", "u5"),
    52: ("src_5", "2.1", "u10"),
}
_LATEST = {"src_3": (30, "1.13"), "src_5": (52, "2.1")}
_KEYS = {(3, "src_3"), (1000, "src_3"), (7, "src_7")}


def test_mapping_gives_hand_written_rows(spark, tmp_path):
    long = T.LongType()
    orders = T.StructType(
        [T.StructField("o_orderkey", long), T.StructField("o_custkey", long)]
    )
    spark.createDataFrame(_ORDERS, orders).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    spark.createDataFrame(
        [(k,) for k in _CUSTOMERS],
        T.StructType([T.StructField("c_custkey", long)]),
    ).write.parquet(str(tmp_path / "customer.parquet"))

    status = status_table(spark, str(tmp_path))
    latest = latest_per_key(
        status, "source_id", "version", ["o_orderkey"], ["o_orderkey"]
    )
    spark_rows = (
        {r.o_orderkey: (r.source_id, r.version, r.owner) for r in status.collect()},
        {r.source_id: (r.o_orderkey, r.version) for r in latest.collect()},
        {tuple(r) for r in submission_keys(spark, str(tmp_path)).collect()},
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders AS SELECT CAST(k AS BIGINT) AS o_orderkey,"
        " CAST(c AS BIGINT) AS o_custkey FROM (VALUES "
        + ", ".join(f"({k}, {c})" for k, c in _ORDERS)
        + ") t(k, c)"
    )
    con.execute(
        "CREATE TABLE customer AS SELECT CAST(c AS BIGINT) AS c_custkey"
        " FROM (VALUES " + ", ".join(f"({c})" for c in _CUSTOMERS) + ") t(c)"
    )
    duck_rows = (
        {
            k: (s, v, o)
            for s, v, o, k in con.execute(
                f"SELECT source_id, version, owner, o_orderkey FROM ({STATUS_SQL})"
            ).fetchall()
        },
        {
            s: (k, v)
            for s, v, k in con.execute(
                f"SELECT source_id, version, o_orderkey FROM ({LATEST_SQL})"
            ).fetchall()
        },
        set(con.execute(SUBMISSION_KEYS_SQL).fetchall()),
    )

    assert spark_rows == duck_rows == (_STATUS, _LATEST, _KEYS)
