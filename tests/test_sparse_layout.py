"""Bucketed layout co-location."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from cqs_spark.catalog import load_table
from cqs_spark.index.layout import (
    bucketed_join_is_exchange_free,
    write_bucketed,
)


def test_bucketed_join_skips_exchanges(spark, sf_dir):
    # Managed tables land in the session warehouse; DROP below removes the files.
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    write_bucketed(orders, "b_orders", "o_custkey", 8)
    write_bucketed(customer, "b_customer", "o_custkey", 8)
    try:
        assert bucketed_join_is_exchange_free(spark, "b_orders", "b_customer", "o_custkey")
        # The same SMJ on raw (unbucketed) frames DOES shuffle.
        raw = orders.hint("merge").join(customer.hint("merge"), "o_custkey")
        plan = raw._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        assert "Exchange hashpartitioning" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_engine_bucketed_layout_end_to_end(spark, tmp_path_factory):
    """layout="bucketed": the four core tables land as same-key
    bucketed metastore tables (co-located joins plan no exchange),
    search works, and incremental refresh keeps the layout.  The tables
    live in the workdir: a stale warehouse directory left under the
    same table names by an earlier session does not collide."""
    from urllib.parse import urlparse

    from cqs_spark.engine import _BUCKET_KEYS, Engine
    from cqs_spark.index.layout import bucketed_join_is_exchange_free

    src = tmp_path_factory.mktemp("bkt_src")
    tree = src / "pkg"
    tree.mkdir()
    (tree / "a.py").write_text(
        "def alpha():\n    '''Alpha feeds beta.'''\n    return 1\n"
    )
    (tree / "b.py").write_text(
        "def beta():\n    '''Beta calls alpha.'''\n    return alpha()\n"
    )
    wd = str(tmp_path_factory.mktemp("bkt_idx"))
    eng = Engine(spark, wd, layout="bucketed")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stale = [os.path.join(warehouse, eng._table_name(t)) for t in _BUCKET_KEYS]
    for d in stale:
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-00000-stale.parquet"), "wb") as fh:
            fh.write(b"stale")
    try:
        eng.index(str(tree))
    finally:
        for d in stale:
            shutil.rmtree(d)
    assert os.path.isdir(os.path.join(wd, "chunks.parquet"))

    hits = eng.search("alpha", k=3, alpha=0.0)
    assert any(r["name"] == "alpha" for r in hits.collect())
    for table, key in (("chunks", "id"), ("postings", "term")):
        name = eng._table_name(table)
        assert bucketed_join_is_exchange_free(spark, name, name, key), table

    # Incremental refresh preserves the bucketed tables.
    (tree / "c.py").write_text("def gamma():\n    '''Gamma.'''\n    return 3\n")
    rep = eng.refresh()
    assert rep["reparsed"] == 1 and rep["deleted"] == 0
    names = [r["name"] for r in eng.search("gamma", k=3, alpha=0.0).collect()]
    assert "gamma" in names
    assert bucketed_join_is_exchange_free(
        spark, eng._table_name("chunks"), eng._table_name("chunks"), "id"
    )
