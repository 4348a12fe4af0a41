"""Physical table layout: bucketing for co-located joins.

The reference's analogue is its composite covering indexes
(src/schema.sql:104-126, ~50× on the staleness scan).  On Spark the
equivalent lever is:

  bucketed tables      pre-shuffled on the join key → joins between
                       tables bucketed on the same key skip BOTH
                       exchanges (and the sort, when sorted)

At 100 TB, bucketing the chunks and postings tables by their join keys
(id / term) turns every retrieval-time join into a zipped local join.
Bucketing requires a metastore table (saveAsTable), not a bare path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    n_buckets: int = 32,
    sort_by: str | None = None,
    path: str | None = None,
) -> None:
    """Save as a bucketed (optionally sort-merged) metastore table.
    With ``path`` the table is external, its files at ``path`` instead
    of under the session's warehouse directory."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_by)
    if sort_by:
        w = w.sortBy(sort_by)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def bucketed_join_is_exchange_free(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> bool:
    """True when a sort-merge join of two same-bucketed tables plans no
    shuffle Exchange — the co-location check (tests + deployment
    validation).  The merge hint pins SMJ: on toy-sized tables the
    planner would otherwise pick broadcast (which sidesteps bucketing
    entirely and proves nothing about co-location).
    """
    j = (
        spark.table(left_table)
        .hint("merge")
        .join(spark.table(right_table).hint("merge"), key)
    )
    plan = j._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    return "Exchange hashpartitioning" not in plan and "SortMergeJoin" in plan
