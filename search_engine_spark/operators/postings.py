"""Skew-safe per-term aggregation over token rows (reference I10 scale note).

The explicit two-phase salted per-term aggregation the north rule asks for
when per-term state does not combine map-side: at 10^12 docs a stopword's
rows must never concentrate on one reducer. (The index's own posting
lists and statistics derive from the packed blocks, operators/blocks.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def term_stats_salted(tokens: DataFrame, n_salts: int = 32) -> DataFrame:
    """Explicit two-phase salted per-term aggregation (north-rule pattern).

    Phase 1 groups by (term, salt) where salt spreads a hot term's rows over
    ``n_salts`` reducers; phase 2 merges the partials per term. For a
    combinable count Spark's partial aggregation achieves the same thing —
    this is the explicit form used for state that does NOT combine map-side
    (and as the documented skew strategy at 10^12-doc scale).
    """
    salted = tokens.withColumn("_salt", F.pmod(F.col("doc_id"), F.lit(n_salts)))
    partial = salted.groupBy("term", "_salt").agg(
        F.count(F.lit(1)).alias("_cf"),
        F.countDistinct("doc_id").alias("_df"),
    )
    return partial.groupBy("term").agg(
        F.sum("_df").alias("df"),  # doc_id partitions are disjoint across salts
        F.sum("_cf").alias("cf"),
    )
