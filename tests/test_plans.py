"""Plan hygiene: the physical plans must have the scale-critical shapes —
filter pushdown to parquet, broadcast of the keyword frame, whole-stage
codegen on scoring, TakeOrderedAndProject for top-k.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.corpus import vocab_word as W
from search_engine_spark.plans.query import search


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_term_filter_pushed_to_parquet(spark, index200, tmp_path):
    # persist blocks to parquet, read back, filter by term: the predicate
    # must reach the scan (PushedFilters), not a post-scan Filter only
    p = str(tmp_path / "blocks")
    index200.blocks.write.parquet(p)
    blk = spark.read.parquet(p).filter(F.col("term") == W(1))
    plan = _plan(blk)
    assert "PushedFilters" in plan
    assert f"EqualTo(term,{W(1)})" in plan or "EqualTo(term" in plan


def test_scan_prunes_columns(spark, index200, tmp_path):
    p = str(tmp_path / "blocks2")
    index200.blocks.write.parquet(p)
    meta = spark.read.parquet(p).select("term", "first_doc_id", "last_doc_id")
    plan = _plan(meta)
    assert "ReadSchema" in plan
    # the heavy blob columns must NOT be read for a metadata projection
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_ids_blob" not in rs and "positions_blob" not in rs


def test_query_broadcasts_keyword_frame(spark, index200):
    df = search(spark, index200, f"{W(1)} {W(2)}", serving="shuffle")
    plan = _plan(df)
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_topk_is_take_ordered(spark, index200):
    df = search(spark, index200, f"{W(1)} {W(2)}", serving="shuffle")
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_shard_serving_has_no_data_shuffle(spark, index200):
    # doc-sharded serving: the shard kernel's per-shard top-k rows are
    # ranked by a TakeOrderedAndProject — no Exchange, posting data and
    # candidate rows never shuffle
    df = search(spark, index200, f"{W(1)} {W(2)}", serving="shard")
    plan = _plan(df)
    # inspect only the serving section (the cached doc_blocks' build lineage
    # below InMemoryTableScan re-lists the index-build exchanges)
    serving_section = plan.split("InMemoryTableScan")[0]
    assert "MapInPandas" in serving_section
    assert serving_section.count("Exchange") == 0
    assert "BroadcastExchange" not in serving_section  # no join at all


def test_no_row_at_a_time_python_in_scoring(spark, index200):
    # AQE hides WholeStageCodegen spans pre-execution; the enforceable
    # hygiene property is: scoring uses only JVM expressions + Arrow-batched
    # exchanges (MapInPandas for decode/kernel) — never BatchEvalPython
    # (row-at-a-time Python UDF).
    for serving in ("shard", "shuffle"):
        df = search(spark, index200, f"{W(1)} {W(2)}", with_prox=False, serving=serving)
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        df2 = search(spark, index200, f"{W(1)} {W(2)}", with_prox=True, serving=serving)
        assert "BatchEvalPython" not in _plan(df2)
