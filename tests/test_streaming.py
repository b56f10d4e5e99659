"""Structured Streaming: incremental ingest produces the same postings as
an independent pure-Python inversion; watermarked window agg matches the
batch equivalent."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from search_engine_spark.functions.tokenizer import tokenize_text
from search_engine_spark.operators.blocks import unpack_blocks
from search_engine_spark.streaming.ingest import stream_index_build, windowed_event_counts


def test_stream_build_matches_batch(spark, corpus200, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus200.write.parquet(inp)

    stream_index_build(spark, inp, out, ckpt)
    got = unpack_blocks(spark.read.parquet(f"{out}/blocks"))
    a = sorted((r["doc_id"], r["term"], r["tf"]) for r in got.select("doc_id", "term", "tf").collect())

    # oracle: the reference tokenizer counted per doc, tf capped at 2048,
    # under the streaming docIDs (xxhash64 of the url)
    docs = corpus200.select(F.xxhash64("url").alias("doc_id"), "text").collect()
    b = sorted(
        (r["doc_id"], term, min(tf, 2048))
        for r in docs
        for term, tf in Counter(tokenize_text(r["text"])).items()
    )
    assert a == b

    # restart with the same checkpoint: no reprocessing, no duplicate rows
    stream_index_build(spark, inp, out, ckpt)
    assert unpack_blocks(spark.read.parquet(f"{out}/blocks")).count() == len(a)
    assert spark.read.parquet(f"{out}/docs").count() == len(docs)


def test_windowed_event_counts_matches_batch(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    inp = str(tmp_path / "ev")
    ev.write.parquet(inp)
    stream = spark.readStream.schema(ev.schema).parquet(inp)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in spark.sql("select * from winagg").collect()
    }
    exp_df = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    exp = {(r["w"]["start"], r["event_type"]): (r["n"], round(r["s"], 6)) for r in exp_df}
    # availableNow emits only windows the watermark closed; every emitted
    # window must match batch, and most windows must have been emitted
    assert got
    for k, v in got.items():
        assert exp[k] == v
    assert len(got) >= len(exp) - 3  # trailing windows may stay open


def test_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions == batch
    gap-split sessions (minus each user's final, still-open session)."""
    import pandas as pd

    from search_engine_spark.streaming.ingest import sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    inp = str(tmp_path / "sess")
    ev.write.parquet(inp)
    stream = spark.readStream.schema(ev.schema).parquet(inp)
    q = (
        sessionize(stream, gap="6 hours", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): (r["n_events"], round(r["sum_value"], 6))
        for r in spark.sql("select * from sess").collect()
    }

    pdf = ev.select("user_id", "ts", "value").toPandas()
    gap = pd.Timedelta("6 hours")
    final_watermark = pdf["ts"].max() - pd.Timedelta("1 hour")
    exp = {}
    for uid, grp in pdf.groupby("user_id"):
        grp = grp.sort_values("ts")
        sessions = []
        cur = None
        for ts, v in zip(grp["ts"], grp["value"]):
            if cur is None or ts - cur["end"] > gap:
                if cur is not None:
                    sessions.append(cur)
                cur = {"start": ts, "end": ts, "n": 0, "s": 0.0}
            cur["end"] = max(cur["end"], ts)
            cur["n"] += 1
            cur["s"] += float(v)
        # the final session is emitted too IF the event-time timeout fired
        # (final watermark passed its end + gap); otherwise it stays open
        if cur is not None and final_watermark > cur["end"] + gap:
            sessions.append(cur)
        for c in sessions:
            exp[(uid, c["start"], c["end"])] = (c["n"], round(c["s"], 6))
    assert got, "no sessions emitted"
    assert got == exp
