"""Resumable index build with per-partition lineage (reference I16 / north rule).

The reference restarts ingestion from Indri's persisted docN
(indexer/index.c:25-38) and periodically flushes (index_maintain,
indexer/index.c:188-196). At cluster scale we instead split the corpus into
deterministic input partitions (hash of url), commit each partition's
packed posting blocks (the same fused ``invert_pack_blocks`` stage the
batch build runs, doc-meta sentinel rows included) plus its docstore slice
independently, and record a lineage manifest row per partition:
``(partition_id, status, n_docs, wall_ms, ...)``. A restarted build reads
the manifest, skips committed partitions, and produces a final index
identical to an uninterrupted run. With Iceberg, each partition commit is a
table snapshot; on Parquet we write one subdirectory per partition + a
manifest parquet (append-only), which gives the same idempotency.

Finalizing is log replay, not a second pack (cf. *Delta Lake*, VLDB 2020):
the final block table IS the union of the manifest-listed partitions'
blocks, and every statistic derives from them the way ``build_index``
derives its own.

docIDs are assigned globally BEFORE partitioning (deterministic row_number
over url), so per-partition blocks are disjoint and order-independent —
this is what makes resume identical regardless of which partitions
committed first.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.blocks import DEFAULT_BLOCK, DOC_META_TERM, invert_pack_blocks
from ..operators.docids import assign_doc_ids
from .build import index_from_blocks, read_blocks, write_blocks

MANIFEST = "lineage"


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


def _delta_dir(path: str, pid: int) -> str:
    return os.path.join(path, f"delta_p{pid:04d}")


def committed_partitions(spark: SparkSession, path: str) -> set[int]:
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return set()
    rows = spark.read.parquet(mp).filter(F.col("status") == "done").collect()
    return {int(r["partition_id"]) for r in rows}


def build_partitioned(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    n_parts: int = 8,
    fail_after: int | None = None,
    id_col: str | None = None,
    block: int = DEFAULT_BLOCK,
) -> set[int]:
    """Invert + pack each input partition and commit its blocks with lineage.

    ``fail_after``: test hook — raise after committing that many partitions
    (simulates a mid-build crash for the resume test).
    Returns the set of partitions committed in this invocation.
    """
    if id_col is None:
        docs = assign_doc_ids(corpus, "url")
    else:
        docs = corpus.withColumn("doc_id", F.col(id_col).cast("long"))
    docs = docs.select("doc_id", "url", "text").withColumn(
        "part_id", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
    )
    docs.cache()
    done = committed_partitions(spark, path)
    committed_now: set[int] = set()
    for pid in range(n_parts):
        if pid in done:
            continue
        t0 = time.time()
        part = docs.filter(F.col("part_id") == pid).select("doc_id", "url", "text")
        delta_dir = _delta_dir(path, pid)
        # a filter keeps assign_doc_ids' doc-range partitioning, exactly as
        # in build_index
        write_blocks(
            invert_pack_blocks(part, block=block, assume_doc_partitioned=(id_col is None)),
            os.path.join(delta_dir, "blocks"),
        )
        part.write.mode("overwrite").parquet(os.path.join(delta_dir, "docs"))
        # per-partition build metrics (north rule: lineage + metrics): read
        # them back from the committed block metadata so they describe what
        # landed — the sentinel rows count docs, the posting rows the rest
        sent = F.col("term") == DOC_META_TERM
        m = spark.read.parquet(os.path.join(delta_dir, "blocks")).agg(
            F.sum(F.when(sent, F.col("n"))).alias("nd"),
            F.sum(F.when(~sent, F.col("n"))).alias("np"),
            F.sum(F.when(~sent, F.col("tf_sum"))).alias("nt"),
            F.sum(F.when(~sent, F.octet_length("positions_blob"))).alias("pb"),
        ).collect()[0]
        n_docs = int(m["nd"] or 0)
        wall_ms = int((time.time() - t0) * 1000)
        manifest_row = spark.createDataFrame(
            [(
                pid, "done", n_docs, wall_ms, int(m["np"] or 0), int(m["nt"] or 0),
                int(m["pb"] or 0),
                round(n_docs / max(wall_ms / 1000.0, 1e-3), 1),
            )],
            "partition_id int, status string, n_docs long, wall_ms long, "
            "n_postings long, n_tokens_capped long, positions_bytes long, docs_per_sec double",
        )
        manifest_row.coalesce(1).write.mode("append").parquet(_manifest_path(path))
        committed_now.add(pid)
        if fail_after is not None and len(committed_now) >= fail_after:
            docs.unpersist()
            raise RuntimeError(f"injected failure after {fail_after} partitions")
    docs.unpersist()
    return committed_now


def finalize_index(spark: SparkSession, path: str, n_parts: int = 8):
    """Replay the lineage: union the committed partitions' blocks and
    docstore slices -> final index handle, with no second pack.

    Reads ONLY the manifest's committed partition directories (a wildcard
    glob would silently union stale deltas left at the same path by an
    earlier build with a different n_parts), through the same
    ``_shard``-restoring reader ``load_index`` uses; docN/avgdl, doc_meta
    and term_stats derive from the blocks exactly as in ``build_index``.
    """
    missing = sorted(set(range(n_parts)) - committed_partitions(spark, path))
    if missing:
        raise RuntimeError(f"cannot finalize: partitions missing {missing}")
    deltas = [_delta_dir(path, pid) for pid in range(n_parts)]
    blocks = read_blocks(spark, *[os.path.join(d, "blocks") for d in deltas])
    docstore = spark.read.parquet(*[os.path.join(d, "docs") for d in deltas])
    return index_from_blocks(blocks, docstore)
