#!/usr/bin/env python
"""spark-submit entry point: build the inverted index.

Usage (cluster):
  spark-submit --py-files search_engine_spark.zip scripts/build_index.py \
      --input <corpus parquet/iceberg> --output <index dir/table prefix> \
      [--synthetic N] [--block 512] [--partitions 8] [--resumable]

Local smoke:
  python scripts/build_index.py --synthetic 5000 --output /tmp/idx

With --resumable the build runs through the per-partition lineage
checkpoint path (plans/checkpoint.py): each input partition commits
independently and a restart skips committed partitions.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from search_engine_spark.corpus import CORPUS_SCHEMA, synth_corpus  # noqa: E402
from search_engine_spark.plans.build import build_index, save_index  # noqa: E402
from search_engine_spark.plans.checkpoint import build_partitioned, finalize_index  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="corpus parquet path (url, warc_ts, html, text, lang)")
    ap.add_argument("--synthetic", type=int, help="generate N synthetic docs instead")
    ap.add_argument("--output", required=True)
    ap.add_argument("--block", type=int, default=512)
    ap.add_argument("--partitions", type=int, default=8)
    ap.add_argument("--resumable", action="store_true")
    args = ap.parse_args()

    spark = get_spark("build-index")
    if args.synthetic:
        corpus = synth_corpus(spark, args.synthetic)
    elif args.input:
        corpus = spark.read.schema(CORPUS_SCHEMA).parquet(args.input)
    else:
        ap.error("need --input or --synthetic")

    t0 = time.time()
    if args.resumable:
        build_partitioned(spark, corpus, args.output, n_parts=args.partitions, block=args.block)
        idx = finalize_index(spark, args.output, n_parts=args.partitions)
        save_index(idx, f"{args.output}/final")
    else:
        idx = build_index(spark, corpus, block=args.block)
        save_index(idx, args.output)
    wall = time.time() - t0
    print(json.dumps({"docN": idx.docN, "avgdl": round(idx.avgdl, 3), "wall_sec": round(wall, 2),
                      "docs_per_sec": round(idx.docN / wall, 1)}))


if __name__ == "__main__":
    main()
