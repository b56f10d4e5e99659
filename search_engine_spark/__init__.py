"""search_engine_spark — a PySpark-native inverted-index build + BM25 query engine.

A from-scratch rebuild of the query/data-processing capabilities of
approach0/search-engine (reference at /root/reference, C/C++) re-expressed
Spark-first: DataFrames + Catalyst end-to-end, vectorized Arrow/pandas UDFs only
where Spark lacks the primitive (tokenization, posting-block codec, proximity,
snippets), explicit skew handling for web-scale (10^12-doc) term distributions.

Layout
------
- ``session``            SparkSession builder tuned for the engine
- ``corpus``             deterministic Common-Crawl-style corpus synthesis + adapters
- ``functions.tokenizer``  Flex-parity tokenizer (reference txt-seg/lexer.eng.l)
- ``functions.codec``      delta + varbyte posting codec (reference codec/for.c role)
- ``operators.blocks``     the one inverter: corpus -> packed posting blocks with
                           block-max metadata + doc-meta rows (mem-index role),
                           and the stats / decode over those blocks
- ``operators.postings``   salted two-phase per-term aggregation (skew pattern)
- ``plans.build``          end-to-end index build, save / load / merge (indexer/ role)
- ``plans.query``          BM25 top-k query engine w/ WAND pruning (search/ role)
- ``plans.checkpoint``     per-partition lineage + resumable build (same inverter)
- ``streaming.ingest``     micro-batch ingest through the same inverter
- ``operators.dedup``      exact / minhash-LSH / simhash / ngram-jaccard / embedding dedup
- ``operators.similarity`` brute-force + LSH-bucketed ANN over embeddings
- ``operators.textstats``  language-ID, quality scoring, token counts, fingerprints
- ``oracle``               independent pandas reference scorer (golden tests)
"""

__version__ = "0.1.0"
