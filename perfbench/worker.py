"""The Spark side of one benchmark run: ``build`` or ``daemon``.

``run.py`` starts this as its own process with one JSON config argument
and reads the JSON result it writes. Each role drives the engine through
its public entry points, the way its user does:

- build:  ``SearchEngine.build(corpus, with_math=True).save(path)``
          (the traced run drives the same public functions one layer at a
          time, materializing only where ``build_index`` persists);
- daemon: ``searchd.main``: ``SearchEngine.load(...).warm(cache_mb << 20)``
          served by ``searchd.serve``; it builds and saves its index first,
          since the benchmark has no index to start from.

Every index is built from the corpus parquet written by ``run.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from contextlib import nullcontext

from check import Tally
from stats import tree_cpu_s


T0 = time.time()


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def session(app: str):
    from search_engine_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    log(f"session {app} up")
    return spark


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def oracle_answers(spark, idx, queries: list[tuple[str, str]]) -> list:
    """The oracle queries through ``search_many``: per query, its ranked
    (doc_id, score) list."""
    from search_engine_spark.plans import query

    rows = query.search_many(spark, idx, {f"o{i}": q for i, q in enumerate(queries)}).collect()
    got: dict[str, list] = {}
    for r in rows:
        got.setdefault(r["qid"], []).append((int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return [[(d, s) for _, d, s in sorted(got.get(f"o{i}", []))] for i in range(len(queries))]


# --------------------------------------------------------------- build --


def layered_build(spark, tracer, corpus, out: str) -> None:
    """``SearchEngine.build(with_math=True).save`` one layer at a time,
    materializing each layer only where ``build_index`` persists (docs,
    blocks), so the time of each lands in its own span. Doc meta and term
    stats are persisted in their own span, where the untraced build
    computes them inside the save."""
    from search_engine_spark.engine import SearchEngine
    from search_engine_spark.math.index import build_math_index, build_math_lr_index
    from search_engine_spark.operators import blocks as B
    from search_engine_spark.operators.docids import assign_doc_ids
    from search_engine_spark.plans.build import InvertedIndex

    with tracer.span("operators.docids.assign"):
        docs = assign_doc_ids(corpus, "url").select("doc_id", "url", "text").persist()
        docs.count()
    with tracer.span("operators.blocks.invert_pack"):
        blocks = B.invert_pack_blocks(docs, assume_doc_partitioned=True).persist()
        st = B.collection_stats_from_blocks(blocks)
    with tracer.span("plans.build.stats"):
        doc_meta = B.doc_meta_from_blocks(blocks).persist()
        term_stats = B.term_stats_from_blocks(blocks).persist()
        doc_meta.count()
        term_stats.count()
    idx = InvertedIndex(
        postings=B.unpack_blocks(blocks),
        blocks=blocks,
        doc_meta=doc_meta,
        term_stats=term_stats,
        docstore=docs.select("doc_id", "url", "text"),
        docN=st["docN"],
        avgdl=st["avgdl"],
        doc_blocks=blocks,
        len_sum=st["len_sum"],
    )
    text = idx.docstore.select("doc_id", "text")
    eng = SearchEngine(spark, idx, build_math_index(text), build_math_lr_index(text))
    # the math tables are lazy until written: engine.save's self time is
    # the math index build plus its writes
    with tracer.span("engine.save"):
        eng.save(out)


def run_build(cfg: dict, tracer) -> dict:
    from search_engine_spark.engine import SearchEngine
    from search_engine_spark.plans.build import load_index

    spark = session("build-index")
    if tracer is not None:
        from search_engine_spark import engine
        from search_engine_spark.plans import build

        tracer.sc = spark.sparkContext
        tracer.wrap(engine, "save_index", "plans.build.save_index")
        tracer.wrap(build, "write_table", "plans.build.write_table")
    work = cfg["work"]
    res: dict = {"tally": Tally()}
    # the first build of a process also starts the JIT and the Python
    # workers: it ends the set-up, and is not timed
    SearchEngine.build(spark, spark.read.parquet(cfg["corpus"]), with_math=True).save(f"{work}/first")
    spark.catalog.clearCache()
    res["setup_done"] = time.time()
    log("first build done")

    builds, cpu, t_end = [], [], res["setup_done"] + cfg["seconds"]
    while not builds or time.time() < t_end:
        if builds:
            shutil.rmtree(out)
        out = f"{work}/idx{len(builds)}"
        corpus = spark.read.parquet(cfg["corpus"])
        cpu0 = tree_cpu_s(include_self=True)
        t0 = time.time()
        if tracer is None:
            SearchEngine.build(spark, corpus, with_math=True).save(out)
        else:
            with tracer.span("build", n=len(builds)):
                layered_build(spark, tracer, corpus, out)
        builds.append((t0, time.time() - t0))
        cpu.append(tree_cpu_s(include_self=True) - cpu0)
        log(f"build {len(builds)}: {builds[-1][1]:.2f}s")
        spark.catalog.clearCache()
        n = spark.read.parquet(f"{out}/stats").collect()[0]["docN"]
        if n == cfg["n_docs"]:
            res["tally"].ok()
        else:
            res["tally"].bad("wrong", f"build indexed {n} of {cfg['n_docs']} docs")
    res["ops"] = builds
    res["cpu"] = cpu
    res["table_bytes"] = {t: dir_bytes(f"{out}/{t}") for t in sorted(os.listdir(out))}
    # the last build is the one checked against the oracle
    res["oracle_answers"] = oracle_answers(spark, load_index(spark, out).cache(), cfg["oracle_queries"])
    return res


# -------------------------------------------------------------- daemon --


class EngineProxy:
    """What the traced daemon serves: one span, and so one Spark job group,
    per engine call, recording which requests the call answered."""

    def __init__(self, engine, tracer):
        self.engine, self.tracer = engine, tracer

    def query_json_many(self, requests):
        with self.tracer.span("engine.query_json_many", reqs=[[q, p] for q, p, _ in requests]):
            return self.engine.query_json_many(requests)


def wrap_daemon_side(tracer, info: dict, frame_cls) -> None:
    """Spans for the layers under ``query_json_many`` and ``warm``. The two
    collects of ``query_json_many`` (the rank set and the docstore probe)
    get their own spans, told apart by the columns they collect;
    ``frame_cls`` is the session's DataFrame class, whose ``collect`` they
    call."""
    from search_engine_spark import engine
    from search_engine_spark.plans import cache, query, serve, snippet

    tracer.wrap(query, "search_many", "plans.query.search_many")
    tracer.wrap(serve, "resolve_keywords", "plans.serve.resolve_keywords")
    tracer.wrap(serve, "df_lookup", "plans.serve.df_lookup")
    tracer.wrap(serve, "shard_search", "plans.serve.shard_search")
    tracer.wrap(snippet, "render_snippet", "plans.snippet.render_snippet")

    def on_cache(sp, c):
        info["hot_terms"] = sorted(set(c.hot_rows["term"])) if c.hot_rows is not None else []
        info["cache"] = {"n_hot_terms": c.n_hot_terms, "bytes_used": c.bytes_used}

    tracer.wrap(cache, "build_posting_cache", "plans.cache.build_posting_cache", on_cache)
    tracer.wrap(cache, "attach_posting_cache", "plans.cache.attach_posting_cache")
    collect = frame_cls.collect

    def traced_collect(self):
        caller = sys._getframe(1)
        if (caller.f_code.co_name == "query_json_many"
                and caller.f_globals.get("__name__") == engine.__name__):
            name = "plans.serve.collect" if "qid" in self.columns else "engine.docstore_probe"
            with tracer.span(name):
                return collect(self)
        return collect(self)

    frame_cls.collect = traced_collect


def posting_bytes(index) -> int:
    from pyspark.sql import functions as F

    from search_engine_spark.plans.cache import _block_bytes

    return int(index.doc_blocks.agg(F.sum(_block_bytes())).collect()[0][0] or 0)


def run_daemon(cfg: dict, tracer) -> dict:
    from search_engine_spark import searchd
    from search_engine_spark.engine import SearchEngine

    spark = session("searchd")
    info: dict = {}
    if tracer is not None:
        tracer.sc = spark.sparkContext
        wrap_daemon_side(tracer, info, type(spark.range(0)))
    span = tracer.span if tracer is not None else lambda name: nullcontext()
    work = cfg["work"]
    # the timed traffic is term-only, so the index has no math tables
    SearchEngine.build(spark, spark.read.parquet(cfg["corpus"])).save(f"{work}/idx")
    spark.catalog.clearCache()
    log("index built and saved")
    info["table_bytes"] = {t: dir_bytes(f"{work}/idx/{t}") for t in sorted(os.listdir(f"{work}/idx"))}
    budget = cfg["cache_mb"] << 20
    with span("plans.build.load"):
        full = SearchEngine.load(spark, f"{work}/idx")
    with span("engine.warm"):
        full.warm(budget)
    if tracer is not None:
        info["posting_bytes"] = posting_bytes(SearchEngine.load(spark, f"{work}/idx").index)
    server = searchd.serve(EngineProxy(full, tracer) if tracer else full, cfg["port"], block=False)
    log("serving")
    print(json.dumps({"ready": True}), flush=True)
    sys.stdin.readline()  # run.py closes stdin when it is done
    server.shutdown()
    server.server_close()
    return info


def main() -> None:
    from spans import spark_jobs

    cfg = json.loads(sys.argv[1])
    tracer = None
    if cfg["trace"]:
        from spans import Tracer

        tracer = Tracer()
    res = {"build": run_build, "daemon": run_daemon}[cfg["role"]](cfg, tracer)
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    res["versions"] = {
        "pyspark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
    res["jobs"] = spark_jobs(spark.sparkContext)
    if tracer is not None:
        res["spans"] = tracer.spans
    res["tally"] = res.get("tally", Tally()).as_dict()
    with open(cfg["result"], "w") as f:
        json.dump(res, f)
    spark.stop()


if __name__ == "__main__":
    main()
