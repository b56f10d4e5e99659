"""Per-layer metrics of a traced run, from its spans and Spark jobs.

Each metric belongs to one of the repo's modules (its name says which) and
is written as a per-call figure: per daemon engine call (``serve``) or per
index build (``build``), over the timed phase only. Layers a workload does
not run read 0. BENCHMARK.json lists every metric with its unit.
"""

from __future__ import annotations

from spans import Trace
from stats import median

BUILD_TABLES = ("blocks", "doc_blocks", "docstore", "doc_meta", "term_stats")
SELF_LAYERS = (
    "bench", "engine", "plans.query", "plans.serve", "plans.snippet", "math",
    "operators.docids", "operators.blocks", "plans.build", "plans.cache",
)


def layer_of(span_name: str) -> str:
    """The module a span's self time is charged to. ``engine.save`` holds
    the math tables' build and writes (its index tables are the child
    ``plans.build.save_index`` span); the root spans of the benchmark loop
    are the benchmark's own glue."""
    if span_name == "build":
        return "bench"
    if span_name == "engine.save":
        return "math"
    for layer in sorted(SELF_LAYERS, key=len, reverse=True):
        if span_name.startswith(layer + "."):
            return layer
    return "bench"


def _self_per_root(tr: Trace, roots: list[dict]) -> dict[str, float]:
    out = dict.fromkeys(SELF_LAYERS, 0.0)
    for root in roots:
        for s in tr.subtree(root):
            out[layer_of(s["name"])] += tr.self_s[s["id"]]
    return {f"self_ms.{k}": 1000.0 * v / max(len(roots), 1) for k, v in out.items()}


def _job_sums(jobs: list[dict]) -> dict[str, float]:
    return {k: float(sum(j[k] for j in jobs)) for k in ("stages", "tasks", "run_ms", "cpu_ms", "shuffle_bytes")}


def _spark_per_op(tr: Trace, roots: list[dict], n_ops: int) -> dict[str, float]:
    """Jobs per op, and shuffle bytes and executor time per root span, of
    the jobs under ``roots``."""
    jobs = tr.jobs(roots)
    sums = _job_sums(jobs)
    n = max(len(roots), 1)
    return {
        "spark.jobs_per_request": len(jobs) / max(n_ops, 1),
        "spark.shuffle_bytes": sums["shuffle_bytes"] / n,
        "spark.exec_run_s": sums["run_ms"] / 1000 / n,
        "spark.exec_cpu_s": sums["cpu_ms"] / 1000 / n,
    }


def _per_call(tr: Trace, roots: list[dict], name: str) -> list[tuple[float, list]]:
    """Per root: (summed duration of its ``name`` spans, their jobs)."""
    out = []
    for r in roots:
        sp = tr.under(r, name)
        out.append((sum(Trace.dur(s) for s in sp), tr.jobs(sp)))
    return out


def build_layers(tr: Trace, table_bytes: dict) -> dict[str, float]:
    roots = [s for s in tr.spans if s["name"] == "build"]
    per = {
        "operators.docids.assign_s": "operators.docids.assign",
        "operators.blocks.invert_pack_s": "operators.blocks.invert_pack",
        "plans.build.stats_s": "plans.build.stats",
        "plans.build.save_s": "plans.build.save_index",
    }
    m = {k: median([sum(Trace.dur(s) for s in tr.under(r, name)) for r in roots]) for k, name in per.items()}
    saves = [s for r in roots for s in tr.under(r, "engine.save")]
    m["math.index_s"] = median([tr.self_s[s["id"]] for s in saves])
    for t in BUILD_TABLES:
        m[f"plans.build.bytes.{t}"] = float(table_bytes.get(t, 0))
    m["math.bytes"] = float(table_bytes.get("math_postings", 0) + table_bytes.get("math_lr", 0))
    m.update(_spark_per_op(tr, roots, len(roots)))
    m.update(_self_per_root(tr, roots))
    return m


def serve_layers(tr: Trace, info: dict, log: list[dict], window: tuple[float, float]) -> dict[str, float]:
    """Per daemon engine call in the timed ``window``. ``log``: the client's
    timed requests {t_send, t_recv, qtext, page, terms}."""
    roots = tr.named("engine.query_json_many", *window)
    n = max(len(roots), 1)
    m: dict[str, float] = {}
    resolve = _per_call(tr, roots, "plans.serve.resolve_keywords")
    m["plans.serve.resolve_ms"] = 1000 * median([d for d, _ in resolve])
    m["plans.serve.df_jobs"] = sum(len(j) for _, j in _per_call(tr, roots, "plans.serve.df_lookup")) / n
    many = _per_call(tr, roots, "plans.query.search_many")
    m["plans.serve.plan_ms"] = 1000 * median([a - b for (a, _), (b, _) in zip(many, resolve)])
    collect = _per_call(tr, roots, "plans.serve.collect")
    m["plans.serve.collect_ms"] = 1000 * median([d for d, _ in collect])
    sums = _job_sums([j for _, js in collect for j in js])
    m["plans.serve.jobs"] = sum(len(js) for _, js in collect) / n
    m["plans.serve.stages"] = sums["stages"] / n
    m["plans.serve.tasks"] = sums["tasks"] / n
    m["plans.serve.exec_run_ms"] = sums["run_ms"] / n
    m["plans.serve.exec_cpu_ms"] = sums["cpu_ms"] / n
    m["plans.serve.shuffle_bytes"] = sums["shuffle_bytes"] / n
    probe = _per_call(tr, roots, "engine.docstore_probe")
    m["engine.docstore_probe_ms"] = 1000 * median([d for d, _ in probe])
    m["engine.docstore_exec_cpu_ms"] = _job_sums([j for _, js in probe for j in js])["cpu_ms"] / n
    render = [tr.under(r, "plans.snippet.render_snippet") for r in roots]
    m["plans.snippet.render_ms"] = 1000 * median([sum(Trace.dur(s) for s in sp) for sp in render])
    m["plans.snippet.calls"] = sum(len(sp) for sp in render) / n
    m.update(_spark_per_op(tr, roots, len(log)))
    m.update(_self_per_root(tr, roots))
    m["engine.call_ms_p50"] = 1000 * median([Trace.dur(r) for r in roots])
    m["engine.self_ms"] = 1000 * median([tr.self_s[r["id"]] for r in roots])
    m["searchd.batch_size_mean"] = sum(len(r["attrs"]["reqs"]) for r in roots) / n
    m["searchd.wait_ms_p50"] = median(searchd_waits(roots, log))
    m["plans.build.load_s"] = sum(Trace.dur(s) for s in tr.named("plans.build.load"))
    m["plans.cache.build_s"] = sum(
        Trace.dur(s)
        for name in ("plans.cache.build_posting_cache", "plans.cache.attach_posting_cache")
        for s in tr.named(name)
    )
    cache = info.get("cache", {})
    m["plans.cache.hot_terms"] = float(cache.get("n_hot_terms", 0))
    m["plans.cache.bytes_used"] = float(cache.get("bytes_used", 0))
    m["plans.cache.posting_bytes"] = float(info.get("posting_bytes", 0))
    hot = set(info.get("hot_terms", []))
    terms = [t for r in log for t in r["terms"]]
    m["plans.cache.term_hit_share"] = sum(t in hot for t in terms) / max(len(terms), 1)
    return m


def searchd_waits(calls: list[dict], log: list[dict]) -> list[float]:
    """Per request: client round-trip minus the engine call that answered
    it (the call within the request's flight that carried its query), ms."""
    out = []
    for r in log:
        key = [r["qtext"], r["page"]]
        for c in calls:
            if r["t_send"] <= c["t0"] and c["t1"] <= r["t_recv"] and key in c["attrs"]["reqs"]:
                out.append(1000 * ((r["t_recv"] - r["t_send"]) - Trace.dur(c)))
                break
    return out
