"""HTTP daemon surface: reference request JSON in, reference hit JSON out
(searchd/config.h ports/URI, searchd/utils.c parse_json_qry shape)."""

from __future__ import annotations

import json
import time
import urllib.request

import pytest

from search_engine_spark.corpus import synth_corpus, vocab_word
from search_engine_spark.engine import SearchEngine
from search_engine_spark.searchd import keywords_to_qtext, serve


@pytest.fixture(scope="module")
def engine(spark):
    return SearchEngine.build(spark, synth_corpus(spark, 200).cache())


@pytest.fixture(scope="module")
def daemon(engine):
    srv = serve(engine, port=18921, block=False)
    yield "http://127.0.0.1:18921/search"
    srv.shutdown()


def _post(url: str, payload: dict) -> dict:
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        return json.loads(resp.read())


def test_search_hits_shape(daemon):
    out = _post(daemon, {
        "page": 1,
        "kw": [{"type": "term", "str": f"{vocab_word(1)} {vocab_word(2)}"}],
    })
    assert out["ret_code"] == 0 and out["ret_str"] == "Successful"
    assert out["tot_pages"] >= 1 and len(out["hits"]) == 10
    hit = out["hits"][0]
    assert set(hit) == {"docid", "score", "title", "url", "snippet"}
    assert '<em class="hl">' in hit["snippet"]  # searchd/config.h:7 highlight tag


def test_pagination_pages_differ(daemon):
    q = {"kw": [{"type": "term", "str": vocab_word(1)}]}
    p1 = _post(daemon, {**q, "page": 1})
    p2 = _post(daemon, {**q, "page": 2})
    assert p1["tot_pages"] == p2["tot_pages"] >= 2
    assert [h["docid"] for h in p1["hits"]] != [h["docid"] for h in p2["hits"]]


def test_empty_and_malformed_queries(daemon):
    # reference return-code enum (searchd/utils.h:9-24): 1 = empty query,
    # 2 = invalid JSON, 4 = illegal page, 6/7 = too many math/term keywords
    assert _post(daemon, {"page": 1, "kw": []})["ret_code"] == 1
    # page 0 = parse_json_qry failure -> BAD_JSON, like the reference
    # (searchd/run/searchd.c:48-52; parse_json_qry returns 0 on bad page)
    assert _post(daemon, {"kw": [{"type": "term", "str": "x"}]})["ret_code"] == 2
    assert _post(daemon, {"page": 1})["ret_code"] == 1
    assert _post(daemon, {"page": 1, "kw": [{"type": "nope", "str": "x"}]})["ret_code"] == 2
    # letter-only words (digits tokenize away) so 21 DISTINCT terms survive
    too_many = [{"type": "term", "str": "qq" + chr(ord("a") + i)} for i in range(21)]
    assert _post(daemon, {"page": 1, "kw": too_many})["ret_code"] == 7
    out = _post(daemon, {"page": 999, "kw": [{"type": "term", "str": "waaaa"}]})
    assert out["ret_code"] == 4  # page past the rank window


def test_no_hit_page_parity(daemon):
    # search_results_json (utils.c:360-363): (i | tot_pages) == 0 -> NO_HIT
    # only on PAGE 1 of an empty result; page > 1 of an empty result is
    # ILLEGAL_PAGENUM (i >= tot_pages fires first when i > 0)
    miss = [{"type": "term", "str": "zzzqnohit"}]
    assert _post(daemon, {"page": 1, "kw": miss})["ret_code"] == 3
    assert _post(daemon, {"page": 2, "kw": miss})["ret_code"] == 4


def test_concurrent_requests_micro_batched(daemon):
    """32 concurrent POSTs drain through one query_json_many batch; every
    reply must equal the same request served alone."""
    import threading

    reqs = [
        {"page": 1, "kw": [{"type": "term", "str": f"{vocab_word(i % 9)} {vocab_word((3 * i) % 40)}"}]}
        for i in range(32)
    ]
    solo = [_post(daemon, r) for r in reqs]
    got = [None] * len(reqs)

    def hit(i):
        got[i] = _post(daemon, reqs[i])

    threads = [threading.Thread(target=hit, args=(i,)) for i in range(len(reqs))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert got == solo


def _with_job_count(spark, fn):
    """(fn(), the number of Spark jobs it started), counted through a job
    group once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"job-count-{time.monotonic_ns()}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_batch_starts_two_spark_jobs(spark, index200, tmp_path):
    """A daemon batch on a warm engine (posting cache attached, df
    dictionary loaded) starts exactly two Spark jobs, the shard kernel and
    the docstore probe: no rank-window shuffle, no cold-view broadcast and
    no df probe, also for terms no earlier request used or the vocabulary
    lacks. Replies equal query_json's, request by request."""
    from search_engine_spark.plans.build import save_index
    from search_engine_spark.plans.serve import df_lookup

    save_index(index200, str(tmp_path / "idx"))
    eng = SearchEngine.load(spark, str(tmp_path / "idx")).warm(64 << 10)
    hot = eng.index.pool_terms
    W = vocab_word
    assert W(1) in hot and W(39) not in hot  # queries mix hot and cold terms
    reqs = [
        (f"{W(1)} {W(39)}", 1, "or"),
        (f"{W(1)} {W(2)}", 2, "and"),
        (W(3), 3, "or"),
        (f"{W(2)} {W(30)}", 1, "and"),
    ]
    out, n_jobs = _with_job_count(spark, lambda: eng.query_json_many(reqs))
    assert n_jobs == 2
    assert out == [eng.query_json(q, page=p, mode=m) for q, p, m in reqs]
    assert all(o["ret_code"] == 0 for o in out)

    # terms no request has used yet, and a term outside the vocabulary
    fresh = [(f"{W(41)} zzzqx", 1, "or"), (f"{W(43)} {W(44)}", 2, "or")]
    dfs, n_jobs = _with_job_count(spark, lambda: df_lookup(eng.index, [W(41), "zzzqx"]))
    assert n_jobs == 0 and dfs["zzzqx"] == 0.0 and dfs[W(41)] > 0
    out, n_jobs = _with_job_count(spark, lambda: eng.query_json_many(fresh))
    assert n_jobs == 2
    assert out == [eng.query_json(q, page=p, mode=m) for q, p, m in fresh]


def test_keywords_to_qtext_tex_roundtrip():
    q = keywords_to_qtext([
        {"type": "term", "str": "see"},
        {"type": "tex", "str": "\\frac{a}{b}"},
    ])
    assert q == "see [imath]\\frac{a}{b}[/imath]"


def test_page_window_render_matches_render_all(engine):
    """query_json_many snippets ONLY the requested page window; replies must
    be byte-identical to query_json's render-the-whole-rank-set path for
    every page, including deep pages, past-the-end pages, and no-hit
    queries (same reference error-code order)."""
    q_hit = f"{vocab_word(1)} {vocab_word(2)}"
    q_rare = vocab_word(39)
    q_miss = "zzzqx"
    reqs = [
        (q_hit, 1, "or"),
        (q_hit, 2, "or"),
        (q_hit, 7, "or"),
        (q_hit, 999, "or"),   # past the window -> ILLEGAL_PAGENUM
        (q_rare, 1, "or"),
        (q_miss, 1, "or"),    # page 1 of empty -> NO_HIT
        (q_miss, 3, "or"),    # other page of empty -> ILLEGAL_PAGENUM
    ]
    solo = [engine.query_json(q, page=p, mode=m) for q, p, m in reqs]
    batched = engine.query_json_many(reqs)
    assert batched == solo
