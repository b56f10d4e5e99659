"""Tests of the benchmark's own arithmetic and checks (no Spark needed).

Run: ``python -m pytest perfbench -q``
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

import check
import gen
import run
from layers import build_layers, serve_layers
from spans import Trace, self_times, spark_jobs
from stats import tail

# ------------------------------------------------------- tail percentile --


def test_tail_leaves_ten_samples_beyond():
    pct, value = tail(range(1, 41))
    assert value == 30.0
    assert sum(x > value for x in range(1, 41)) == 10
    assert pct == pytest.approx(100 * 29 / 39)


def test_tail_is_the_highest_such_percentile():
    xs = list(range(100))
    _, value = tail(xs)
    assert sum(x > value for x in xs) == 10
    assert sum(x > value + 1 for x in xs) < 10


def test_tail_steps_below_ties():
    xs = [1.0] * 10 + [3.0] * 10 + [5.0] * 10
    _, value = tail(xs)
    assert value == 3.0 and sum(x > value for x in xs) == 10


@pytest.mark.parametrize("xs", [[], [3.0] * 5, list(range(10)), list(range(15)), [2.0] * 30])
def test_tail_falls_back_to_median(xs):
    pct, _ = tail(xs)
    assert pct == 50.0


# ------------------------------------------------------------ error share --

GOOD = {"ret_code": 0, "ret_str": "Successful", "tot_pages": 1,
        "hits": [{"docid": 2, "score": 3.5}, {"docid": 1, "score": 1.25}]}


class Stub(BaseHTTPRequestHandler):
    """Answers by the requested page: 1 good, 2 RET_WINDOW_ERR, 3 an
    unordered page, 4 an HTTP 500, 5 too slow."""

    def log_message(self, *a):
        pass

    def do_POST(self):  # noqa: N802
        req = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        page = req["page"]
        if page == 4:
            self.send_error(500)
            return
        if page == 5:
            time.sleep(1.0)
        body = {
            1: GOOD,
            2: {"ret_code": 5, "ret_str": "Rank window calculation error", "tot_pages": 0, "hits": []},
            3: {**GOOD, "hits": GOOD["hits"][::-1]},
            5: GOOD,
        }[page]
        data = json.dumps(body).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)


@pytest.fixture
def stub(monkeypatch):
    monkeypatch.setattr(run, "HTTP_TIMEOUT_S", 0.3)
    srv = ThreadingHTTPServer(("127.0.0.1", 0), Stub)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address[1]
    srv.shutdown()
    srv.server_close()
    t.join(timeout=5)
    assert not t.is_alive()


def _req(page):
    return {"page": page, "kw": [{"type": "term", "str": "w"}]}


def test_error_share_counts_each_failure_kind(stub):
    tally = check.Tally()
    for page in (1, 1, 2, 3, 4, 5):
        run.ask(stub, _req(page), tally)
    run.ask(run.free_port(), _req(1), tally)  # nothing listens there
    assert tally.attempted == 7
    assert tally.by_kind == {"refused": 2, "failed": 2, "wrong": 1}
    assert tally.failed == 5
    assert tally.error_share == pytest.approx(5 / 7)


def test_oracle_mismatch_is_wrong(stub):
    tally = check.Tally()
    assert run.ask(stub, _req(1), tally, oracle=[(2, 3.5), (1, 1.25)]) is not None
    assert run.ask(stub, _req(1), tally, oracle=[(1, 3.5), (2, 1.25)]) is None
    assert run.ask(stub, _req(1), tally, oracle=[(2, 3.6), (1, 1.25)]) is None
    assert (tally.attempted, tally.by_kind["wrong"]) == (3, 2)


def test_tally_add_and_unknown_kind():
    a, b = check.Tally(), check.Tally()
    a.ok(3)
    b.bad("refused", "x")
    a.add(b)
    assert (a.attempted, a.failed) == (4, 1)
    with pytest.raises(ValueError):
        a.bad("slow", "not a kind")


# ----------------------------------------------------------------- checks --


def test_reply_checks():
    assert check.reply_problems(GOOD) == []
    assert check.reply_problems({**GOOD, "ret_code": 9})
    assert check.reply_problems({**GOOD, "ret_code": 1})
    assert check.reply_problems({**GOOD, "hits": GOOD["hits"] * 6})
    assert check.reply_problems({"ret_code": 3, "tot_pages": 1, "hits": []})
    assert check.page_problems({**GOOD, "tot_pages": 2}, 1)  # a short page before the last
    assert check.page_problems(GOOD, 2)  # answered past tot_pages
    assert check.page_problems({"ret_code": 3, "tot_pages": 0, "hits": []}, 2)


def test_expected_reply_pages_like_the_reference():
    ranked = [(d, 100.0 - d) for d in range(1, 26)]
    assert check.expected_reply(ranked, 3) == (0, 3, ranked[20:])
    assert check.expected_reply(ranked, 4)[:2] == (4, 0)
    assert check.expected_reply([], 1)[:2] == (3, 0)
    assert check.expected_reply([], 2)[:2] == (4, 0)


def test_oracle_docs_use_url_rank():
    assert check.oracle_docs(["b", "a", "c"], ["tb", "ta", "tc"]) == [(1, "ta"), (2, "tb"), (3, "tc")]


# ----------------------------------------------------------- self times --


def _span(i, parent, t0, t1, name="x"):
    return {"id": i, "name": name, "parent": parent, "t0": t0, "t1": t1, "attrs": {}}


def test_self_times_of_a_span_tree():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps its sibling: covered once
        _span(4, 2, 2.0, 3.0),
        _span(5, 1, 9.0, 11.0),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st == pytest.approx({1: 10 - 5 - 1, 2: 2.0, 3: 3.0, 4: 1.0, 5: 2.0})


def test_jobs_count_for_every_enclosing_span():
    spans = [_span(1, None, 0, 3, "root"), _span(2, 1, 0, 1, "a"), _span(3, 1, 1, 2, "b")]
    jobs = [{"job": 0, "span": 2}, {"job": 1, "span": 2}, {"job": 2, "span": 1}, {"job": 3, "span": None}]
    tr = Trace({"spans": spans, "jobs": jobs})
    assert {j["job"] for j in tr.jobs([spans[0]])} == {0, 1, 2}
    assert len(tr.jobs(tr.under(spans[0], "a"))) == 2
    assert tr.jobs(tr.under(spans[0], "b")) == []


# ------------------------------------------------------------------ inputs --


def test_inputs_follow_the_seed():
    a, b = gen.Inputs(1), gen.Inputs(2)
    assert a.corpus(50).equals(gen.Inputs(1).corpus(50))
    assert a.corpus(50).column("text") != b.corpus(50).column("text")
    assert a.requests(20, stream=0) == gen.Inputs(1).requests(20, stream=0)
    assert a.term_queries(20, stream=0) != b.term_queries(20, stream=0)


# ------------------------------------------------ metric names and units --


def test_end_to_end_names_are_those_of_benchmark_json():
    e2e_units, _ = run.metric_units()
    out = {"setup_s": 1.0, "ops_per_s": 2.0, "latency_ms": [3.0], "cpu_ms_per_op": 4.0,
           "jobs": [], "windows": [], "n_ops": 1, "peak_rss_mb": 5.0,
           "table_bytes": {"a": 6}, "text_bytes": 3}
    metrics = run.as_metrics(run.end_to_end(out), e2e_units)
    assert list(metrics) == list(e2e_units)


def test_layer_names_are_those_of_benchmark_json():
    _, layer_units = run.metric_units()
    empty = Trace({"spans": [], "jobs": []})
    names = set(build_layers(empty, {})) | set(serve_layers(empty, {}, [], (0.0, 1.0)))
    names |= {f"bench.{k}" for k in ("setup_s", "ops_per_s", "latency_p50_ms")}
    assert names == set(layer_units)


def test_as_metrics_refuses_unlisted_and_missing_names():
    units = {"a": "s", "b": "ms"}
    assert run.as_metrics({"a": 1.0, "b": 2.0}, units) == {
        "a": {"value": 1.0, "unit": "s"}, "b": {"value": 2.0, "unit": "ms"}}
    assert run.as_metrics({"a": 1.0}, units, fill=0.0)["b"]["value"] == 0.0
    with pytest.raises(KeyError):
        run.as_metrics({"a": 1.0}, units)
    with pytest.raises(KeyError):
        run.as_metrics({"a": 1.0, "b": 2.0, "c": 3.0}, units)


# -------------------------------------------------------- Spark job list --


def _rest(jobs):
    class Rest(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):  # noqa: N802
            data = json.dumps(jobs if self.path.endswith("/jobs") else []).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

    return Rest


class _Sc:
    applicationId = "app"

    def __init__(self, url):
        self.uiWebUrl = url


def _job(i):
    return {"jobId": i, "status": "SUCCEEDED", "stageIds": [], "name": "collect",
            "submissionTime": "2026-01-01T00:00:00.000GMT"}


@pytest.mark.parametrize("ids, ok", [([0, 1, 2], True), ([1, 2], False), ([0, 2], False)])
def test_spark_jobs_refuses_a_job_list_with_gaps(ids, ok):
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _rest([_job(i) for i in reversed(ids)]))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        sc = _Sc(f"http://127.0.0.1:{srv.server_address[1]}")
        if ok:
            assert [j["job"] for j in spark_jobs(sc)] == ids[::-1]
        else:
            with pytest.raises(RuntimeError):
                spark_jobs(sc)
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(timeout=5)


def test_spark_jobs_refuses_a_context_without_ui():
    with pytest.raises(RuntimeError):
        spark_jobs(_Sc(None))
