"""One benchmark run: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1``, from the root of a checkout.

Workloads (why each was chosen is in BENCHMARK.json and README.md):

- ``build``: index build + save of a seeded corpus, repeated for S seconds;
- ``serve``: the searchd daemon in its own process, 4 closed-loop clients
  in lockstep rounds posting term requests for S seconds.

Every run checks its answers: the structure of every reply, and the ranking
of a seeded sample of queries against ``oracle.naive_search`` over the
run's whole corpus. The last line on stdout is the result
{"correct", "attempted", "failed", "metrics"}; the line before it is the
run record (seed, sizes, host noise, versions). ``--trace 1`` reports the
per-layer metrics instead of the end-to-end ones and writes the spans and
Spark jobs to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("build", "serve")
N_DOCS = {"build": 3_000, "serve": 5_000}
N_ORACLE = 8  # queries per run checked against oracle.naive_search
CLIENTS = 4  # closed-loop clients of the daemon (= cores of the reference host)
# untimed traffic between the daemon's first answer and the timed phase: a
# fixed number of requests, so the daemon (JIT, df dictionary cache, heap)
# starts the timed phase in the same state however fast the host runs.
# Latency per 4-request call falls from 750-950 ms to about 600 ms over the
# first ~150 requests after start-up (4-vCPU host). The warm-up uses the
# timed phase's 4 clients: the daemon's listen backlog is 5
# (socketserver's default), and with 16 clients connecting at once one run
# in six had a failed request.
WARMUP_PER_CLIENT = 16
WARMUP_MAX_S = 60.0
# posting-cache budget of the daemon (searchd --cache-mb): under half the
# ~4.7 MB of posting blocks of the 5k-doc index, the share the default
# 32 MB budget covers of a 100k-doc index (67 MB of posting blocks)
CACHE_MB = 2
DRIVER_MEMORY = "3g"  # one Spark driver per process; the host is shared
HTTP_TIMEOUT_S = 60.0
# the job count comes from the Spark REST API: keep every job and stage of
# a run in it (the defaults keep the last 1000)
RETAINED = 100_000


def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json at
    the root of the checkout lists them."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def as_metrics(values: dict, units: dict, fill: float | None = None) -> dict:
    """The result's ``metrics`` object: every listed metric with its unit.
    A value without a listed name is an error; a listed name without a
    value is one too, unless ``fill`` stands in for it."""
    extra = sorted(set(values) - set(units))
    missing = sorted(set(units) - set(values)) if fill is None else []
    if extra or missing:
        raise KeyError(f"metrics not in BENCHMARK.json: {extra}; without a value: {missing}")
    return {k: {"value": values.get(k, fill), "unit": u} for k, u in units.items()}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_env(work: Path, nproc: int) -> dict:
    """Environment of the Spark processes: the checkout on PYTHONPATH (the
    Python workers import the engine from it), one local[] core per CPU,
    and every scratch directory inside the run's work directory."""
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'}",
        PYSPARK_SUBMIT_ARGS=f"--conf spark.ui.retainedJobs={RETAINED} "
        f"--conf spark.ui.retainedStages={RETAINED} pyspark-shell",
    )
    env.pop("SPARK_TESTING", None)  # it turns the Spark UI, and so its REST API, off
    return env


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def write_corpus(inputs, n: int, path: Path):
    import pyarrow.parquet as pq

    table = inputs.corpus(n)
    pq.write_table(table, path)
    return table


def text_bytes(table) -> int:
    return sum(len(t.encode()) for t in table.column("text").to_pylist())


# -------------------------------------------------------------- serve --


def post(port: int, req: dict) -> dict:
    body = json.dumps(req).encode()
    r = urllib.request.Request(
        f"http://127.0.0.1:{port}/search", body, {"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(r, timeout=HTTP_TIMEOUT_S) as resp:
        return json.load(resp)


def ask(port: int, req: dict, tally, oracle=None) -> dict | None:
    """One request, checked; failures go to ``tally`` by kind. Returns the
    reply when it passed."""
    from check import RET_WINDOW_ERR, oracle_reply_problems, page_problems, reply_problems

    try:
        reply = post(port, req)
    except (TimeoutError, urllib.error.URLError, ConnectionError, json.JSONDecodeError) as e:
        timeout = isinstance(e, TimeoutError) or isinstance(getattr(e, "reason", None), TimeoutError)
        tally.bad("failed" if timeout else "refused", repr(e))
        return None
    if reply.get("ret_code") == RET_WINDOW_ERR:
        tally.bad("failed", "RET_WINDOW_ERR")
        return None
    bad = reply_problems(reply) or page_problems(reply, req["page"])
    if not bad and oracle is not None:
        bad = oracle_reply_problems(reply, oracle, req["page"])
    if bad:
        tally.bad("wrong", f"{req}: {bad[0]}")
        return None
    tally.ok()
    return reply


def qtext(req: dict) -> str:
    """The daemon's query text for a term-only request
    (searchd.keywords_to_qtext)."""
    return " ".join(kw["str"] for kw in req["kw"])


def closed_loop(port: int, inputs, seconds: float, tally, streams=range(CLIENTS), per_client: int = 10_000):
    """One client thread per request stream, in lockstep rounds: every
    client sends its next request at once, and the next round starts when
    all are answered, until ``seconds`` have passed or each has sent
    ``per_client``. A round in flight then is finished and counted.
    Returns (log of answered requests, start, end).

    Lockstep, because free-running clients drift against the daemon's
    micro-batcher into smaller batches, and stay there: with them,
    throughput was bimodal between runs of the same code (4.4 against 6.1
    requests/s), and the slow runs had more Spark jobs per request (1.41
    against 1.29), that is fewer requests per engine call."""
    from check import Tally

    log: list[dict] = []
    lock = threading.Lock()
    t_begin = time.time()
    t_stop = t_begin + seconds
    stop = threading.Event()
    rounds = threading.Barrier(len(streams), action=lambda: time.time() >= t_stop and stop.set())

    def client(c: int) -> None:
        mine = Tally()
        try:
            for req in inputs.requests(per_client, stream=c):
                rounds.wait()
                if stop.is_set():
                    break
                t0 = time.time()
                ok = ask(port, req, mine)
                t1 = time.time()
                if ok is not None:
                    with lock:
                        log.append({"t_send": t0, "t_recv": t1, "qtext": qtext(req),
                                    "page": req["page"], "terms": qtext(req).split()})
        except threading.BrokenBarrierError:
            pass
        finally:
            rounds.abort()  # a client that stops ends the rounds for all
            with lock:
                tally.add(mine)

    threads = [threading.Thread(target=client, args=(c,)) for c in streams]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    t_end = max((r["t_recv"] for r in log), default=time.time())
    return log, t_begin, t_end


def oracle_inputs(table) -> list[tuple[int, str]]:
    from check import oracle_docs

    return oracle_docs(table.column("url").to_pylist(), table.column("text").to_pylist())


def start_worker(cfg: dict, work: Path, env: dict, daemon: bool) -> subprocess.Popen:
    """worker.py in its own process; its stderr (Spark's log) goes to
    ``<role>.log`` in the run's work directory."""
    log = open(work / f"{cfg['role']}.log", "w")
    try:
        return subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), json.dumps(cfg)],
            stdin=subprocess.PIPE if daemon else subprocess.DEVNULL,
            stdout=subprocess.PIPE if daemon else log, stderr=log,
            cwd=work, env=env, text=True,
        )
    finally:
        log.close()


def worker_result(proc: subprocess.Popen, work: Path, role: str) -> dict:
    code = proc.wait()
    if code != 0:
        raise RuntimeError(f"{role} exited with {code}; see {work / (role + '.log')}")
    return json.loads((work / "result.json").read_text())


def run_serve(args, inputs, work, env, tally) -> dict:
    from check import naive_rankings
    from stats import TreeRss, tree_cpu_s

    table = write_corpus(inputs, N_DOCS["serve"], work / "corpus.parquet")
    oracle_reqs = inputs.requests(N_ORACLE, stream=50)
    port = free_port()
    t_launch = time.time()
    proc = start_worker({
        "role": "daemon", "work": str(work), "seed": args.seed, "trace": args.trace,
        "corpus": str(work / "corpus.parquet"), "port": port, "cache_mb": CACHE_MB,
        "result": str(work / "result.json"),
    }, work, env, daemon=True)
    rss = TreeRss(proc.pid).start()
    try:
        for line in proc.stdout:
            if line.startswith('{"ready"'):
                break
        else:
            raise RuntimeError(f"daemon exited before serving; see {work / 'daemon.log'}")
        ask(port, inputs.requests(1, stream=40)[0], tally)  # the first answer
        setup_s = time.time() - t_launch
        # the oracle's answers are computed here, in this process, while the
        # untimed warm-up runs: they take none of the daemon's set-up time
        # or memory
        t_warm = time.time()
        warm = threading.Thread(target=closed_loop, args=(port, inputs, WARMUP_MAX_S, tally), kwargs={
            "streams": range(100, 100 + CLIENTS), "per_client": WARMUP_PER_CLIENT})
        warm.start()
        naive = naive_rankings(oracle_inputs(table), [(qtext(r), "or") for r in oracle_reqs])
        warm.join()
        warmup_s = time.time() - t_warm
        cpu0 = tree_cpu_s()
        log, t_begin, t_end = closed_loop(port, inputs, args.seconds, tally)
        cpu_s = tree_cpu_s() - cpu0
        # the oracle requests, CLIENTS at a time (the listen backlog is 5)
        checks = list(zip(oracle_reqs, naive))
        for i in range(0, len(checks), CLIENTS):
            threads = [threading.Thread(target=ask, args=(port, r, tally, want)) for r, want in checks[i : i + CLIENTS]]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
    finally:
        proc.stdin.close()
        try:
            res = worker_result(proc, work, "daemon")
        finally:
            rss.stop()
    out = {
        "setup_s": setup_s,
        "warmup_s": warmup_s,
        "n_ops": len(log),
        "windows": [(t_begin, t_end)],
        "ops_per_s": len(log) / (t_end - t_begin),
        "latency_ms": [1000 * (r["t_recv"] - r["t_send"]) for r in log],
        "cpu_ms_per_op": 1000 * cpu_s / max(len(log), 1),
        "peak_rss_mb": rss.peak_mb,
        "text_bytes": text_bytes(table),
        **res,
    }
    if args.trace:
        from layers import serve_layers
        from spans import Trace

        out["layers"] = serve_layers(Trace(res), res, log, (t_begin, t_end))
    return out


# -------------------------------------------------------------- build --


def run_build(args, inputs, work, env, tally) -> dict:
    from check import naive_rankings, ranking_problems
    from stats import TreeRss, median

    table = write_corpus(inputs, N_DOCS["build"], work / "corpus.parquet")
    queries = list(zip(inputs.term_queries(N_ORACLE, stream=50), inputs.modes(N_ORACLE, stream=50)))
    # computed before the build process starts: no time or memory from it
    naive = naive_rankings(oracle_inputs(table), queries)
    t_launch = time.time()
    proc = start_worker({
        "role": "build", "work": str(work), "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "corpus": str(work / "corpus.parquet"),
        "n_docs": N_DOCS["build"], "oracle_queries": queries,
        "result": str(work / "result.json"),
    }, work, env, daemon=False)
    rss = TreeRss(proc.pid).start()
    try:
        res = worker_result(proc, work, "build")
    finally:
        rss.stop()
    for q, got, want in zip(queries, res["oracle_answers"], naive):
        bad = ranking_problems([tuple(g) for g in got], want)
        if bad:
            tally.bad("wrong", f"oracle {q}: {bad[0]}")
        else:
            tally.ok()
    ops = res["ops"]
    out = {
        "setup_s": res["setup_done"] - t_launch,
        "n_ops": len(ops),
        "windows": [(t0, t0 + dt) for t0, dt in ops],
        "ops_per_s": N_DOCS["build"] * len(ops) / sum(dt for _, dt in ops),
        "latency_ms": [1000 * dt for _, dt in ops],
        "cpu_ms_per_op": 1000 * median(res["cpu"]),
        "peak_rss_mb": rss.peak_mb,
        "text_bytes": text_bytes(table),
        **res,
    }
    if args.trace:
        from layers import build_layers
        from spans import Trace

        out["layers"] = build_layers(Trace(res), res["table_bytes"])
    return out


# --------------------------------------------------------------- main --


def jobs_per_op(jobs: list[dict], windows, n_ops: int) -> float:
    """Spark jobs submitted inside the timed windows, per operation."""
    timed = [j for j in jobs if any(a <= j["submitted"] <= b for a, b in windows)]
    return len(timed) / max(n_ops, 1)


def end_to_end(out: dict) -> dict:
    """The end-to-end metrics of one run, from what its workload returned."""
    from stats import median

    return {
        "setup_s": out["setup_s"],
        "ops_per_s": out["ops_per_s"],
        "latency_p50_ms": median(out["latency_ms"]),
        "cpu_ms_per_op": out["cpu_ms_per_op"],
        "spark_jobs_per_op": jobs_per_op(out["jobs"], out["windows"], out["n_ops"]),
        "peak_rss_mb": out["peak_rss_mb"],
        "index_bytes_per_text_byte": sum(out["table_bytes"].values()) / out["text_bytes"],
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "search_engine_spark" / "__init__.py").is_file():
        print(f"no search_engine_spark package under {ROOT}", file=sys.stderr)
        return 2
    e2e_units, layer_units = metric_units()
    sys.path.insert(0, str(ROOT))
    import gen
    from check import Tally
    from stats import Noise, become_subreaper, reap, tail

    become_subreaper()
    # a SIGTERM unwinds like an error, so the daemon and workers are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    noise = Noise()
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = spark_env(work, noise.nproc)
    tally = Tally()
    run = run_serve if args.workload == "serve" else run_build
    try:
        out = run(args, gen.Inputs(args.seed), work, env, tally)
    finally:
        killed = reap()
        logs = ROOT / ".perfbench" / "logs"
        logs.mkdir(exist_ok=True)
        for f in work.glob("*.log"):
            shutil.move(f, logs / f"{args.workload}-seed{args.seed}-{f.name}")
        shutil.rmtree(work, ignore_errors=True)
    tally.add(Tally.from_dict(out["tally"]))
    e2e = end_to_end(out)
    pct, tail_ms = tail(out["latency_ms"])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "n_docs": N_DOCS[args.workload], "end_to_end": e2e,
        "latency_tail_ms": tail_ms, "tail_percentile": pct,
        "latency_samples": len(out["latency_ms"]), "warmup_s": out.get("warmup_s"),
        "noise": noise.record(), "versions": out["versions"], "killed": killed,
        "failures": tally.by_kind, "failure_examples": tally.examples,
    }
    if args.trace:
        # the traced run's own end-to-end figures, against the untraced
        # run's: the tracing overhead
        layers = {**out["layers"], **{f"bench.{k}": e2e[k] for k in ("setup_s", "ops_per_s", "latency_p50_ms")}}
        metrics = as_metrics(layers, layer_units, fill=0.0)
        traces = ROOT / ".perfbench" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        with open(traces / f"{args.workload}-seed{args.seed}.json", "w") as f:
            json.dump({"record": record, "layers": layers,
                       "spans": out["spans"], "jobs": out["jobs"]}, f)
    else:
        metrics = as_metrics(e2e, e2e_units)
    print(json.dumps(record))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
