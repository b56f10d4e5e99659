"""Correctness checks: reply well-formedness and the oracle comparison.

Every timed reply gets the cheap structural checks. Ranking correctness is
checked on a seeded sample of queries against ``oracle.naive_search`` over
the whole corpus of the run.

The constants are the reference daemon's (searchd/config.h, searchd/utils.h),
written out here so the checker does not take them from the code it checks.
"""

from __future__ import annotations

RET_CODES = range(8)  # the reference searchd_ret enum
RET_SUCC, RET_NO_HIT, RET_BAD_PAGE, RET_WINDOW_ERR = 0, 3, 4, 5
ANSWERED = (RET_SUCC, RET_NO_HIT, RET_BAD_PAGE)  # valid for a valid request
RES_PER_PAGE = 10
RANK_K = 155
SCORE_RTOL = 1e-4
REPLY_ATOL = 5e-4 + 1e-9  # a daemon reply rounds scores to 3 decimals


class Tally:
    """attempted / failed counts, with the failures split by kind:
    ``refused`` (HTTP error or no connection), ``failed`` (timeout or
    RET_WINDOW_ERR) and ``wrong`` (an answer that fails a check)."""

    KINDS = ("refused", "failed", "wrong")

    def __init__(self):
        self.attempted = 0
        self.by_kind = dict.fromkeys(self.KINDS, 0)
        self.examples: list[str] = []

    @classmethod
    def from_dict(cls, d: dict) -> "Tally":
        t = cls()
        t.attempted, t.by_kind, t.examples = d["attempted"], dict(d["by_kind"]), list(d["examples"])
        return t

    def as_dict(self) -> dict:
        return {"attempted": self.attempted, "by_kind": self.by_kind, "examples": self.examples}

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def bad(self, kind: str, why: str) -> None:
        if kind not in self.by_kind:
            raise ValueError(f"unknown failure kind {kind!r}")
        self.attempted += 1
        self.by_kind[kind] += 1
        if len(self.examples) < 5:
            self.examples.append(f"{kind}: {why}")

    def add(self, other: "Tally") -> None:
        self.attempted += other.attempted
        for k in self.KINDS:
            self.by_kind[k] += other.by_kind[k]
        self.examples.extend(other.examples[: max(0, 5 - len(self.examples))])

    @property
    def failed(self) -> int:
        return sum(self.by_kind.values())

    @property
    def error_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def reply_problems(reply: dict) -> list[str]:
    """Structural checks on one daemon reply. Scores in a reply are rounded
    to 3 decimals, so equal printed scores need not be true ties and their
    doc-id order is left to the oracle comparison."""
    out = []
    code = reply.get("ret_code")
    hits = reply.get("hits")
    tot = reply.get("tot_pages")
    if code not in RET_CODES:
        return [f"ret_code {code!r} is not a reference return code"]
    if code not in ANSWERED:
        return [f"ret_code {code} for a valid request"]
    if not isinstance(hits, list) or not isinstance(tot, int):
        return ["hits/tot_pages missing"]
    if code != RET_SUCC:
        if tot != 0 or hits:
            out.append(f"ret_code {code} with tot_pages={tot} and {len(hits)} hits")
        return out
    if not 1 <= tot <= -(-RANK_K // RES_PER_PAGE):
        out.append(f"tot_pages {tot} outside 1..{-(-RANK_K // RES_PER_PAGE)}")
    if not 1 <= len(hits) <= RES_PER_PAGE:
        out.append(f"{len(hits)} hits on a page")
    scores = [h.get("score") for h in hits]
    if any(not isinstance(s, (int, float)) for s in scores):
        out.append("non-numeric score")
    elif any(a < b for a, b in zip(scores, scores[1:])):
        out.append("hits not ordered by score descending")
    ids = [h.get("docid") for h in hits]
    if len(set(ids)) != len(ids):
        out.append("duplicate docid on a page")
    return out


def page_problems(reply: dict, page: int) -> list[str]:
    """tot_pages against the requested page: a full page before the last,
    BAD_PAGE past the end."""
    code, tot, hits = reply["ret_code"], reply["tot_pages"], reply["hits"]
    if code == RET_SUCC:
        if page > tot:
            return [f"page {page} answered past tot_pages {tot}"]
        if page < tot and len(hits) != RES_PER_PAGE:
            return [f"page {page} of {tot} holds {len(hits)} hits"]
    if code == RET_NO_HIT and page != 1:
        return [f"NO_HIT on page {page}"]
    return []


def _close(a: float, b: float, atol: float) -> bool:
    return abs(a - b) <= SCORE_RTOL * max(abs(a), abs(b)) + atol


def ranking_problems(
    got: list[tuple[int, float]], want: list[tuple[int, float]], atol: float = 0.0
) -> list[str]:
    """Same doc-id order, scores within SCORE_RTOL relative (plus ``atol``
    for scores that were rounded on the way)."""
    if [d for d, _ in got] != [d for d, _ in want]:
        n = next((i for i, (g, w) in enumerate(zip(got, want)) if g[0] != w[0]), None)
        return [f"doc order differs at rank {n} ({len(got)} vs {len(want)} hits)"]
    bad = [i for i, (g, w) in enumerate(zip(got, want)) if not _close(g[1], w[1], atol)]
    return [f"score differs at rank {bad[0]}: {got[bad[0]]} vs {want[bad[0]]}"] if bad else []


def expected_reply(naive: list[tuple[int, float]], page: int) -> tuple[int, int, list]:
    """(ret_code, tot_pages, page hits) the reference paging makes of a
    ranked list."""
    tot = -(-len(naive) // RES_PER_PAGE)
    if (page - 1) | tot == 0:
        return RET_NO_HIT, 0, []
    if page - 1 >= tot:
        return RET_BAD_PAGE, 0, []
    lo = (page - 1) * RES_PER_PAGE
    return RET_SUCC, tot, naive[lo : lo + RES_PER_PAGE]


def oracle_reply_problems(reply: dict, naive: list[tuple[int, float]], page: int) -> list[str]:
    code, tot, hits = expected_reply(naive, page)
    if reply.get("ret_code") != code or reply.get("tot_pages") != tot:
        return [
            f"ret_code/tot_pages {reply.get('ret_code')}/{reply.get('tot_pages')}, "
            f"oracle {code}/{tot}"
        ]
    got = [(h["docid"], h["score"]) for h in reply.get("hits", [])]
    return ranking_problems(got, hits, REPLY_ATOL)


def oracle_docs(urls: list[str], texts: list[str]) -> list[tuple[int, str]]:
    """(doc_id, text) with the engine's documented docID rule: 1-based rank
    of the url."""
    order = sorted(range(len(urls)), key=urls.__getitem__)
    return [(rank + 1, texts[i]) for rank, i in enumerate(order)]


def naive_rankings(docs, queries: list[tuple[str, str]]) -> list[list[tuple[int, float]]]:
    """``oracle.naive_search`` for each (qtext, mode). naive_search
    re-indexes ``docs`` on every call; the naive index of these docs is
    built once here and handed back to it, so the check costs one naive
    index build instead of one per query."""
    from search_engine_spark import oracle

    built = oracle.build_naive_index(docs)
    rebuild = oracle.build_naive_index
    oracle.build_naive_index = lambda d: built if d is docs else rebuild(d)
    try:
        return [oracle.naive_search(docs, q, mode=mode) for q, mode in queries]
    finally:
        oracle.build_naive_index = rebuild
