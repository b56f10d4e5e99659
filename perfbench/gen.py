"""Seeded inputs: a Common-Crawl-shaped corpus and the query logs.

Everything here is a pure function of the seed. The seed picks the
vocabulary itself (not only an order over a fixed one), the Zipf rank of
every word, the documents and the queries, so two seeds share no
documents. Nothing in this module imports the engine: the engine only ever
sees the parquet files and request lists written from these values.
"""

from __future__ import annotations

import numpy as np

VOCAB = 20_000
ZIPF_S = 1.07  # word-frequency skew of the documents and of query terms
MATH_DOC_SHARE = 0.05  # docs carrying [imath] spans
TEX_TEMPLATES = (
    "{a}+\\frac 1 {a}",
    "{a}^2+{b}^2",
    "\\frac{{{a}}}{{{b}}}",
    "{a}^{n}",
    "{a}+{b}",
    "f({a}) = {a}^2 + \\frac {{{a}^2}} 2",
    "{a}^2={b}",
    "E=mc^{n}",
)
TEX_VARS = "abcxyzkn"
PAGES = (1, 2, 3)
PAGE_WEIGHTS = (0.6, 0.25, 0.15)


def word_length(rank: int) -> int:
    """Letters of the word at Zipf rank ``rank``: frequent words are short,
    as in text. Fixed by rank, so every seed has the same text-length
    statistics and only the letters change."""
    return min(11, 3 + int(0.6 * np.log2(rank + 1)))


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct lowercase letter-only words, the i-th of word_length(i)
    letters (the engine tokenizer keeps [a-zA-Z]+ runs only, so digits
    would split a word)."""
    out: dict[str, None] = {}
    for i in range(n):
        while True:
            w = "".join(chr(97 + c) for c in rng.integers(0, 26, size=word_length(i)))
            if w not in out:
                out[w] = None
                break
    return list(out)


class Inputs:
    """Vocabulary and Zipf law of one seed."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 1])
        self.vocab = np.asarray(_words(rng, VOCAB), dtype=object)
        p = 1.0 / np.power(np.arange(1, VOCAB + 1, dtype=np.float64), ZIPF_S)
        self.probs = p / p.sum()

    def _tex(self, rng: np.random.Generator) -> str:
        t = TEX_TEMPLATES[int(rng.integers(len(TEX_TEMPLATES)))]
        a, b = rng.choice(list(TEX_VARS), size=2, replace=False)
        return t.format(a=a, b=b, n=int(rng.integers(2, 5)))

    def corpus(self, n_docs: int):
        """pyarrow table (url, warc_ts, html, text, lang): the crawl-table
        shape the engine indexes."""
        import pyarrow as pa

        rng = np.random.default_rng([self.seed, 2])
        lens = np.clip(rng.lognormal(5.0, 0.6, size=n_docs), 20, 1200).astype(int)
        toks = rng.choice(VOCAB, size=int(lens.sum()), p=self.probs)
        math_docs = rng.random(n_docs) < MATH_DOC_SHARE
        hosts = _words(np.random.default_rng([self.seed, 3]), 64)
        host_of = rng.integers(0, len(hosts), size=n_docs)
        urls, texts, htmls, langs = [], [], [], []
        at = 0
        for i in range(n_docs):
            words = self.vocab[toks[at : at + lens[i]]]
            at += lens[i]
            title = " ".join(words[:6])
            body = " ".join(words)
            if math_docs[i]:
                body += f" [imath]{self._tex(rng)}[/imath] " + " ".join(words[-5:])
            text = f"{title}\n\n{body}"
            urls.append(f"https://{hosts[host_of[i]]}.example/{self.seed}/p{i:07d}")
            texts.append(text)
            htmls.append(f"<html><body>{text}</body></html>".encode())
            langs.append("en")
        ts = np.datetime64("2024-01-01T00:00:00", "us") + np.arange(n_docs).astype(
            "timedelta64[s]"
        )
        return pa.table(
            {
                "url": pa.array(urls, pa.string()),
                "warc_ts": pa.array(ts, pa.timestamp("us")),
                "html": pa.array(htmls, pa.binary()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
            }
        )

    def term_queries(self, n: int, stream: int, max_kw: int = 4) -> list[str]:
        """n query texts of 1..max_kw Zipf-drawn keywords each."""
        rng = np.random.default_rng([self.seed, 10, stream])
        nkw = rng.integers(1, max_kw + 1, size=n)
        idx = rng.choice(VOCAB, size=int(nkw.sum()), p=self.probs)
        out, at = [], 0
        for k in nkw:
            out.append(" ".join(self.vocab[idx[at : at + k]]))
            at += k
        return out

    def modes(self, n: int, stream: int) -> list[str]:
        """Seeded "or"/"and" match modes, half each."""
        rng = np.random.default_rng([self.seed, 30, stream])
        return ["and" if b else "or" for b in rng.random(n) < 0.5]

    def requests(self, n: int, stream: int) -> list[dict]:
        """Reference-shape daemon requests {"page", "kw"} of term keywords,
        pages 1..3."""
        rng = np.random.default_rng([self.seed, 20, stream])
        pages = rng.choice(PAGES, size=n, p=PAGE_WEIGHTS)
        return [
            {"page": int(p), "kw": [{"type": "term", "str": w} for w in q.split()]}
            for p, q in zip(pages, self.term_queries(n, stream))
        ]
