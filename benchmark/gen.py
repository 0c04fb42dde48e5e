"""Seeded workload generator: a synthetic CMS corpus, query texts, the
pages and edits of serve_mixed publishes and the ingest refresh rounds.

Everything is drawn from one ``numpy.random.Generator`` built from the
seed, so the same seed always yields the same inputs. The generator is
plain Python/NumPy; the engine only ever sees the DataFrames built from
these rows.

Corpus shape:
- a Zipfian vocabulary (``VOCAB`` types, exponent ``ZIPF_S``) whose most
  frequent types are English stopwords, so the Gopher quality gate passes
  most pages;
- every page also leans on one of ``TOPICS`` topic word lists, which gives
  retrieval real structure (near neighbours share a topic);
- lognormal page lengths, bodies of several paragraphs joined by ``\\n\\n``
  with lines joined by ``\\n``, so the recursive splitter uses every level;
- a fixed share of exact duplicates and of ~10%-mutated near-duplicates.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VOCAB = 30_000
ZIPF_S = 1.1
TOPICS = 64
TOPIC_WORDS = 400
TOPIC_SHARE = 0.35
SOURCES = ("blog", "news", "docs", "help")
EXACT_DUP_SHARE = 0.03
NEAR_DUP_SHARE = 0.05
NEAR_DUP_MUTATION = 0.10

_STOPWORDS = (
    "the of and to a in is it that for on with as was by be at this from "
    "are or an have not which but they their has were been more can will"
).split()
_ONSETS = "b c d f g h j k l m n p r s t v w z br ch cl dr fl gr pl pr sh st th tr".split()
_VOWELS = "a e i o u ai ea io ou".split()
_CODAS = ["", "", "n", "r", "s", "t", "l", "m", "nd", "st", "rk"]


def _vocabulary(rng: np.random.Generator) -> list[str]:
    """Stopwords first, then distinct pseudo-words of 2-3 syllables."""
    words = list(_STOPWORDS)
    seen = set(words)
    while len(words) < VOCAB:
        n = 2 * VOCAB
        on = rng.integers(len(_ONSETS), size=(n, 3))
        vo = rng.integers(len(_VOWELS), size=(n, 3))
        co = rng.integers(len(_CODAS), size=n)
        syl = rng.integers(2, 4, size=n)
        for i in range(n):
            w = "".join(_ONSETS[on[i, j]] + _VOWELS[vo[i, j]] for j in range(syl[i]))
            w += _CODAS[co[i]]
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == VOCAB:
                    break
    return words


@dataclass
class Page:
    key: str
    source: str
    text: str

    def row(self) -> tuple:
        return (self.key, [self.key], self.source, self.text)


SOURCE_SCHEMA = "object_key string, object_keys array<string>, source string, text string"


class Generator:
    """All seeded inputs of one benchmark run."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.words = np.array(_vocabulary(self.rng), dtype=object)
        ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.p = p / p.sum()
        self.topics = [
            self.rng.choice(np.arange(len(_STOPWORDS), VOCAB), TOPIC_WORDS, replace=False)
            for _ in range(TOPICS)
        ]
        self._next_key = 0

    # -- text -------------------------------------------------------------

    def _tokens(self, n: int, topic: int) -> np.ndarray:
        ids = self.rng.choice(VOCAB, n, p=self.p)
        from_topic = self.rng.random(n) < TOPIC_SHARE
        tw = self.topics[topic]
        ids[from_topic] = tw[self.rng.zipf(1.3, int(from_topic.sum())) % len(tw)]
        return self.words[ids]

    def _body(self, tokens: np.ndarray) -> str:
        """Sentences of 6-18 words, 1-4 sentences per line, 1-3 lines per
        paragraph."""
        paras, lines, sents = [], [], []
        i, n = 0, len(tokens)
        line_left = int(self.rng.integers(1, 5))
        para_left = int(self.rng.integers(1, 4))
        while i < n:
            k = int(self.rng.integers(6, 19))
            s = " ".join(tokens[i : i + k])
            sents.append(s[:1].upper() + s[1:] + ".")
            i += k
            line_left -= 1
            if line_left == 0 or i >= n:
                lines.append(" ".join(sents))
                sents = []
                line_left = int(self.rng.integers(1, 5))
                para_left -= 1
                if para_left == 0 or i >= n:
                    paras.append("\n".join(lines))
                    lines = []
                    para_left = int(self.rng.integers(1, 4))
        return "\n\n".join(paras)

    def _page_words(self) -> int:
        return int(np.clip(self.rng.lognormal(np.log(130), 0.55), 12, 1600))

    def _new_key(self) -> str:
        self._next_key += 1
        return f"page-{self._next_key:07d}"

    def _mutate(self, text: str, share: float) -> str:
        toks = text.split(" ")
        n = max(1, int(len(toks) * share))
        pos = self.rng.choice(len(toks), n, replace=False)
        fresh = self.words[self.rng.choice(VOCAB, n, p=self.p)]
        for j, w in zip(pos, fresh):
            toks[j] = w
        return " ".join(toks)

    def fresh_page(self) -> Page:
        topic = int(self.rng.integers(TOPICS))
        text = self._body(self._tokens(self._page_words(), topic))
        return Page(self._new_key(), SOURCES[int(self.rng.integers(len(SOURCES)))], text)

    def corpus(self, n_pages: int) -> list[Page]:
        """``n_pages`` pages; a share of them are planted exact copies
        and near-duplicates of earlier pages (under new keys)."""
        pages: list[Page] = []
        for _ in range(n_pages):
            u = self.rng.random()
            if pages and u < EXACT_DUP_SHARE:
                src = pages[int(self.rng.integers(len(pages)))]
                pages.append(Page(self._new_key(), src.source, src.text))
            elif pages and u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
                src = pages[int(self.rng.integers(len(pages)))]
                pages.append(
                    Page(self._new_key(), src.source, self._mutate(src.text, NEAR_DUP_MUTATION))
                )
            else:
                pages.append(self.fresh_page())
        return pages

    def edit(self, page: Page) -> Page:
        """A CMS edit: one paragraph rewritten, a sentence appended."""
        paras = page.text.split("\n\n")
        j = int(self.rng.integers(len(paras)))
        paras[j] = self._mutate(paras[j], 0.3)
        topic = int(self.rng.integers(TOPICS))
        paras[-1] = paras[-1] + " " + self._body(self._tokens(12, topic)).replace("\n", " ")
        return Page(page.key, page.source, "\n\n".join(paras))

    # -- queries ------------------------------------------------------------

    def queries(self, pages: list[Page], n: int) -> list[str]:
        """Search texts from the corpus vocabulary; two thirds are spans
        copied out of pages so searches have true hits. Distinct texts,
        since ``batch_query`` keys its output by query text."""
        out: list[str] = []
        seen: set[str] = set()
        while len(out) < n:
            if self.rng.random() < 2 / 3:
                toks = pages[int(self.rng.integers(len(pages)))].text.split()
                k = int(self.rng.integers(4, 13))
                lo = int(self.rng.integers(max(1, len(toks) - k)))
                q = " ".join(toks[lo : lo + k]).lower().strip(".")
            else:
                q = " ".join(self._tokens(int(self.rng.integers(3, 9)), int(self.rng.integers(TOPICS))))
            if q and q not in seen:
                seen.add(q)
                out.append(q)
        return out

    # -- ingest refresh rounds ---------------------------------------------

    def refresh_round(
        self, pages: list[Page], *, edit: float, add: float, remove: float
    ) -> tuple[list[Page], set[str]]:
        """One CMS refresh: returns the new page list and the keys of the
        pages whose text changed or that were added (removed keys are
        simply absent)."""
        n = len(pages)
        idx = self.rng.permutation(n)
        n_edit, n_remove = max(1, int(n * edit)), max(1, int(n * remove))
        edited = set(idx[:n_edit].tolist())
        removed = set(idx[n_edit : n_edit + n_remove].tolist())
        out, touched = [], set()
        for i, p in enumerate(pages):
            if i in removed:
                continue
            if i in edited:
                p = self.edit(p)
                touched.add(p.key)
            out.append(p)
        for _ in range(max(1, int(n * add))):
            p = self.fresh_page()
            touched.add(p.key)
            out.append(p)
        return out, touched

    # -- serve_mixed request sequence --------------------------------------

    def pick(self, seq: list, k: int = 1) -> list:
        return [seq[i] for i in self.rng.choice(len(seq), k, replace=False)]
