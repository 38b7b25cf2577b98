"""Seeded inputs for the benchmark: the transcript corpus and the operation stream.

Nothing here imports the engine. Every input is a pure function of the seed
and the workload's sizes, so a change to the engine cannot change what the
benchmark feeds it.

Corpus tokens are lowercase a-z words drawn from a Zipf law over a seeded
vocabulary; the first word of a turn is capitalised and the turn ends with a
punctuation mark, so the analyzer's lowercasing and splitting both do work.
Query terms follow a second Zipf law over the same vocabulary, which is
several times larger than the engine's postings cache, so head terms repeat
(and hit the cache) while tail terms mostly miss it.
"""

from __future__ import annotations

import string

import numpy as np
import pandas as pd

ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
ROLE_P = np.array([0.42, 0.42, 0.04, 0.12])
TOOLS = np.array(["bash", "search", "browser", "editor", "python"], dtype=object)
BASE_TS = np.datetime64("2024-01-01T00:00:00", "s")
_LETTERS = np.array(list(string.ascii_lowercase), dtype=object)
_ENDS = np.array([".", "?", "!", ""], dtype=object)


def vocabulary(seed: int, size: int) -> np.ndarray:
    """``size`` distinct pseudo-words, in Zipf-rank order (index 0 = most common)."""
    rng = np.random.default_rng([seed, 1])
    words: dict[str, None] = {}
    while len(words) < size:
        lens = rng.integers(3, 10, size=size)
        letters = rng.choice(_LETTERS, size=(size, 9))
        for row, n in zip(letters, lens):
            words.setdefault("".join(row[:n]), None)
            if len(words) == size:
                break
    return np.array(list(words), dtype=object)


def zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def corpus(
    seed: int,
    vocab: np.ndarray,
    n_convs: int,
    *,
    conv_start: int = 0,
    stream: int = 0,
    mean_tokens: int = 24,
) -> pd.DataFrame:
    """Transcript turns ``(conv_id, turn_idx, role, text, tool, ts)`` for
    conversations ``conv_start .. conv_start + n_convs - 1``, 2-14 turns each."""
    rng = np.random.default_rng([seed, 2, stream])
    p = zipf_p(len(vocab), 1.0)
    turns = rng.integers(2, 15, size=n_convs)
    n = int(turns.sum())
    conv_num = np.repeat(np.arange(conv_start, conv_start + n_convs), turns)
    starts = np.concatenate(([0], np.cumsum(turns)[:-1]))
    turn_idx = np.arange(n) - np.repeat(starts, turns)
    lens = np.clip(rng.geometric(1.0 / mean_tokens, size=n), 3, 6 * mean_tokens)
    toks = vocab[rng.choice(len(vocab), size=int(lens.sum()), p=p)]
    roles = rng.choice(ROLES, size=n, p=ROLE_P)
    tools = rng.choice(TOOLS, size=n)
    ends = rng.choice(_ENDS, size=n)
    bounds = np.concatenate(([0], np.cumsum(lens)))
    texts = []
    for i in range(n):
        words = toks[bounds[i]:bounds[i + 1]]
        texts.append(words[0].capitalize() + " " + " ".join(words[1:]) + ends[i])
    return pd.DataFrame({
        "conv_id": [f"c{c:07d}" for c in conv_num],
        "turn_idx": turn_idx.astype(np.int32),
        "role": roles,
        "text": texts,
        "tool": np.where(roles == "tool", tools, None),
        "ts": BASE_TS + conv_num * 3600 + turn_idx * 7,
    })


def rewrite_texts(seed: int, vocab: np.ndarray, rows: pd.DataFrame, stream: int) -> pd.DataFrame:
    """The same ``(conv_id, turn_idx)`` keys with new text: an upsert batch."""
    fresh = corpus(seed, vocab, len(rows), stream=1000 + stream)
    out = rows[["conv_id", "turn_idx", "role", "tool", "ts"]].copy().reset_index(drop=True)
    out["text"] = fresh["text"].to_numpy()[: len(out)]
    return out[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]


GOLDEN = 0.6180339887498949

# operation shapes, cycled per type: (terms, mode, boost) for search, (terms,
# mode) for count, (length, rank classes of the first two words) for phrases,
# (edit distance of the fuzzy word, prefix length) for suggest, and the number
# of DSL must terms
SEARCH_SHAPES = [(1, "or", None), (2, "or", None), (3, "or", "role"), (2, "and", None),
                 (4, "or", "tool"), (2, "or", "term"), (3, "and", None), (1, "or", "role")]
COUNT_SHAPES = [(2, "or"), (3, "or"), (2, "and"), (3, "or"), (2, "or"), (3, "and")]
PHRASE_SHAPES = [(2 + i % 2, (a, b)) for i, (a, b) in enumerate(
    (a, b) for a in range(3) for b in range(3))]
SUGGEST_SHAPES = [(1 + i % 2, 2 + i % 3) for i in range(6)]
DSL_MUSTS = [1, 2]
RANK_CLASSES = (10, 300)  # word ranks below 10 are head words, from 300 tail words


class QueryStream:
    """Endless seeded stream of operations for the search workloads.

    Each operation is a dict with ``op`` in ``search``, ``phrase``, ``count``,
    ``suggest`` and ``dsl``; the caller picks the type, and the shape of the
    k-th operation of a type (term count, mode, boost) follows a fixed cycle.
    Term ranks come from a Zipf law sampled along a golden-ratio sequence
    from a seeded start, so every run covers head, middle and tail terms in
    the same proportions while the words themselves change with the seed.
    Phrases are adjacent words of corpus turns, cycling through the rank
    classes (head, middle, tail) of their first two words, so head-term
    phrases (the expensive ones) keep a fixed share.
    """

    def __init__(self, seed: int, vocab: np.ndarray, texts: np.ndarray):
        self.rng = np.random.default_rng([seed, 3])
        self.vocab = vocab
        self.cdf = np.cumsum(zipf_p(len(vocab), 0.9))
        self.u = self.rng.random()
        self.texts = texts
        self.occurrences: dict[tuple, list[tuple[int, int]]] | None = None
        self.count: dict[str, int] = {}
        self.seen: set[str] = set()
        self.terms_drawn = 0
        self.terms_repeated = 0

    def _rank(self) -> int:
        self.u = (self.u + GOLDEN) % 1.0
        return min(int(np.searchsorted(self.cdf, self.u, side="right")), len(self.cdf) - 1)

    def _terms(self, n: int) -> list[str]:
        """``n`` distinct query terms."""
        out: list[str] = []
        while len(out) < n:
            t = self.vocab[self._rank()]
            if t not in out:
                out.append(t)
        for t in out:
            self.terms_drawn += 1
            self.terms_repeated += t in self.seen
            self.seen.add(t)
        return out

    def repeated_share(self) -> float:
        return self.terms_repeated / max(1, self.terms_drawn)

    def _phrase(self, n: int, classes: tuple[int, int]) -> list[str]:
        """``n`` adjacent words of a corpus turn whose first two words fall
        in the given rank classes (head, middle, tail)."""
        if self.occurrences is None:
            rank = {w: i for i, w in enumerate(self.vocab)}
            self.occurrences = {}
            for ti, text in enumerate(self.texts):
                cls = np.searchsorted(RANK_CLASSES, [rank[w] for w in text.lower()
                                                     .rstrip(".?!").split()], side="right")
                for pos in range(len(cls) - 2):
                    self.occurrences.setdefault((cls[pos], cls[pos + 1]), []).append((ti, pos))
        occ = self.occurrences.get(classes) or max(self.occurrences.values(), key=len)
        ti, pos = occ[int(self.rng.integers(len(occ)))]
        return self.texts[ti].lower().rstrip(".?!").split()[pos:pos + n]

    def _shape(self, op: str, shapes: list):
        k = self.count.get(op, 0)
        self.count[op] = k + 1
        return shapes[k % len(shapes)]

    def next(self, op: str) -> dict:
        if op == "search":
            n, mode, boost = self._shape(op, SEARCH_SHAPES)
            q = {"op": op, "terms": self._terms(n), "mode": mode}
            if boost == "role":
                q["role_boosts"] = {"assistant": 1.5, "system": 0.5}
            elif boost == "tool":
                q["tool_boosts"] = {"bash": 2.0, "python": 1.25}
            elif boost == "term":
                q["term_boosts"] = {q["terms"][0]: 2.0}
            return q
        if op == "phrase":
            return {"op": op, "terms": self._phrase(*self._shape(op, PHRASE_SHAPES))}
        if op == "count":
            # two or three terms: a one-term count is a dictionary lookup
            n, mode = self._shape(op, COUNT_SHAPES)
            return {"op": op, "terms": self._terms(n), "mode": mode}
        if op == "suggest":
            edits, n = self._shape(op, SUGGEST_SHAPES)
            word = self._terms(1)[0]
            while (len(word) >= 6) != (edits == 2):  # AUTO fuzziness: 2 edits from 6 letters
                word = self._terms(1)[0]
            return {"op": op, "terms": [word, self._terms(1)[0][:n]]}
        must = self._terms(self._shape(op, DSL_MUSTS))
        should = [t for t in self._terms(1) if t not in must]
        roles = sorted(self.rng.choice(ROLES, size=2, replace=False).tolist())
        return {"op": "dsl", "must": must, "should": should, "roles": roles,
                "not_tool": str(self.rng.choice(TOOLS))}
