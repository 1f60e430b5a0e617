"""Seeded transcript and query generator.

Everything the engine receives comes from here, as a function of the
seed alone: a Parquet table ``(conv_id, turn_idx, role, text, tool, ts)``
and query strings. The engine never sees the generator's internals; the
oracle (``oracle.py``) re-derives every answer from the same text through
the public analyzer.

Corpus shape:

* a Zipf(s=1.1) vocabulary of 50k pseudo-words (consonant-vowel
  syllables, so Porter2 leaves most of them distinct and the k-gram index
  sees realistic shared prefixes);
* about 8 turns per conversation; role-dependent turn lengths (user ~12,
  assistant ~80, tool ~40 tokens); tool turns carry a tool name;
* surface variation the normalizer must undo: the first word of a turn
  is capitalised, the last ends with ``.``, and ~4% of words end with
  ``,``.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 50_000
ZIPF_S = 1.1
# The vocabulary and the corpus shape (conversation sizes, roles, turn
# lengths) are the same for every seed, so the index size and the df
# strata do not move with the seed; the seed picks the words.
VOCAB_SEED = 0
SHAPE_SEED = 1
TURNS_PER_CONV = 8
MEAN_TOKENS = {"user": 12, "assistant": 80, "tool": 40}
TOOLS = (
    "bash", "python", "web_search", "read_file", "write_file", "grep",
    "sql", "http_get", "calculator", "calendar", "email", "image_gen",
)
_CONSONANTS = np.array(list("bcdfghjklmnprstvz"))
_VOWELS = np.array(list("aeiou"))
_EPOCH = dt.datetime(2026, 1, 1)

# df strata by Zipf rank (rank 0 = most frequent word)
HEAD_MAX_RANK = 50
TORSO_MAX_RANK = 2_000

# surface variants of a word in the text
PLAIN, CAPITAL, PERIOD, COMMA = range(4)


def make_vocab(n: int = VOCAB_SIZE) -> np.ndarray:
    """``n`` distinct pseudo-words of 2-4 CV syllables, in Zipf-rank order."""
    rng = np.random.default_rng(VOCAB_SEED)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        m = 2 * (n - len(words))
        n_syl = rng.integers(2, 5, m)
        cons = _CONSONANTS[rng.integers(0, _CONSONANTS.size, (m, 4))]
        vows = _VOWELS[rng.integers(0, _VOWELS.size, (m, 4))]
        for i in range(m):
            w = "".join(c + v for c, v in zip(cons[i, : n_syl[i]], vows[i, : n_syl[i]]))
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return np.array(words, dtype=object)


class Corpus:
    """One generated corpus: token ids per turn plus the turn metadata.

    ``tokens`` is the flat array of vocabulary ranks, ``variants`` the
    surface variant of each token and ``offsets[i]:offsets[i+1]`` the
    tokens of turn ``i``. Turns are in (conv_id, turn_idx) order, which
    is the order the engine assigns doc ids in.
    """

    def __init__(self, vocab, conv_ids, turn_idx, roles, tools, ts, tokens, variants, offsets):
        self.vocab = vocab
        self.conv_ids = conv_ids
        self.turn_idx = turn_idx
        self.roles = roles
        self.tools = tools
        self.ts = ts
        self.tokens = tokens
        self.variants = variants
        self.offsets = offsets

    @property
    def n_turns(self) -> int:
        return len(self.conv_ids)

    def texts(self) -> list[str]:
        words = self.vocab[self.tokens]
        for variant in (CAPITAL, PERIOD, COMMA):
            idx = np.flatnonzero(self.variants == variant)
            words[idx] = [surface_word(w, variant) for w in words[idx]]
        off = self.offsets
        return [" ".join(words[off[i] : off[i + 1]]) for i in range(self.n_turns)]

    def to_table(self) -> pa.Table:
        return pa.table(
            {
                "conv_id": pa.array(self.conv_ids, pa.string()),
                "turn_idx": pa.array(self.turn_idx, pa.int32()),
                "role": pa.array(self.roles, pa.string()),
                "text": pa.array(self.texts(), pa.string()),
                "tool": pa.array(self.tools, pa.string()),
                "ts": pa.array(self.ts, pa.timestamp("us")),
            }
        )

    def write_parquet(self, path: str) -> int:
        """Write the transcript table; returns the UTF-8 bytes of ``text``."""
        table = self.to_table()
        pq.write_table(table, path)
        return int(pa.compute.sum(pa.compute.binary_length(table["text"])).as_py())


def surface_word(word: str, variant: int) -> str:
    if variant == CAPITAL:
        return word.capitalize()
    if variant == PERIOD:
        return word + "."
    if variant == COMMA:
        return word + ","
    return word


def zipf_cdf(n: int = VOCAB_SIZE, s: float = ZIPF_S) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    c = np.cumsum(p)
    return c / c[-1]


def generate(
    seed: int,
    n_convs: int,
    vocab: np.ndarray,
    conv_prefix: str = "c",
    t0_seconds: int = 0,
    n_turns: int | None = None,
) -> Corpus:
    """``n_convs`` conversations of ~8 turns, their words drawn with
    ``seed``; with ``n_turns``, the last conversations are cut so there
    are exactly that many turns.

    ``conv_prefix`` names the conversations, so appended batches never
    collide with the initial corpus.
    """
    rng = np.random.default_rng(seed)
    shape = np.random.default_rng([SHAPE_SEED, n_convs])
    turns_per = np.clip(shape.poisson(TURNS_PER_CONV - 1, n_convs) + 1, 2, 16)
    if n_turns is not None:
        ends = np.cumsum(turns_per)
        n_convs = int(np.searchsorted(ends, n_turns)) + 1
        turns_per = turns_per[:n_convs]
        turns_per[-1] -= int(ends[n_convs - 1]) - n_turns
    n = int(turns_per.sum())
    conv_of = np.repeat(np.arange(n_convs), turns_per)
    starts = np.concatenate(([0], np.cumsum(turns_per)[:-1]))
    turn_idx = np.arange(n) - np.repeat(starts, turns_per)
    # user opens; then assistant, with ~1 in 4 non-opening turns a tool call
    roles = np.where(
        turn_idx == 0,
        0,
        np.where(shape.random(n) < 0.25, 2, np.where(turn_idx % 2 == 1, 1, 0)),
    )
    role_names = np.array(["user", "assistant", "tool"], dtype=object)[roles]
    means = np.array([MEAN_TOKENS["user"], MEAN_TOKENS["assistant"], MEAN_TOKENS["tool"]])[roles]
    lengths = np.maximum(1, shape.poisson(means))
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int64)
    n_tok = int(offsets[-1])
    tokens = np.searchsorted(zipf_cdf(len(vocab)), rng.random(n_tok), side="right")
    tokens = np.minimum(tokens, len(vocab) - 1).astype(np.int32)
    variants = np.where(rng.random(n_tok) < 0.04, COMMA, PLAIN).astype(np.int8)
    variants[offsets[:-1]] = CAPITAL
    variants[offsets[1:] - 1] = PERIOD
    tool_names = np.array(TOOLS, dtype=object)[rng.integers(0, len(TOOLS), n)]
    tools = np.where(roles == 2, tool_names, "")
    conv_ids = np.array(
        [f"{conv_prefix}{c:08d}" for c in range(n_convs)], dtype=object
    )[conv_of]
    ts = np.datetime64(_EPOCH) + (
        t0_seconds + conv_of.astype(np.int64) * 600 + turn_idx * 20
    ).astype("timedelta64[s]")
    return Corpus(vocab, conv_ids, turn_idx.astype(np.int32), role_names, tools, ts,
                  tokens, variants, offsets)


def convs_for_turns(n_turns: int) -> int:
    return max(1, round(n_turns / TURNS_PER_CONV))


class QueryGen:
    """Query strings drawn from df strata of the generated corpus.

    Strata are Zipf ranks: head (< 50), torso (50-2,000) and tail
    (> 2,000). Tail words are drawn only among words that occur, so
    every stratum has matches. Phrases are bigrams sampled from the
    corpus text; wildcards are ``abc*`` and ``abc*yz`` patterns cut
    from torso/tail words. Query shapes (words per ranked query, clauses
    per boolean query, wildcard form) do not depend on the seed: the
    seed picks the words, so the work a query shape costs the engine is
    the same in every run.
    """

    def __init__(self, seed: int, corpus: Corpus):
        self.rng = np.random.default_rng(seed)
        self.corpus = corpus
        self.calls = {"boolean": 0, "wildcard": 0}
        present = np.unique(corpus.tokens)
        self.strata = {
            "head": present[present < HEAD_MAX_RANK],
            "torso": present[(present >= HEAD_MAX_RANK) & (present < TORSO_MAX_RANK)],
            "tail": present[present >= TORSO_MAX_RANK],
        }

    def word(self, stratum: str | None = None) -> str:
        if stratum is None:
            stratum = ("head", "torso", "tail")[self.rng.integers(0, 3)]
        ids = self.strata[stratum]
        return str(self.corpus.vocab[ids[self.rng.integers(0, ids.size)]])

    def _alternate(self, kind: str) -> bool:
        """True on every other call for ``kind``, starting with the first."""
        self.calls[kind] += 1
        return self.calls[kind] % 2 == 1

    def ranked(self) -> str:
        """Three words, one from each stratum, in random order."""
        words = [self.word("head"), self.word("torso"), self.word("tail")]
        self.rng.shuffle(words)
        return " ".join(words)

    def boolean(self) -> str:
        """An AND of two words, OR-ed with a second AND on every other call."""
        lit = lambda: f"{self.word('torso')} {self.word()}"  # noqa: E731
        if self._alternate("boolean"):
            return lit()
        return f"{lit()} + {lit()}"

    def phrase(self) -> str:
        c = self.corpus
        while True:
            i = int(self.rng.integers(0, c.n_turns))
            lo, hi = int(c.offsets[i]), int(c.offsets[i + 1])
            if hi - lo >= 2:
                j = int(self.rng.integers(lo, hi - 1))
                return f'"{c.vocab[c.tokens[j]]} {c.vocab[c.tokens[j + 1]]}"'

    def wildcard(self) -> str:
        w = self.word(("torso", "tail")[self.rng.integers(0, 2)])
        if self._alternate("wildcard"):
            return w[:3] + "*"
        return w[:3] + "*" + w[-2:]
