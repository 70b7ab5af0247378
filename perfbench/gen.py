"""Seeded transcript corpus, query sets and exact truth for the benchmark.

Everything here is NumPy/pandas and runs before Spark starts. The corpus
uses the engine's transcript schema (conv_id, turn_idx, role, text, tool,
ts). Text is a Zipf-distributed common vocabulary plus one rare
identifier planted in one turn of every conversation, so identifier
queries live in exactly one shard and the shard gates can prune. The
same seed gives the same tables, queries and truth.

Truth is computed from the generated arrays, not from the engine:
``turns_with`` intersects exact per-token turn sets.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
ROLE_P = np.array([0.35, 0.40, 0.05, 0.20])
TOOLS = np.array(["Bash", "Read", "Write", "Grep", "Edit", "WebSearch"],
                 dtype=object)
VOCAB = 3000
ZIPF_S = 1.1
WORDS_PER_TURN = (3, 10)          # inclusive range of common words per turn
CONV_TURNS = (8, 24)              # inclusive range of turns per conversation
_ID_MULT = 0x9E3779B97F4B         # odd, so i -> i * mult mod 2**48 is 1:1
_ID_MOD = 1 << 48
BASE_TS = np.datetime64("2026-01-01T00:00:00", "us")


@dataclass
class Corpus:
    """One generated transcript table plus the token structure behind it."""
    frame: pd.DataFrame           # the engine's transcript schema
    word_row: np.ndarray          # row of every common-word occurrence
    word_id: np.ndarray           # vocabulary rank of that occurrence
    ident: np.ndarray             # identifier planted in conversation i
    ident_row: np.ndarray         # row that carries identifier i
    id_salt: int

    @property
    def n(self) -> int:
        return len(self.frame)

    def absent_ident(self, j: int) -> str:
        """An identifier the generator never planted in this corpus."""
        return _ident(len(self.ident) + j, self.id_salt)

    def key(self, row: int) -> tuple:
        f = self.frame
        return (f["conv_id"].iat[row], int(f["turn_idx"].iat[row]))


def _ident(i, salt: int):
    return "x%012x" % ((int(i) * _ID_MULT + salt) % _ID_MOD)


def make_corpus(n_turns: int, seed: int, prefix: str) -> Corpus:
    rng = np.random.default_rng(seed)
    lens = rng.integers(CONV_TURNS[0], CONV_TURNS[1] + 1,
                        size=n_turns // CONV_TURNS[0] + 1)
    n_convs = int(np.searchsorted(np.cumsum(lens), n_turns)) + 1
    lens = lens[:n_convs]
    lens[-1] -= int(lens.sum()) - n_turns
    conv = np.repeat(np.arange(n_convs), lens)
    starts = np.cumsum(lens) - lens
    turn = np.arange(n_turns) - np.repeat(starts, lens)

    role = ROLES[rng.choice(len(ROLES), size=n_turns, p=ROLE_P)]
    tool = TOOLS[rng.integers(0, len(TOOLS), size=n_turns)].astype(object)
    tool[(role == "user") | (role == "system")] = None

    n_words = rng.integers(WORDS_PER_TURN[0], WORDS_PER_TURN[1] + 1,
                           size=n_turns)
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    word_id = rng.choice(VOCAB, size=int(n_words.sum()), p=p / p.sum())
    word_row = np.repeat(np.arange(n_turns), n_words)

    salt = int(rng.integers(0, _ID_MOD))
    ident = np.array([_ident(i, salt) for i in range(n_convs)], dtype=object)
    ident_row = starts + (rng.random(n_convs) * lens).astype(np.int64)

    vocab = np.array(["w%04d" % r for r in range(VOCAB)], dtype=object)
    words = vocab[word_id]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    text = np.array([" ".join(words[bounds[i]:bounds[i + 1]])
                     for i in range(n_turns)], dtype=object)
    text[ident_row] = text[ident_row] + " " + ident

    frame = pd.DataFrame({
        "conv_id": np.array(["%s%07d" % (prefix, c) for c in range(n_convs)],
                            dtype=object)[conv],
        "turn_idx": turn.astype(np.int32),
        "role": role,
        "text": text,
        "tool": tool,
        "ts": BASE_TS + (conv * 60 + turn * 7).astype("timedelta64[s]"),
    })
    return Corpus(frame, word_row, word_id, ident, ident_row, salt)


def write_parquet(corpus: Corpus, path: str, n_files: int) -> None:
    """Write the table as ``n_files`` parquet files so the first Spark
    stage gets that many input splits."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(corpus.n), n_files)):
        corpus.frame.iloc[part].to_parquet(
            os.path.join(path, "part-%05d.parquet" % i), index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True)


class Truth:
    """Exact row sets for dimension tokens over one corpus."""

    def __init__(self, corpus: Corpus):
        order = np.argsort(corpus.word_id, kind="stable")
        self._rows = corpus.word_row[order]
        self._bounds = np.searchsorted(corpus.word_id[order],
                                       np.arange(VOCAB + 1))
        self._ident_of = dict(zip(corpus.ident, corpus.ident_row))
        f = corpus.frame
        self._role = f["role"].to_numpy()
        self._tool = f["tool"].to_numpy()
        self._memo: dict = {}

    def rows_for(self, token: str) -> np.ndarray:
        """Sorted rows whose dimension tokens include ``token``."""
        if token not in self._memo:
            self._memo[token] = self._rows_for(token)
        return self._memo[token]

    def _rows_for(self, token: str) -> np.ndarray:
        col, _, val = token.partition("=")
        if col == "role":
            return np.flatnonzero(self._role == val)
        if col == "tool":
            return np.flatnonzero(self._tool == val)
        if val.startswith("w"):
            r = int(val[1:])
            return np.unique(self._rows[self._bounds[r]:self._bounds[r + 1]])
        row = self._ident_of.get(val)
        return np.array([] if row is None else [row], dtype=np.int64)

    def turns_with(self, tokens) -> np.ndarray:
        rows = None
        for t in tokens:
            r = self.rows_for(t)
            rows = r if rows is None else np.intersect1d(rows, r,
                                                         assume_unique=True)
        return rows


# query kinds in a fixed rotation, so every run of ten consecutive lookups
# has the same mix: 4 identifier, 3 tags + identifier, 1 wrong role,
# 2 never-planted identifier
LOOKUP_KINDS = (0, 1, 0, 3, 1, 0, 2, 0, 1, 3)


def lookup_queries(corpus: Corpus, truth: Truth, n: int, seed: int):
    """Selective queries: a planted identifier alone, with the tags of its
    turn, with a wrong role (no true hit), or an identifier that was
    never planted (no true hit). Returns [(tokens, {(conv, turn)})]."""
    rng = np.random.default_rng([seed, 1])
    f = corpus.frame
    out = []
    convs = rng.integers(0, len(corpus.ident), size=n)
    for i, c in enumerate(convs):
        kind = LOOKUP_KINDS[i % len(LOOKUP_KINDS)]
        row = int(corpus.ident_row[c])
        tok = "tok=" + corpus.ident[c]
        if kind == 0:
            toks = [tok]
        elif kind == 1:
            toks = ["role=" + f["role"].iat[row], tok]
            if f["tool"].iat[row] is not None:
                toks.insert(1, "tool=" + f["tool"].iat[row])
        elif kind == 2:
            wrong = ROLES[(list(ROLES).index(f["role"].iat[row]) + 1) % 4]
            toks = ["role=" + wrong, tok]
        else:
            toks = ["tok=" + corpus.absent_ident(i)]
        out.append((toks, {corpus.key(r) for r in truth.turns_with(toks)}))
    return out


def scan_queries(truth: Truth, n: int, seed: int):
    """Broad queries: common words, alone, in pairs, or with a role/tool
    tag. Every one matches turns in almost every shard. Returns
    [(tokens, true_count)]."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for kind in rng.integers(0, 4, size=n):
        a, b = ("tok=w%04d" % r for r in rng.integers(0, 24, size=2))
        if kind == 0:
            toks = [a]
        elif kind == 1:
            toks = ["role=" + rng.choice(["user", "assistant", "tool"]), a]
        elif kind == 2:
            toks = ["tool=" + rng.choice(TOOLS), a]
        else:
            toks = [a, b] if a != b else [a]
        out.append((toks, int(truth.turns_with(toks).size)))
    return out
