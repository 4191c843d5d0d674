"""Seeded inputs: the transcript corpus and the query streams.

Everything here is a pure function of the seed, so two runs with the same
`--seed` send the engine byte-identical inputs. The corpus draws words
iid from the engine's own Zipfian vocabulary (`sources.transcripts`, the
`spread="uniform"` shape), vectorized over the whole corpus instead of
one conversation at a time; queries come from the reference's 15
templates (`querygen`) over H/M/L frequency pools, plus PHRASE queries
cut from adjacent corpus words.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from text_indexing_and_retrieval_system_spark import querygen
from text_indexing_and_retrieval_system_spark.functions.normalize import (
    normalize_query_terms,
)
from text_indexing_and_retrieval_system_spark.sources.transcripts import (
    build_vocabulary,
    zipf_probs,
)

VOCAB_SIZE = 20000
CORPUS_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
_ROLES = np.array(["user", "assistant", "system", "tool"])
_ROLE_P = [0.40, 0.40, 0.05, 0.15]
_BASE_TS = pd.Timestamp("2025-01-01", tz="UTC")


def make_corpus(n_turns: int, seed: int, first_conv: int = 0) -> pd.DataFrame:
    """Exactly `n_turns` turns of conversations with ids
    conv-<first_conv>.. (1..40 turns each, the last one cut short;
    log-normal turn lengths). A fixed turn count keeps the corpus size,
    and with it every per-op cost, the same across seeds. `first_conv`
    keeps appended batches disjoint from the base corpus."""
    rng = np.random.default_rng([seed, first_conv, n_turns])
    vocab = build_vocabulary(VOCAB_SIZE)
    cum = np.cumsum(zipf_probs(VOCAB_SIZE))
    per_conv = 1 + rng.zipf(1.6, n_turns) % 40
    n_convs = int(np.searchsorted(np.cumsum(per_conv), n_turns)) + 1
    per_conv = per_conv[:n_convs]
    per_conv[-1] -= per_conv.sum() - n_turns
    conv_idx = np.repeat(np.arange(first_conv, first_conv + n_convs), per_conv)
    turn_idx = np.concatenate([np.arange(n) for n in per_conv]).astype(np.int32)
    lengths = np.clip(rng.lognormal(3.0, 0.8, turn_idx.size), 3, 400).astype(int)
    word_idx = np.minimum(np.searchsorted(cum, rng.random(lengths.sum())), VOCAB_SIZE - 1)
    words = vocab[word_idx].astype(object)
    # punctuation and bare numbers, so the normalizer's strip rules matter
    deco = rng.random(words.size)
    words[deco < 0.03] += ","
    words[(deco >= 0.03) & (deco < 0.04)] += "!"
    nums = (deco >= 0.04) & (deco < 0.05)
    words[nums] = rng.integers(0, 10000, int(nums.sum())).astype(str)
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - n : e]) for e, n in zip(ends, lengths)]
    roles = _ROLES[rng.choice(4, size=turn_idx.size, p=_ROLE_P)]
    return pd.DataFrame(
        {
            "conv_id": [f"conv-{c:08d}" for c in conv_idx],
            "turn_idx": turn_idx,
            "role": roles,
            "text": texts,
            "tool": np.where(roles == "tool", "search", ""),
            "ts": _BASE_TS + pd.to_timedelta(conv_idx * 3600 + turn_idx * 7, unit="s"),
        }
    )[CORPUS_COLS]


def with_doc_ids(pdf: pd.DataFrame) -> pd.DataFrame:
    """The engine's doc id string, `conv_id:%04d`."""
    return pdf.assign(doc_id=pdf["conv_id"] + ":" + pdf["turn_idx"].map("{:04d}".format))


def corpus_digest(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for c, t, x in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
        h.update(f"{c}\t{t}\t{x}\n".encode())
    return h.hexdigest()[:16]


def frequency_pools(oracle) -> dict[str, list[str]]:
    """H/M/L pools from corpus term frequencies (the reference's rank
    windows), read off the oracle's postings."""
    freqs = sorted(
        ((t, sum(len(p) for p in docs.values())) for t, docs in oracle.postings.items()),
        key=lambda tf: (-tf[1], tf[0]),
    )
    return querygen.pools_from_frequencies(freqs)


def phrase_queries(pdf: pd.DataFrame, n: int, seed: int, cfg) -> list[str]:
    """PHRASE queries from two adjacent raw words of random turns, both of
    which normalize to exactly one token — so the phrase always matches
    at least its source turn."""
    rng = np.random.default_rng([seed, 8])
    texts = pdf["text"].to_numpy()
    out: list[str] = []
    while len(out) < n:
        words = texts[rng.integers(len(texts))].split()
        if len(words) < 2:
            continue
        i = int(rng.integers(len(words) - 1))
        pair = words[i : i + 2]
        if all(len(toks) == 1 for toks in normalize_query_terms(pair, cfg)):
            q = f'PHRASE "{pair[0]} {pair[1]}"'
            if q not in out:
                out.append(q)
    return out


def template_queries(pools, n: int, seed: int) -> list[str]:
    """`n` distinct template queries (first-seen order)."""
    out: dict[str, None] = {}
    salt = 0
    while len(out) < n:
        for q in querygen.generate_queries(pools, n, seed=seed * 1000 + salt):
            out.setdefault(q)
        salt += 1
    return list(out)[:n]


def queries_by_shape(pools, per_shape: int, seed: int) -> list[list[str]]:
    """`per_shape` distinct queries for each of the 15 template shapes."""
    return [
        list(dict.fromkeys(querygen.generate_queries(pools, 4 * per_shape, seed * 1000 + i, [t])))[:per_shape]
        for i, t in enumerate(querygen.QUERY_TEMPLATES)
    ]


class InteractiveStream:
    """Closed-loop query stream with Zipf repeats, stratified so that the
    mix of query shapes is the same in every run: every 8th op is a
    PHRASE query and the others cycle through the 15 template shapes.
    Within a shape, and among the phrases, the rank of the drawn query is
    Zipf-distributed with exponent ZIPF_S, so hot queries repeat.

    ZIPF_S and the pool sizes (40 queries per shape, 8 phrases) are
    assumptions, not fitted to a query log; each run records the share
    of its window's queries that were sent before (`repeat_share`)."""

    PHRASE_EVERY = 8
    ZIPF_S = 0.5

    def __init__(self, shapes: list[list[str]], phrases: list[str], seed: int):
        self.rng = np.random.default_rng([seed, 9])
        self.pools = shapes + [phrases]
        self.cdfs = [np.cumsum(w / w.sum()) for w in (
            1.0 / np.arange(1, len(p) + 1) ** self.ZIPF_S for p in self.pools
        )]
        self.i = 0

    def next(self) -> str:
        i, self.i = self.i, self.i + 1
        if i % self.PHRASE_EVERY == self.PHRASE_EVERY - 1:
            which = len(self.pools) - 1
        else:
            which = (i - i // self.PHRASE_EVERY) % (len(self.pools) - 1)
        pool, cdf = self.pools[which], self.cdfs[which]
        return pool[min(int(np.searchsorted(cdf, self.rng.random())), len(pool) - 1)]


class BatchStream:
    """Batches of `size` distinct template queries, fresh draws each batch."""

    def __init__(self, pools, seed: int, size: int = 64):
        self.pools, self.seed, self.size, self.i = pools, seed, size, 0

    def next(self) -> list[str]:
        self.i += 1
        return template_queries(self.pools, self.size, self.seed * 100_003 + self.i)
