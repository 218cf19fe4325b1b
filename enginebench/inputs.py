"""Seeded inputs for the engine benchmark.

Everything the engine sees in a benchmark run is generated here from the
workload seed: a skewed base corpus of transcripts, a delta batch, the serving
query mix and the forced-WAND query shapes. The same seed gives the same
inputs, byte for byte.

The corpus is skewed on purpose. A flat corpus (every turn the same length,
tf in {1, 2}) gives every block of a term the same maximum score, so block-max
WAND can prune nothing. Here:

* turn length is long-tailed (log-normal, 2..200 tokens);
* terms are drawn Zipf-weighted from a vocabulary ranked hot-first;
* the tail vocabulary carries a digit suffix ("shuffle17"), so most terms are
  rare and df spans several orders of magnitude;
* about one turn in 60 is a spike: one term repeated 2-10 times in an
  otherwise empty turn, which makes the per-term maximum BM25 scores;
* a few turns are empty, null or non-ASCII, so the tokenizer's fallback path
  runs too.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT = ["the", "a", "to", "and", "of", "in", "is", "it", "that", "for"]
TAIL_BASES = [
    "spark", "shuffle", "partition", "index", "postings", "query", "token",
    "merge", "compress", "varbyte", "block", "score", "rank", "join",
    "broadcast", "salt", "skew", "checkpoint", "lineage", "snapshot",
    "iceberg", "parquet", "arrow", "vector", "dense", "sparse", "colbert",
    "model", "latency", "throughput", "executor", "driver", "catalyst",
    "codegen", "window", "stage", "task", "cache", "memory", "disk",
]
TAIL_SUFFIXES = 64  # 40 bases x 64 suffixes = 2560 tail terms
ZIPF_S = 1.05
SPIKE_EVERY = 60
TURNS_PER_CONV = 10
ODD_TEXTS = [
    "",
    None,
    "Русский текст и 中文 mixed with the index",
    "café naïve déjà vu shuffle3",
]

SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass
class Corpus:
    """Transcript rows as plain columns: docID = conv_id:turn_idx."""

    conv_id: list[str]
    turn_idx: list[int]
    text: list[str | None]

    def __len__(self) -> int:
        return len(self.text)

    def rows(self) -> list[tuple[str, int, str | None]]:
        return list(zip(self.conv_id, self.turn_idx, self.text))

    def write_parquet(self, path: str) -> None:
        n = len(self)
        roles = ["user", "assistant", "tool"]
        t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        table = pa.table(
            {
                "conv_id": self.conv_id,
                "turn_idx": pa.array(self.turn_idx, pa.int32()),
                "role": [roles[t % 3] for t in self.turn_idx],
                "text": self.text,
                "tool": [None] * n,
                "ts": [t0 + dt.timedelta(seconds=30 * i) for i in range(n)],
            },
            schema=SCHEMA,
        )
        pq.write_table(table, path)


class Vocabulary:
    """Terms ranked hot-first; the tail order is a seeded permutation."""

    def __init__(self, rng: np.random.Generator):
        tail = [f"{b}{i}" for b in TAIL_BASES for i in range(TAIL_SUFFIXES)]
        order = rng.permutation(len(tail))
        self.terms = np.array(HOT + [tail[i] for i in order], dtype=object)
        w = 1.0 / np.arange(1, len(self.terms) + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        """Zipf-weighted term ranks."""
        return np.minimum(np.searchsorted(self.cdf, rng.random(n)), len(self.terms) - 1)


def _texts(rng: np.random.Generator, vocab: Vocabulary, n: int) -> list[str | None]:
    lengths = np.clip(rng.lognormal(2.6, 0.8, n).astype(np.int64), 2, 200)
    ranks = vocab.draw(rng, int(lengths.sum()))
    words = vocab.terms[ranks]
    spike = rng.random(n) < 1.0 / SPIKE_EVERY
    spike_rank = vocab.draw(rng, n)
    spike_rep = rng.integers(2, 11, n)
    odd = rng.random(n) < 0.01
    odd_pick = rng.integers(0, len(ODD_TEXTS), n)
    out: list[str | None] = []
    pos = 0
    for i in range(n):
        ln = int(lengths[i])
        if odd[i]:
            out.append(ODD_TEXTS[odd_pick[i]])
        elif spike[i]:
            out.append(" ".join([vocab.terms[spike_rank[i]]] * int(spike_rep[i])))
        else:
            out.append(" ".join(words[pos : pos + ln]))
        pos += ln
    return out


@dataclass
class Inputs:
    base: Corpus
    delta: Corpus
    serve_mix: list[str]
    prune_shapes: list[tuple[str, str, int]]  # (shape, query text, k)


def generate(seed: int, base_turns: int, delta_turns: int, mix_size: int) -> Inputs:
    rng = np.random.default_rng(seed)
    vocab = Vocabulary(rng)

    n_convs = base_turns // TURNS_PER_CONV
    base = Corpus(
        [f"conv-{c:06d}" for c in range(n_convs) for _ in range(TURNS_PER_CONV)],
        [t for _ in range(n_convs) for t in range(TURNS_PER_CONV)],
        _texts(rng, vocab, n_convs * TURNS_PER_CONV),
    )
    # delta: half continues existing conversations (turn_idx past the base's),
    # half opens new ones; every docID is new, so merge == rebuild holds.
    half = delta_turns // 2
    cont = rng.choice(n_convs, size=half, replace=False)
    new_convs = (delta_turns - half + TURNS_PER_CONV - 1) // TURNS_PER_CONV
    conv_ids = [f"conv-{c:06d}" for c in sorted(cont.tolist())]
    turn_idx = [TURNS_PER_CONV] * half
    for c in range(n_convs, n_convs + new_convs):
        for t in range(TURNS_PER_CONV):
            if len(conv_ids) < delta_turns:
                conv_ids.append(f"conv-{c:06d}")
                turn_idx.append(t)
    delta = Corpus(conv_ids, turn_idx, _texts(rng, vocab, delta_turns))

    return Inputs(base, delta, _serve_mix(rng, vocab, mix_size), _prune_shapes(rng, vocab))


def _serve_mix(rng: np.random.Generator, vocab: Vocabulary, size: int) -> list[str]:
    """1-4 Zipf-weighted terms per query. Query lengths cycle, so every mix has
    the same shape counts; about one query in 8 carries an absent term and one
    in 8 repeats a term. The term draws are stratified over the Zipf CDF (one
    draw per equal-probability stratum, in seeded order), so mixes from
    different seeds hold different terms but the same spread of frequencies."""
    lengths = [1 + i % 4 for i in range(size)]
    n = sum(lengths)
    u = (rng.permutation(n) + rng.random(n)) / n
    ranks = np.minimum(np.searchsorted(vocab.cdf, u), len(vocab.terms) - 1)
    mix, pos = [], 0
    for i, ln in enumerate(lengths):
        terms = [str(t) for t in vocab.terms[ranks[pos : pos + ln]]]
        pos += ln
        if i % 8 == 3:
            terms.append(f"zzabsent{int(rng.integers(0, 10**6))}")
        if i % 8 == 6:
            terms.append(terms[0])
        mix.append(" ".join(terms))
    return mix


def _prune_shapes(rng: np.random.Generator, vocab: Vocabulary) -> list[tuple[str, str, int]]:
    """Forced-WAND shapes where block-max pruning has something to skip: the
    hottest term at k=10, a tail term at k=1, and a rare term with the hottest
    at k=10. Tail and rare terms come from fixed rank bands."""
    hot = str(vocab.terms[0])
    tail = str(vocab.terms[int(rng.integers(len(HOT) + 10, len(HOT) + 60))])
    rare = str(vocab.terms[int(rng.integers(len(HOT) + 200, len(HOT) + 600))])
    return [
        ("hot_k10", hot, 10),
        ("tail_k1", tail, 1),
        ("rare_hot_k10", f"{rare} {hot}", 10),
    ]
