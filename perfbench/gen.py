"""Seeded inputs for the benchmark: query and suggest traffic.

Every request is a pure function of (seed, stream, position), so the same
seed replays the same traffic. The vocabulary mirrors the synthetic
corpus (``sources.corpus``): a few hot terms plus Zipf-rare ``idNNNN``
identifiers. It is copied here on purpose, so that a change to the
program cannot silently change what the benchmark asks.

Traffic repeats a fixed cycle of request kinds, so every run has the
same mix whatever its seed; the seed only picks the terms.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

HOT = ["int", "return", "def", "for", "if", "while", "void", "self", "value", "result"]
N_RARE = 20000

#: one cycle of request kinds. 8 searches + 2 suggests = 80% / 20%.
SERVE_CYCLE = (
    "and_hot", "and_rare", "or_mixed", "must_not", "prefix",
    "phrase", "near", "miss", "suggest", "suggest",
)
#: the batch workload sends the same searches, minus suggest
BATCH_CYCLE = tuple(k for k in SERVE_CYCLE if k != "suggest")


@dataclass(frozen=True)
class Request:
    kind: str
    #: query string for /api/search (grammar, mode='or'), or the word to
    #: suggest for
    text: str
    #: (terms, mode) for the BM25 oracle, set only on plain-term queries
    plain: tuple[str, str] | None = None


def _rare(rng: random.Random) -> str:
    """A long-tail identifier, log-uniform in rank like the corpus."""
    return f"id{min(N_RARE - 1, int(math.exp(rng.random() * math.log(N_RARE)) - 1))}"


def _hot_pair(rng: random.Random) -> tuple[str, str]:
    a, b = rng.sample(HOT, 2)
    return a, b


def _misspell(rng: random.Random, word: str) -> str:
    """One random edit after the first letter: substitute, delete, insert
    or transpose. Suggest only considers terms that start with a letter of
    the word, so an edit of the first letter can rightly leave nothing to
    suggest (``6nt`` for ``int``), and the reply check wants suggestions."""
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    i = rng.randrange(1, len(word))
    op = rng.randrange(4)
    if op == 0:
        return word[:i] + rng.choice(alphabet) + word[i + 1 :]
    if op == 1 and len(word) > 2:
        return word[:i] + word[i + 1 :]
    if op == 2:
        return word[:i] + rng.choice(alphabet) + word[i:]
    j = min(i + 1, len(word) - 1)
    chars = list(word)
    chars[i], chars[j] = chars[j], chars[i]
    return "".join(chars)


def make_request(rng: random.Random, kind: str) -> Request:
    """One request of ``kind``. Conjunctions are spelled with ``+`` so a
    query means the same under the one mode ('or') every caller uses."""
    a, b = _hot_pair(rng)
    if kind == "and_hot":
        return Request(kind, f"+{a} +{b}", (f"{a} {b}", "and"))
    if kind == "and_rare":
        r = _rare(rng)
        return Request(kind, f"+{a} +{r}", (f"{a} {r}", "and"))
    if kind == "or_mixed":
        terms = f"{_rare(rng)} {_rare(rng)} {a}"
        return Request(kind, terms, (terms, "or"))
    if kind == "must_not":
        return Request(kind, f"+{a} -{_rare(rng)} {b}")
    if kind == "prefix":
        # a 3-digit stem expands to ~111 dictionary terms at most
        return Request(kind, f"+{a} id{rng.randrange(100, 1000)}*")
    if kind == "phrase":
        return Request(kind, f'"{a} {b}"')
    if kind == "near":
        return Request(kind, f'"{a} {_rare(rng)}"~4')
    if kind == "miss":
        miss = f"nomatch{rng.randrange(10**6)}"
        return Request(kind, f"+{a} +{miss}", (f"{a} {miss}", "and"))
    if kind == "suggest":
        word = _rare(rng) if rng.random() < 0.7 else a
        return Request(kind, _misspell(rng, word))
    raise ValueError(f"unknown request kind {kind!r}")


def stream(seed: int, stream_id: int, cycle: tuple[str, ...], offset: int = 0):
    """Endless request stream ``stream_id`` of ``seed``, following ``cycle``
    from position ``offset``."""
    rng = random.Random(seed * 1_000_003 + stream_id)
    i = offset
    while True:
        yield make_request(rng, cycle[i % len(cycle)])
        i += 1
