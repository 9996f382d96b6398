"""Deterministic query pools and request streams.

Pools are fixed (they depend only on the corpus vocabulary), so their
expected answers are computed once per fixture. The run seed draws what a
run sends from them: the serve stream, the batch order, the churn checks.

Kinds (the serve mix):

* fast: ``head`` (a single term in more than half the corpus: idf 0, so no
  hit can pass the score threshold), ``stop`` (stopwords only: nothing to
  analyze) and ``oov`` (no indexed term). The engine answers these with
  ~2 Spark jobs instead of ~16, so latency is bimodal.
* slow: ``mid`` and ``tail`` single terms, ``planted`` terms with an exact
  known df, and ``multi`` (2-3 terms, some with stopwords or case noise).

The fast share of the serve stream is FAST_SHARE, well clear of the 50 %
and 10 % marks, so p50 and p90 stay in the slow mode. A micro-batch is
fast only when every query in it is fast, so with nproc clients the share
of fast requests is far smaller still (0.25^4 < 0.5 % at 4 clients).
"""

from __future__ import annotations

import bisect
import itertools
import random

FAST_KINDS = ("head", "stop", "oov")
FAST_SHARE = 0.25
ZIPF_S = 1.0
STOP_QUERIES = ("the", "of the", "and or", "what is the", "how to", "a an the")


def pool(vocab: list[str], planted: list[str]) -> list[tuple[str, str]]:
    """The serve/churn pool: (kind, query) pairs, distinct queries."""
    rng = random.Random(1009)
    out: list[tuple[str, str]] = []
    out += [("head", vocab[r].capitalize()) for r in range(8)]
    out += [("stop", q) for q in STOP_QUERIES]
    syll = "qxjy"
    out += [
        ("oov", "".join(rng.choice(syll) for _ in range(7)) + str(i))
        for i in range(6)
    ]
    out += [("mid", vocab[r]) for r in rng.sample(range(100, 400), 40)]
    out += [("tail", vocab[r]) for r in rng.sample(range(1500, 4500), 30)]
    out += [("planted", t) for t in planted]
    for i in range(60):
        a = vocab[rng.randrange(100, 600)]
        b = vocab[rng.randrange(600, 4000)]
        shape = i % 4
        if shape == 0:
            q = f"{a} {b}"
        elif shape == 1:
            q = f"how to {a} the {b}"
        elif shape == 2:
            q = f"{a.capitalize()} {b.upper()} {vocab[rng.randrange(30, 100)]}"
        else:
            q = f"{planted[i % len(planted)]} {a}"
        out.append(("multi", q))
    seen: set[str] = set()
    uniq = []
    for kind, q in out:
        if q not in seen:
            seen.add(q)
            uniq.append((kind, q))
    return uniq


def batch_pool(vocab: list[str], size: int = 1200) -> list[str]:
    """Distinct multi-term queries for offline batches (no repeats)."""
    rng = random.Random(2003)
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = rng.choice((1, 2, 2, 3))
        terms = [vocab[rng.randrange(60, 4500)] for _ in range(n)]
        q = " ".join(terms)
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def _zipf_cum(n: int) -> list[float]:
    return list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(n)))


class ServeStream:
    """Seeded request stream over the pool: fast vs slow first (FAST_SHARE),
    then a Zipf draw over a seeded popularity order within the side, so
    queries repeat."""

    def __init__(self, pool_: list[tuple[str, str]], seed: int):
        self.rng = random.Random(seed)
        fast = [q for k, q in pool_ if k in FAST_KINDS]
        slow = [q for k, q in pool_ if k not in FAST_KINDS]
        self.rng.shuffle(fast)
        self.rng.shuffle(slow)
        self.sides = [(fast, _zipf_cum(len(fast))), (slow, _zipf_cum(len(slow)))]

    def next(self) -> str:
        qs, cum = self.sides[0 if self.rng.random() < FAST_SHARE else 1]
        return qs[bisect.bisect_left(cum, self.rng.random() * cum[-1])]

    def take(self, n: int) -> list[str]:
        return [self.next() for _ in range(n)]


def batch_order(queries: list[str], seed: int) -> list[str]:
    out = list(queries)
    random.Random(seed).shuffle(out)
    return out


def churn_checks(pool_: list[tuple[str, str]], seed: int, cycle: int, n: int = 8) -> list[str]:
    """Slow-kind queries a churn cycle asks after each write."""
    slow = sorted(q for k, q in pool_ if k not in FAST_KINDS)
    return random.Random(seed * 1000 + cycle).sample(slow, n)
