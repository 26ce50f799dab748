"""Seeded paged-API post fetcher for the ETL workload.

``fetch_page`` has the ``(key, term, limit)`` signature the paged-API data
source resolves from its ``fetcher`` option, so executor Python workers
import this module by name. It stays stdlib-only because every
data-source task imports it.

A post is a pure function of (seed, key, index), so the same id carries
the same content whichever term or tick returns it. At tick ``t`` a key
(a subreddit) shows its ``WINDOW`` posts from index ``t * WINDOW // 2``
on, so half of them are new since the previous tick and half were shown
then, as a live API shows a moving window of recent posts. Each term
picks a seeded ``TERM_SHARE`` of that window, so ids overlap across terms.

The seed reaches the workers through ``PERFBENCH_SEED``, which the
benchmark exports before the JVM (and so every Python worker it forks)
starts. The tick changes while the workers live, so it reaches them
through a clock file, named by ``PERFBENCH_CLOCK``, that the benchmark
rewrites before each tick.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

SEED_ENV = "PERFBENCH_SEED"
CLOCK_ENV = "PERFBENCH_CLOCK"
WINDOW = 150
TERM_SHARE = 0.45

_POSITIVE = ["good", "great", "fast", "value", "small", "spark"]
_NEGATIVE = ["bad", "slow", "error", "crash", "big", "dup"]
_NEUTRAL = [
    "semester", "class", "advisor", "tuition", "exam", "campus", "loan",
    "major", "credits", "transfer", "job", "family", "thesis", "lecture",
]
_DROPOUT = ["dropout", "dropped out", "drop-out", "drop out"]
_EPOCH = datetime(2019, 1, 1, tzinfo=timezone.utc)
_SPAN_SECONDS = 7 * 365 * 86400


def _rng(*parts: object) -> random.Random:
    digest = hashlib.sha256("|".join(map(str, parts)).encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def post(seed: int, key: str, index: int) -> dict:
    """The one post ``{key}_{index}`` under ``seed``."""
    rng = _rng(seed, key, index)
    mood = rng.choice((_POSITIVE, _NEGATIVE, _NEUTRAL))
    words = [rng.choice(mood if rng.random() < 0.3 else _NEUTRAL) for _ in range(rng.randint(6, 24))]
    if rng.random() < 0.35:
        words.insert(rng.randrange(len(words)), rng.choice(_DROPOUT))
    if rng.random() < 0.2:
        words.append(f"https://example.org/{key}/{index}")
    return {
        "id": f"{key}_{index}",
        "content": " ".join(words).capitalize() + rng.choice([".", "!", "?"]),
        "date": _EPOCH + timedelta(seconds=rng.randrange(_SPAN_SECONDS)),
        "url": f"https://api.test/{key}/{index}",
        "subreddit": key,
    }


def posts_for(seed: int, key: str, term: str, limit: int, tick: int) -> list[dict]:
    """What the API returns for one (key, term) query at ``tick``."""
    lo = tick * (WINDOW // 2)
    picks = [i for i in range(lo, lo + WINDOW) if _rng(seed, key, term, i).random() < TERM_SHARE]
    return [post(seed, key, i) for i in picks[:limit]]


def set_clock(tick: int) -> None:
    with open(os.environ[CLOCK_ENV], "w") as fh:
        fh.write(str(tick))


def fetch_page(key: str, term: str, limit: int) -> Iterator[dict]:
    with open(os.environ[CLOCK_ENV]) as fh:
        tick = int(fh.read())
    yield from posts_for(int(os.environ[SEED_ENV]), key, term, limit, tick)
