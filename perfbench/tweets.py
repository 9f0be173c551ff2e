"""Seeded tweet input for the streaming workloads, and the pure-Python
top-5 the engine's output is checked against.

A replay is a list of JSON-lines files, one per micro-batch. File 0
holds one full 15-minute window of event time, so the window is full
(and eviction active) from the first batch on; every later file
advances event time by `STEP_S`. Event times inside a file are later
than every event of the previous file, so a 1-minute watermark drops
nothing.

The lines are noisy in the ways real tweet input is: hashtags in mixed
case, blacklisted tags near the top of the frequency ranking, tweets
without `entities`, with an empty hashtag list, and truncated lines
that are not JSON at all.
"""

from __future__ import annotations

import itertools
import json
import os
import random

# Mirrors of the engine's constants (streaming/pipeline.py); the check
# below must agree with them for the output comparison to mean anything.
WINDOW_S = 900
SLIDE_S = 10
TOP_K = 5
BLACKLIST = ("europe", "europa", "eu", "euro")

STEP_S = 300                     # event time one file advances
BASE_MS = 1_600_000_000_000      # a multiple of the slide, in ms
TWEETS_PER_FILE = 300
VOCABULARY = 5000
ZIPF_S = 0.9


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    """n distinct tags; the blacklist is spliced in near the top of
    the ranking so a missing filter would change the top-5."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    vocab = sorted(words)
    rng.shuffle(vocab)
    vocab = [w for w in vocab if w not in BLACKLIST][: n - len(BLACKLIST)]
    for i, tag in enumerate(BLACKLIST):
        vocab.insert(1 + 2 * i, tag)
    return vocab


def _casing(rng: random.Random, tag: str) -> str:
    r = rng.random()
    if r < 0.6:
        return tag
    if r < 0.85:
        return tag.capitalize()
    return tag.upper()


def generate(out_dir: str, n_files: int, seed: int) -> list[str]:
    """Write `n_files` batch files into out_dir; return their paths in
    replay order. The same seed writes the same bytes."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, VOCABULARY)
    cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(len(vocab))))
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    tweet_id = 0
    for f in range(n_files):
        lo = 0 if f == 0 else WINDOW_S + (f - 1) * STEP_S
        hi = WINDOW_S if f == 0 else lo + STEP_S
        n = TWEETS_PER_FILE * (hi - lo) // STEP_S
        lines = []
        for _ in range(n):
            tweet_id += 1
            ts = BASE_MS + lo * 1000 + rng.randrange((hi - lo) * 1000)
            tags = [_casing(rng, t) for t in rng.choices(vocab, cum_weights=cum, k=rng.randint(1, 3))]
            tweet = {
                "id_str": str(tweet_id),
                "timestamp_ms": str(ts),
                "text": " ".join("#" + t for t in tags),
            }
            r = rng.random()
            if r < 0.05:
                pass                                  # no entities at all
            elif r < 0.08:
                tweet["entities"] = {"hashtags": []}
            else:
                tweet["entities"] = {"hashtags": [{"text": t} for t in tags]}
            line = json.dumps(tweet, separators=(",", ":"))
            if rng.random() < 0.02:
                line = line[: len(line) // 2]         # truncated, not JSON
            lines.append(line)
        path = os.path.join(out_dir, f"batch-{f:05d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths


def expected_top(paths: list[str]) -> list[dict]:
    """The top-5 the engine's file sink must hold after replaying
    `paths`: the trailing complete window (the one ending one slide
    after the slide-floor of the newest counted event), case-folded
    keys, blacklist removed, ordered by (-count, key), each key shown
    in its smallest casing."""
    events: list[tuple[int, str]] = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    tweet = json.loads(line)
                except json.JSONDecodeError:
                    continue
                hashtags = (tweet.get("entities") or {}).get("hashtags") or []
                ts = int(tweet["timestamp_ms"])
                for h in hashtags:
                    if h["text"].lower() not in BLACKLIST:
                        events.append((ts, h["text"]))
    if not events:
        return []
    slide_ms, window_ms = SLIDE_S * 1000, WINDOW_S * 1000
    end = max(ts for ts, _ in events) // slide_ms * slide_ms + slide_ms
    start = end - window_ms
    counts: dict[str, int] = {}
    shown: dict[str, str] = {}
    for ts, tag in events:
        if start <= ts < end:
            key = tag.lower()
            counts[key] = counts.get(key, 0) + 1
            shown[key] = min(shown.get(key, tag), tag)
    top = sorted(counts, key=lambda k: (-counts[k], k))[:TOP_K]
    return [{"count": counts[k], "hashtag": shown[k]} for k in top]
