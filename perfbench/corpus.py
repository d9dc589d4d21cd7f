"""Seeded word-count corpus in the reference's shape.

Twenty single-line text files, tokens joined by single spaces, no trailing
newline. Every word of the reference's 21-word golden vocabulary occurs
exactly ``vocab_count`` times; a Zipf-distributed tail of synthetic
lowercase words makes the key set large and skewed, as real text is.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import os
import random
import string
from collections import Counter

import numpy as np

#: the reference's golden vocabulary (each word occurs a fixed number of
#: times across its sample inputs)
VOCAB = (
    "This is a test for the mapreduce library you should see each word "
    "occurs exactly five-thousand times and expect input to"
).split(" ")

N_FILES = 20


def _tail_words(rng: random.Random, n: int) -> list[str]:
    taken = set(VOCAB)
    words: list[str] = []
    while len(words) < n:
        w = "".join(rng.choices(string.ascii_lowercase, k=rng.randint(2, 6)))
        if w not in taken:
            taken.add(w)
            words.append(w)
    return words


def make_corpus(
    seed: int,
    vocab_count: int,
    tail_tokens: int,
    tail_vocab: int,
    zipf_s: float = 1.1,
) -> tuple[list[str], Counter]:
    """Return the 20 file contents and the exact token counts they hold."""
    words = [*VOCAB, *_tail_words(random.Random(seed), tail_vocab)]
    rng = np.random.default_rng(seed)
    zipf = np.arange(1, tail_vocab + 1, dtype=np.float64) ** -zipf_s
    ids = np.concatenate(
        [
            np.repeat(np.arange(len(VOCAB)), vocab_count),
            len(VOCAB) + rng.choice(tail_vocab, size=tail_tokens, p=zipf / zipf.sum()),
        ]
    )
    rng.shuffle(ids)
    cuts = np.sort(rng.choice(np.arange(1, len(ids)), N_FILES - 1, replace=False)).tolist()
    tokens = np.array(words, dtype=object)[ids].tolist()
    files = [" ".join(tokens[a:b]) for a, b in zip([0, *cuts], [*cuts, len(tokens)])]
    counts = np.bincount(ids, minlength=len(words)).tolist()
    return files, Counter({w: c for w, c in zip(words, counts) if c})


def write_corpus(files: list[str], out_dir: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, text in enumerate(files, 1):
        p = os.path.join(out_dir, f"sample{i}.txt")
        with open(p, "w", encoding="ascii", newline="") as f:
            f.write(text)
        paths.append(p)
    return paths
