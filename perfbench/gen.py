"""Seeded, vectorised input generators for the benchmark.

Every generator takes a ``numpy.random.Generator`` built from the run's
seed and returns plain arrays / pandas frames plus the ground truth the
output checks need: the same seed gives byte-identical inputs. The program under test only ever sees the files the
benchmark writes from these frames; the ground truth stays in the
benchmark process.

Work is done on whole arrays (token matrices, vector blocks); the only
per-row Python is the final ``" ".join`` that turns a document's token
ids into its text.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB_SIZE = 30_000
# Zipf-Mandelbrot word frequencies: p(rank) ~ 1 / (rank + ZIPF_Q) ** ZIPF_S
ZIPF_S = 1.05
ZIPF_Q = 2.7
# The crawl's shape and planted shared content. These are assumptions,
# not measurements of a real crawl; README.md ("Generated inputs") says
# why each value was picked.
MEAN_WORDS = 48.0  # median of the log-normal document length
EXACT_RATE = 0.06  # share of documents that copy an original verbatim
NEAR_RATE = 0.06  # share that copy an original with edits
EDIT_FRAC = 0.04  # share of a near duplicate's tokens replaced
BOILER_RATE = 0.25  # share of originals carrying a boilerplate span
N_BOILER = 40  # distinct boilerplate spans
BOILER_LEN = 12  # words per boilerplate span
# Gaussian noise (std) of embeddings around their cluster centre, and of
# a planted near-copy around its source
CLUSTER_SPREAD = 1.0
COPY_NOISE = 0.01
_LETTERS = np.array(list("etaoinshrdlucmfwypvbgkqjxz"))


def vocabulary(rng: np.random.Generator) -> np.ndarray:
    """``VOCAB_SIZE`` distinct lowercase words of 3-9 letters (rank 0 is the
    most frequent under :func:`zipf_probs`). Distinctness comes from a
    base-26 suffix of the rank, the random stem makes words look
    varied."""
    stems = _LETTERS[rng.integers(0, 26, size=(VOCAB_SIZE, 3))]
    ranks = np.arange(VOCAB_SIZE)
    digits = []
    r = ranks.copy()
    for _ in range(4):  # 26**4 > VOCAB_SIZE
        digits.append(_LETTERS[r % 26])
        r //= 26
    suffix = np.char.add(np.char.add(digits[3], digits[2]), np.char.add(digits[1], digits[0]))
    # strip leading 'e' (the zero digit) so frequent words are short
    suffix = np.char.lstrip(suffix, "e")
    stem = np.char.add(np.char.add(stems[:, 0], stems[:, 1]), stems[:, 2])
    return np.char.add(stem, suffix)


def zipf_probs() -> np.ndarray:
    p = 1.0 / np.power(np.arange(VOCAB_SIZE) + ZIPF_Q, ZIPF_S)
    return p / p.sum()


@dataclass
class Crawl:
    docs: pd.DataFrame  # doc_id (long), text, source
    exact_dups: np.ndarray  # doc ids that copy an earlier doc verbatim
    near_dups: np.ndarray  # doc ids that copy an earlier doc with edits


def crawl(rng: np.random.Generator, n_docs: int) -> Crawl:
    """A web-crawl-like corpus: Zipf word frequencies over a ~30k-word
    vocabulary, log-normal document lengths, and three planted kinds of
    shared content.

    - exact duplicates: verbatim copies of an earlier original;
    - near duplicates: an earlier original with ``EDIT_FRAC`` of its
      tokens replaced by random words (token-set Jaccard stays well
      above 0.8 at 4 % edits);
    - boilerplate: one of ``N_BOILER`` fixed ``BOILER_LEN``-word spans
      spliced into ``BOILER_RATE`` of the originals.

    Copies are only made of originals, so every planted duplicate has
    exactly one source and the source has the smaller doc id."""
    vocab = vocabulary(rng)
    probs = zipf_probs()
    lengths = np.clip(
        rng.lognormal(np.log(MEAN_WORDS), 0.45, size=n_docs).astype(np.int64), 16, 400
    )
    width = int(lengths.max())
    toks = rng.choice(len(vocab), size=(n_docs, width), p=probs)

    kind = rng.random(n_docs)
    kind[: max(1, n_docs // 20)] = 1.0  # the first docs are always originals
    is_exact = kind < EXACT_RATE
    is_near = (kind >= EXACT_RATE) & (kind < EXACT_RATE + NEAR_RATE)
    is_orig = ~(is_exact | is_near)

    # boilerplate spans go into originals, so copies inherit them
    boiler = rng.choice(len(vocab), size=(N_BOILER, BOILER_LEN), p=probs)
    has_boiler = is_orig & (rng.random(n_docs) < BOILER_RATE)
    b_idx = np.flatnonzero(has_boiler)
    which = rng.integers(0, N_BOILER, size=len(b_idx))
    starts = (rng.random(len(b_idx)) * (lengths[b_idx] - BOILER_LEN)).astype(np.int64)
    cols = starts[:, None] + np.arange(BOILER_LEN)[None, :]
    toks[b_idx[:, None], cols] = boiler[which]

    # each copy's source: a uniformly chosen ORIGINAL with a smaller id
    orig_ids = np.flatnonzero(is_orig)
    copy_ids = np.flatnonzero(~is_orig)
    pos = np.searchsorted(orig_ids, copy_ids)  # originals before each copy
    src = orig_ids[(rng.random(len(copy_ids)) * pos).astype(np.int64)]
    toks[copy_ids] = toks[src]
    lengths[copy_ids] = lengths[src]

    near_ids = np.flatnonzero(is_near)
    edits = rng.random((len(near_ids), width)) < EDIT_FRAC
    fresh = rng.choice(len(vocab), size=(len(near_ids), width), p=probs)
    toks[near_ids] = np.where(edits, fresh, toks[near_ids])

    words = vocab[toks]
    text = [" ".join(words[i, : lengths[i]]) for i in range(n_docs)]
    sources = np.array(["news", "forum", "blog", "wiki"])[rng.integers(0, 4, n_docs)]
    docs = pd.DataFrame(
        {"doc_id": np.arange(n_docs, dtype=np.int64), "text": text, "source": sources}
    )
    return Crawl(
        docs=docs,
        exact_dups=np.flatnonzero(is_exact),
        near_dups=near_ids,
    )


def clustered_vectors(rng: np.random.Generator, n: int, centers: np.ndarray) -> np.ndarray:
    """``n`` float32 vectors around uniformly chosen ``centers`` with
    Gaussian noise of std ``CLUSTER_SPREAD``."""
    k, dim = centers.shape
    which = rng.integers(0, k, size=n)
    return (centers[which] + rng.normal(0.0, CLUSTER_SPREAD, size=(n, dim))).astype(np.float32)


def cluster_centers(rng: np.random.Generator, k: int, dim: int) -> np.ndarray:
    return rng.normal(0.0, 1.0, size=(k, dim))


def near_copies(rng: np.random.Generator, base: np.ndarray) -> np.ndarray:
    """Copies of ``base`` rows with Gaussian noise of std ``COPY_NOISE``
    (cosine to the source stays above 0.99)."""
    return (base + rng.normal(0.0, COPY_NOISE, size=base.shape)).astype(np.float32)


def cosine_max(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """For each row of ``a``, its maximum cosine against the rows of
    ``b`` (float64)."""
    if len(b) == 0:
        return np.full(len(a), -1.0)
    an = a / np.linalg.norm(a, axis=1, keepdims=True)
    bn = b / np.linalg.norm(b, axis=1, keepdims=True)
    return (an.astype(np.float64) @ bn.astype(np.float64).T).max(axis=1)
