"""Seeded input generators for the benchmark workloads.

Every input derives only from the command-line seed, so one seed gives
one set of inputs. Sizes are fixed per workload; the seed changes the
content (topics, words, which documents are copies, vector values,
which ids a batch holds), never the amount of work the sizes imply.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

_NORMALIZE = re.compile(r"[^a-z0-9\s]")


def tokens(text: str) -> set[str]:
    """The engine's per-document token set (lowercase, non-alphanumerics
    to spaces, split on whitespace)."""
    return set(_NORMALIZE.sub(" ", text.lower()).split())


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    tokens_per_doc: int
    n_topics: int
    vocab_topic: int  # words per topic
    vocab_global: int  # words shared by all topics
    dup_share: float  # share of documents that are planted copies
    dup_edit: float  # share of a near-duplicate's words replaced
    topic_share: float = 0.7  # reference datagen: 70 % topic words, 30 % global


def topic_corpus(rng: np.random.Generator, spec: CorpusSpec) -> pd.DataFrame:
    """Reference-datagen-style corpus: each document draws ``topic_share``
    of its words from its topic's vocabulary and the rest from a global
    one. A ``dup_share`` of the documents are planted copies of other
    documents with ``dup_edit`` of their words replaced. Ids are a
    random permutation, so copies sit anywhere in the id space.

    Returns the ``documents`` table schema:
    ``(doc_id, text, lang, source, n_chars)``.
    """
    n = spec.n_docs
    n_dups = int(round(n * spec.dup_share))
    n_orig = n - n_dups
    length = spec.tokens_per_doc

    def word_batch(topic: int, count: int) -> list[str]:
        local = rng.random(count) < spec.topic_share
        topic_ids = rng.integers(0, spec.vocab_topic, count)
        global_ids = rng.integers(0, spec.vocab_global, count)
        return [
            f"t{topic}w{t}" if is_local else f"g{g}"
            for is_local, t, g in zip(local, topic_ids, global_ids)
        ]

    topics = rng.integers(0, spec.n_topics, n_orig)
    words = [word_batch(int(t), length) for t in topics]
    texts = [" ".join(w) for w in words]
    for src in rng.choice(n_orig, n_dups):
        w = list(words[src])
        n_edit = max(1, int(round(len(w) * spec.dup_edit)))
        pos = rng.choice(len(w), n_edit, replace=False)
        for p, f in zip(pos, word_batch(int(topics[src]), n_edit)):
            w[p] = f
        texts.append(" ".join(w))
    ids = rng.permutation(n).astype(np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": "en",
            "source": "bench",
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    ).sort_values("doc_id", ignore_index=True)


def corpus_properties(docs: pd.DataFrame, spec: CorpusSpec) -> dict:
    """Input properties the all-pairs cost depends on: vocabulary and
    the pair-vote volume ``Σ C(df, 2)`` over tokens."""
    df = Counter()
    n_token_rows = 0
    for text in docs["text"]:
        toks = tokens(text)
        n_token_rows += len(toks)
        df.update(toks)
    return {
        "docs": int(len(docs)),
        "vocabulary": len(df),
        "token_rows": n_token_rows,
        "pair_votes": int(sum(c * (c - 1) // 2 for c in df.values())),
        "max_df": max(df.values()),
        "planted_dup_share": spec.dup_share,
    }


def clustered_embeddings(
    rng: np.random.Generator,
    centers: np.ndarray,
    n: int,
    first_id: int,
    spread: float = 0.35,
) -> pd.DataFrame:
    """``n`` float32 vectors around ``centers`` (unit vectors), ids
    ``first_id ..``: the ``embeddings`` table schema
    ``(vec_id, embedding, label)``."""
    label = rng.integers(0, len(centers), n)
    noise = rng.standard_normal((n, centers.shape[1])) * spread
    vecs = (centers[label] + noise / np.sqrt(centers.shape[1])).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "embedding": list(vecs),
            "label": label.astype(np.int32),
        }
    )


def unit_centers(rng: np.random.Generator, k: int, dim: int) -> np.ndarray:
    c = rng.standard_normal((k, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def pick_ids(rng: np.random.Generator, ids: np.ndarray, n: int, exclude=()) -> np.ndarray:
    """``n`` distinct ids from ``ids`` minus ``exclude``, sorted."""
    pool = np.setdiff1d(ids, np.asarray(list(exclude), dtype=ids.dtype))
    return np.sort(rng.choice(pool, n, replace=False))
