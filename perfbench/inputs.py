"""Seeded inputs and workload definitions for the production-path benchmark.

The program only ever sees the ``documents`` table written here (schema
``doc_id, text, lang, source, n_chars``, like the testdata documents):
the job turns it into transcripts with
``fixtures.generators.transcripts_from_documents`` and the DuckDB oracle
replays the same documents. Text is lower-case ASCII over a small
vocabulary, so the oracle's ASCII-only regexes agree with Spark's.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np

# 31 words, like the testdata documents; none is a lexicon term, so exact
# links come only from the mentions the transcript generator injects
BASE_VOCAB = (
    "the fast key order sort table scan merge part window small hash join "
    "filter customer line batch value row data slow group query spark "
    "stream a index plan cache node shard"
).split()

LANGS = ["en", "de", "es", "fr", "zh"]
N_SOURCES = 20
# tokens per document: uniform in [MIN_TOKENS, MAX_TOKENS] -> ~55 tokens,
# ~300 chars, ~4.5 turns of 12 tokens per document
MIN_TOKENS, MAX_TOKENS = 20, 90


@dataclass(frozen=True)
class Workload:
    name: str
    docs: int  # documents generated; turns ~= 4.4 x docs
    vocab: int  # distinct words in the document text
    with_similarity: bool
    buckets: int
    batch_partitions: int | None  # None = all buckets in one batch
    why: str

    def as_dict(self) -> dict:
        return asdict(self)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "backfill", docs=10_000, vocab=len(BASE_VOCAB), with_similarity=False,
            buckets=16, batch_partitions=None,
            why="one large batch with exact tiers: mention scan, linking, compile, "
                "triple build and sink write do the work; similarity does none",
        ),
        Workload(
            "fuzzy", docs=700, vocab=4_000, with_similarity=True,
            buckets=16, batch_partitions=None,
            why="TF-IDF tier on: half the turns have no exact link and distinct text, "
                "so similarity stats and Arrow scoring run",
        ),
    )
}

# smoke-test sizes: every workload, a few hundred turns
TINY_DOCS = 120


def vocabulary(size: int) -> list[str]:
    """``size`` distinct lower-case ASCII words: the base words first, then
    synthetic consonant-vowel words (never a lexicon term, never a code)."""
    words = list(BASE_VOCAB[:size])
    cons, vows = "bdfgklmnprstvz", "aeiou"
    i = 0
    while len(words) < size:
        n, w = i, ""
        for _ in range(3):
            w += cons[n % len(cons)] + vows[(n // len(cons)) % len(vows)]
            n //= len(cons) * len(vows)
        words.append(w + "x")
        i += 1
    return words


def write_documents(path: str, n_docs: int, vocab_size: int, seed: int) -> dict:
    """Write ``n_docs`` seeded documents as one parquet file at ``path``;
    the same (n_docs, vocab_size, seed) always gives the same file content."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    words = np.array(vocabulary(vocab_size))
    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n_docs)
    picks = rng.integers(0, len(words), size=int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(words[picks[e - n:e]]) for e, n in zip(ends, lengths)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), size=n_docs)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, N_SOURCES, size=n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    # transcripts_from_documents: max(1, tokens // 12) turns per document
    turns = int(np.maximum(1, lengths // 12).sum())
    return {"docs": n_docs, "turns": turns, "vocab": len(words)}
