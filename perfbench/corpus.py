"""Seeded document corpus in the ``documents.parquet`` schema
``(doc_id, text, lang, source, n_chars)``.

The corpus is what ``jobs/pretrain_prep.py`` reads.  Three properties are
planted so that every stage of that job has work to do:

* ``near_dup_share`` of the candidate docs are copies of an earlier
  candidate with 0-2 words replaced (0 edits = an exact copy, found by the
  ``exact`` stage; the rest are found by the MinHash index).
* ``eval_overlap_share`` of the candidate docs carry a 12-word span copied
  from an eval doc (``doc_id % 97 == 0``, the job's held-out split), which
  the ``gate`` stage's 30-char k-gram probe flags as contaminated.
* ``sources`` sources of equal size, so the per-source token budget binds.

Everything is drawn from ``numpy.random.default_rng(seed)``: one seed gives
byte-identical parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the a join window row sort merge hash scan table query filter group key "
    "value data line part order batch stream spark vector column customer "
    "small big fast slow agg index shard token model train eval corpus text "
    "word page site news forum code book wiki paper chat mail note list"
).split()
LANGS = ("en", "fr", "es", "de", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVAL_MOD = 97  # jobs/pretrain_prep.py: doc_id % 97 == 0 is the eval split


def generate_documents(
    n_docs: int,
    seed: int,
    near_dup_share: float = 0.1,
    eval_overlap_share: float = 0.05,
    sources: int = 20,
) -> pa.Table:
    rng = np.random.default_rng(seed)
    # Zipf-like word frequencies, so the bigram LM and BPE merges see skew
    p = 1.0 / np.arange(1, len(VOCAB) + 1)
    p /= p.sum()
    texts: list[list[str]] = []
    for _ in range(n_docs):
        n_words = int(rng.integers(20, 80))
        texts.append([VOCAB[i] for i in rng.choice(len(VOCAB), size=n_words, p=p)])

    eval_ids = [i for i in range(n_docs) if i % EVAL_MOD == 0]
    candidates = [i for i in range(n_docs) if i % EVAL_MOD != 0]
    picks = rng.permutation(candidates)
    n_dup = int(round(near_dup_share * len(candidates)))
    n_overlap = int(round(eval_overlap_share * len(candidates))) if eval_ids else 0
    # a near-dup copies an EARLIER candidate, so the original always exists
    for i in sorted(int(x) for x in picks[:n_dup]):
        earlier = [c for c in candidates if c < i]
        if not earlier:
            continue
        words = list(texts[int(rng.choice(earlier))])
        for _ in range(int(rng.integers(0, 3))):
            words[int(rng.integers(len(words)))] = VOCAB[int(rng.integers(len(VOCAB)))]
        texts[i] = words
    for i in (int(x) for x in picks[n_dup : n_dup + n_overlap]):
        src = texts[int(rng.choice(eval_ids))]
        start = int(rng.integers(0, len(src) - 12))
        at = int(rng.integers(0, len(texts[i])))
        texts[i] = texts[i][:at] + src[start : start + 12] + texts[i][at:]

    joined = [" ".join(words) for words in texts]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(joined, pa.string()),
            "lang": pa.array(
                [LANGS[i] for i in rng.choice(len(LANGS), size=n_docs, p=LANG_P)], pa.string()
            ),
            "source": pa.array([f"src{i % sources}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in joined], pa.int64()),
        }
    )


def write_documents(path: str, **params) -> None:
    """Write ``documents.parquet`` under ``path``."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(generate_documents(**params), os.path.join(path, "documents.parquet"))
