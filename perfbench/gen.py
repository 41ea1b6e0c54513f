"""Seeded input generator: writes ``documents.parquet`` for one workload.

kgspark synthesises its ``repo_files`` input from a ``documents`` table
(``kgspark.synth``), so the benchmark only has to generate documents. The
same seed gives byte-identical parquet.

doc ids come in sibling pairs ``(2k, 2k+1)``: the rich corpus links every
file to its sibling (``include``/``testedby``), so a lone id would point at
a file that does not exist and change what the correction gate sees. The
``k`` are drawn without replacement from ``SPACE_FACTOR`` times as many
pair slots as needed, so each seed picks a different subset of ids while
file names stay dense enough for the typo-confusion error generator to
find name-similar neighbours.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SPACE_FACTOR = 4
# Word list and length range mirror the test fixtures' documents table.
VOCAB = (
    "the a fast slow big small key value row column table scan join merge "
    "sort hash order group agg filter window stream batch spark query data "
    "line part vector customer dup"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
MIN_WORDS, MAX_WORDS = 8, 80


def documents(seed: int, n_files: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n_pairs = max(1, n_files // 2)
    k = np.sort(rng.choice(SPACE_FACTOR * n_pairs, size=n_pairs, replace=False))
    doc_id = np.stack([2 * k, 2 * k + 1], axis=1).ravel().astype(np.int64)
    n = len(doc_id)
    lens = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), size=int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    return pd.DataFrame({
        "doc_id": doc_id,
        "text": text,
        "lang": np.asarray(LANGS)[rng.integers(0, len(LANGS), size=n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.fromiter((len(t) for t in text), np.int64, n),
    })


def write_documents(out_dir: str, seed: int, n_files: int) -> dict:
    """Write ``<out_dir>/documents.parquet``; return its file count and size."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    docs = documents(seed, n_files)
    docs.to_parquet(path, index=False)
    return {"files": len(docs), "bytes": os.path.getsize(path)}
