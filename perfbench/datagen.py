"""Seeded input generation for the benchmark workloads.

The curation inputs are a pure function of the seed: the same seed
writes the same rows. ``documents`` has the shape and column types of
the engine's registry table of that name (``gis_etl_spark.io``);
``documents_aug`` adds the injected duplicates the dedup operators need,
written here because the engine's own generator derives it from a fixed
on-disk table instead of a seed. Geometry fixtures (Shapefiles, FileGDB)
come from the engine's seeded ``gis_etl_spark.fixtures`` generators.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# The text vocabulary of the reference ``documents`` table.
WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
N_SOURCES = 20
N_DOCS = 500              # the sf0.01 documents table
STREAM_COPIES = 10


def make_documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents over the reference vocabulary; ~5% carry a
    trailing ``dup`` marker token, as the reference table does."""
    vocab = np.array(WORDS)
    texts = []
    for _ in range(n):
        words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
        if rng.uniform() < 0.05:
            words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def make_documents_aug(docs: pd.DataFrame, seed: int) -> pd.DataFrame:
    """The dedup operators' corpus: ``docs`` plus 60 exact duplicates
    (doc_id 100000+i) and 60 near duplicates (doc_id 200000+i, ~12% of
    word positions replaced), the recipe of
    ``gis_etl_spark.fixtures.ensure_documents_aug``."""
    rng = np.random.default_rng(seed)
    vocab = sorted({w for t in docs.text for w in t.split()})
    exact = docs.iloc[[(i * 7) % len(docs) for i in range(60)]].copy()
    exact["doc_id"] = [100000 + i for i in range(60)]
    exact["source"] = "dup_exact"
    near = []
    for i in range(60):
        base = docs.iloc[(i * 11) % len(docs)]
        words = base.text.split()
        n_swap = max(1, int(0.12 * len(words)))
        for j in rng.choice(len(words), size=n_swap, replace=False):
            words[j] = vocab[int(rng.integers(0, len(vocab)))]
        text = " ".join(words)
        near.append((200000 + i, text, base.lang, "dup_near", len(text)))
    near_df = pd.DataFrame(
        near, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    return pd.concat([docs, exact, near_df], ignore_index=True)


def write_documents(out_dir: str, seed: int, n: int = N_DOCS) -> str:
    """Write ``{out_dir}/documents.parquet``; → its path."""
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, "documents.parquet")
    make_documents(np.random.default_rng(seed), n).to_parquet(out, index=False)
    return out


def write_documents_aug(fixture_root: str, docs_path: str, seed: int) -> str:
    """Place ``documents_aug.parquet`` where the engine's fixture
    lookup (``FIXTURE_ROOT/documents_aug``) finds it."""
    out = os.path.join(fixture_root, "documents_aug", "documents_aug.parquet")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    aug = make_documents_aug(pd.read_parquet(docs_path), seed)
    aug.to_parquet(out, index=False)
    return out


def write_stream_rig(out_dir: str, docs_path: str, copies: int = STREAM_COPIES):
    """The streaming drain's input: the documents ``copies`` times over
    under fresh doc_ids, one parquet file per copy. → total rows."""
    os.makedirs(out_dir, exist_ok=True)
    docs = pd.read_parquet(
        docs_path, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    for k in range(copies):
        part = docs.assign(doc_id=docs.doc_id + k * 1_000_000)
        part.to_parquet(os.path.join(out_dir, f"part-{k:03d}.parquet"),
                        index=False)
    return copies * len(docs)
