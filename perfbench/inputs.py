"""Seeded inputs for the benchmark workloads.

Every table here is a pure function of ``(seed, size)``.  The program
under test only ever sees the files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

_VOCAB = (
    "a the data spark scan sort hash join group agg filter value key row "
    "line part table column order query window stream batch merge vector "
    "customer fast slow big small"
).split()


def write_documents(path: str, rng: np.random.Generator, n_rows: int) -> None:
    """``documents.parquet`` in the schema the registry reads; about one row in ten
    is a lightly edited copy of an earlier row, so the near-duplicate
    clustering has clusters to find."""
    texts: list[str] = []
    for i in range(n_rows):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n)))
    langs = np.array(["en", "zh", "es", "fr", "de"])
    df = pd.DataFrame(
        {
            "doc_id": np.arange(n_rows, dtype="int64"),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n_rows)],
            "source": [f"src{i % 20}" for i in range(n_rows)],
        }
    )
    df["n_chars"] = df["text"].str.len().astype("int64")
    df.to_parquet(path, index=False)


def write_embeddings(path: str, rng: np.random.Generator, n_rows: int, dim: int = 64) -> None:
    """``embeddings.parquet``: ten Gaussian clusters in ``dim`` dimensions."""
    centres = rng.normal(0.0, 0.2, (10, dim))
    label = rng.integers(0, 10, n_rows).astype("int32")
    emb = (centres[label] + rng.normal(0.0, 0.1, (n_rows, dim))).astype("float32")
    pd.DataFrame(
        {"vec_id": np.arange(n_rows, dtype="int64"), "embedding": list(emb), "label": label}
    ).to_parquet(path, index=False)


def write_tables(data_dir: str, seed: int, doc_rows: int, vec_rows: int) -> None:
    """The two input tables the benchmarked queries read."""
    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    write_documents(os.path.join(data_dir, "documents.parquet"), rng, doc_rows)
    write_embeddings(os.path.join(data_dir, "embeddings.parquet"), rng, vec_rows)


def upsert_batch(
    model: pd.DataFrame, rng: np.random.Generator, cycle: int, n_days: int, n_rows: int
) -> pd.DataFrame:
    """One keyed upsert batch confined to ``n_days`` seeded day partitions.

    Half the rows update existing keys (new ``val``), half insert new
    keys that copy the location and hour of an existing point, so every
    value stays on the corpus's dyadic lattice and sums stay exact.
    """
    days = rng.choice(np.sort(model["day_idx"].unique()), size=n_days, replace=False)
    pool = model[model["day_idx"].isin(days)]
    n_upd = n_rows // 2
    upd = pool.iloc[rng.choice(len(pool), size=n_upd, replace=False)].copy()
    ins = pool.iloc[rng.integers(0, len(pool), n_rows - n_upd)].copy()
    ins["doc_id"] = [f"ins{cycle:05d}_{k:05d}" for k in range(len(ins))]
    ins["span_idx"] = 0
    batch = pd.concat([upd, ins], ignore_index=True)
    batch["val"] = rng.integers(0, 1600, len(batch)) / 16.0
    batch["seq"] = np.int64(cycle)
    return batch


def apply_upsert(model: pd.DataFrame, batch: pd.DataFrame) -> pd.DataFrame:
    """The expected table after ``batch``: the newest ``seq`` wins per key."""
    keep = model.set_index(["doc_id", "span_idx"]).index.difference(
        batch.set_index(["doc_id", "span_idx"]).index
    )
    kept = model.set_index(["doc_id", "span_idx"]).loc[keep].reset_index()
    return pd.concat([kept, batch[model.columns]], ignore_index=True)
