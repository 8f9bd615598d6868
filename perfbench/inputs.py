"""Seeded inputs with known truth. The seed picks the data; logspark only
ever sees the files written here.

- Transcripts: every row of `logspark.datagen.synth_transcripts` is a pure
  function of its turn id, so a seed picks a disjoint window of ids of one
  larger virtual table and the window is staged as a multi-file table.
- Documents: a growing corpus for the dedup ticks, with near-duplicates
  planted both inside a file and against documents of earlier files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# 16M turns: the conversation layout of the virtual table is computed once
# per process (~1.6M conversations), and 16M / window gives the number of
# disjoint windows before seeds wrap around.
VIRTUAL_TURNS = 16_000_000


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)


def transcript_window(seed: int, n_turns: int) -> np.ndarray:
    """The seed's disjoint id window of the virtual table."""
    n_windows = VIRTUAL_TURNS // n_turns
    start = (seed % n_windows) * n_turns
    return np.arange(start, start + n_turns, dtype=np.int64)


def transcripts(ids: np.ndarray) -> pd.DataFrame:
    from logspark.datagen import synth_transcripts

    df = synth_transcripts(ids, VIRTUAL_TURNS)
    df["ts"] = df["ts"].dt.tz_localize("UTC")
    return df


def stage_transcripts(seed: int, n_turns: int, n_files: int, out_dir: str) -> list[str]:
    """Write the seed's window as n_files parquet files of consecutive ids;
    returns their paths in id order."""
    ids = transcript_window(seed, n_turns)
    paths = []
    for i, chunk in enumerate(np.array_split(ids, n_files)):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        write_parquet(transcripts(chunk), p)
        paths.append(p)
    return paths


# ---------------------------------------------------------------------------
# documents with planted near-duplicates
# ---------------------------------------------------------------------------

VOCAB = 4000
WORDS_PER_DOC = (40, 64)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def doc_batches(seed: int, n_batches: int, docs_per_batch: int, within_frac: float, cross_frac: float):
    """n_batches document frames (doc_id, text) and the planted pairs.

    Each planted doc copies an earlier doc's tokens and replaces one of them,
    so its 3-shingle Jaccard with the original is about 0.85-0.95, well over
    the 0.5 threshold. `within_frac` of every batch copies a doc of the same
    batch; `cross_frac` copies a doc of an earlier batch, which only the
    new-vs-store candidate path can find."""
    rng = _rng(seed, 1)
    base_id = (seed % 1000) * 10_000_000
    tokens: list[np.ndarray] = []
    planted: list[tuple[int, int]] = []
    batches = []
    for b in range(n_batches):
        start = len(tokens)
        ids = []
        for i in range(docs_per_batch):
            gid = start + i
            r = rng.random()
            earlier_batch = start > 0 and r < cross_frac
            same_batch = i > 0 and cross_frac <= r < cross_frac + within_frac
            if earlier_batch or same_batch:
                src = int(rng.integers(0, start)) if earlier_batch else int(rng.integers(start, gid))
                t = tokens[src].copy()
                t[int(rng.integers(0, len(t)))] = VOCAB + gid  # a word no other doc has
                planted.append((base_id + src, base_id + gid))
            else:
                t = rng.integers(0, VOCAB, size=int(rng.integers(*WORDS_PER_DOC)))
            tokens.append(t)
            ids.append(base_id + gid)
        texts = [" ".join(f"w{x}" for x in tokens[j]) for j in range(start, len(tokens))]
        batches.append(pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts}))
    return batches, planted

