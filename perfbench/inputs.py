"""Seed-derived benchmark inputs.

Everything the engine receives is made here from ``--seed``: the
source-code corpus (rows of the engine's own corpus generator),
the query mix, the phrase/NEAR term sets, the delta ranges and victim
slices of ``maintain``, and the ``documents``/``events``/``embeddings``
tables the originality report path reads.  The same seed gives the same
inputs; nothing is read from outside the run directory.
"""

from __future__ import annotations

import os
import random
import zlib
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

# Corpus shape.  The index geometry follows IndexBuilder's sizing rule
# (B x K shards ~ 2-4x executor cores), at its lower end.
N_FILES = 500
N_RUNS = 4
N_SUBS = 2
N_QUERIES = 40          # OR / AND batch size (the engine's standard mix)
N_PHRASES = 10          # phrase and NEAR batch size
NEAR_WINDOW = 4
DELTA_FILES = 50        # files per maintain add_run
VICTIM_MOD = 50         # delete_docs removes a ~1/50 slice of live files

# Originality tables: the schemas of the sf0.1 documents / events /
# embeddings tables the contract queries read, at a fifth of their rows.
N_DOCS = 1000
N_EVENTS = 20_000
N_USERS = 300
N_VECS = 500
VEC_DIM = 64
DOC_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def n_buckets(cores: int) -> int:
    return max(2, cores)


def corpus_seed(seed: int) -> int:
    """The engine generator's own seed, derived from the run seed."""
    return 1000 + seed


def delta_start(seed: int, cycle: int) -> int:
    """File-id offset of a maintain delta: beyond the base corpus, and
    distinct per (seed, cycle) so a delta never dedups to nothing."""
    rng = random.Random(seed * 7919 + cycle)
    return N_FILES + (cycle * 10 + rng.randrange(10)) * DELTA_FILES


def victim_residue(seed: int, cycle: int) -> int:
    return random.Random(seed * 104729 + cycle).randrange(VICTIM_MOD)


def write_corpus(path: str, n_files: int, seed: int, start: int = 0) -> pd.DataFrame:
    """Files ``start .. start + n_files`` of the engine's deterministic
    corpus generator (the rows ``make_corpus`` produces), written as the
    parquet table the engine ingests; returns them."""
    from docinsight_spark.corpus import gen_file

    pdf = pd.DataFrame([gen_file(i, seed) for i in range(start, start + n_files)])
    os.makedirs(path, exist_ok=True)
    pdf.to_parquet(f"{path}/part-0.parquet", index=False)
    return pdf


def victim_slice(paths: pd.Series, residue: int) -> pd.Series:
    """The files a maintain delete removes: ``crc32(path) % VICTIM_MOD ==
    residue``, the predicate the benchmark hands ``delete_docs``."""
    return paths.map(lambda p: zlib.crc32(p.encode()) % VICTIM_MOD) == residue


def phrases_from(pdf: pd.DataFrame, seed: int) -> list[tuple[int, str]]:
    """``N_PHRASES`` real 2/3-token runs from corpus files, so every
    phrase has at least one hit.  ``pdf`` holds (content, lang) rows."""
    from docinsight_spark.functions.tokenizer import tokenize_code_pandas

    rng = random.Random(seed)
    toks = tokenize_code_pandas(pdf["content"], pdf["lang"])
    out: list[tuple[int, str]] = []
    for ts in toks:
        ts = list(ts)
        if len(ts) < 8:
            continue
        n = 2 + rng.randrange(2)
        st = rng.randrange(len(ts) - n)
        out.append((len(out), " ".join(ts[st: st + n])))
        if len(out) == N_PHRASES:
            break
    return out


def write_sf_tables(out_dir: str, seed: int) -> None:
    """documents / events / embeddings parquet files with the schemas
    and value distributions of the engine's sf0.1 test tables."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier doc: copy, mark, edit one word
            words = texts[int(rng.integers(i))].split(" ")
            words[int(rng.integers(len(words)))] = DOC_VOCAB[
                int(rng.integers(len(DOC_VOCAB)))
            ]
            words.append("dup")
        else:
            n = int(rng.integers(10, 101))
            words = [DOC_VOCAB[j] for j in rng.integers(len(DOC_VOCAB), size=n)]
        texts.append(" ".join(words))
    pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], N_DOCS,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{j}" for j in rng.integers(20, size=N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }).to_parquet(f"{out_dir}/documents.parquet", index=False)

    t0 = datetime(2024, 1, 1)
    secs = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": [t0 + timedelta(seconds=float(s)) for s in secs],
        "user_id": rng.integers(N_USERS, size=N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(60.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(100, size=N_EVENTS)],
    }).to_parquet(f"{out_dir}/events.parquet", index=False,
                  coerce_timestamps="us")

    vecs = rng.normal(0.0, 0.1, (N_VECS, VEC_DIM)).astype(np.float32)
    pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(10, size=N_VECS).astype(np.int32),
    }).to_parquet(f"{out_dir}/embeddings.parquet", index=False)
