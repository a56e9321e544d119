"""Correctness checks, run outside the timed region.

Each returns ``None`` when the output is right, else a one-line reason.
"""

from __future__ import annotations

import hashlib

import pandas as pd

SCORE_TOL = 1e-9


def same_topk(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Same (query_id, rank, docID) rows as the exact oracle, scores
    within ``SCORE_TOL``."""
    keys = ["query_id", "rank"]
    g = got.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    if len(g) != len(w):
        return f"{len(g)} rows, oracle has {len(w)}"
    if not (g[keys + ["docID"]].values == w[keys + ["docID"]].values).all():
        return "ranks/docIDs differ from the oracle"
    err = (g["score"] - w["score"]).abs().max() if len(g) else 0.0
    if err > SCORE_TOL:
        return f"score differs from the oracle by {err:.3g}"
    return None


def _occurs(doc: list[str], terms: list[str], window: int) -> bool:
    """Phrase (``window == 0``: terms contiguous, in order) or NEAR(w)
    (an occurrence of the first term with every other term within
    ``window`` tokens of it)."""
    if not terms:
        return False
    pos: dict[str, list[int]] = {}
    for i, t in enumerate(doc):
        pos.setdefault(t, []).append(i)
    if any(t not in pos for t in terms):
        return False
    for p in pos[terms[0]]:
        if window == 0:
            if doc[p: p + len(terms)] == terms:
                return True
        elif all(
            any(abs(q - p) <= window for q in pos[t]) for t in terms[1:]
        ):
            return True
    return False


def positional_hits(
    hits: pd.DataFrame, phrases: list[tuple[int, str]], docs: pd.DataFrame,
    query_lang: str, window: int,
) -> str | None:
    """Every (query_id, docID) hit contains its query's terms
    contiguously (phrase) or within ``window`` (NEAR), re-tokenizing the
    hit document with the engine's code tokenizer.  ``docs`` holds
    (docID, lang, content) for every hit docID."""
    from docinsight_spark.functions.tokenizer import tokenize_code_pandas

    if hits.empty:
        return "no hits"
    qtok = dict(zip(
        [q for q, _ in phrases],
        tokenize_code_pandas(
            pd.Series([t for _, t in phrases], dtype=object),
            pd.Series([query_lang] * len(phrases), dtype=object),
        ),
    ))
    d = docs.set_index("docID")
    missing = set(hits["docID"]) - set(d.index)
    if missing:
        return f"{len(missing)} hit docIDs are not live documents"
    dtok = dict(zip(d.index, tokenize_code_pandas(d["content"], d["lang"])))
    for qid, did in zip(hits["query_id"], hits["docID"]):
        if not _occurs(list(dtok[did]), list(qtok[qid]), window):
            return f"query {qid}: doc {did} lacks the terms (window {window})"
    return None


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form of a contract result, as the
    contract's own DuckDB parity tests compare them."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def same_table(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows, oracle has {len(b)}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            if not ((a[c] - b[c]).abs() < 1e-6).all():
                return f"column {c} differs from the oracle"
        elif not ((a[c] == b[c]) | (a[c].isna() & b[c].isna())).all():
            return f"column {c} differs from the oracle"
    return None


def live_docs(builder) -> pd.DataFrame:
    """The index's live document dimension, collected."""
    return builder.docs_dim().select(
        "docID", "repo", "path", "commit", "content_sha").toPandas()


def index_state(builder, live: pd.DataFrame, expected: pd.DataFrame,
                hits=()) -> str | None:
    """``fsck()`` is clean, ``n_docs`` and the live set (``live``, from
    :func:`live_docs`) equal the files that should be live (``expected``:
    their repo, path, commit, content), each live doc's ``content_sha``
    is ``sha2(content, 256)`` of its file, and every docID in ``hits``
    is live."""
    report = builder.fsck()
    if not report["ok"]:
        bad = [k for k, v in report["checks"].items() if not v["ok"]]
        return f"fsck failed: {bad}"
    key = ["repo", "path", "commit"]
    want = expected[key].assign(content_sha=[
        hashlib.sha256(c.encode()).hexdigest() for c in expected["content"]])
    if live["docID"].duplicated().any() or live.duplicated(key).any():
        return "a document is live twice"
    m = live.merge(want, on=key, how="outer", suffixes=("", "_want"))
    bad = int((m["content_sha"] != m["content_sha_want"]).sum())
    if bad:
        return f"live set differs from the inputs in {bad} documents"
    n_meta = int(builder.meta()["n_docs"])
    if n_meta != len(want):
        return f"n_docs {n_meta}, expected {len(want)}"
    dead = set(hits) - set(live["docID"])
    if dead:
        return f"{len(dead)} query hits are not live documents"
    return None
