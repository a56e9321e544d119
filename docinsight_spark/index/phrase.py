"""Exact phrase + proximity (NEAR) search over positional postings.

The reference surfaces matched *spans* of contiguous text as evidence
(``/root/reference/analysis/report_builder.py`` renders per-sentence
matches); the fulltext-index analog is exact phrase retrieval: a query
``"merge group"`` matches only documents where those tokens are
ADJACENT in the token stream, ranked by BM25 with the phrase itself as
the unit (tf = exact occurrence count, df = number of matching docs).
Proximity retrieval (:func:`proximity_search`) generalizes adjacency
to windowed containment — the closer analog of the reference's
sentence-granular fuzzy evidence
(``/root/reference/enhanced_pipeline.py:453-504``).

The positional artifact is the merged postings parquet itself: when an
index is built with ``IndexBuilder(positions=True)``, every
(term, docID) row carries ``positions array<int>`` — the term's token
offsets — through the run → merge → generation → compaction life-cycle
(the column rides the existing shard-sorted layout; the WAND segment
encoder prunes it).  Layout note (round 6, measured): a delta-gap +
VByte ``binary`` packing LOSES to the int array on disk — code's p50
tf is 1, so parquet's BYTE_ARRAY length prefix dominates while the int
array rides dictionary/RLE integer pages; the positional write-volume
fix that wins is zstd on positional artifacts (see
``IndexBuilder._postings_codec``).  A positional query needs no second
index structure:

1. scan each live root's merged postings with ``term IN (phrase
   terms)`` — the same row-group-pruned read the segment encoder's
   input enjoys (rows bounded by Σ df(tᵢ), never the corpus);
2. a cheap column-pruned pre-pass keeps only docs containing ALL the
   phrase's terms (positions bytes are never read for partial
   matches);
3. tombstoned copies are excluded (docID, root)-scoped, exactly like
   the WAND kernel — deletes and resurrections need no special casing;
4. the candidates' rows — ``candidates × |phrase|`` rows carrying
   their position arrays, never an exploded position stream — shuffle
   ONCE by (query, doc) into an Arrow-batched kernel that intersects
   offsets with ONE batch-wide composite-key count (phrase: a base
   ``pos − off`` hit by EVERY phrase offset) or a per-group
   searchsorted (NEAR(w): an anchor with every other term within ±w).
   Round 5 exploded positions through two corpus-agg hash shuffles;
   round 6's first cut grouped with applyInPandas and died on
   per-group pandas overhead at hot-phrase candidate counts — the
   kernel is therefore mapInPandas over (query, doc)-sorted
   partitions with a group-carry across Arrow batches, all
   position-level work vectorized.
5. BM25 over phrase tf/df with the index's live N/avgdl (delete-
   corrected in ``_meta.json``), round-then-rank top-k.

Scale notes: the only corpus-wide touch is the doc-length join (a
2-column scan of ``doc_stats``); everything else is bounded by the
phrase terms' posting sizes.  Skew: a phrase containing a hot term
decodes only the positions of docs that also contain the phrase's
rarest term (step 2), which is what keeps ``"the <rare>"`` queries
cheap.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from docinsight_spark.functions.bm25 import bm25_score_col
from docinsight_spark.index import fsio
from docinsight_spark.index.builder import (
    load_tombstone_pairs,
    read_manifests,
    _union_frames,
)
from docinsight_spark.session import local_frame

# Java-regex \s parity with the build/WAND driver paths (wand.py:_query_term_map)
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")

# phrase query batches collect to the driver (offsets must broadcast);
# beyond this, split the batch — ~100k phrases × a few terms is tens of
# MB of driver rows, the same budget the WAND wave chunking protects
MAX_PHRASE_BATCH = 100_000

# candidate (query_id, docID) sets up to this size collect driver-side:
# the semi-join becomes a literal broadcast and the candidates' buckets
# partition-prune the positions read; larger sets stay a lazy plan
CAND_COLLECT_MAX = 200_000

# past this many distinct terms, the postings scan's term restriction
# switches from an IN-list literal (row-group pruning) to a broadcast
# semi-join — the same threshold the WAND scan uses (a 10^5-term IN
# predicate bloats the plan and the parquet filter evaluation)
TERM_INLIST_MAX = 1024


def phrase_single_pass_max_rows() -> int:
    """Cost gate for the single-pass positional plan (round 7).

    The candidate pre-pass (docs containing ALL the phrase's terms,
    bounded collect, bucket pruning) exists to keep a hot-term phrase
    from reading positions of every partial match — but for selective
    batches it is pure overhead: an extra scan + aggregation + driver
    round-trip that prunes nothing.  When the batch's total postings
    volume Σ_(query,offset) df(term) — known exactly from term_stats,
    one tiny pushed-down probe — is at most this many rows, the kernel
    reads the matched rows directly and its completeness check (groups
    with fewer rows than offsets never score) does the filtering.
    Hot-term batches above the bound keep the pre-pass."""
    import os

    return int(os.environ.get("DOCINSIGHT_PHRASE_SINGLE_PASS_MAX", "2000000"))


def _restrict_terms(df: DataFrame, terms: list[str]) -> DataFrame:
    if len(terms) <= TERM_INLIST_MAX:
        return df.filter(F.col("term").isin(terms))
    tdf = local_frame(df.sparkSession, [(t,) for t in terms], "term string")
    return df.join(F.broadcast(tdf), "term", "left_semi")


def _check_positions_codec(index_dir: str, meta: dict) -> None:
    """Refuse positional layouts this reader cannot decode (the key is
    absent on pre-round-6 indexes — those ARE the array layout)."""
    codec = meta.get("positions_codec", "array")
    if codec != "array":
        raise ValueError(
            f"index at {index_dir} stores positions with codec "
            f"{codec!r}; this engine reads the 'array' layout — rebuild "
            "the index"
        )


def _phrase_offsets(
    rows: list[tuple[int, str]], code_aware: bool, lang: str
) -> list[tuple[int, int, str]]:
    """Tokenize phrases driver-side → (query_id, offset, term) rows,
    order and duplicates preserved (a phrase may repeat a term).  Phrase
    batches are small by nature (human queries); the distributed-wave
    machinery WAND needs for 10^5-query batches is not warranted here."""
    if code_aware:
        from docinsight_spark.functions.tokenizer import tokenize_code_pandas

        toks = tokenize_code_pandas(
            pd.Series([t for _, t in rows], dtype=object),
            pd.Series([lang] * len(rows), dtype=object),
        )
    else:
        toks = [
            [t for t in _JAVA_WS.split((txt or "").lower()) if t]
            for _, txt in rows
        ]
    out = []
    for (qid, _), ts in zip(rows, toks):
        out.extend((int(qid), off, term) for off, term in enumerate(ts))
    return out


def merged_roots(index_dir: str, meta: dict) -> list[tuple[str, str]]:
    """(root_id, merged_postings_dir) for the base set + every committed
    generation — the positional artifact's physical homes.  Loud when a
    root has no merged source (positions would be silently blind)."""
    final = [m for m in read_manifests(index_dir) if m["unit"] == "merged-final"]
    if not final:
        raise ValueError(f"no merged-final manifest under {index_dir}")
    out = [("base", f"{final[0]['source']}/postings")]
    for g in meta.get("generations", []):
        src = g.get("merged_source")
        if not src:
            raise ValueError(
                f"generation {g['id']} records no merged_source; phrase "
                "search cannot see its documents"
            )
        out.append((g["id"], f"{src}/postings"))
    return out


def phrase_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame | list[tuple[int, str]],
    k: int = 10,
    code_aware: bool | None = None,
    _meta: dict | None = None,
    _frames: dict[str, DataFrame] | None = None,
    _ds_frames: dict[str, DataFrame] | None = None,
    _tstats: DataFrame | None = None,
) -> DataFrame:
    """(query_id, rank, docID, score) — exact phrase top-k.

    ``queries``: (query_id, query_text) rows; each text is one phrase.
    Requires an index built with ``positions=True``.

    ``_frames`` / ``_ds_frames``: per-root pinned merged-postings /
    doc_stats DataFrames (``Searcher`` server mode) — the per-call
    parquet re-read disappears for warm repeat queries."""
    return _positional_search(
        spark, index_dir, queries, k=k, code_aware=code_aware,
        _meta=_meta, mode="phrase", window=0,
        _frames=_frames, _ds_frames=_ds_frames, _tstats=_tstats,
    )


def proximity_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame | list[tuple[int, str]],
    k: int = 10,
    window: int = 8,
    code_aware: bool | None = None,
    _meta: dict | None = None,
    _frames: dict[str, DataFrame] | None = None,
    _ds_frames: dict[str, DataFrame] | None = None,
    _tstats: DataFrame | None = None,
) -> DataFrame:
    """(query_id, rank, docID, score) — NEAR(w) proximity top-k.

    A document occurrence is an ANCHOR: a position of the query's FIRST
    term such that every other query term has an occurrence within
    ``window`` tokens either side of it (|q − anchor| ≤ w); tf = anchor
    count, df = matching docs, BM25 over the index's live N/avgdl —
    exact-phrase machinery relaxed to windowed containment, the engine's
    analog of the reference's sentence-granular fuzzy evidence
    (``/root/reference/enhanced_pipeline.py:453-504``).  Deterministic
    and SQL-replayable (the driver oracle replays the same anchored
    definition).  Requires a ``positions=True`` index."""
    if window < 1:
        raise ValueError("proximity window must be >= 1 token")
    return _positional_search(
        spark, index_dir, queries, k=k, code_aware=code_aware,
        _meta=_meta, mode="near", window=int(window),
        _frames=_frames, _ds_frames=_ds_frames, _tstats=_tstats,
    )


def _positional_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame | list[tuple[int, str]],
    k: int,
    code_aware: bool | None,
    _meta: dict | None,
    mode: str,
    window: int,
    _frames: dict[str, DataFrame] | None = None,
    _ds_frames: dict[str, DataFrame] | None = None,
    _tstats: DataFrame | None = None,
) -> DataFrame:
    meta = _meta or fsio.read_json(f"{index_dir}/_meta.json")
    if not meta.get("positions", False):
        raise ValueError(
            f"index at {index_dir} was built without positions=True; "
            "phrase/proximity search needs positional postings"
        )
    _check_positions_codec(index_dir, meta)
    if code_aware is None:
        code_aware = bool(meta.get("code_aware", True))
    qlang = str(meta.get("query_lang", "java"))
    if isinstance(queries, DataFrame):
        # phrase batches are driver-resident by design (human-scale query
        # sets); refuse a batch that would flood the driver instead of
        # silently collecting it — the WAND path has the wave machinery
        # for 10^5+ query batches, phrases don't (yet)
        head = queries.select("query_id", "query_text").limit(
            MAX_PHRASE_BATCH + 1
        ).collect()
        if len(head) > MAX_PHRASE_BATCH:
            raise ValueError(
                f"phrase batch exceeds {MAX_PHRASE_BATCH} queries; split "
                "the batch (phrase terms are driver-resident)"
            )
        rows = [(int(r["query_id"]), r["query_text"]) for r in head]
    else:
        rows = [(int(q), t) for q, t in queries]
    offsets = _phrase_offsets(rows, code_aware, qlang)
    empty = local_frame(
        spark, [], "query_id long, rank int, docID long, score double"
    )
    if not offsets:
        return empty
    all_terms = sorted({t for _, _, t in offsets})
    offs = local_frame(spark, offsets, "query_id long, off int, term string")
    noff = local_frame(
        spark,
        [
            (qid, sum(1 for q, _, _ in offsets if q == qid))
            for qid in sorted({q for q, _, _ in offsets})
        ],
        "query_id long, n int",
    )

    roots = merged_roots(index_dir, meta)

    def scan(rid: str, src: str, cols: list[str]) -> DataFrame:
        # server mode passes pinned per-root frames (Searcher cache) —
        # the filter still prunes in-memory batches via their min/max
        # stats; cold calls read parquet with row-group pruning
        base = (
            _frames[rid]
            if _frames is not None and rid in _frames
            else spark.read.parquet(src)
        )
        return (
            _restrict_terms(base, all_terms)
            .select(*cols)
            .withColumn("_root", F.lit(rid))
        )

    # cost probe: Σ_(query,offset) df(term) from term_stats — a pushed-
    # down read of at most |distinct terms| rows per root.  Selective
    # batches skip the candidate pre-pass entirely (single-pass plan);
    # hot-term batches keep it so partial matches never pay the
    # positions bytes.
    from docinsight_spark.index.builder import load_term_stats

    tstats = (
        _tstats if _tstats is not None
        else load_term_stats(spark, index_dir, meta)
    )
    df_rows = _restrict_terms(tstats, all_terms).collect()
    df_map = {r["term"]: int(r["df"]) for r in df_rows}
    cost_single = sum(df_map.get(t, 0) for _, _, t in offsets)
    if cost_single <= phrase_single_pass_max_rows():
        # a query with a term absent from the corpus can never match —
        # and an entirely dead batch returns without any heavy job
        alive = {
            qid for qid in {q for q, _, _ in offsets}
            if all(df_map.get(t, 0) > 0 for q, _, t in offsets if q == qid)
        }
        if not alive:
            return empty
        return _score_phrase_hits(
            spark, index_dir, meta, roots, scan, offs, noff, None, None,
            k, mode, window, _ds_frames=_ds_frames,
        )

    # pre-pass WITHOUT the positions column (column-pruned scan): docs
    # containing every offset's term — partial matches never pay the
    # positions bytes.  Tombstoned copies may survive into this superset
    # harmlessly; the positions branch applies the exact exclusion.
    lite = _union_frames([scan(r, s, ["term", "docID"]) for r, s in roots])
    cand = (
        lite.join(F.broadcast(offs), "term")
        .groupBy("query_id", "docID")
        .agg(F.count_distinct("off").alias("c"))
        .join(F.broadcast(noff), "query_id")
        .filter(F.col("c") == F.col("n"))
        .select("query_id", "docID")
    )

    # Bucket-level partition pruning for the positions read: the merged
    # postings are partitioned by doc_bucket, and a selective phrase's
    # candidates usually live in few buckets.  Candidate sets small
    # enough to hold driver-side (the common phrase) are collected ONCE:
    # the semi-join side becomes a literal broadcast (the lite pre-pass
    # never re-executes) and their distinct buckets prune the heavy
    # scan's partition listing — the hot-term positions read only
    # touches buckets that can produce a match.  Oversized candidate
    # sets (a phrase of only stopwords) fall back to the lazy plan with
    # no pruning — correctness identical either way.
    n_buckets = int(meta["n_buckets"])
    cand_rows = cand.limit(CAND_COLLECT_MAX + 1).collect()
    if len(cand_rows) <= CAND_COLLECT_MAX:
        if not cand_rows:
            return empty
        cand = local_frame(
            spark,
            [(int(r["query_id"]), int(r["docID"])) for r in cand_rows],
            "query_id long, docID long",
        )
        # python % with a positive modulus is non-negative, matching
        # Spark's pmod on the build side
        buckets = sorted({int(r["docID"]) % n_buckets for r in cand_rows})
    else:
        buckets = None
    return _score_phrase_hits(
        spark, index_dir, meta, roots, scan, offs, noff, cand,
        buckets if buckets is not None and len(buckets) < n_buckets else None,
        k, mode, window, _ds_frames=_ds_frames,
    )


def _near_anchor_tf(pos_objs, starts, n_req, rows_per_g, lens, near_w: int):
    """Batch-wide NEAR(w) anchor counting (round 7).

    The round-6 kernel looped per candidate group in Python (a pair of
    searchsorted calls per non-anchor row) — bounded, but O(groups)
    interpreter overhead at high-df candidate counts.  Here anchors of
    ALL complete groups are tested with ONE composite-key searchsorted
    pass per OFFSET SLOT (slot j = the j-th non-anchor row of each
    group; phrase length bounds the slot count at a handful) — the same
    batch-wide treatment the phrase branch already had.

    Inputs are the per-batch group layout of the kernel: ``pos_objs``
    (object array of ascending position arrays per row), ``starts``
    (group start row indices), ``n_req`` (offsets per query, per
    group), ``rows_per_g``, ``lens`` (per-row position counts).
    Returns ``tf_g`` — per group, the number of first-term anchors
    with every other term within ±``near_w``."""
    import numpy as np

    n_groups = len(starts)
    tf_g = np.zeros(n_groups, dtype=np.int64)
    ok_g = rows_per_g >= n_req  # incomplete copy lacks a term
    sel_g = np.flatnonzero(ok_g)
    if not len(sel_g):
        return tf_g
    a_arrays = [
        np.asarray(pos_objs[s], dtype=np.int64) for s in starts[sel_g]
    ]
    a_lens = np.fromiter((len(a) for a in a_arrays), np.int64, len(sel_g))
    a_flat = (
        np.concatenate(a_arrays) if len(a_arrays) else np.empty(0, np.int64)
    )
    # global anchor → compact group rank (0..len(sel_g)-1)
    a_grank = np.repeat(np.arange(len(sel_g), dtype=np.int64), a_lens)
    anchor_ok = np.ones(len(a_flat), dtype=bool)
    max_pos = int(a_flat.max()) if len(a_flat) else 0
    n_slots = int(n_req[sel_g].max())
    slot_rows = [
        (starts[sel_g] + j, n_req[sel_g] > j) for j in range(1, n_slots)
    ]
    # span must exceed every composite key this batch can produce
    for rows_j, has_j in slot_rows:
        rows_sel = rows_j[has_j]
        if len(rows_sel):
            max_pos = max(
                max_pos,
                int(max(pos_objs[r][-1] for r in rows_sel
                        if len(pos_objs[r]))),
            )
    span = np.int64(max_pos + 2 * near_w + 2)
    for rows_j, has_j in slot_rows:
        # groups owning a j-th non-anchor row this slot
        loc = np.full(len(sel_g), -1, dtype=np.int64)
        loc[np.flatnonzero(has_j)] = np.arange(
            int(has_j.sum()), dtype=np.int64
        )
        rows_sel = rows_j[has_j]
        if not len(rows_sel):
            continue
        q_lens = lens[rows_sel]
        q_flat = (
            np.concatenate(
                [np.asarray(pos_objs[r], np.int64) for r in rows_sel]
            )
            if q_lens.sum()
            else np.empty(0, np.int64)
        )
        # composite keys: positions ascend within each row, row ranks
        # ascend across rows → globally sorted, one searchsorted pass
        q_rank = np.repeat(np.arange(len(rows_sel), dtype=np.int64), q_lens)
        qkey = q_rank * span + q_flat + near_w + 1
        sel_a = loc[a_grank] >= 0
        base = loc[a_grank[sel_a]] * span + a_flat[sel_a] + near_w + 1
        lo = np.searchsorted(qkey, base - near_w, side="left")
        hi = np.searchsorted(qkey, base + near_w, side="right")
        anchor_ok[sel_a] &= hi > lo
    tf_g[sel_g] = np.bincount(
        a_grank, weights=anchor_ok, minlength=len(sel_g)
    ).astype(np.int64)
    return tf_g


def _score_phrase_hits(
    spark, index_dir, meta, roots, scan, offs, noff, cand, buckets, k,
    mode: str = "phrase", window: int = 0,
    _ds_frames: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Candidate scoring in an Arrow-batched kernel: ONE shuffle of the
    candidates' (query, off, doc, positions) rows, sorted by
    (query, doc) within partitions, then ``mapInPandas`` intersects
    offsets with batch-WIDE vectorized ops — no per-position shuffle
    (round 5 exploded positions through two corpus hash-aggs) and no
    per-group pandas overhead (an applyInPandas cut measured ~9 ms ×
    candidate-count: 92 s for a 9.4k-candidate phrase).  Groups
    splitting across Arrow batch boundaries are carried, the segment-
    encoder pattern.  ``mode='phrase'``: tf = bases ``pos − off`` hit
    by every offset (one composite-key unique/count over the whole
    batch); ``mode='near'``: tf = first-term anchors with every other
    term within ±``window`` (two searchsorted per row, never per
    position)."""
    heavy = _union_frames(
        [
            scan(r, s, ["term", "docID", "positions", "doc_bucket"])
            for r, s in roots
        ]
    )
    if buckets is not None:
        heavy = heavy.filter(F.col("doc_bucket").isin(buckets))
    heavy = heavy.drop("doc_bucket")
    tomb = load_tombstone_pairs(spark, index_dir, meta)
    if tomb is not None:
        heavy = heavy.join(
            F.broadcast(tomb.withColumnRenamed("root", "_root")),
            ["docID", "_root"],
            "left_anti",
        )
    hits = heavy.join(F.broadcast(offs), "term")
    if cand is not None:
        # pre-pass plan: only docs known to contain every term pay the
        # shuffle; single-pass plans skip this (the kernel's
        # completeness check drops partial groups for free)
        hits = hits.join(cand, ["query_id", "docID"], "left_semi")
    hits = (
        hits.join(F.broadcast(noff), "query_id")
        .select("query_id", "docID", "_root", "off", "positions", "n")
        .repartition("query_id", "docID")
        .sortWithinPartitions("query_id", "docID", "_root", "off")
    )

    import numpy as np

    near_w = int(window)
    is_near = mode == "near"
    out_schema = "query_id long, docID long, _root string, tf long"

    def _flush(pdf: pd.DataFrame) -> pd.DataFrame | None:
        """Score every complete group in ``pdf`` (rows pre-sorted by the
        group key).  All position-level work is vectorized across the
        WHOLE frame; per-group python is O(groups) cheap ops."""
        qids = pdf["query_id"].to_numpy()
        dids = pdf["docID"].to_numpy()
        rts = pdf["_root"].to_numpy()
        change = np.flatnonzero(
            (qids[1:] != qids[:-1])
            | (dids[1:] != dids[:-1])
            | (rts[1:] != rts[:-1])
        ) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(pdf)]))
        gid = np.zeros(len(pdf), dtype=np.int64)
        gid[change] = 1
        gid = np.cumsum(gid)
        n_groups = len(starts)
        n_req = pdf["n"].to_numpy()[starts]        # offsets per query
        rows_per_g = ends - starts
        offs_a = pdf["off"].to_numpy()
        pos_objs = pdf["positions"].to_numpy()
        lens = np.fromiter((len(p) for p in pos_objs), np.int64, len(pdf))
        if is_near:
            tf_g = _near_anchor_tf(
                pos_objs, starts, n_req, rows_per_g, lens, near_w
            )
        else:
            flat = (
                np.concatenate([np.asarray(p, np.int64) for p in pos_objs])
                if len(pos_objs)
                else np.empty(0, np.int64)
            )
            bases = flat - np.repeat(offs_a.astype(np.int64), lens)
            grep = np.repeat(gid, lens)
            if len(bases):
                shift = np.int64(bases.min())
                span = np.int64(bases.max()) - shift + 1
                key = grep * span + (bases - shift)
                uq, cnt = np.unique(key, return_counts=True)
                kg = uq // span
                # a group with fewer rows than n (live copy lacking a
                # term) can never reach cnt == n — no special case
                mask = cnt == n_req[kg]
                tf_g = np.bincount(kg[mask], minlength=n_groups)
            else:
                tf_g = np.zeros(n_groups, dtype=np.int64)
        hit = tf_g > 0
        if not hit.any():
            return None
        sel = starts[hit]
        return pd.DataFrame(
            {
                "query_id": qids[sel],
                "docID": dids[sel],
                "_root": rts[sel],
                "tf": tf_g[hit].astype(np.int64),
            }
        )

    def kern(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            # hold back the (possibly incomplete) last group
            qids = pdf["query_id"].to_numpy()
            dids = pdf["docID"].to_numpy()
            last_q, last_d = qids[-1], dids[-1]
            tail_start = int(
                np.flatnonzero((qids != last_q) | (dids != last_d))[-1] + 1
                if ((qids != last_q) | (dids != last_d)).any()
                else 0
            )
            carry = pdf.iloc[tail_start:].copy()
            head = pdf.iloc[:tail_start]
            if len(head):
                out = _flush(head)
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = _flush(carry)
            if out is not None:
                yield out

    ptf = hits.mapInPandas(kern, out_schema)

    stats_dirs = [("base", index_dir)] + [
        (g["id"], f"{index_dir}/generations/{g['id']}")
        for g in meta.get("generations", [])
    ]
    # keep the doc_bucket partition column: the dl join is the plan's
    # only corpus-wide touch, and joining on the partition key too lets
    # dynamic partition pruning skip doc_stats buckets holding no phrase
    # match (ptf's bucket is derivable in-plan — same pmod the build used)
    ds = _union_frames(
        [
            (
                _ds_frames[rid]
                if _ds_frames is not None and rid in _ds_frames
                else spark.read.parquet(f"{rdir}/doc_stats")
                .select("docID", "dl", "doc_bucket")
                .withColumn("_root", F.lit(rid))
            )
            for rid, rdir in stats_dirs
        ]
    )
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    k1, b = float(meta["k1"]), float(meta["b"])
    n_buckets = int(meta["n_buckets"])
    ptf = ptf.withColumn(
        "doc_bucket", F.pmod(F.col("docID"), F.lit(n_buckets)).cast("int")
    )
    # per-query df as a WINDOW over the kernel output, not a groupBy +
    # self-broadcast-join (round 7): the self-join referenced the
    # mapInPandas subtree twice, and only the exchange BELOW the kernel
    # is reusable — the sort + kernel itself executed twice per call.
    # The window needs the same tiny exchange the rank window needs and
    # the kernel runs ONCE.
    scored = (
        ptf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("query_id"))
        )
        .join(ds, ["doc_bucket", "docID", "_root"])
        .withColumn(
            "score",
            bm25_score_col(
                F.col("tf"), F.col("df"), F.col("dl"), n_docs, avgdl, k1, b
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 4).desc(), F.col("docID")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "docID", "score")
    )


# ---------------------------------------------------------------------------
# Keyword-in-context snippets: best matched-term window per (query, doc)
# ---------------------------------------------------------------------------


def snippet_windows(
    spark: SparkSession,
    index_dir: str,
    candidates: DataFrame,
    qterms: DataFrame,
    window: int = 8,
    _meta: dict | None = None,
) -> DataFrame:
    """(query_id, docID, snippet_start, n_matches) — for each candidate
    (query_id, docID) pair, the token offset whose ``window``-token span
    covers the MOST query-term occurrences (ties → smallest offset): the
    keyword-in-context evidence span, the engine's analog of the
    reference's matched-sentence display
    (``/root/reference/analysis/report_builder.py`` per-span rendering).

    ``candidates``: (query_id, docID) — normally a top-k result, so tiny
    and broadcast; ``qterms``: (query_id, term).  Cost is bounded by the
    candidates' matched positions: the positions scan is pushed down to
    the query's terms, restricted to candidate docs BEFORE positions
    explode, and the window argmax is a per-(query, doc) self range-join
    over a handful of matched offsets — never a corpus-wide pass.
    Requires a ``positions=True`` index."""
    meta = _meta or fsio.read_json(f"{index_dir}/_meta.json")
    if not meta.get("positions", False):
        raise ValueError(
            f"index at {index_dir} was built without positions=True; "
            "snippets need positional postings"
        )
    _check_positions_codec(index_dir, meta)
    thead = qterms.select("term").distinct().limit(1_000_001).collect()
    if len(thead) > 1_000_000:
        raise ValueError(
            "snippet qterms exceed 1M distinct terms; split the batch "
            "(the term restriction is driver-resident)"
        )
    terms = [r["term"] for r in thead]
    out_schema = "query_id long, docID long, snippet_start int, n_matches long"
    if not terms:
        return local_frame(spark, [], out_schema)
    roots = merged_roots(index_dir, meta)
    cand = candidates.select("query_id", "docID").distinct()
    # same bounded-collect + bucket pruning as phrase_search: snippet
    # candidates are a top-k result (tiny) in every real caller, so the
    # positions read lists only their buckets
    n_buckets = int(meta["n_buckets"])
    buckets = None
    cand_rows = cand.limit(CAND_COLLECT_MAX + 1).collect()
    if len(cand_rows) <= CAND_COLLECT_MAX:
        if not cand_rows:
            return local_frame(spark, [], out_schema)
        cand = local_frame(
            spark,
            [(int(r["query_id"]), int(r["docID"])) for r in cand_rows],
            "query_id long, docID long",
        )
        bset = sorted({int(r["docID"]) % n_buckets for r in cand_rows})
        if len(bset) < n_buckets:
            buckets = bset
    rows = _union_frames(
        [
            _restrict_terms(spark.read.parquet(src), terms)
            .select("term", "docID", "positions", "doc_bucket")
            .withColumn("_root", F.lit(rid))
            for rid, src in roots
        ]
    )
    if buckets is not None:
        rows = rows.filter(F.col("doc_bucket").isin(buckets))
    rows = rows.drop("doc_bucket")
    tomb = load_tombstone_pairs(spark, index_dir, meta)
    if tomb is not None:
        rows = rows.join(
            F.broadcast(tomb.withColumnRenamed("root", "_root")),
            ["docID", "_root"],
            "left_anti",
        )
    mpos = (
        rows.join(F.broadcast(qterms), "term")
        .join(F.broadcast(cand), ["query_id", "docID"], "left_semi")
        .select("query_id", "docID", F.explode("positions").alias("pos"))
        .distinct()  # two query terms at one offset count once
    )
    a, bb = mpos.alias("a"), mpos.alias("b")
    wins = (
        a.join(
            bb,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.docID") == F.col("b.docID"))
            & (F.col("b.pos") >= F.col("a.pos"))
            & (F.col("b.pos") < F.col("a.pos") + F.lit(window)),
        )
        .groupBy(
            F.col("a.query_id").alias("query_id"),
            F.col("a.docID").alias("docID"),
            F.col("a.pos").alias("snippet_start"),
        )
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    w = Window.partitionBy("query_id", "docID").orderBy(
        F.col("n_matches").desc(), F.col("snippet_start")
    )
    return (
        wins.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(
            "query_id",
            "docID",
            F.col("snippet_start").cast("int").alias("snippet_start"),
            "n_matches",
        )
    )
