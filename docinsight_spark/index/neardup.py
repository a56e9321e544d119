"""Incremental near-duplicate gate: a persisted MinHash signature store.

The batch operators (:mod:`docinsight_spark.operators.dedup`) are
stateless: every run re-shingles and re-signs the WHOLE input — at
10^12 docs an O(corpus) tokenize pass per ingest batch.  This module is
the incremental form, generalizing the exact-sha gate the builder
already has (reference analog: the content-hash dedup gate,
``/root/reference/pipeline_ingest.py:265-269``) to near-duplicates:

* **add(unit, docs)** — shingle + MinHash ONLY the delta, append its
  band keys (the LSH probe index) and shingle hashes (the exact-verify
  side) under ``unit=<unit>`` subdirs.  Idempotent per unit manifest —
  a replayed streaming micro-batch appends nothing twice.
* **probe(docs)** — sign ONLY the delta, equi-join its band keys
  against the stored bands (shuffle join on ``(band_id, bkey)``, the
  same banded-not-all-pairs shape as the batch LSH), then verify exact
  Jaccard on candidate pairs only: the store's shingle hashes are
  semi-joined down to candidate ids before touching the delta's
  shingles.  Per-probe cost: O(delta tokenize) + one scan of the store
  — never a re-shingle of the base corpus.

Storage: band rows are ~``bands`` rows/doc (tiny); shingle hashes are
~dl rows/doc — postings-magnitude, the price of EXACT Jaccard verify
against a corpus whose raw text the index does not retain.  Deployments
that can re-fetch content may instead verify estimated Jaccard from the
stored signatures (``verify="estimate"``) and keep only ``bands``
(``keep_shingles=False``) — the probe index alone.

Shingle identity is ``xxhash64(shingle)`` (64-bit): Jaccard on hashed
shingles equals Jaccard on shingles up to ~2^-64 collision noise, and
the store never holds corpus text.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from docinsight_spark.index import fsio
from docinsight_spark.operators.dedup import minhash_signatures, shingles
from docinsight_spark.session import local_frame


def _band_rows(
    sig: DataFrame, n_hashes: int, bands: int, id_col: str = "id"
) -> DataFrame:
    """(id, band_id, bkey) — one row per (doc, band), the LSH keys.
    Mirrors :func:`operators.dedup.lsh_candidate_pairs`'s banding so the
    incremental gate flags exactly what the batch pipeline would."""
    rows = n_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws("|", *cols)).alias("bkey"),
            )
        )
    return sig.select(
        F.col(id_col).alias("id"), F.explode(F.array(*band_cols)).alias("band")
    ).select(
        "id",
        F.col("band.band_id").alias("band_id"),
        F.col("band.bkey").alias("bkey"),
    )


class NearDupStore:
    """Persisted LSH band + shingle-hash store rooted at ``root``.

    Settings (shingle n, hash count, bands) are pinned in
    ``_meta.json`` at creation; reopening with different settings is
    refused — probes against bands produced by a different banding
    would silently miss near-dups."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n: int = 3,
        n_hashes: int = 12,
        bands: int = 4,
        max_bucket: int = 50,
        keep_shingles: bool = True,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.n, self.n_hashes, self.bands = n, n_hashes, bands
        self.max_bucket = max_bucket
        self.keep_shingles = keep_shingles
        mpath = f"{self.root}/_meta.json"
        mine = {
            "n": n, "n_hashes": n_hashes, "bands": bands,
            "keep_shingles": keep_shingles,
        }
        if fsio.exists(mpath):
            theirs = {k: fsio.read_json(mpath)[k] for k in mine}
            if theirs != mine:
                raise ValueError(
                    f"NearDupStore at {self.root} was created with "
                    f"{theirs}, got {mine}; signatures are not comparable "
                    "across bandings — open with the stored settings"
                )
        else:
            fsio.makedirs(f"{self.root}/_units")
            fsio.write_json_atomic(mpath, mine)

    @classmethod
    def open(cls, spark: SparkSession, root: str, **overrides):
        """Store configured FROM its persisted settings."""
        meta = fsio.read_json(f"{root.rstrip('/')}/_meta.json")
        kw = dict(
            n=int(meta["n"]), n_hashes=int(meta["n_hashes"]),
            bands=int(meta["bands"]),
            keep_shingles=bool(meta.get("keep_shingles", True)),
        )
        kw.update(overrides)
        return cls(spark, root, **kw)

    # -- write side ---------------------------------------------------------

    def _fold_info(self) -> dict | None:
        """Committed fold manifest, or ``None`` before the first fold."""
        p = f"{self.root}/_fold.json"
        return fsio.read_json(p) if fsio.exists(p) else None

    def _unit_done(self, unit: str) -> bool:
        fold = self._fold_info()
        if fold and unit in fold["covered_units"]:
            return True
        p = f"{self.root}/_units/{unit}.json"
        return fsio.exists(p) and fsio.read_json(p).get("status") == "complete"

    def _loose_units(self) -> list[str]:
        """Units whose signatures still live in per-unit dirs (committed
        after the last fold, or never folded)."""
        fold = self._fold_info()
        covered = set(fold["covered_units"]) if fold else set()
        return sorted(
            u
            for fn in fsio.listdir(f"{self.root}/_units")
            if fn.endswith(".json")
            and (u := fn[: -len(".json")]) not in covered
        )

    def units(self) -> list[str]:
        fold = self._fold_info()
        covered = list(fold["covered_units"]) if fold else []
        return sorted(set(covered) | set(self._loose_units()))

    def add(
        self,
        docs: DataFrame,
        unit: str,
        id_col: str = "docID",
        text_col: str = "content",
    ) -> None:
        """Sign the delta and append its keys under ``unit=<unit>``.
        Idempotent: a completed unit appends nothing (streaming replay
        safety — same contract as the builder's run manifests)."""
        if self._unit_done(unit):
            return
        sh = shingles(docs, id_col, text_col, self.n)
        if self.keep_shingles:
            # one shingle pass feeds both outputs
            sh = sh.persist()
        try:
            sig = minhash_signatures(sh, self.n_hashes)
            _band_rows(sig, self.n_hashes, self.bands).write.mode(
                "overwrite"
            ).parquet(f"{self.root}/bands/unit={unit}")
            if self.keep_shingles:
                sh.select(
                    "id", F.xxhash64("shingle").alias("sh")
                ).write.mode("overwrite").parquet(
                    f"{self.root}/shingles/unit={unit}"
                )
        finally:
            if self.keep_shingles:
                sh.unpersist()
        # resurrection parity with the exact gate: re-registering a
        # forgotten (deleted) docID clears its forget entry, BEFORE the
        # unit manifest commits — a crash in between replays the whole
        # add (unit not done) and re-clears idempotently
        forg = self.forgotten_ids()
        if forg is not None:
            delta_ids = docs.select(F.col(id_col).alias("id")).distinct()
            if forg.join(delta_ids, "id", "left_semi").limit(1).count():
                kept = forg.join(
                    F.broadcast(delta_ids), "id", "left_anti"
                )
                self._commit_forgotten(kept)
        fsio.write_json_atomic(
            f"{self.root}/_units/{unit}.json",
            {"unit": unit, "status": "complete", "ts": time.time()},
        )

    def _read(self, sub: str) -> DataFrame | None:
        """One multi-path scan over the committed fold dir (if any) plus
        the COMMITTED loose unit dirs (a crashed append's partial dir
        must not count; multi-path keeps the plan a single scan node at
        10^4+ streaming units — same rationale as the builder's
        ``_read_plain``)."""
        paths = []
        fold = self._fold_info()
        if fold is not None and fsio.exists(
            p := f"{self.root}/{sub}/fold={fold['id']}"
        ):
            paths.append(p)
        paths += [
            p for u in self._loose_units()
            if fsio.exists(p := f"{self.root}/{sub}/unit={u}")
        ]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def fold(self, target_files: int = 16) -> int | None:
        """Consolidate the per-unit band/shingle dirs (plus any prior
        fold) into ONE ``fold=<id>`` dir per side — the store's analog
        of the index's compaction.  Under continuous ingest the store
        otherwise accumulates one dir per micro-batch: the multi-path
        scan keeps the *plan* flat, but file counts (and object-store
        listing costs) grow O(units).  After a fold, ``probe`` scans a
        few large files regardless of how many units were ever added.

        Crash-safe in the builder's style: the consolidated data dirs
        are written first; the atomic ``_fold.json`` rewrite is the
        commit point (a crash before it leaves an orphan dir that the
        next fold overwrites, readers never see it).  Victim dirs are
        NOT deleted inline — a tombstone under ``_gc/`` records them
        and :meth:`gc` reclaims after a reader grace period (same
        contract as the builder's ``gc_generations``).  Unit manifests
        of covered units are absorbed into the fold manifest, keeping
        ``_units/`` bounded by the loose tail; ``add`` replay of a
        covered unit stays a no-op.  Returns the new fold id, or
        ``None`` when there is nothing loose to fold."""
        loose = self._loose_units()
        prior = self._fold_info()
        if not loose:
            return None
        fid = int(prior["id"]) + 1 if prior else 0
        subs = ["bands"] + (["shingles"] if self.keep_shingles else [])
        victims = []
        # physical reclaim of forgotten (deleted) docs' rows: the fold
        # output excludes them, and the forgotten set clears after the
        # commit (its ids have no stored rows left to disable)
        forg = self.forgotten_ids()
        for sub in subs:
            df = self._read(sub)
            if df is None:
                continue
            if forg is not None:
                df = df.join(F.broadcast(forg), "id", "left_anti")
            df.repartition(target_files).write.mode("overwrite").parquet(
                f"{self.root}/{sub}/fold={fid}"
            )
            victims += [
                p for u in loose
                if fsio.exists(p := f"{self.root}/{sub}/unit={u}")
            ]
            if prior is not None and fsio.exists(
                p := f"{self.root}/{sub}/fold={prior['id']}"
            ):
                victims.append(p)
        covered = sorted(
            (set(prior["covered_units"]) if prior else set()) | set(loose)
        )
        # commit point: readers switch to the fold atomically
        fsio.write_json_atomic(
            f"{self.root}/_fold.json",
            {"id": fid, "covered_units": covered, "ts": time.time()},
        )
        # tombstone AFTER the commit: a crash between the two leaks the
        # victim dirs (storage only) — the reverse order could let gc()
        # delete data a never-committed fold still depended on
        fsio.makedirs(f"{self.root}/_gc")
        fsio.write_json_atomic(
            f"{self.root}/_gc/fold-{fid}.json",
            {"ts": time.time(), "paths": victims},
        )
        for u in loose:
            fsio.remove(f"{self.root}/_units/{u}.json")
        if forg is not None:
            # after the fold no stored row matches a forgotten id; a
            # crash between the fold commit and this clear leaves the
            # set applied to rows that no longer exist — a no-op
            self._commit_forgotten(None)
        return fid

    # -- forget side (doc deletes) ------------------------------------------

    def _forgotten_info(self) -> dict | None:
        p = f"{self.root}/_forgotten.json"
        return fsio.read_json(p) if fsio.exists(p) else None

    def forgotten_ids(self) -> DataFrame | None:
        """Doc ids whose stored signatures are disabled (deleted docs);
        ``None`` when nothing is forgotten."""
        info = self._forgotten_info()
        if not info or not int(info.get("n", 0)):
            return None
        return self.spark.read.parquet(f"{self.root}/forgotten/v{info['v']}")

    def _commit_forgotten(self, ids: DataFrame | None) -> None:
        """Atomically swap the forgotten set to ``ids`` (None = clear).
        The old version dir goes through the ``_gc`` tombstone path —
        an in-flight probe that read the old pointer may still scan it."""
        info = self._forgotten_info() or {}
        v = int(info.get("v", -1)) + 1
        n = ids.count() if ids is not None else 0
        if n:
            ids.write.mode("overwrite").parquet(f"{self.root}/forgotten/v{v}")
        fsio.write_json_atomic(
            f"{self.root}/_forgotten.json",
            {"v": v, "n": n, "ts": time.time()},
        )
        if info and int(info.get("n", 0)):
            fsio.makedirs(f"{self.root}/_gc")
            fsio.write_json_atomic(
                f"{self.root}/_gc/forgotten-v{info['v']}.json",
                {"ts": time.time(),
                 "paths": [f"{self.root}/forgotten/v{info['v']}"]},
            )

    def forget(self, victims: DataFrame, id_col: str = "docID") -> int:
        """Disable the stored signatures of ``victims`` (the near-dup
        analog of the index's tombstone delete): probes stop flagging
        new content against them immediately, and the next :meth:`fold`
        reclaims their band/shingle rows physically.  A later
        ``add``/``gate`` of a forgotten docID (resurrection) re-registers
        it and clears its forget entry, so near-dups of the re-ingested
        content are flagged again.  Returns the forgotten-set size."""
        ids = victims.select(F.col(id_col).alias("id")).distinct()
        cur = self.forgotten_ids()
        new = ids if cur is None else cur.unionByName(ids).distinct()
        self._commit_forgotten(new)
        return int((self._forgotten_info() or {}).get("n", 0))

    def gc(self, grace_sec: float = 600.0) -> list[str]:
        """Reclaim fold victims tombstoned longer than ``grace_sec``
        ago.  Same reader contract as the index's ``gc_generations``:
        grace must exceed the worst-case probe scan time (plus clock
        skew on shared storage).  Returns the removed paths."""
        removed = []
        gdir = f"{self.root}/_gc"
        if not fsio.exists(gdir):
            return removed
        now = time.time()
        for fn in list(fsio.listdir(gdir)):
            if not fn.endswith(".json"):
                continue
            m = fsio.read_json(f"{gdir}/{fn}")
            if now - float(m.get("ts", 0)) < grace_sec:
                continue
            for p in m.get("paths", []):
                if fsio.exists(p):
                    fsio.rmtree(p)
                removed.append(p)
            fsio.remove(f"{gdir}/{fn}")
        return removed

    # -- probe side ---------------------------------------------------------

    def probe(
        self,
        docs: DataFrame,
        id_col: str = "docID",
        text_col: str = "content",
        threshold: float = 0.7,
        verify: str = "exact",
    ) -> DataFrame:
        """(new_id, base_id, jaccard) — delta docs near-duplicating a
        STORED doc, without re-shingling the base corpus.

        ``verify="exact"``: true Jaccard on hashed shingles, computed
        for candidate pairs only (store shingles semi-joined down to
        candidate ids first).  ``verify="estimate"``: matching-minhash
        fraction from the stored signatures' band keys is unavailable —
        estimate mode verifies on band agreement count / bands, coarser
        but needs no shingle store."""
        empty = local_frame(
            self.spark, [], "new_id long, base_id long, jaccard double"
        )
        base_bands = self._read("bands")
        if base_bands is None:
            return empty
        forgotten = self.forgotten_ids()
        if forgotten is not None:
            # deleted docs don't gate new content (forgotten sets are
            # O(deletes) — broadcast); the shingle side needs no second
            # anti-join: candidate base ids derive from the bands
            base_bands = base_bands.join(
                F.broadcast(forgotten), "id", "left_anti"
            )
        sh_new = shingles(docs, id_col, text_col, self.n).persist()
        try:
            sig = minhash_signatures(sh_new, self.n_hashes)
            new_bands = _band_rows(sig, self.n_hashes, self.bands)
            # restrict the store scan to the DELTA's band keys first
            # (broadcast semi-join — delta keys are tiny): the skew-cap
            # window then shuffles only the matched buckets, not the
            # whole store.  Semantics are unchanged — a semi-join keeps
            # every row of a matching bucket, so per-bucket counts are
            # identical to counting over the full store.
            delta_keys = new_bands.select("band_id", "bkey").distinct()
            base_hit = base_bands.join(
                F.broadcast(delta_keys), ["band_id", "bkey"], "left_semi"
            )
            # skew guard on the STORE side, same cap as the batch LSH:
            # boilerplate band buckets explode the candidate join
            sz = Window.partitionBy("band_id", "bkey")
            base_b = base_hit.withColumn(
                "_n", F.count(F.lit(1)).over(sz)
            ).filter(F.col("_n") <= self.max_bucket).drop("_n")
            cand = (
                new_bands.join(
                    base_b.select(
                        F.col("id").alias("base_id"), "band_id", "bkey"
                    ),
                    ["band_id", "bkey"],
                )
                .filter(F.col("id") != F.col("base_id"))
                .select(F.col("id").alias("new_id"), "base_id", "band_id")
            )
            if verify == "estimate":
                # distinct bands, not raw match rows: a resurrected
                # docID's bands exist in two unit dirs
                agree = cand.distinct().groupBy("new_id", "base_id").agg(
                    (F.count(F.lit(1)) / float(self.bands)).alias("jaccard")
                )
                return agree.filter(F.col("jaccard") >= threshold)
            cand = cand.drop("band_id").distinct()
            base_sh = self._read("shingles")
            if base_sh is None:
                raise ValueError(
                    "store was created with keep_shingles=False; "
                    'use verify="estimate"'
                )
            # verify ONLY candidates: store shingles shrink to candidate
            # base ids BEFORE touching the delta's shingles
            cand_base = cand.select(F.col("base_id").alias("id")).distinct()
            # distinct AFTER the candidate restriction: a resurrected
            # docID (forgotten then re-registered) has signature rows in
            # two unit dirs — duplicates would double-count n_inter/nb
            base_sh = (
                base_sh.join(cand_base, "id", "left_semi")
                .select(F.col("id").alias("base_id"), "sh")
                .distinct()
            )
            new_sh = sh_new.select(
                F.col("id").alias("new_id"), F.xxhash64("shingle").alias("sh")
            )
            inter = (
                cand.join(new_sh, "new_id")
                .join(base_sh, ["base_id", "sh"])
                .groupBy("new_id", "base_id")
                .agg(F.count(F.lit(1)).alias("n_inter"))
            )
            na = new_sh.groupBy("new_id").agg(F.count(F.lit(1)).alias("na"))
            nb = base_sh.groupBy("base_id").agg(F.count(F.lit(1)).alias("nb"))
            return (
                inter.join(na, "new_id")
                .join(nb, "base_id")
                .withColumn(
                    "jaccard",
                    F.col("n_inter")
                    / (F.col("na") + F.col("nb") - F.col("n_inter")),
                )
                .filter(F.col("jaccard") >= threshold)
                .select("new_id", "base_id", "jaccard")
            )
        finally:
            sh_new.unpersist()

    def gate(
        self,
        docs: DataFrame,
        unit: str,
        id_col: str = "docID",
        text_col: str = "content",
        threshold: float = 0.7,
    ) -> DataFrame:
        """The ingest gate: drop delta docs near-duplicating the stored
        corpus, register the SURVIVORS' signatures under ``unit``, and
        return the surviving docs.  (Within-delta near-dups are the
        batch operators' job — this gate is strictly delta-vs-store,
        like the builder's cross-run exact gate.)

        Replay-safe: matches whose ``base_id`` is in the DELTA's own id
        set are ignored.  A crashed micro-batch replayed after its
        ``add`` committed would otherwise probe against its own stored
        copy, and a within-batch near-dup pair (kept by this gate on
        the first attempt) would flag itself on the second — divergent
        survivors across attempts breaks the sink's exactly-once
        contract.  A stored row with the same docID IS the same doc
        identity (docID is a content-address upstream), so skipping it
        never misses a real cross-batch duplicate."""
        delta_ids = docs.select(F.col(id_col).alias("base_id")).distinct()
        dup_ids = (
            self.probe(docs, id_col, text_col, threshold)
            .join(F.broadcast(delta_ids), "base_id", "left_anti")
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        survivors = docs.join(dup_ids, id_col, "left_anti")
        self.add(survivors, unit, id_col, text_col)
        return survivors
