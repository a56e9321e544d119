"""The benchmark's workloads: one closed-loop client, one process.

A workload has a set-up (timed as ``setup_s``; reference results for the
checks are computed outside that time), measured *cycles* that each run
the workload's fixed operation mix once, and checks that run after the
cycles.  Every operation goes through :meth:`Bench.op`: an exception or
a failed check counts as a failed operation and leaves no timing behind;
a warm-up operation is checked like any other but gives no sample.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import Counter
from contextlib import contextmanager

import pandas as pd

import checks
import inputs
from spans import median, tree_usage


class Record:
    __slots__ = ("name", "wall", "cpu", "value", "ok", "warm")

    def __init__(self, name: str, wall: float, cpu: float, value, warm: bool):
        self.name, self.wall, self.cpu, self.value = name, wall, cpu, value
        self.ok, self.warm = True, warm


class Bench:
    """State of one run: session, scratch directory, op records."""

    def __init__(self, spark, tracer, run_dir: str, seed: int, cores: int,
                 seconds: float):
        self.spark, self.tracer = spark, tracer
        self.dir, self.seed, self.cores = run_dir, seed, cores
        self.seconds = seconds
        self.attempted: Counter = Counter()
        self.failed: Counter = Counter()
        self.records: list[Record] = []
        self.detail: dict = {}
        self.parts: Counter = Counter()

    # -- timed operations ---------------------------------------------------

    def op(self, name: str, fn, warm: bool = False) -> Record | None:
        """Time ``fn(span)``; ``fn`` must consume its result (collect it)
        so the work happens inside the timed region.  A ``warm`` op runs
        under the span ``warmup.<name>`` and gives no sample."""
        self.attempted[name] += 1
        cpu0 = tree_usage(os.getpid())[1]
        try:
            with self.tracer.span(f"warmup.{name}" if warm else name) as sp:
                value = fn(sp)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed[name] += 1
            return None
        rec = Record(name, sp.wall, tree_usage(os.getpid())[1] - cpu0, value,
                     warm)
        self.records.append(rec)
        return rec

    def fail(self, rec: Record | None, reason: str | None) -> None:
        if rec is None or reason is None or not rec.ok:
            return
        rec.ok = False
        self.failed[rec.name] += 1
        print(f"CHECK FAILED {rec.name}: {reason}", file=sys.stderr)

    def check(self, name: str, fn) -> None:
        """A check not tied to one timed op (e.g. index state after a
        build); a failure counts under ``name``."""
        self.attempted[name] += 1
        try:
            with self.timed(f"check.{name}"):
                reason = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            reason = "raised"
        if reason is not None:
            self.failed[name] += 1
            print(f"CHECK FAILED {name}: {reason}", file=sys.stderr)

    @contextmanager
    def timed(self, part: str):
        """Accumulate wall time under ``parts[part]`` (set-up and check
        breakdowns, reported in the run's detail line)."""
        t0 = time.time()
        try:
            yield
        finally:
            self.parts[part] += time.time() - t0

    def samples(self, name: str, field: str = "wall") -> list[float]:
        return [getattr(r, field) for r in self.records
                if r.name == name and r.ok and not r.warm]

    def loop(self, cycle) -> None:
        """Closed loop: run ``cycle()`` until ``seconds`` have passed,
        starting a cycle only if the median cycle so far would end in
        time (the first cycle always runs)."""
        t0 = time.time()
        walls: list[float] = []
        while True:
            c0 = time.time()
            cycle()
            walls.append(time.time() - c0)
            if time.time() - t0 + median(walls) > self.seconds:
                return

    # -- shared set-up steps --------------------------------------------------

    def corpus(self):
        """Write the seed's corpus as the parquet table the engine ingests
        (its input is a stored table, not a generator)."""
        path = f"{self.dir}/corpus"
        t0 = time.time()
        files = inputs.write_corpus(
            path, inputs.N_FILES, inputs.corpus_seed(self.seed))
        self.detail["corpus.datagen_s"] = time.time() - t0
        self.detail["source_bytes"] = int(files["content"].str.len().sum())
        return self.spark.read.parquet(path), files

    def build(self, span: str, corpus, index_dir: str, positions: bool):
        from docinsight_spark.index.builder import IndexBuilder

        b = IndexBuilder(
            self.spark, index_dir, n_buckets=inputs.n_buckets(self.cores),
            n_subs=inputs.N_SUBS, positions=positions,
        )
        rec = self.op(span, lambda sp: b.build(corpus, n_runs=inputs.N_RUNS))
        if rec is None:
            raise RuntimeError(f"{span} failed; the workload has no index")
        return b

    def queries(self):
        """The seed's 40-query mix: the batch frame and one single-query
        frame per query id."""
        from pyspark.sql import functions as F

        from docinsight_spark.corpus import make_queries

        qdf = make_queries(
            self.spark, inputs.N_FILES, inputs.N_QUERIES,
            seed=inputs.corpus_seed(self.seed),
        )
        return qdf, [qdf.filter(F.col("query_id") == i)
                     for i in range(inputs.N_QUERIES)]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def _topk_pdf(df) -> pd.DataFrame:
    return df.select("query_id", "rank", "docID", "score").toPandas()


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

SERVE_SINGLES = 3
SERVE_MIX = {
    "wand.search": SERVE_SINGLES, "wand.batch_or": 1, "wand.batch_and": 1,
    "phrase.phrase_search": 1, "phrase.proximity_search": 1,
}
SERVE_WARMUP = ("wand.batch_or", "phrase.phrase_search")
REPORT_QUERIES = (
    "bm25_topk", "minhash_lsh_neardup", "embedding_cosine_topk",
    "originality_report",
)
ND_MOD = 20     # the near-dup store holds doc_id % 20 != 0; the probe the rest


def _probe_oracle_sql() -> str:
    """The contract's DuckDB oracle for the incremental near-dup gate,
    re-pointed from its even/odd split to this workload's 95/5 split."""
    from docinsight_spark.contract import _neardup_delta_sql

    sql = _neardup_delta_sql()
    for old, new in (
        ("id % 2 = 0", f"id % {ND_MOD} <> 0"),
        ("id % 2 = 1", f"id % {ND_MOD} = 0"),
    ):
        if old not in sql:
            raise RuntimeError(f"near-dup oracle has no '{old}' predicate")
        sql = sql.replace(old, new)
    return sql


def _collected(fn):
    """Wrap a frame-returning call as an op that collects the frame and
    records its row count on the span."""
    def run(sp):
        out = fn().toPandas()
        sp.result_rows = len(out)
        return out
    return run


def serve(b: Bench) -> dict:
    """Read path on a pristine positional index, nothing mutates after
    set-up: single queries through a resident ``Searcher``, 40-query OR /
    AND ``wand_search`` batches, 10-query phrase and NEAR batches.  Set-up
    ends with an untimed warm-up that runs each plan of the mix once, so
    no sample pays for first-call plan compilation.  A traced run then
    also runs the originality report path once (:func:`report_path`)."""
    import itertools
    import random

    from docinsight_spark.corpus import gen_file
    from docinsight_spark.evaluation import oracle_from_index
    from docinsight_spark.index.phrase import phrase_search, proximity_search
    from docinsight_spark.index.wand import Searcher, wand_search

    spark = b.spark
    t_setup = time.time()
    corpus, files = b.corpus()
    idx = f"{b.dir}/index"
    index = b.build("builder.build_positional", corpus, idx, positions=True)
    with b.timed("setup.queries"):
        qdf, singles = b.queries()
    rng = random.Random(b.seed)
    sample = pd.DataFrame([
        gen_file(i, inputs.corpus_seed(b.seed))
        for i in rng.sample(range(inputs.N_FILES), 40)
    ])
    phrases = inputs.phrases_from(sample, b.seed)
    order = list(range(len(singles)))
    rng.shuffle(order)
    qids = itertools.cycle(order)
    with b.timed("setup.searcher"):
        searcher = Searcher(spark, idx, cache=True)
    ops = {
        "wand.batch_or": _collected(lambda: wand_search(spark, idx, qdf, k=10)),
        "wand.batch_and": _collected(
            lambda: wand_search(spark, idx, qdf, k=10, require_all=True)),
        "phrase.phrase_search": _collected(
            lambda: phrase_search(spark, idx, phrases, k=10)),
        "phrase.proximity_search": _collected(
            lambda: proximity_search(spark, idx, phrases, k=10,
                                     window=inputs.NEAR_WINDOW)),
    }

    def single(qid: int, warm: bool):
        def run(sp):
            out = _topk_pdf(searcher.search(singles[qid], k=10))
            sp.result_rows = len(out)
            return qid, out
        return b.op("wand.search", run, warm)

    def cycle(warm: bool = False):
        # the warm-up runs each plan once: AND is the OR kernel with a
        # mandatory-term flag, NEAR the phrase kernel with a window (their
        # first measured calls run no slower than later ones)
        for _ in range(1 if warm else SERVE_SINGLES):
            single(next(qids), warm)
        for name, fn in ops.items():
            if not warm or name in SERVE_WARMUP:
                b.op(name, fn, warm)

    with b.timed("setup.warmup"):
        cycle(warm=True)
    setup_s = time.time() - t_setup

    b.loop(cycle)

    with b.timed("ref.oracle_from_index"):
        or_ref = _topk_pdf(oracle_from_index(spark, idx, qdf, k=10))
        and_ref = _topk_pdf(
            oracle_from_index(spark, idx, qdf, k=10, require_all=True))
    live = {"docs": pd.DataFrame(columns=["docID", "repo", "path", "commit"])}

    def built_state():
        live["docs"] = checks.live_docs(index)
        return checks.index_state(index, live["docs"], files)

    b.check("index.positional", built_state)

    hit_docs = live["docs"].merge(files, on=["repo", "path", "commit"])
    qlang = index.meta().get("query_lang", "java")
    for r in b.records:
        if r.name == "wand.search":
            qid, out = r.value
            b.fail(r, checks.same_topk(out, or_ref[or_ref.query_id == qid]))
        elif r.name == "wand.batch_or":
            b.fail(r, checks.same_topk(r.value, or_ref))
        elif r.name == "wand.batch_and":
            b.fail(r, checks.same_topk(r.value, and_ref))
        elif r.name == "phrase.phrase_search":
            b.fail(r, checks.positional_hits(r.value, phrases, hit_docs, qlang, 0))
        elif r.name == "phrase.proximity_search":
            b.fail(r, checks.positional_hits(
                r.value, phrases, hit_docs, qlang, inputs.NEAR_WINDOW))

    s = {k: median(b.samples(k)) for k in SERVE_MIX}
    b.detail.update({
        "search_p50_s": s["wand.search"],
        "or_batch_qps": _rate(inputs.N_QUERIES, s["wand.batch_or"]),
        "and_batch_qps": _rate(inputs.N_QUERIES, s["wand.batch_and"]),
        "positional_batch_qps": _rate(
            2 * len(phrases),
            s["phrase.phrase_search"] + s["phrase.proximity_search"]),
    })
    if b.tracer.traced:
        report_path(b)
    return {"setup_s": setup_s, "mix": SERVE_MIX}


def report_path(b: Bench) -> None:
    """The originality report path, once: on seed-generated documents /
    events / embeddings tables, the four contract report queries, then a
    ``NearDupStore`` add of 95 % of the documents and a probe of the
    other 5 %; outputs checked against DuckDB oracles."""
    import duckdb
    from pyspark.sql import functions as F

    from docinsight_spark.contract import ORACLES, QUERIES
    from docinsight_spark.index.neardup import NearDupStore

    spark = b.spark
    sf = f"{b.dir}/sf"
    inputs.write_sf_tables(sf, b.seed)
    got = {
        f"contract.{q}": b.op(f"contract.{q}",
                              _collected(lambda q=q: QUERIES[q](spark, sf)))
        for q in REPORT_QUERIES
    }
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    store = NearDupStore(spark, f"{b.dir}/neardup", n=2, n_hashes=8, bands=4,
                         max_bucket=50)
    added = b.op("neardup.add", lambda sp: store.add(
        docs.filter(F.col("doc_id") % ND_MOD != 0), "base",
        id_col="doc_id", text_col="text"))

    def probe(sp):
        out = store.probe(
            docs.filter(F.col("doc_id") % ND_MOD == 0),
            id_col="doc_id", text_col="text", threshold=0.5,
        ).select("new_id", "base_id", F.round("jaccard", 4).alias("jaccard"))
        pdf = out.toPandas()
        sp.result_rows = sp.extra["pairs"] = len(pdf)
        return pdf

    if added is not None:
        got["neardup.probe"] = b.op("neardup.probe", probe)

    with b.timed("ref.duckdb"):
        con = duckdb.connect()
        for t in ("documents", "events", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        refs = {f"contract.{q}": ORACLES[q] for q in REPORT_QUERIES}
        refs["neardup.probe"] = _probe_oracle_sql()
        for name, rec in got.items():
            if rec is not None:
                b.fail(rec, checks.same_table(rec.value, con.sql(refs[name]).df()))
        con.close()
    b.detail["report_suite_s"] = sum(
        median(b.samples(f"contract.{q}")) for q in REPORT_QUERIES)
    b.detail["neardup_probe_s"] = median(b.samples("neardup.probe"))


def _rate(n: int, seconds: float) -> float:
    return n / seconds if seconds else 0.0


# ---------------------------------------------------------------------------
# maintain
# ---------------------------------------------------------------------------

# A fixed number of cycles, whatever --seconds says: each cycle adds a
# generation and a tombstone set, so the index a cycle works on (and
# compact's input) must not depend on how fast the previous ones ran.
MAINTAIN_CYCLES = 2
MAINTAIN_MIX = {
    "builder.add_run": 1, "builder.refresh_delta": 1,
    "builder.delete_docs": 1, "builder.compact": 1,
    "wand.search_after_commit": 1,
}


def maintain(b: Bench) -> dict:
    """Write path: from a copied post-set-up snapshot, ``MAINTAIN_CYCLES``
    cycles of ``add_run`` + ``refresh_delta``, then ``delete_docs``, then
    one query through the same resident ``Searcher`` (whose cache the
    commits invalidated); the run ends with ``compact(force=True)``.
    Small writes interleave with reads that always reload."""
    from pyspark.sql import functions as F

    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.wand import Searcher

    spark = b.spark
    t_setup = time.time()
    corpus, files = b.corpus()
    snap, work = f"{b.dir}/snapshot", f"{b.dir}/work"
    base = b.build("builder.build", corpus, snap, positions=False)
    with b.timed("setup.snapshot"):
        shutil.copytree(snap, work)
    with b.timed("setup.queries"):
        _, singles = b.queries()
    with b.timed("setup.searcher"):
        builder = IndexBuilder.for_index(spark, work)
        searcher = Searcher(spark, work, cache=True)
    setup_s = time.time() - t_setup

    b.check("index.base", lambda: checks.index_state(
        base, checks.live_docs(base), files))
    b.detail["index_bytes_per_source_byte"] = (
        _dir_bytes(snap) / b.detail["source_bytes"])

    cseed = inputs.corpus_seed(b.seed)
    deltas: list[pd.DataFrame] = []
    residues: list[int] = []
    n_fresh = [0]

    def fresh():
        qid = (b.seed + n_fresh[0]) % len(singles)
        n_fresh[0] += 1

        def run(sp):
            out = _topk_pdf(searcher.search(singles[qid], k=10))
            sp.result_rows = len(out)
            meta = searcher.meta
            sp.extra["generations"] = len(meta.get("generations", []))
            sp.extra["tombstones"] = len(meta.get("tombstones", []))
            return qid, out
        b.op("wand.search_after_commit", run)

    def cycle(c: int):
        path = f"{b.dir}/delta{c:04d}"
        with b.timed("cycle.inputs"):
            deltas.append(inputs.write_corpus(
                path, inputs.DELTA_FILES, cseed,
                start=inputs.delta_start(b.seed, c)))
            delta = spark.read.parquet(path)
        b.op("builder.add_run", lambda sp: builder.add_run(
            delta, f"delta{c:04d}", dedup_within_run=False))
        b.op("builder.refresh_delta", lambda sp: builder.refresh_delta())
        r = inputs.victim_residue(b.seed, c)
        residues.append(r)
        with b.timed("cycle.victims"):
            victims = builder.docs_dim().filter(
                F.pmod(F.crc32("path"), F.lit(inputs.VICTIM_MOD)) == r
            ).select("docID")
        b.op("builder.delete_docs", lambda sp: builder.delete_docs(victims))
        fresh()

    for c in range(MAINTAIN_CYCLES):
        cycle(c)
    b.op("builder.compact", lambda sp: builder.compact(force=True))

    # live set: base + deltas, minus each cycle's victim slice of the
    # files live at that point (a delta joins before its cycle's delete)
    expected = []
    for c, part in enumerate([files] + deltas):
        for r in residues[max(c - 1, 0):]:
            part = part[~inputs.victim_slice(part["path"], r)]
        expected.append(part)
    # the last query's hits survive compaction (no delete ran after it)
    last = [r for r in b.records if r.name == "wand.search_after_commit"][-1:]
    hits = {int(d) for r in last for d in r.value[1]["docID"]}
    b.check("index.maintained", lambda: checks.index_state(
        builder, checks.live_docs(builder), pd.concat(expected), hits))

    s = {k: median(b.samples(k)) for k in MAINTAIN_MIX}
    b.detail.update({
        "refresh_s": s["builder.add_run"] + s["builder.refresh_delta"],
        "delete_s": s["builder.delete_docs"],
        "compact_s": s["builder.compact"],
        "fresh_search_p50_s": s["wand.search_after_commit"],
    })
    return {"setup_s": setup_s, "mix": MAINTAIN_MIX}


WORKLOADS = {"serve": serve, "maintain": maintain}
