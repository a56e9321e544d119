"""Kernel correctness rests on shard co-location only.

The WAND kernel's exchange is a column-only hash repartition on
``(doc_bucket, doc_sub)`` and the phrase/NEAR kernel's one on
``(query_id, docID)``: AQE decides how many tasks the kernel stage
gets, so one task may hold every shard or a shard's neighbours.  The
results must not depend on that.  Pinned on an index with one delta
generation and one tombstone set (root-scoped exclusion and summed df
both live inside the kernel), with AQE on (coalesced: few tasks) and
off (``spark.sql.shuffle.partitions`` tasks, several shard layouts).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from docinsight_spark.corpus import make_corpus, make_queries
from docinsight_spark.evaluation import oracle_from_index
from docinsight_spark.functions.tokenizer import tokenize_code_pandas
from docinsight_spark.index.builder import IndexBuilder, load_term_stats
from docinsight_spark.index.phrase import phrase_search, proximity_search
from docinsight_spark.index.wand import wand_search
from docinsight_spark.session import local_frame

# (adaptive execution, shuffle partitions): AQE-sized stage, then fixed
# stages with one shard per task and with several (unevenly) per task
LAYOUTS = [("true", "8"), ("false", "8"), ("false", "3")]


def _res(df):
    return sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["docID"]), float(r["score"]))
        for r in df.collect()
    )


def _assert_same(a, b, atol=1e-9):
    assert [(q, rk, d) for q, rk, d, _ in a] == [(q, rk, d) for q, rk, d, _ in b]
    assert np.allclose([s for *_, s in a], [s for *_, s in b], atol=atol)


@pytest.fixture(scope="module")
def gen_tomb(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("kpart") / "idx")
    b = IndexBuilder(spark, d, n_buckets=4, n_subs=2, positions=True)
    base = make_corpus(spark, 150, seed=31, partitions=2)
    delta = make_corpus(spark, 60, seed=32, partitions=2, start=150)
    b.build(base, n_runs=2, fanin=2)
    b.add_run(delta, "d1")
    b.refresh_delta(fanin=2)
    b.delete_matching(F.xxhash64("content_sha") % 4 == 0)
    meta = b.meta()
    assert len(meta["generations"]) == 1 and len(meta["tombstones"]) == 1
    q = make_queries(spark, corpus_n=150, n_queries=8, seed=31)
    qids = [int(r["query_id"]) for r in q.select("query_id").collect()]
    mid = [
        r["term"]
        for r in load_term_stats(spark, d, meta)
        .filter(F.col("df") < int(meta["n_docs"]) // 3)
        .orderBy(F.col("df").desc(), "term").limit(2).collect()
    ]
    negs = local_frame(
        spark, [(qid, " ".join(mid)) for qid in qids],
        "query_id long, query_text string",
    )
    # real adjacent-token runs from two base and two delta docs, so the
    # positional paths have hits in both roots' postings
    docs = base.limit(2).unionByName(delta.limit(2)).toPandas()
    toks = tokenize_code_pandas(docs["content"], docs["lang"])
    phrases = [(i, " ".join(list(ts)[6:8])) for i, ts in enumerate(toks)]
    return {"idx": d, "q": q, "negs": negs, "phrases": phrases}


def _serve_all(spark, s):
    idx, q = s["idx"], s["q"]
    return {
        "or": _res(wand_search(spark, idx, q, k=5)),
        "and": _res(wand_search(spark, idx, q, k=5, require_all=True)),
        "not": _res(wand_search(spark, idx, q, k=5, neg_queries=s["negs"])),
        "phrase": _res(phrase_search(spark, idx, s["phrases"], k=5)),
        "near": _res(proximity_search(spark, idx, s["phrases"], k=5, window=4)),
    }


def test_results_independent_of_kernel_task_layout(spark, gen_tomb):
    conf = spark.conf
    saved = (
        conf.get("spark.sql.adaptive.enabled"),
        conf.get("spark.sql.shuffle.partitions"),
    )
    got = {}
    try:
        for aqe, parts in LAYOUTS:
            conf.set("spark.sql.adaptive.enabled", aqe)
            conf.set("spark.sql.shuffle.partitions", parts)
            got[(aqe, parts)] = _serve_all(spark, gen_tomb)
    finally:
        conf.set("spark.sql.adaptive.enabled", saved[0])
        conf.set("spark.sql.shuffle.partitions", saved[1])
    ref = got[LAYOUTS[0]]
    for name, rows in ref.items():
        assert rows, f"{name}: no hits — the comparison would be vacuous"
    for layout in LAYOUTS[1:]:
        for name, rows in got[layout].items():
            _assert_same(rows, ref[name])
    idx, q = gen_tomb["idx"], gen_tomb["q"]
    _assert_same(ref["or"], _res(oracle_from_index(spark, idx, q, k=5)))
    _assert_same(
        ref["and"],
        _res(oracle_from_index(spark, idx, q, k=5, require_all=True)),
    )
