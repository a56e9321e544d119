"""Same-host benchmark of the docinsight_spark BM25 engine.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

One process, one closed-loop client, Spark at ``local[nproc]``.  The
last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run (Spark event log
on, one job group per span).  The line before it carries the workload's
named figures (``detail``).  All scratch lives under ``.perfbench_run/``
in the checkout and is removed at exit; untraced runs append their
``mix_s`` to ``.perfbench_state/``, keyed by a fingerprint of the engine
and benchmark sources, so a traced run can report its tracing overhead
against untraced runs of the same code.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import (  # noqa: E402
    PHASE_NAMES, HostProbe, RssSampler, Tracer, attach_jobs,
    eventlog_submit_args, median, phase_metrics, read_eventlog, span_metrics,
)

A = ("wall_s", "jobs", "stages", "driver_s", "executor_cpu_s",
     "shuffle_bytes", "spill_bytes", "output_bytes", "py_bytes")
Q = ("wall_s", "jobs", "stages", "driver_s", "executor_cpu_s",
     "input_rows_per_result", "py_bytes")
W = ("wall_s", "jobs", "stages", "driver_s", "executor_cpu_s",
     "shuffle_bytes", "output_bytes")
S = ("wall_s", "jobs", "shuffle_bytes")
SPAN_LAYERS = {
    "builder.build": A, "builder.build_positional": A,
    "wand.search": Q, "wand.batch_or": Q, "wand.batch_and": Q,
    "phrase.phrase_search": Q, "phrase.proximity_search": Q,
    "builder.add_run": W, "builder.refresh_delta": W,
    "builder.delete_docs": W, "builder.compact": W,
    "wand.search_after_commit": ("wall_s", "jobs", "driver_s", "executor_cpu_s"),
    "contract.bm25_topk": S, "contract.minhash_lsh_neardup": S,
    "contract.embedding_cosine_topk": S, "contract.originality_report": S,
    "neardup.add": S, "neardup.probe": S,
}
BUILD_SPANS = ("builder.build", "builder.build_positional")


def per_layer(tracer: Tracer, log_dir: str, detail: dict,
              overhead_pct: float) -> dict:
    """The per-layer metrics of a traced run, by their BENCHMARK.json names;
    a span the workload did not run reports 0."""
    jobs = read_eventlog(log_dir)
    attach_jobs(tracer.spans, jobs)
    by_name: dict[str, list] = {}
    for sp in tracer.spans:
        by_name.setdefault(sp.name, []).append(sp)
    out: dict[str, float] = {}
    for layer, keys in SPAN_LAYERS.items():
        ms = [span_metrics(sp) for sp in by_name.get(layer, [])]
        for k in keys:
            out[f"{layer}.{k}"] = median([m[k] for m in ms])

    builds = [sp for n in BUILD_SPANS for sp in by_name.get(n, [])]
    phases = [phase_metrics(sp) for sp in builds]
    for p in PHASE_NAMES:
        out[f"builder.{p}.wall_s"] = sum(ph["wall"][p] for ph in phases)
        out[f"builder.{p}.jobs"] = sum(ph["jobs"][p] for ph in phases)
    out["builder.unattributed_s"] = sum(ph["unattributed_s"] for ph in phases)
    written = sum(
        m["output_bytes"] + m["shuffle_bytes"]
        for m in (span_metrics(sp) for sp in builds)
    )
    out["builder.write_amp"] = (
        written / (detail["source_bytes"] * len(builds)) if builds else 0.0
    )

    # the most generations / tombstones a query after a commit ran against
    after = by_name.get("wand.search_after_commit", [])
    out["index.generations"] = max((sp.extra["generations"] for sp in after), default=0)
    out["index.tombstones"] = max((sp.extra["tombstones"] for sp in after), default=0)
    out["neardup.probe.pairs"] = median(
        [sp.extra["pairs"] for sp in by_name.get("neardup.probe", [])])
    out["session.start_s"] = detail["session.start_s"]
    out["corpus.datagen_s"] = detail.get("corpus.datagen_s", 0.0)
    out["host.loadavg"] = detail["host.loadavg"]
    out["host.steal_pct"] = detail["host.steal_pct"]
    out["trace.overhead_pct"] = overhead_pct
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    builder_file = os.path.join(root, "docinsight_spark", "index", "builder.py")
    if not os.path.isfile(builder_file):
        print(f"no docinsight_spark package under {root}: run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(root, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    state_dir = os.path.join(root, ".perfbench_state")
    log_dir = os.path.join(run_dir, "eventlog")
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_SCRATCH"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # every JVM (spark-submit's launcher too) keeps its temp files in the
    # checkout and writes no perf-data file (by default under /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        eventlog_submit_args(log_dir) if args.trace else "pyspark-shell")
    cores = len(os.sched_getaffinity(0))

    spark = None
    try:
        from docinsight_spark.session import get_spark

        host = HostProbe()
        t0 = time.time()
        spark = get_spark(app_name="perfbench", cores=cores)
        session_s = time.time() - t0
        tracer = Tracer(spark, bool(args.trace), builder_file)
        b = workloads.Bench(spark, tracer, run_dir, args.seed, cores, args.seconds)
        with RssSampler() as rss:
            res = workloads.WORKLOADS[args.workload](b)
        b.detail.update(host.finish())
        b.detail["session.start_s"] = session_s
        with b.timed("teardown"):
            spark.stop()
            spark = None
            _stop_gateway()

        mix_s = sum(median(b.samples(op)) * n for op, n in res["mix"].items())
        e2e = {
            "setup_s": session_s + res["setup_s"],
            "mix_s": mix_s,
            "mix_cpu_s": sum(median(b.samples(op, "cpu")) * n
                             for op, n in res["mix"].items()),
        }
        state = os.path.join(
            state_dir, f"{args.workload}-{_code_fingerprint(root)}.jsonl")
        if args.trace:
            overhead, b.detail["trace.baseline"] = _trace_overhead(
                state, args.seed, mix_s)
            values = per_layer(tracer, log_dir, b.detail, overhead)
        else:
            values = e2e
            _record_untraced(state, args.seed, mix_s)
    finally:
        # an interrupted py4j call can leave the session unusable: the
        # JVM and the scratch must go all the same
        try:
            if spark is not None:
                spark.stop()
        finally:
            try:
                _stop_gateway()
            finally:
                shutil.rmtree(run_dir, ignore_errors=True)
                _rmdir_if_empty(os.path.dirname(run_dir))

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in declared
    }
    attempted = sum(b.attempted.values())
    failed = sum(b.failed.values())
    samples = {op: len(b.samples(op)) for op in res["mix"]}
    detail = {k: v for k, v in b.detail.items() if not k.startswith("host.")}
    detail.update({
        "failed_op_share": failed / max(attempted, 1),
        "host": {k[5:]: v for k, v in b.detail.items() if k.startswith("host.")},
        "samples": samples,
        "warmup_walls": _by_name(b.records, "wall", warm=True),
        "op_walls": _by_name(b.records, "wall"),
        "op_cpu": _by_name(b.records, "cpu"),
        "failed_ops": dict(b.failed),
        "cores": cores,
        "peak_rss_mb": rss.peak / 2**20,
        "parts": dict(b.parts),
    })
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "end_to_end": e2e, "detail": detail}))
    print(json.dumps({
        "correct": failed == 0 and all(samples.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _by_name(records, field: str, warm: bool = False) -> dict:
    out: dict[str, list] = {}
    for r in records:
        if r.warm == warm:
            out.setdefault(r.name, []).append(round(getattr(r, field), 3))
    return out


def _stop_gateway() -> None:
    """Shut the py4j gateway JVM down and wait for it (and with it the
    Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)


def _code_fingerprint(root: str) -> str:
    """Hash of the engine's and the benchmark's Python sources: untraced
    runs of other code never serve as a traced run's baseline."""
    h = hashlib.sha256()
    for pat in ("docinsight_spark/**/*.py", "perfbench/*.py"):
        for path in sorted(glob.glob(os.path.join(root, pat), recursive=True)):
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _record_untraced(state: str, seed: int, mix_s: float) -> None:
    os.makedirs(os.path.dirname(state), exist_ok=True)
    with open(state, "a") as f:
        f.write(json.dumps({"seed": seed, "mix_s": mix_s}) + "\n")


def _trace_overhead(state: str, seed: int, mix_s: float) -> tuple[float, dict]:
    """Traced minus untraced ``mix_s``, as a share of the median of the
    untraced runs of the same code: those with the same seed if there
    are any, else all of them (0 when there are none yet).  Returns the
    share and which baseline it used."""
    runs = []
    if os.path.exists(state):
        with open(state) as f:
            runs = [json.loads(line) for line in f if line.strip()]
    same = [r for r in runs if r["seed"] == seed]
    base = [r["mix_s"] for r in (same or runs)]
    used = {"runs": len(base), "same_seed": bool(same)}
    print(f"trace.overhead_pct baseline: {used}", file=sys.stderr)
    if not base:
        return 0.0, used
    m = median(base)
    return (mix_s - m) / m * 100.0, used


def _rmdir_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass


if __name__ == "__main__":
    sys.exit(main())
