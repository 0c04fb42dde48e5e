"""Run one benchmark workload and print its metrics.

    python3 benchmark/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). Every file the
run writes lives under ``.bench_work/`` in the current directory (the
repository root); the traced run leaves its spans there as
``spans/<workload>-<seed>.jsonl``, everything else is removed. Exits
non-zero when an op fails or an output check does not hold.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "store_bytes_per_source_byte": "ratio",
}

# op kinds whose per-call latency and Spark counters the traced run reports
OPS = (
    "curate", "rebuild", "refresh", "compact", "search", "mmr", "find_similar",
    "query", "publish", "ann_build", "batch_query", "ann_search",
)
SPARK_TOTALS = (
    "jobs", "stages", "tasks", "executor_run_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "driver_gap_s",
)


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric with its unit (BENCHMARK.json lists the same)."""
    names = {
        "session.start_s": "s",
        "text_splitting.busy_s": "s",
        "text_splitting.chunks_out": "count",
        "text_splitting.chunks_per_page": "ratio",
        "embedding.busy_s": "s",
        "embedding.rows": "count",
        "embedding.rows_per_s": "1/s",
        "embedding.probe_ms": "ms",
        "indexing.stale_compare_s": "s",
        "indexing.stale_docs": "count",
        "indexing.reembedded_chunks": "count",
        "indexing.useful_reembed_ratio": "ratio",
        "store.write_s": "s",
        "store.bytes_written": "bytes",
        "store.write_amplification": "ratio",
        "store.live_generations": "count",
        "store.read_s": "s",
        "store.read_scans": "count",
        "store.read_files": "count",
        "store.read_plan_s": "s",
        "manifest.commits": "count",
        "manifest.commit_ms": "ms",
        "knn.topk_s": "s",
        "knn.simjoin_s": "s",
        "knn.pairs_scored": "count",
        "knn.pairs_per_s": "1/s",
        "fetchback.busy_s": "s",
        "mmr.busy_s": "s",
        "chat.driver_ms": "ms",
        "chat.batch_s": "s",
        "kmeans.train_s": "s",
        "ann.write_s": "s",
        "ann.topk_s": "s",
        "ann.files_read": "count",
        "ann.scan_fraction": "ratio",
        "ann.fetchback_s": "s",
        "ann.recall_at_5": "ratio",
        "dedup.exact_s": "s",
        "dedup.minhash_s": "s",
        "dedup.candidate_pairs": "count",
        "dedup.verified_pairs": "count",
        "dedup.pair_precision": "ratio",
        "corpus.quality_gate_s": "s",
        "corpus.docs_in": "count",
        "corpus.docs_out": "count",
        "batch_rag.queries_per_s": "1/s",
        "trace.overhead_ratio": "ratio",
    }
    for op in OPS:
        names[f"op.{op}_ms"] = "ms"
        names[f"spark.{op}.jobs"] = "count"
        names[f"spark.{op}.driver_gap_ms"] = "ms"
    for k in SPARK_TOTALS:
        names[f"spark.{k}"] = "s" if k.endswith("_s") else (
            "bytes" if k.endswith("_bytes") else "count")
    return names


def descendants() -> set[int]:
    """Pids of every process below this one (the JVM and the Python
    workers it forked)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes of this process and its descendants."""
    kb = 0
    for p in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def start_session(work: str):
    from wagtail_vector_index_spark.session import build_session

    cores = os.cpu_count() or 1
    # the serial collector with a fixed young generation grows the heap with
    # live data, not with GC timing, which keeps the JVM's peak RSS steady
    java_opts = f"-Djava.io.tmpdir={work} -XX:-UsePerfData -XX:+UseSerialGC -Xmn256m"
    spark = build_session(
        "wvi-benchmark",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        **{
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": work,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep every job/stage in the status store for the traced run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and its Python workers to exit."""
    import signal

    from pyspark import SparkContext

    children = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    while children and time.monotonic() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_workload(spark, name: str, seed: int, seconds: float, traced: bool, work: str):
    import spans
    import workloads
    from gen import Generator

    tr = spans.Tracer(spark, traced)
    # set-up part 1: the seeded generator (vocabulary + topic model)
    t0 = time.perf_counter()
    gen = Generator(seed)
    run = workloads.Run(spark, tr, work, gen, seconds)
    run.figures["gen_s"] = time.perf_counter() - t0
    if traced:
        run.patches = spans.instrument(tr)
    try:
        workloads.WORKLOADS[name](run)
    finally:
        if run.patches is not None:
            run.patches.undo()
    return run


def e2e_metrics(run, session_s: float) -> dict[str, float]:
    f = run.figures
    return {
        "setup_s": session_s + f["gen_s"] + f["setup_build_s"],
        "peak_rss_mb": peak_rss_mb(),
        "throughput_per_s": f["throughput_per_s"],
        "latency_p50_ms": f["latency_p50_ms"],
        "store_bytes_per_source_byte": f["store_bytes_per_source_byte"],
    }


def layer_metrics(run, session_s: float) -> dict[str, float]:
    import spans

    f = run.figures
    m = spans.layer_metrics(run.tr)
    m["session.start_s"] = session_s
    # bytes the store wrote for traced refreshes / publishes and their
    # compactions, per source byte those writes changed
    incremental = sum(run.tr.counts[f"store.bytes_written.{op}"]
                      for op in ("refresh", "publish", "compact"))
    changed = f["traced_bytes_changed"]
    m["store.write_amplification"] = incremental / changed if changed else 0.0
    m["store.live_generations"] = f["live_generations"]
    m["ann.recall_at_5"] = f["ann_recall_at_5"]
    bq = run.spent("batch_query")
    m["batch_rag.queries_per_s"] = f["batch_queries"] / bq if bq else 0.0
    counters = run.tr.spark_counters()
    for op in OPS:
        times = run.times[op]
        m[f"op.{op}_ms"] = 1000 * statistics.median(times) if times else 0.0
        c = counters.get(op)
        m[f"spark.{op}.jobs"] = statistics.median(c["jobs"]) if c else 0
        m[f"spark.{op}.driver_gap_ms"] = 1000 * statistics.median(c["driver_gap_s"]) if c else 0.0
    for k in SPARK_TOTALS:
        m[f"spark.{k}"] = sum(sum(c[k]) for c in counters.values())
    # tracing overhead: traced calls against the interleaved untraced ones
    ratios = [
        statistics.median(run.times[op]) / statistics.median(run.untraced[op])
        for op in OPS
        if run.times[op] and run.untraced[op]
    ]
    m["trace.overhead_ratio"] = statistics.median(ratios) if ratios else 0.0
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import wagtail_vector_index_spark  # noqa: F401
        import workloads
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    bench_dir = os.path.join(os.getcwd(), ".bench_work")
    os.makedirs(bench_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=bench_dir)
    os.environ["TMPDIR"] = work  # py4j, the package zip and the workers
    tempfile.tempdir = None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        run = run_workload(spark, args.workload, args.seed, args.seconds, bool(args.trace), work)
        if args.trace:
            spans_dir = os.path.join(bench_dir, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            run.tr.write(os.path.join(spans_dir, f"{args.workload}-{args.seed}.jsonl"))
            metrics, units = layer_metrics(run, session_s), per_layer_names()
        else:
            metrics, units = e2e_metrics(run, session_s), E2E
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for k, v in sorted(run.times.items()):
        if v:
            print(f"  {k:14s} n={len(v):3d} median={statistics.median(v):8.3f}s "
                  f"total={sum(v):8.2f}s  " + " ".join(f"{x:.2f}" for x in v[:20]),
                  file=sys.stderr)
    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(out))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
