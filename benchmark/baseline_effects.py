"""Probe two effects of the current engine that the workloads expose, and
print the figures as one JSON object. Nothing here is fixed; the numbers
are a record of the state the benchmark measures.

    python3 benchmark/baseline_effects.py --seed 1

1. Read fan-out: ``DocumentStore`` reads union every live generation, so
   search latency and files read grow with every publish, and neither
   ``compact`` nor ``rebuild_index`` takes a generation out of the live
   set (old ones stay live for time travel until ``vacuum``).
2. Embed paths: the 256-d ``FeatureHashEmbeddingBackend`` JVM column twin
   (the path the engine picks) against its own Arrow ``embed_batch`` path,
   on the same chunks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PAGES = 500  # pages in the probed index
PUBLISHES = 10  # publishes of 1-3 edited pages between the first two probes
EMBED_COPIES = 20  # page texts repeated so the embed work outweighs job overhead
sys.path[:0] = [os.path.dirname(HERE), HERE]


def p50_ms(fn, n: int) -> float:
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return 1000 * statistics.median(ts)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    import run as bench
    import workloads
    from gen import Generator
    from pyspark.sql import functions as F

    from wagtail_vector_index_spark.embedding.feature_hash import (
        FeatureHashEmbeddingBackend,
    )
    from wagtail_vector_index_spark.embedding.stage import embed_dataframe

    class ArrowPathBackend(FeatureHashEmbeddingBackend):
        """Same vectors, without the column twin: embed_dataframe falls
        back to the Arrow ``embed_batch`` path."""

        def as_column(self, text):
            return None

    bench_dir = os.path.join(os.getcwd(), ".bench_work")
    os.makedirs(bench_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix="baseline-", dir=bench_dir)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = None
    spark = bench.start_session(work)
    out: dict = {}
    try:
        import spans

        run = workloads.Run(spark, spans.Tracer(spark, False), work, Generator(args.seed), 0)
        live = run.gen.corpus(PAGES)
        idx = workloads.new_index(run, run.path("store"))
        idx.rebuild_index(workloads.write_pages(run, live))
        queries = run.gen.queries(live, 8)

        def state(label: str) -> None:
            idx.search(queries[0]).collect()  # warm
            paths = idx.store.log.live_paths()
            out[label] = {
                "search_p50_ms": p50_ms(lambda: idx.search(queries[1]).collect(), 5),
                "live_generations": len(paths),
                "parquet_files": sum(
                    f.endswith(".parquet")
                    for p in paths for _d, _s, fs in os.walk(p) for f in fs
                ),
            }

        state("after_rebuild")
        for _ in range(PUBLISHES):
            workloads.publish(run, idx, live)
        state(f"after_{PUBLISHES}_publishes")
        idx.compact()
        state("after_compact")
        idx.rebuild_index(workloads.write_pages(run, live))
        state("after_second_rebuild")

        texts = [p.text for p in live] * EMBED_COPIES
        chunks = run.spark.createDataFrame(
            list(enumerate(texts)), "id long, content string"
        ).repartition(os.cpu_count() or 1).localCheckpoint()
        n = chunks.count()
        for label, backend in (
            ("column_twin", FeatureHashEmbeddingBackend(dimensions=workloads.DIMENSIONS)),
            ("arrow_path", ArrowPathBackend(dimensions=workloads.DIMENSIONS)),
        ):
            df = embed_dataframe(chunks, backend=backend, text_col="content")
            df.agg(F.sum(F.size("vector"))).collect()  # warm
            out[f"embed_{label}_ms"] = p50_ms(
                lambda: df.agg(F.sum(F.size("vector"))).collect(), 3)
        out["embed_rows"] = n
    finally:
        bench.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
