"""The benchmark workloads. Each drives only the engine's public API
(``VectorIndex``, ``Corpus``, ``DocumentStore``, ``build_documents``) on
inputs from the seeded generator, and fills a :class:`Run` with timings,
figures and check results.

``ingest`` (batch, write side): curate a corpus (``dedup_exact ->
dedup_fuzzy(minhash) -> quality_gate``), then cycles until the run's
seconds are used: ``rebuild_index`` the survivors into a fresh index, run
``update_index`` refresh rounds, ``compact``. A run does at least one
cycle, and another only if one more fits before the deadline. Set-up
curates and indexes a small corpus once to warm the JVM.

``serve_mixed`` (one closed-loop client): set-up builds an index and warms
the JVM with one request of each kind. Then, until the run's seconds are
used, blocks of a fixed request mix (searches, ``find_similar``, RAG
``query``, an MMR search, a publish -- ``delete`` + ``upsert`` of edited
pages -- followed by ``compact``), each against a fresh copy of the
prebuilt store, so every block meets the same store history however many
fit in the run; the seed picks the query texts and pages. The traced run
then compacts the last block's index and runs the batch plane over it:
``build_ann_index(kind="ivf")``, one ``batch_query`` and ANN searches
compared with brute-force ``search``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

import checks
import spans
from gen import SOURCE_SCHEMA, Generator, Page

CHUNK_SIZE = 200
CHUNK_OVERLAP = 20
DIMENSIONS = 256
INDEX_NAME = "cms"
LIMIT = 5
SOURCE_FILES = 4

INGEST_PAGES = 300
INGEST_WARMUP_PAGES = 40
INGEST_REFRESH_ROUNDS = 4  # per cycle: rebuild_index, refresh rounds, compact
INGEST_EDIT, INGEST_ADD, INGEST_REMOVE = 0.02, 0.005, 0.005

SERVE_PAGES = 300
# one block of requests: 14 searches, 2 find_similar, 2 RAG queries, an MMR
# search and a publish, which is followed by a compaction (the issue's
# 70/10/10/5/5 mix). The seed picks the query texts and pages. The block's
# head holds one request of each kind, the publish second, so most
# searches read the store as a write and its compaction left it.
SERVE_BLOCK = (
    "search", "publish", "find_similar", "query", "mmr", "search", "search",
    "search", "search", "find_similar", "search", "search", "search", "query",
    "search", "search", "search", "search", "search", "search",
)
SERVE_HEAD = 5

ANN_K, ANN_ITERATIONS, ANN_NPROBE = 8, 2, 3
BATCH_QUERIES = 16
ANN_SEARCHES = 4


class Run:
    """Timings, figures and check outcomes of one benchmark run.

    In a traced run the measured calls of each op kind alternate between
    traced and untraced (first call traced), so the run measures its own
    tracing overhead on the same inputs and JVM; ``untraced`` holds the
    untraced latencies. Set-up (warm-up) calls are never traced."""

    def __init__(self, spark, tracer, work: str, gen: Generator, seconds: float):
        self.spark = spark
        self.tr = tracer
        self.traced = tracer.enabled
        self.work = work
        self.gen = gen
        self.seconds = seconds
        self.times: dict[str, list[float]] = defaultdict(list)
        self.untraced: dict[str, list[float]] = defaultdict(list)
        self.figures: dict[str, float] = defaultdict(float)
        self.attempted = 0
        self.failed = 0
        self.patches = None  # layer instrumentation of a traced run
        self.last_traced = False  # whether the latest call was traced
        self._calls: dict[str, int] = defaultdict(int)
        self._snapshots: dict[tuple, checks.Snapshot] = {}
        self._n = 0

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{self._n:03d}-{name}")

    def call(self, name: str, fn, *, warmup: bool = False):
        """One attempted public call. Its latency is recorded under
        ``name`` (under ``warmup`` for set-up calls). An exception counts
        as a failed op and returns None."""
        self.attempted += 1
        self.last_traced = self.traced and not warmup
        if warmup:
            times = self.times["warmup"]
            self.tr.enabled = False
        else:
            times = self.times[name]
            i = self._calls[name]
            self._calls[name] += 1
            if self.traced and i % 2 == 1:
                times = self.untraced[name]
                self.tr.enabled = False
                self.last_traced = False
        try:
            with self.tr.op(name, req=self.attempted, times=times):
                return fn()
        except Exception:  # a failing op is a benchmark result, not a crash
            self.failed += 1
            print(f"op {name} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            self.tr.enabled = self.traced

    def spent(self, *names: str) -> float:
        """Seconds spent in the timed calls of the given op kinds."""
        return sum(sum(self.times[n]) + sum(self.untraced[n]) for n in names)

    def fail(self, what: str, why: str | None) -> None:
        if why is not None:
            self.failed += 1
            print(f"check failed: {what}: {why}", file=sys.stderr)

    def snapshot(self, index, t_ns: int, epoch) -> checks.Snapshot:
        """The index's store as of ``t_ns``, read once per write epoch."""
        key = (id(index), epoch)
        if key not in self._snapshots:
            with self.tr.paused():
                self._snapshots[key] = checks.Snapshot.read(index.store, INDEX_NAME, t_ns)
        return self._snapshots[key]


# -- helpers ---------------------------------------------------------------


def new_index(run: Run, path: str):
    from wagtail_vector_index_spark.chat import EchoChatBackend
    from wagtail_vector_index_spark.config import IndexConfig
    from wagtail_vector_index_spark.embedding.feature_hash import (
        FeatureHashEmbeddingBackend,
    )
    from wagtail_vector_index_spark.index import VectorIndex
    from wagtail_vector_index_spark.sources.tables import DocumentStore

    cfg = IndexConfig(INDEX_NAME, chunk_size=CHUNK_SIZE, chunk_overlap=CHUNK_OVERLAP)
    idx = VectorIndex(
        run.spark,
        cfg,
        DocumentStore(run.spark, path),
        embedding_backend=FeatureHashEmbeddingBackend(dimensions=DIMENSIONS),
        chat_backend=EchoChatBackend(),
    )
    if run.patches is not None:
        spans.instrument_index(run.tr, run.patches, idx)
    return idx


def write_pages(run: Run, pages: list[Page]):
    """Generated pages as a parquet dataset of ``SOURCE_FILES`` files (an
    export of a few partitions), read back as the source DataFrame."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = run.path("sources")
    os.makedirs(path)
    for f in range(SOURCE_FILES):
        part = pages[f::SOURCE_FILES]
        pq.write_table(
            pa.table({
                "object_key": [p.key for p in part],
                "object_keys": [[p.key] for p in part],
                "source": [p.source for p in part],
                "text": [p.text for p in part],
            }),
            os.path.join(path, f"part-{f}.parquet"),
        )
    return run.spark.read.parquet(path)


def curate(run: Run, src):
    """The curation chain, materialised as the curated parquet snapshot
    the index is built from."""
    from wagtail_vector_index_spark.operators.corpus import Corpus

    c = (
        Corpus(src, id_col="object_key")
        .dedup_exact()
        .dedup_fuzzy(method="minhash")
        .quality_gate()
    )
    path = run.path("curated")
    c.df.write.parquet(path)
    return run.spark.read.parquet(path)


def search_rows(df) -> list[tuple[str, float]]:
    return [(r["doc_key"], r["similarity"]) for r in df.select("doc_key", "similarity").collect()]


def content_set(df) -> set[tuple]:
    return {
        (r["doc_key"], r["chunk_no"], hashlib.sha256(r["content"].encode()).hexdigest())
        for r in df.select("doc_key", "chunk_no", "content").collect()
    }


def record_store(run: Run, idx, live: list[Page]) -> None:
    """Store bytes on disk per source text byte, and the live generations.
    Taken at a fixed point of each workload's writes (the end of the first
    ingest cycle, the first publish), so the figure does not depend on how
    many writes the run's seconds allow."""
    with run.tr.paused():
        run.figures["store_bytes_per_source_byte"] = spans.dir_bytes(idx.store.path) / sum(
            len(p.text.encode()) for p in live)
        run.figures["live_generations"] = len(idx.store.log.current().live)


def med(xs, default=float("nan")) -> float:
    return statistics.median(xs) if xs else default


# -- ingest ------------------------------------------------------------------


def ingest(run: Run) -> None:
    # set-up: curate and index a small corpus once, to warm the JVM
    t0 = time.perf_counter()
    warm = run.gen.corpus(INGEST_WARMUP_PAGES)
    warm_src = write_pages(run, warm)
    cur = run.call("curate", lambda: curate(run, warm_src), warmup=True)
    run.call("rebuild", lambda: new_index(run, run.path("warm-store")).rebuild_index(cur), warmup=True)
    run.figures["setup_build_s"] = time.perf_counter() - t0

    deadline = time.perf_counter() + run.seconds
    pages = run.gen.corpus(INGEST_PAGES)
    src = write_pages(run, pages)
    cur = run.call("curate", lambda: curate(run, src))
    if cur is None:
        return
    keys = {r["object_key"] for r in cur.select("object_key").collect()}
    processed = len(pages)
    cycles, cycle_s = 0, 0.0
    # whole cycles on a fresh index, so every refresh round of every cycle
    # meets the same store history; another cycle starts only if one more
    # fits before the deadline
    while not cycles or time.perf_counter() + cycle_s < deadline:
        t0 = time.perf_counter()
        idx = new_index(run, run.path("store"))
        run.call("rebuild", lambda: idx.rebuild_index(cur))
        live = [p for p in pages if p.key in keys]
        processed += len(live)
        for _ in range(INGEST_REFRESH_ROUNDS):
            live, touched = run.gen.refresh_round(
                live, edit=INGEST_EDIT, add=INGEST_ADD, remove=INGEST_REMOVE
            )
            src_r = write_pages(run, live)
            run.call("refresh", lambda: idx.update_index(src_r))
            processed += len(live)
            if run.last_traced:
                run.figures["traced_bytes_changed"] += sum(
                    len(p.text.encode()) for p in live if p.key in touched)
        run.call("compact", idx.compact)
        if not cycles:
            record_store(run, idx, live)
        cycles += 1
        cycle_s = time.perf_counter() - t0
    run.figures["throughput_per_s"] = processed / run.spent(
        "curate", "rebuild", "refresh", "compact")
    run.figures["latency_p50_ms"] = 1000 * med(run.times["refresh"] + run.untraced["refresh"])
    with run.tr.paused():
        check_rebuild(run, idx, live)


def check_rebuild(run: Run, idx, live: list[Page]) -> None:
    """The refreshed and compacted index holds exactly the (doc_key,
    chunk_no, content) rows a fresh ``rebuild_index`` over the final
    sources would store: the chunking stage of that rebuild is run and
    compared (embedding does not change content)."""
    from wagtail_vector_index_spark.plans.indexing import chunk_sources

    fresh = chunk_sources(write_pages(run, live), idx.cfg, chunk_size=CHUNK_SIZE)
    got, want = content_set(idx.documents()), content_set(fresh)
    if got != want:
        run.fail("refresh vs rebuild", f"{len(got ^ want)} (doc_key, chunk_no, content) rows differ")


# -- serve_mixed -------------------------------------------------------------


def publish(run: Run, idx, live: list[Page], warmup: bool = False) -> None:
    """A CMS publish of 1-3 edited pages: tombstone the old versions, then
    upsert the re-chunked, re-embedded new ones."""
    from wagtail_vector_index_spark.plans import indexing

    picked = run.gen.pick(list(range(len(live))), int(run.gen.rng.integers(1, 4)))
    edited = [run.gen.edit(live[i]) for i in picked]

    def op():
        idx.delete([p.key for p in edited])
        rows = run.spark.createDataFrame([p.row() for p in edited], SOURCE_SCHEMA)
        idx.upsert(indexing.build_documents(rows, idx.cfg, idx.embedding_backend))

    run.call("publish", op, warmup=warmup)
    for i, p in zip(picked, edited):
        live[i] = p
    if run.last_traced:
        run.figures["traced_bytes_changed"] += sum(len(p.text.encode()) for p in edited)


class Serve:
    """The serve_mixed client: the prebuilt store, the query texts and the
    requests sent so far with their outputs, for the checks."""

    def __init__(self, run: Run, pages: list[Page], base: str, queries: list[str]):
        self.run = run
        self.pages = pages
        self.base = base
        self.queries = queries
        self.qi = 0
        self.pending = []
        self.idx = None
        self.live = None

    def block(self, requests, deadline: float, at_least: int = 0,
              warmup: bool = False) -> None:
        """``requests`` in order against a fresh copy of the prebuilt store,
        so every block meets the same store history; stops at the deadline,
        once ``at_least`` requests are sent."""
        run = self.run
        path = run.path("store")
        shutil.copytree(self.base, path)
        idx = self.idx = new_index(run, path)
        live = self.live = list(self.pages)
        epoch = 0
        for i, kind in enumerate(requests):
            if i >= at_least and time.perf_counter() >= deadline:
                return
            t_ns = time.time_ns()
            if kind == "publish":
                publish(run, idx, live, warmup)
                run.call("compact", idx.compact, warmup=warmup)
                epoch += 1
                if not warmup and "store_bytes_per_source_byte" not in run.figures:
                    record_store(run, idx, live)
                continue
            if kind == "find_similar":
                arg = run.gen.pick(live)[0].key
                out = run.call(kind, lambda: search_rows(idx.find_similar(arg, limit=LIMIT)),
                               warmup=warmup)
            else:
                arg = self.queries[self.qi % len(self.queries)]
                self.qi += 1
                if kind == "query":
                    fn = lambda: idx.query(arg, sources_limit=LIMIT)  # noqa: E731
                elif kind == "mmr":
                    fn = lambda: search_rows(  # noqa: E731
                        idx.search(arg, limit=LIMIT, diversify_lambda=0.5))
                else:
                    fn = lambda: search_rows(idx.search(arg, limit=LIMIT))  # noqa: E731
                out = run.call(kind, fn, warmup=warmup)
            self.pending.append((kind, arg, out, idx, t_ns, epoch))


def serve_mixed(run: Run) -> None:
    t0 = time.perf_counter()
    pages = run.gen.corpus(SERVE_PAGES)
    src = write_pages(run, pages)
    base = run.path("base-store")
    run.call("rebuild", lambda: new_index(run, base).rebuild_index(src))
    serve = Serve(run, pages, base, run.gen.queries(pages, 300))
    # warm-up: the first call of each kind costs 1.5-2 times a warm one
    serve.block(SERVE_BLOCK[:SERVE_HEAD], float("inf"), warmup=True)
    run.figures["setup_build_s"] = time.perf_counter() - t0

    # the first block sends at least its head, so every kind is timed
    deadline = time.perf_counter() + run.seconds
    serve.block(SERVE_BLOCK, deadline, at_least=SERVE_HEAD)
    while time.perf_counter() < deadline:
        serve.block(SERVE_BLOCK, deadline)
    # requests per second of the block's mix, from each kind's median
    # latency (a publish's includes the compaction after it): a count of
    # requests over the run would turn on which kind the deadline cuts
    kind_s = {k: med(run.times[k] + run.untraced[k]) for k in set(SERVE_BLOCK) | {"compact"}}
    block_s = sum(kind_s[k] for k in SERVE_BLOCK) + kind_s["compact"]
    run.figures["throughput_per_s"] = len(SERVE_BLOCK) / block_s
    run.figures["latency_p50_ms"] = 1000 * kind_s["search"]
    with run.tr.paused():
        serve_checks(run, serve.pending)
    if run.traced:
        run.call("compact", serve.idx.compact)
        batch_plane(run, serve.idx, serve.live)


def serve_checks(run: Run, pending) -> None:
    for kind, arg, out, idx, t_ns, epoch in pending:
        if out is None:
            continue
        if kind == "find_similar":
            run.fail("find_similar", checks.check_find_similar(out, arg))
            continue
        qvec = idx.embedding_backend.embed_batch([arg])[0]
        snap = run.snapshot(idx, t_ns, epoch)
        if kind == "query":
            run.fail("query", checks.check_query(out, arg, qvec, snap, LIMIT))
        elif kind == "search":
            run.fail("search", checks.check_search(out, qvec, snap, LIMIT))
        else:
            run.fail("mmr search", checks.check_mmr(out, qvec, snap, LIMIT))


def batch_plane(run: Run, idx, live: list[Page]) -> None:
    """ANN build, one batch RAG call and ANN-vs-brute searches on the
    static index."""
    hits = total = 0
    queries = run.gen.queries(live, BATCH_QUERIES)
    qdf = run.spark.createDataFrame([(q,) for q in queries], "query string")
    ann_path = run.path("ann")
    run.call("ann_build", lambda: idx.build_ann_index(
        ann_path, kind="ivf", k=ANN_K, iterations=ANN_ITERATIONS))
    snap = run.snapshot(idx, time.time_ns(), "static")
    out = run.call("batch_query", lambda: idx.batch_query(
        qdf, sources_limit=LIMIT).select("query", "response", "sources").collect())
    if out is not None:
        run.figures["batch_queries"] = len(queries)
        by_q = {r["query"]: r for r in out}
        why = None if set(by_q) == set(queries) else "not one row per query"
        for q in queries[:4]:
            if why is None:
                qvec = idx.embedding_backend.embed_batch([q])[0]
                why = checks.check_batch_row(by_q[q], q, qvec, snap, LIMIT)
        run.fail("batch_query", why)
    for q in queries[:ANN_SEARCHES]:
        ann = run.call("ann_search", lambda: search_rows(
            idx.search(q, limit=LIMIT, ann=True, nprobe=ANN_NPROBE)))
        brute = run.call("search", lambda: search_rows(idx.search(q, limit=LIMIT)))
        if ann is None or brute is None:
            continue
        qvec = idx.embedding_backend.embed_batch([q])[0]
        run.fail("brute search", checks.check_search(brute, qvec, snap, LIMIT))
        want = {k for k, _ in brute}
        hits += len(want & {k for k, _ in ann})
        total += len(want)
    run.figures["ann_recall_at_5"] = hits / max(1, total)


WORKLOADS = {"ingest": ingest, "serve_mixed": serve_mixed}
