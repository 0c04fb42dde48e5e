"""Span recorder for the benchmark's traced run.

Ops are the public calls a workload times (``search``, ``publish``,
``update_index`` ...). In an untraced run :meth:`Tracer.op` only times
them. In a traced run it also records a span per op, and
:func:`instrument` wraps the engine's layer entry points (module
functions, ``Corpus``/``IvfIndex`` methods and the store/backend objects
the benchmark owns) so every call into a layer records a child span:
name, start, end, parent and request id. Spans stay in memory and are
written to one JSON-lines file when the run ends.

Lazy DataFrames are forced at each span boundary (``localCheckpoint``),
so a span's self time is the work of its own layer: a wrapper first
forces its DataFrame arguments (charged to the caller), then calls the
layer and forces the result (charged to the layer). Forcing changes how
the engine executes, which is why layer numbers come only from the
traced run and the e2e numbers only from the untraced one.

Every span runs under its own ``SparkContext.setJobGroup``; at the end
the Spark status store maps each job to its span, which gives jobs,
stages, tasks, executor run time, shuffle/input bytes and the driver gap
(span wall time covered by no Spark job) per top-level op.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._stack: list[dict] = []
        self._req = None
        self._next_id = 0

    # -- spans --------------------------------------------------------------

    def _open(self, name: str, attrs: dict) -> dict:
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": self._req,
            "start": time.time(),
            **attrs,
        }
        self._stack.append(s)
        self.spark.sparkContext.setJobGroup(f"span-{s['id']}", name)
        return s

    def _close(self, s: dict) -> None:
        s["end"] = time.time()
        self._stack.pop()
        self.spans.append(s)
        sc = self.spark.sparkContext
        if self._stack:
            sc.setJobGroup(f"span-{self._stack[-1]['id']}", self._stack[-1]["name"])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def op(self, name: str, req=None, times: list | None = None):
        """Time one public call; in a traced run also record its span.
        The elapsed seconds are appended to ``times`` (if given)."""
        if not self.enabled:
            t0 = time.perf_counter()
            yield
            if times is not None:
                times.append(time.perf_counter() - t0)
            return
        self._req = req
        s = self._open("op." + name, {"op": True})
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if times is not None:
                times.append(time.perf_counter() - t0)
            self._close(s)
            self._req = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = self._open(name, {})
        try:
            yield
        finally:
            self._close(s)

    @contextmanager
    def aux(self):
        """Bookkeeping work of the traced run itself (row counts for
        ratios); recorded as a span whose time no layer is charged for."""
        with self.span("aux"):
            yield

    @contextmanager
    def paused(self):
        """Run the benchmark's own checks with tracing off."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def current_op(self) -> str | None:
        return self._stack[0]["name"][3:] if self._stack and self._stack[0].get("op") else None

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[key] += n

    def sample(self, key: str, v: float) -> None:
        if self.enabled:
            self.samples[key].append(v)

    # -- output ---------------------------------------------------------------

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s, default=str) + "\n")

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover
        (children of one span run one after another on this thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def layer_busy(self) -> dict[str, float]:
        """Self seconds per span name."""
        st = self.self_times()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += st[s["id"]]
        return out

    def spark_counters(self) -> dict[str, dict]:
        """Per op name: Spark job/stage/task counters of every job run
        under that op's span tree, plus the driver gap."""
        if not self.spans:
            return {}
        by_id = {s["id"]: s for s in self.spans}

        def root(sid):
            s = by_id[sid]
            while s["parent"] is not None and not s.get("op"):
                s = by_id[s["parent"]]
            return s if s.get("op") else None

        jvm = self.spark.sparkContext._jvm
        gw = self.spark.sparkContext._gateway
        store = self.spark.sparkContext._jsc.sc().statusStore()
        stages = store.stageList(None, False, False, gw.new_array(jvm.double, 0), None)
        stage_rows = {}
        for i in range(stages.size()):
            st = stages.apply(i)
            stage_rows[(st.stageId(), st.attemptId())] = (
                st.numTasks(),
                st.executorRunTime() / 1000.0,
                st.inputBytes(),
                st.shuffleReadBytes(),
                st.shuffleWriteBytes(),
            )
        per_stage = defaultdict(lambda: [0, 0.0, 0, 0, 0, 0])
        for (sid, _att), row in stage_rows.items():
            acc = per_stage[sid]
            acc[0] += 1
            for k in range(5):
                acc[k + 1] += row[k]
        ops: dict[int, dict] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            grp = j.jobGroup()
            if grp.isEmpty() or not grp.get().startswith("span-"):
                continue
            sid = int(grp.get()[5:])
            if sid not in by_id or by_id[sid]["name"] == "aux":
                continue
            r = root(sid)
            if r is None:
                continue
            acc = ops.setdefault(
                r["id"],
                {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                 "input_bytes": 0, "shuffle_read_bytes": 0,
                 "shuffle_write_bytes": 0, "intervals": []},
            )
            acc["jobs"] += 1
            stage_ids = j.stageIds()
            for k in range(stage_ids.size()):
                st = per_stage.get(stage_ids.apply(k))
                if st is None:
                    continue  # skipped stage (reused shuffle output)
                acc["stages"] += st[0]
                acc["tasks"] += st[1]
                acc["executor_run_s"] += st[2]
                acc["input_bytes"] += st[3]
                acc["shuffle_read_bytes"] += st[4]
                acc["shuffle_write_bytes"] += st[5]
            sub, done = j.submissionTime(), j.completionTime()
            if not sub.isEmpty() and not done.isEmpty():
                acc["intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
        aux = defaultdict(float)
        for s in self.spans:
            if s["name"] == "aux":
                r = root(s["id"])
                if r is not None:
                    aux[r["id"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            if not s.get("op"):
                continue
            acc = ops.get(s["id"], {"jobs": 0, "stages": 0, "tasks": 0,
                                    "executor_run_s": 0.0, "input_bytes": 0,
                                    "shuffle_read_bytes": 0,
                                    "shuffle_write_bytes": 0, "intervals": []})
            covered = _covered(acc.pop("intervals"), s["start"], s["end"])
            acc["driver_gap_s"] = max(0.0, s["end"] - s["start"] - covered - aux[s["id"]])
            agg = out.setdefault(s["name"][3:], defaultdict(list))
            for k, v in acc.items():
                agg[k].append(v)
        return out


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# instrumentation of the engine's layer entry points (traced run only)
# --------------------------------------------------------------------------


def _force(v):
    return v.localCheckpoint(eager=True) if isinstance(v, DataFrame) else v


def _rows(tr: Tracer, df: DataFrame) -> int:
    with tr.aux():
        return df.count()


def _wrap(tr: Tracer, name: str, fn, after=None, force_result=True):
    """Span around ``fn``: DataFrame arguments are forced first (charged
    to the caller), the result is forced inside the span. ``after(result,
    args, kwargs)`` records counters once the span has closed."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tr.enabled:
            return fn(*args, **kwargs)
        args = tuple(_force(a) for a in args)
        kwargs = {k: _force(v) for k, v in kwargs.items()}
        with tr.span(name):
            out = fn(*args, **kwargs)
            if force_result:
                if isinstance(out, tuple):
                    out = tuple(_force(o) for o in out)
                else:
                    out = _force(out)
        if after is not None:
            after(out, args, kwargs)
        return out

    return wrapper


class _Patches:
    """Attribute replacements on modules, classes and objects, undone in
    reverse order when the traced run ends."""

    def __init__(self):
        self._undo: list[tuple] = []

    def set(self, owner, attr: str, value) -> None:
        own = vars(owner)
        self._undo.append((owner, attr, own.get(attr), attr in own))
        setattr(owner, attr, value)

    def undo(self) -> None:
        for owner, attr, old, had in reversed(self._undo):
            if had:
                setattr(owner, attr, old)
            else:
                delattr(owner, attr)
        self._undo.clear()


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns)
    return total


def _parquet_files(paths) -> int:
    n = 0
    for p in paths:
        for _dp, _dn, fns in os.walk(p):
            n += sum(1 for f in fns if f.endswith(".parquet"))
    return n


def instrument(tr: Tracer) -> _Patches:
    """Install layer spans around the engine's module- and class-level
    entry points for the life of one traced run (undo with
    ``.undo()``); each index the run makes is added with
    :func:`instrument_index`."""
    p = _Patches()
    mod = importlib.import_module
    indexing = mod("wagtail_vector_index_spark.plans.indexing")
    stage = mod("wagtail_vector_index_spark.embedding.stage")
    index_mod = mod("wagtail_vector_index_spark.index")
    mmr = mod("wagtail_vector_index_spark.operators.mmr")
    chat = mod("wagtail_vector_index_spark.chat")
    kmeans = mod("wagtail_vector_index_spark.operators.kmeans")
    dedup = mod("wagtail_vector_index_spark.operators.dedup")
    corpus = mod("wagtail_vector_index_spark.operators.corpus")
    ann = mod("wagtail_vector_index_spark.operators.ann_index")

    # text splitting ------------------------------------------------------
    def after_chunks(out, args, kwargs):
        n = _rows(tr, out)
        tr.count("text_splitting.chunks_out", n)
        src = args[0] if args else kwargs["sources"]
        tr.count("text_splitting.pages_in", _rows(tr, src))

    p.set(indexing, "chunk_sources",
          _wrap(tr, "text_splitting.chunk_sources", indexing.chunk_sources, after_chunks))

    # embedding -------------------------------------------------------------
    def after_embed(out, args, kwargs):
        tr.count("embedding.rows", _rows(tr, out))

    for owner in (indexing, stage):
        p.set(owner, "embed_dataframe",
              _wrap(tr, "embedding.embed_dataframe", stage.embed_dataframe, after_embed))

    # indexing ------------------------------------------------------------
    def after_incremental(out, args, kwargs):
        docs, stale, _fresh = out
        tr.count("indexing.stale_docs", _rows(tr, stale))
        n_docs = _rows(tr, docs)
        tr.count("indexing.reembedded_chunks", n_docs)
        stored = args[1] if len(args) > 1 else kwargs["stored"]
        from pyspark.sql import functions as F

        with tr.aux():
            changed = docs.select(
                "doc_key", F.sha2("content", 256).alias("h")
            ).join(
                stored.select("doc_key", F.sha2("content", 256).alias("h")),
                ["doc_key", "h"],
                "left_anti",
            ).count()
        tr.count("indexing.changed_chunks", changed)

    p.set(index_mod, "build_documents",
          _wrap(tr, "indexing.build_documents", index_mod.build_documents))
    p.set(indexing, "build_documents",
          _wrap(tr, "indexing.build_documents", indexing.build_documents))
    p.set(index_mod, "incremental_build_documents",
          _wrap(tr, "indexing.incremental_build_documents",
                index_mod.incremental_build_documents, after_incremental))

    # knn / fetchback / mmr -----------------------------------------------
    def after_topk(out, args, kwargs):
        tr.count("knn.pairs_scored", _rows(tr, args[0]))

    def after_simjoin(out, args, kwargs):
        probes = args[0] if args else kwargs["probes_df"]
        idx_df = args[1] if len(args) > 1 else kwargs["index_df"]
        tr.count("knn.pairs_scored", _rows(tr, probes) * _rows(tr, idx_df))

    p.set(index_mod, "topk_similar",
          _wrap(tr, "knn.topk_similar", index_mod.topk_similar, after_topk))
    p.set(index_mod, "similarity_join",
          _wrap(tr, "knn.similarity_join", index_mod.similarity_join, after_simjoin))
    p.set(index_mod, "dedup_keep_best",
          _wrap(tr, "fetchback.dedup_keep_best", index_mod.dedup_keep_best))
    p.set(mmr, "mmr_rerank", _wrap(tr, "mmr.mmr_rerank", mmr.mmr_rerank))

    # chat ------------------------------------------------------------------
    p.set(chat, "chat_dataframe", _wrap(tr, "chat.chat_dataframe", chat.chat_dataframe))

    # kmeans / ANN ------------------------------------------------------
    # the centroids come back as a driver-side list; the assigned frame
    # is not consumed by IvfIndex.build, so it is left lazy
    p.set(kmeans, "train_codebook",
          _wrap(tr, "kmeans.train_codebook", kmeans.train_codebook, force_result=False))
    build = ann.IvfIndex.__dict__["build"].__func__

    def traced_build(cls, df, **kw):
        if not tr.enabled:
            return build(cls, df, **kw)
        df = _force(df)
        tr.count("ann.index_rows", _rows(tr, df))
        with tr.span("ann.build"):
            return build(cls, df, **kw)

    p.set(ann.IvfIndex, "build", classmethod(traced_build))
    topk = ann.IvfIndex.topk

    def traced_topk(self, query_vector, **kw):
        if not tr.enabled:
            return topk(self, query_vector, **kw)
        with tr.aux():
            nprobe = kw.get("nprobe", 2)
            cids = {f"cid={c}" for c in self.probed_cids(query_vector, nprobe)}
            dirs = [d for d in self.live_partition_dirs() if os.path.basename(d) in cids]
            tr.count("ann.files_read", _parquet_files(dirs))
            tr.count("ann.rows_scanned", self.candidates(query_vector, nprobe=nprobe).count())
        with tr.span("ann.topk"):
            return _force(topk(self, query_vector, **kw))

    p.set(ann.IvfIndex, "topk", traced_topk)

    # dedup / corpus -------------------------------------------------------
    def after_pairs(out, args, kwargs):
        tr.count("dedup.verified_pairs", _rows(tr, out))
        df = args[0] if args else kwargs["df"]
        loose = {k: v for k, v in kwargs.items() if k != "threshold"}
        with tr.aux():
            # threshold 0 keeps every LSH candidate through verification
            tr.count("dedup.candidate_pairs", pairs_fn(df, threshold=0.0, **loose).count())

    pairs_fn = dedup.minhash_lsh_pairs
    p.set(dedup, "minhash_lsh_pairs",
          _wrap(tr, "dedup.minhash_lsh_pairs", pairs_fn, after_pairs))

    def corpus_method(name, span):
        orig = corpus.Corpus.__dict__[name]

        def method(self, *a, **k):
            if not tr.enabled:
                return orig(self, *a, **k)
            with tr.span(span):
                c = orig(self, *a, **k)
                c.df = _force(c.df)
            if name == "dedup_exact":
                tr.count("corpus.docs_in", _rows(tr, self.df))
            elif name == "quality_gate":
                tr.count("corpus.docs_out", _rows(tr, c.df))
            return c

        p.set(corpus.Corpus, name, method)

    corpus_method("dedup_exact", "dedup.exact")
    corpus_method("dedup_fuzzy", "dedup.minhash")
    corpus_method("quality_gate", "corpus.quality_gate")
    return p


def instrument_index(tr: Tracer, p: _Patches, index) -> None:
    """Wrap the per-object entry points of one VectorIndex: its document
    store and manifest log, and its embedding and chat backends."""
    backend = index.embedding_backend
    p.set(backend, "embed_batch",
          _wrap(tr, "embedding.probe", backend.embed_batch, force_result=False))
    cb = index.chat_backend
    p.set(cb, "chat", _wrap(tr, "chat.chat", cb.chat, force_result=False))

    # store + manifest ----------------------------------------------------
    store = index.store

    def traced_read(orig):
        @functools.wraps(orig)
        def read(*a, **k):
            if not tr.enabled:
                return orig(*a, **k)
            with tr.span("store.read"):
                t0 = time.perf_counter()
                df = orig(*a, **k)
                tr.sample("store.read_plan_s", time.perf_counter() - t0)
                live = store.log.live_paths()
                tr.count("store.read_scans", len(live))
                tr.count("store.read_files", _parquet_files(live))
                tr.count("store.reads", 1)
                return _force(df)

        return read

    # read() delegates to read_at(), so one wrapper sees every read
    p.set(store, "read_at", traced_read(store.read_at))

    def traced_write(name, orig):
        @functools.wraps(orig)
        def write(*a, **k):
            if not tr.enabled:
                return orig(*a, **k)
            a = tuple(_force(x) for x in a)
            before = dir_bytes(store.path)
            with tr.span("store." + name):
                orig(*a, **k)
            written = dir_bytes(store.path) - before
            tr.count("store.bytes_written", written)
            tr.count(f"store.bytes_written.{tr.current_op()}", written)

        return write

    for name in ("upsert", "delete", "delete_keys_df", "compact", "overwrite_index"):
        p.set(store, name, traced_write(name, getattr(store, name)))

    log = store.log

    def traced_commit(orig):
        @functools.wraps(orig)
        def commit(*a, **k):
            if not tr.enabled:
                return orig(*a, **k)
            t0 = time.perf_counter()
            with tr.span("manifest.commit"):
                out = orig(*a, **k)
            tr.sample("manifest.commit_ms", 1000 * (time.perf_counter() - t0))
            return out

        return commit

    p.set(log, "commit", traced_commit(log.commit))


def layer_metrics(tr: Tracer) -> dict[str, float]:
    """Per-layer figures derived from the spans and counters of a run."""
    busy = tr.layer_busy()
    c = tr.counts

    def med(xs, default=0.0):
        return statistics.median(xs) if xs else default

    def spans_of(name):
        return [s for s in tr.spans if s["name"] == name]

    m: dict[str, float] = {}
    m["text_splitting.busy_s"] = busy["text_splitting.chunk_sources"]
    m["text_splitting.chunks_out"] = c["text_splitting.chunks_out"]
    m["text_splitting.chunks_per_page"] = c["text_splitting.chunks_out"] / max(1, c["text_splitting.pages_in"])
    m["embedding.busy_s"] = busy["embedding.embed_dataframe"]
    m["embedding.rows"] = c["embedding.rows"]
    m["embedding.rows_per_s"] = c["embedding.rows"] / max(1e-9, busy["embedding.embed_dataframe"])
    m["embedding.probe_ms"] = 1000 * med([s["end"] - s["start"] for s in spans_of("embedding.probe")])
    m["indexing.stale_compare_s"] = busy["indexing.incremental_build_documents"]
    m["indexing.stale_docs"] = c["indexing.stale_docs"]
    m["indexing.reembedded_chunks"] = c["indexing.reembedded_chunks"]
    m["indexing.useful_reembed_ratio"] = c["indexing.changed_chunks"] / max(1, c["indexing.reembedded_chunks"])
    m["store.write_s"] = sum(busy[f"store.{n}"] for n in ("upsert", "delete", "delete_keys_df", "compact", "overwrite_index"))
    m["store.bytes_written"] = c["store.bytes_written"]
    m["store.read_s"] = busy["store.read"]
    m["store.read_scans"] = c["store.read_scans"] / max(1, c["store.reads"])
    m["store.read_files"] = c["store.read_files"] / max(1, c["store.reads"])
    m["store.read_plan_s"] = med(tr.samples["store.read_plan_s"])
    m["manifest.commits"] = len(tr.samples["manifest.commit_ms"])
    m["manifest.commit_ms"] = med(tr.samples["manifest.commit_ms"])
    m["knn.topk_s"] = busy["knn.topk_similar"]
    m["knn.simjoin_s"] = busy["knn.similarity_join"]
    m["knn.pairs_scored"] = c["knn.pairs_scored"]
    knn_s = busy["knn.topk_similar"] + busy["knn.similarity_join"]
    m["knn.pairs_per_s"] = c["knn.pairs_scored"] / knn_s if knn_s else 0.0
    m["fetchback.busy_s"] = busy["fetchback.dedup_keep_best"]
    m["mmr.busy_s"] = busy["mmr.mmr_rerank"]
    m["chat.driver_ms"] = 1000 * med([s["end"] - s["start"] for s in spans_of("chat.chat")])
    m["chat.batch_s"] = busy["chat.chat_dataframe"]
    m["kmeans.train_s"] = busy["kmeans.train_codebook"]
    m["ann.write_s"] = busy["ann.build"]
    m["ann.topk_s"] = busy["ann.topk"]
    n_topk = len(spans_of("ann.topk"))
    m["ann.files_read"] = c["ann.files_read"] / max(1, n_topk)
    m["ann.scan_fraction"] = c["ann.rows_scanned"] / max(1, n_topk * c["ann.index_rows"])
    m["ann.fetchback_s"] = busy["op.ann_search"]  # the fetch-back join is the op's own work
    m["dedup.exact_s"] = busy["dedup.exact"]
    m["dedup.minhash_s"] = busy["dedup.minhash"] + busy["dedup.minhash_lsh_pairs"]
    m["dedup.candidate_pairs"] = c["dedup.candidate_pairs"]
    m["dedup.verified_pairs"] = c["dedup.verified_pairs"]
    m["dedup.pair_precision"] = c["dedup.verified_pairs"] / max(1, c["dedup.candidate_pairs"])
    m["corpus.quality_gate_s"] = busy["corpus.quality_gate"]
    m["corpus.docs_in"] = c["corpus.docs_in"]
    m["corpus.docs_out"] = c["corpus.docs_out"]
    return m
