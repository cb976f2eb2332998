"""Span tracing and Spark status collection, installed from outside.

The traced run wraps the engine's public layer boundaries by replacing
module attributes on the driver (for example ``query.probe_dictionary``),
records one span per call in memory, and restores every attribute when
it is done. Nothing here changes what a call returns. Code that runs in
executor Python workers is never wrapped: those workers import the engine
afresh, so distributed work is measured through Spark's status store.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import types
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, request id) and counters,
    both kept per request id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[int, dict[str, float]] = {}
        self.request = 0
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> dict | None:
        st = self._stack()
        if st:
            return st[-1]
        # a callback thread (streaming foreachBatch, the build's helper
        # thread) belongs to whatever the client is blocked on
        return self._main_stack[-1] if self._main_stack else None

    def add(self, key: str, value: float = 1.0) -> None:
        with self._lock:
            c = self.counters.setdefault(self.request, {})
            c[key] = c.get(key, 0.0) + value

    def count(self, key: str, reqs=None) -> float:
        """Sum of a counter over the requests ``reqs`` (None: all)."""
        return sum(
            c.get(key, 0.0) for r, c in self.counters.items() if reqs is None or r in reqs
        )

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self.current()
        sp = {
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": parent["id"] if parent else None, "req": self.request,
            **attrs,
        }
        with self._lock:
            sp["id"] = len(self.spans)
            self.spans.append(sp)
        st = self._stack()
        st.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            st.pop()

    def self_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child: dict[int, float] = {}
        for sp in self.spans:
            if sp["parent"] is not None and sp["end"] is not None:
                child[sp["parent"]] = child.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp["end"] is None:
                continue
            own = max(0.0, sp["end"] - sp["start"] - child.get(sp["id"], 0.0))
            out[sp["name"]] = out.get(sp["name"], 0.0) + own * 1000.0
        return out

    def total_ms(self, name: str, parent_names: tuple[str, ...] | None = None,
                 reqs=None) -> float:
        """Summed duration of the spans called ``name`` (of requests
        ``reqs``, None: all), optionally only those under ``parent_names``."""
        tot = 0.0
        for sp in self.spans:
            if sp["name"] != name or sp["end"] is None:
                continue
            if reqs is not None and sp["req"] not in reqs:
                continue
            if parent_names is not None:
                par = self.spans[sp["parent"]] if sp["parent"] is not None else None
                if par is None or par["name"] not in parent_names:
                    continue
            tot += sp["end"] - sp["start"]
        return tot * 1000.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, default=str) + "\n")


class Patches:
    """Attribute replacements that can all be undone."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def set(self, obj, attr: str, value) -> None:
        old = getattr(obj, attr)
        if isinstance(value, types.FunctionType) and value is not old:
            # the wrapper takes the original's module and name: a closure
            # Spark ships to executors then pickles it by reference, and
            # the executor, which never installs wrappers, gets the original
            functools.update_wrapper(value, old)
        self._saved.append((obj, attr, old))
        setattr(obj, attr, value)

    def undo(self) -> None:
        while self._saved:
            obj, attr, old = self._saved.pop()
            setattr(obj, attr, old)


# spans inside which the query scorer runs on the driver
_DRIVER_SCORING = ("search", "score_driver")


def install(tr: Tracer) -> Patches:
    """Wrap every layer boundary the benchmark reports on."""
    from pyspark.sql import SparkSession

    try:  # pyspark 4: the concrete class of a local-session DataFrame
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from find_that_charity_spark.functions import analyzer
    from find_that_charity_spark.operators import build, query, recon, vacuum
    from find_that_charity_spark.plans import checkpoint
    from find_that_charity_spark.streaming import incremental

    p = Patches()

    def spanned(mod, attr: str, name: str, on_result=None):
        orig = getattr(mod, attr)

        def wrapper(*a, **k):
            with tr.span(name) as sp:
                out = orig(*a, **k)
                if on_result is not None:
                    on_result(sp, out, a, k)
                return out

        p.set(mod, attr, wrapper)

    def timed_counter(mod, attr: str, key: str):
        orig = getattr(mod, attr)

        def wrapper(*a, **k):
            t = time.perf_counter()
            try:
                return orig(*a, **k)
            finally:
                tr.add(f"{key}.calls")
                tr.add(f"{key}.ms", (time.perf_counter() - t) * 1000.0)

        p.set(mod, attr, wrapper)

    # functions.analyzer: looked up at call time by the query parsers
    timed_counter(analyzer, "analyze", "analyzer")
    timed_counter(analyzer, "analyze_name", "analyzer")

    # operators.query: parse, probe, route, score, decode, freshness
    spanned(query, "_analyze_batch_driver", "parse")
    spanned(query, "probe_dictionary", "probe")
    spanned(query, "_score_driver", "score_driver", lambda sp, o, a, k: tr.add("route.driver"))
    spanned(query, "_score_matched", "score_matched", lambda sp, o, a, k: tr.add("route.distributed"))
    spanned(query, "run_queries", "run_queries")
    p.set(recon, "run_queries", query.run_queries)  # recon's own import

    orig_search = query.IndexSearcher.search

    def search(self, *a, **k):
        with tr.span("search") as sp:
            out = orig_search(self, *a, **k)
        kids = {s["name"] for s in tr.spans[sp["id"] + 1 :] if s["parent"] == sp["id"]}
        if "scorer" in kids:
            tr.add("route.driver")
        elif kids & {"collect", "fetch"}:
            tr.add("route.distributed")  # scored by mapInPandas
        return out

    p.set(query.IndexSearcher, "search", search)

    orig_make = query.make_query_scorer

    def make_query_scorer(*a, **k):
        scorer = orig_make(*a, **k)
        cur = tr.current()
        if cur is None or cur["name"] not in _DRIVER_SCORING:
            return scorer  # shipped to executors: leave it untouched

        def traced(pdf):
            with tr.span("scorer"):
                terms = pdf.drop_duplicates("term")
                tr.add("query.terms_matched", float(len(terms)))
                tr.add("query.postings_volume", float(terms["df"].sum()))
                return scorer(pdf)

        return traced

    p.set(query, "make_query_scorer", make_query_scorer)

    orig_bmw = query.score_query_bmw

    def score_query_bmw(*a, stats=None, **k):
        own = {} if stats is None else stats
        out = orig_bmw(*a, stats=own, **k)
        for key in ("windows_total", "windows_skipped", "blocks_decoded", "blocks_total"):
            tr.add(f"bmw.{key}", float(own.get(key, 0)))
        return out

    p.set(query, "score_query_bmw", score_query_bmw)

    orig_decode = query.decode_block

    def decode_block(*a, **k):
        tr.add("codec.blocks_decoded")
        return orig_decode(*a, **k)

    p.set(query, "decode_block", decode_block)

    orig_mtime = query._local_mtime_key

    def _local_mtime_key(path):
        t = time.perf_counter()
        sig = orig_mtime(path)
        tr.add("freshness.ms", (time.perf_counter() - t) * 1000.0)
        tr.add("freshness.files", float(len(sig or ())))
        return sig

    p.set(query, "_local_mtime_key", _local_mtime_key)

    # operators.recon
    spanned(recon, "reconcile", "reconcile")
    spanned(
        recon, "_filter_exclusions", "exclusions",
        lambda sp, o, a, k: tr.add("recon.excluded_docs", float(len(o))),
    )

    # write path: build, streaming ingest, compaction, vacuum
    spanned(build, "build_index", "build_index")
    spanned(build, "compact_stream_chunks", "compact",
            lambda sp, o, a, k: tr.add("compact.chunks_folded", float(o)))
    spanned(incremental, "incremental_refresh", "incremental_refresh")
    spanned(incremental, "refresh_stats", "refresh_stats")
    spanned(incremental, "_append_batch", "append_batch")
    spanned(vacuum, "vacuum_index", "vacuum")

    orig_mark = checkpoint.Manifest.mark_done

    def mark_done(self, *a, **k):
        t = time.perf_counter()
        orig_mark(self, *a, **k)
        tr.add("manifest.marks")
        tr.add("manifest.mark_ms", (time.perf_counter() - t) * 1000.0)
        # the manifest is rewritten whole on every mark
        tr.add("manifest.bytes_written", float(os.path.getsize(self.path)))

    p.set(checkpoint.Manifest, "mark_done", mark_done)

    # Spark boundary: driver-side collects and local relations
    orig_collect = DataFrame.collect

    def collect(self):
        with tr.span("collect") as sp:
            rows = orig_collect(self)
        par = tr.spans[sp["parent"]] if sp["parent"] is not None else None
        is_segments = not rows or "postings" in rows[0].__fields__
        if (par is not None and par["name"] in _DRIVER_SCORING
                and not par.get("fetched") and is_segments):
            # the first segments collect of a driver-route query is its
            # pushed postings fetch
            par["fetched"] = True
            sp["name"] = "fetch"
            tr.add("query.segment_rows", float(len(rows)))
            tr.add("query.fetch_bytes", float(sum(len(r["postings"] or b"") for r in rows)))
        return rows

    p.set(DataFrame, "collect", collect)

    orig_create = SparkSession.createDataFrame

    def createDataFrame(self, *a, **k):
        with tr.span("create_df"):
            return orig_create(self, *a, **k)

    p.set(SparkSession, "createDataFrame", createDataFrame)
    return p


class SparkCollector:
    """Per-operation Spark work, read from the status store.

    Each operation runs in its own job group; afterwards the listener bus
    is drained and every job started since the previous operation is read
    (jobs that streaming or helper threads start carry no group, so the
    job-id watermark is what attributes them)."""

    FIELDS = ("jobs", "stages", "tasks", "executor_run_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.gw = self.sc._gateway
        self.next_job = self._first_unseen(0)
        self.by_op: dict[str, dict[str, float]] = {}
        self.n_ops = 0
        self._seen_stages: set[int] = set()

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _first_unseen(self, start: int) -> int:
        self._drain()
        j = start
        while self.sc.statusTracker().getJobInfo(j) is not None:
            j += 1
        return j

    def begin(self, name: str) -> None:
        """Before an operation: skip jobs that untraced calls started."""
        self.next_job = self._first_unseen(self.next_job)
        self.sc.setJobGroup(f"perfbench-{name}", name)

    def end(self, name: str) -> None:
        """After an operation (and after its timing): read its jobs."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.n_ops += 1
        last = self._first_unseen(self.next_job)
        acc = self.by_op.setdefault(name, {f: 0.0 for f in self.FIELDS})
        empty_tasks = self.gw.jvm.java.util.ArrayList()
        no_q = self.gw.new_array(self.gw.jvm.double, 0)
        for j in range(self.next_job, last):
            info = self.sc.statusTracker().getJobInfo(j)
            acc["jobs"] += 1
            for sid in info.stageIds:
                sid = int(sid)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                seq = self.store.stageData(sid, False, empty_tasks, False, no_q)
                if seq.size() == 0:
                    continue
                sd = seq.apply(0)
                if sd.status().toString() == "SKIPPED":
                    continue
                acc["stages"] += 1
                acc["tasks"] += sd.numTasks()
                acc["executor_run_ms"] += sd.executorRunTime()
                acc["shuffle_read_bytes"] += sd.shuffleReadBytes()
                acc["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                acc["input_bytes"] += sd.inputBytes()
        self.next_job = last

    def totals(self) -> dict[str, float]:
        out = {f: 0.0 for f in self.FIELDS}
        for acc in self.by_op.values():
            for f in self.FIELDS:
                out[f] += acc[f]
        return out
