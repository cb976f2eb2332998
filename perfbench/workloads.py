"""The benchmark's workloads, driven by one single-threaded closed-loop
client: each call starts only after the previous one has returned."""

from __future__ import annotations

import os
import resource
import shutil
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import check, gen
from perfbench.trace import SparkCollector, Tracer, install

# interactive: one warm index; each call stays below the driver budget
INTERACTIVE_DOCS = 10_000
# lifecycle: base corpus, then re-crawl rounds of updated + new urls
LIFECYCLE_DOCS = 8_000
ROUNDS = 2
ROUND_UPDATED = 400
ROUND_NEW = 600
RECON_BATCH = 10
# term and doc-id buckets of the build and of ingest: two per core of a
# 4-core host (bench.py's 32/64 are sized for 32 cores, and on 4 they
# double the lifecycle's write time and a batch's latency)
NUM_BUCKETS = 8
ID_BUCKETS = 8
# read rounds per run, each of some searches and one reconcile batch:
# what the benchmark's time budget allows (a search costs ~0.1 s, a
# batch ~0.7 s; metrics.tail gives the percentile a tail then is)
INTERACTIVE_ROUNDS = 10
LIFECYCLE_PHASE_ROUNDS = 3
SEARCHES_PER_ROUND = 3
# untimed calls of the search mix (one 9-call mode cycle) before the
# timed reads
WARMUP_SEARCHES = 9
# the engine's default driver-scoring budget (FTC_DRIVER_SCORE_MAX_POSTINGS)
DRIVER_BUDGET = 2_000_000
# one re-match batch per traced interactive run: under the 10,000-query
# localize_threshold, over the driver budget, so run_queries scores it
# through mapInPandas
BULK_QUERIES = 250
# verified share of a run's outputs: a seeded sample, because the oracle
# scores every document for every query
VERIFY_SEARCHES = 8
VERIFY_RECON_QUERIES = 8
VERIFY_BULK = 8


def build_config():
    from find_that_charity_spark.operators.build import BuildConfig

    # bench.py's engine-block configuration with the buckets above, and
    # positions for phrase mode
    return BuildConfig(
        num_buckets=NUM_BUCKETS, id_buckets=ID_BUCKETS, max_postings_per_segment=100_000,
        segment_chunks=1, aqe_coalesce=True, positions=True,
    )


# the engine's web_pages schema (sources/corpus.py), as parquet types;
# the generator's times are naive UTC
PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])


def write_pages(pages: pd.DataFrame, path: str) -> None:
    """One parquet file of pages in directory ``path``."""
    os.makedirs(path)
    cols = pages.assign(warc_ts=pages["warc_ts"].dt.tz_localize("UTC"))
    table = pa.Table.from_pandas(cols, schema=PAGES_SCHEMA, preserve_index=False)
    pq.write_table(table, f"{path}/part-00000.parquet")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def read_docs(index_dir: str) -> pd.DataFrame:
    """The index's docs table (doc_id, url, warc_ts), read from its files."""
    import pyarrow.dataset as ds

    docs = ds.dataset(f"{index_dir}/docs", format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "url", "warc_ts"]
    ).to_pandas()
    # Spark stores instants in UTC; the generator's times are naive UTC
    docs["warc_ts"] = pd.to_datetime(docs["warc_ts"], utc=True).dt.tz_localize(None)
    return docs


def count_chunks(index_dir: str) -> int:
    """Segment chunk directories: one per build, one per ingest epoch."""
    return sum(1 for d in os.listdir(f"{index_dir}/segments") if d.startswith("chunk="))


def read_tombstone_ids(index_dir: str) -> set[int]:
    import pyarrow.dataset as ds

    path = f"{index_dir}/tombstones"
    if not os.path.isdir(path):
        return set()
    return set(ds.dataset(path, format="parquet").to_table(columns=["doc_id"]).column(0).to_pylist())


class Run:
    """Shared state of one benchmark run: session, tracing, operation log."""

    def __init__(self, spark, seed: int, seconds: int, traced: bool, work: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.tracer = Tracer() if traced else None
        self.collector = SparkCollector(spark) if traced else None
        self._patches = None
        self.lat: dict[str, list[float]] = {"search": [], "reconcile": []}
        # a traced run times every other read untraced: its own overhead
        self.traced_lat: dict[str, list[float]] = {"search": [], "reconcile": []}
        self.untraced_lat: dict[str, list[float]] = {"search": [], "reconcile": []}
        self.read_reqs: set[int] = set()  # request ids of traced reads
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.walls: dict[str, float] = {}

    # -- tracing switch ---------------------------------------------------
    def trace_on(self) -> None:
        if self.traced and self._patches is None:
            self._patches = install(self.tracer)

    def trace_off(self) -> None:
        if self._patches is not None:
            self._patches.undo()
            self._patches = None

    def _timed(self, name: str, fn, *a, **k):
        """(result, seconds) of one call; a traced call also has its Spark
        work read from the status store, after the clock stops."""
        self.attempted += 1
        traced = self._patches is not None
        if traced:
            self.tracer.request += 1
            self.collector.begin(name)
        t = time.perf_counter()
        try:
            out = fn(*a, **k)
        finally:
            dt = time.perf_counter() - t
            if traced:
                self.collector.end(name)
        return out, dt

    def op(self, name: str, fn, *a, **k):
        """One write or batch call; its wall adds to ``walls[name]``."""
        out, dt = self._timed(name, fn, *a, **k)
        self.walls[name] = self.walls.get(name, 0.0) + dt
        return out

    def read(self, kind: str, fn, *a, **k):
        """One timed read. In a traced run every other read of each kind
        runs untraced, so the run measures its own tracing overhead."""
        traced = self.traced and len(self.lat[kind]) % 2 == 1
        if traced:
            self.trace_on()
        else:
            self.trace_off()
        try:
            out, dt = self._timed(kind, fn, *a, **k)
        except Exception as exc:  # a failed call is counted, and the run goes on
            self.failed += 1
            self.errors.append(f"{kind}: {type(exc).__name__}: {exc}"[:300])
            return None
        ms = dt * 1000.0
        self.lat[kind].append(ms)
        if traced:
            self.read_reqs.add(self.tracer.request)
        (self.traced_lat if traced else self.untraced_lat)[kind].append(ms)
        return out

    def rss_mb(self) -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _search_client(run: Run, searcher, rng, live_texts, log: list, phase: int):
    text, k, mode = gen.make_search(rng, live_texts, sum(1 for e in log if e[0] == "search"))
    # looked up at call time, after the read has switched tracing on or off
    out = run.read("search", lambda: searcher.search(text, k=k, mode=mode))
    if out is not None:
        log.append(("search", phase, (text, k, mode), [(int(d), float(s)) for _, d, s in out]))


def _recon_client(run: Run, rng, index_dir: str, log: list, phase: int):
    from find_that_charity_spark.operators import recon

    n = sum(1 for e in log if e[0] == "reconcile")
    batch = gen.make_recon_batch(rng, n, RECON_BATCH)
    # looked up on the module at call time, so a traced run sees its wrapper
    out = run.read("reconcile", lambda: recon.reconcile(run.spark, index_dir, batch))
    if out is not None:
        log.append(("reconcile", phase, batch, out))


def _reload(run: Run, rng, index_dir: str, log: list, phase: int):
    """The first reconcile batch after a write. It reloads what the write
    invalidated and takes about twice a warm batch's time, so its wall
    counts in ``walls["reload"]``, part of the write, and not in the read
    percentiles. Its answers are verified with the phase's reads."""
    from find_that_charity_spark.operators import recon

    n = sum(1 for e in log if e[0] == "reconcile")
    batch = gen.make_recon_batch(rng, n, RECON_BATCH)
    log.append(("reconcile", phase, batch,
                run.op("reload", lambda: recon.reconcile(run.spark, index_dir, batch))))


def _read_loop(run: Run, searcher, index_dir, rng, live_texts, log, phase, seconds,
               min_rounds):
    """Rounds of ``SEARCHES_PER_ROUND`` searches and one reconcile batch,
    for ``seconds`` and for at least ``min_rounds`` rounds."""
    t_end = time.perf_counter() + seconds
    n = 0
    while n < min_rounds or time.perf_counter() < t_end:
        for _ in range(SEARCHES_PER_ROUND):
            _search_client(run, searcher, rng, live_texts, log, phase)
        _recon_client(run, rng, index_dir, log, phase)
        n += 1
    run.trace_off()


def _bulk(run: Run, index_dir: str) -> tuple[pd.DataFrame, list]:
    """One re-match batch through ``run_queries``, read from a parquet
    file and collected; its wall is ``walls["bulk"]``. Returns (queries,
    result rows)."""
    from find_that_charity_spark.operators import query

    path = f"{run.work}/bulk.parquet"
    queries = gen.make_bulk(gen.rng_for(run.seed, "bulk"), BULK_QUERIES)
    queries.to_parquet(path, index=False)
    run.trace_on()
    rows = run.op("bulk", lambda: query.run_queries(
        run.spark, index_dir, run.spark.read.parquet(path)).collect())
    run.trace_off()
    return queries, rows


def _warm_up(spark, searcher, index_dir, seed, live_texts):
    """``WARMUP_SEARCHES`` calls of the search mix and one reconcile batch (it
    runs both property signatures), none timed or verified: they compile
    the plan shapes and warm the JVM and the driver caches a long-running
    service has warm."""
    from find_that_charity_spark.operators import recon

    rng = gen.rng_for(seed, "warmup")
    for slot in range(WARMUP_SEARCHES):
        text, k, mode = gen.make_search(rng, live_texts, slot)
        searcher.search(text, k=k, mode=mode)
    recon.reconcile(spark, index_dir, gen.make_recon_batch(rng, 0, RECON_BATCH))


# -- verification ---------------------------------------------------------


def _sample(rng, items: list, n: int) -> list:
    if len(items) <= n:
        return items
    return [items[i] for i in sorted(rng.choice(len(items), size=n, replace=False))]


def verify_exact(oracle: check.Oracle, log: list, seed: int, tag: str) -> tuple[int, list[str]]:
    """Check a seeded sample of logged reads against the oracle; returns
    (wrong operations, messages)."""
    rng = gen.rng_for(seed, f"verify-{tag}")
    searches = [e for e in log if e[0] == "search"]
    recon_qs = [
        (i, qid) for i, e in enumerate(log) if e[0] == "reconcile" for qid in e[2]
    ]
    wrong_ops: set[int] = set()
    msgs = []
    for e in _sample(rng, searches, VERIFY_SEARCHES):
        text, k, mode = e[2]
        bad = check.compare(e[3], oracle.search(text, k, mode))
        if bad:
            wrong_ops.add(id(e))
            msgs.append(f"search {mode} {text!r} k={k}: {bad}")
    for i, qid in _sample(rng, recon_qs, VERIFY_RECON_QUERIES):
        batch, result = log[i][2], log[i][3]
        q = batch[qid]
        want = oracle.reconcile(q["query"], int(q["limit"]), check.recon_lang(q))
        bad = check.compare(check.recon_hits(result, qid), want)
        if bad:
            wrong_ops.add(id(log[i]))
            msgs.append(f"reconcile {q!r}: {bad}")
    return len(wrong_ops), msgs


def verify_bulk(oracle: check.Oracle, queries: pd.DataFrame, rows: list, seed: int) -> list[str]:
    """A seeded sample of the batch's answers against the oracle, and the
    batch's postings volume over the driver budget (so it took the
    distributed route); returns mismatch messages."""
    got: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append((int(r["doc_id"]), float(r["score"])))
    msgs = []
    volume = oracle.postings_volume(queries["text"])
    if volume <= DRIVER_BUDGET:
        msgs.append(f"bulk batch holds {volume} postings, within the {DRIVER_BUDGET} driver budget")
    rng = gen.rng_for(seed, "verify-bulk")
    for q in _sample(rng, list(queries.itertuples(index=False)), VERIFY_BULK):
        bad = check.compare(got.get(q.qid, []), oracle.search(q.text, int(q.k), q.mode))
        if bad:
            msgs.append(f"bulk {q.text!r} k={q.k}: {bad}")
    return msgs


def verify_not_stale(log: list, docs_at: dict, live_at: dict) -> tuple[int, list[str]]:
    """Pre-vacuum reads: no hit may be a superseded version of a page."""
    from find_that_charity_spark.functions.analyzer import analyze, analyze_name

    wrong, msgs = 0, []
    for kind, phase, inp, out in log:
        docs, live = docs_at[phase], live_at[phase]
        if kind == "search":
            latest = live.set_index("url")["warc_ts"]
            d = docs.set_index("doc_id")
            bad = [
                doc for doc, _ in out
                if doc not in d.index or d.at[doc, "warc_ts"] < latest.get(d.at[doc, "url"], pd.Timestamp.max)
            ]
            if bad:
                wrong += 1
                msgs.append(f"search {inp!r}: superseded doc ids {bad[:5]}")
            continue
        text_of = dict(zip(live["url"], live["text"]))
        lang_of = dict(zip(live["url"], live["lang"]))
        op_bad = []
        for qid, q in inp.items():
            hits = check.recon_hits(out, qid)
            lang = check.recon_lang(q)
            terms = [set(analyze(text_of.get(u, ""))) for u, _ in hits]
            n_stale = check.stale_hits(terms, set(analyze_name(q["query"])))
            off_lang = [u for u, _ in hits if lang is not None and lang_of.get(u) != lang]
            if n_stale or off_lang:
                op_bad.append(f"{q['query']!r}: {n_stale} stale, {len(off_lang)} off-filter")
        if op_bad:
            wrong += 1
            msgs.append("reconcile " + "; ".join(op_bad[:3]))
    return wrong, msgs


def check_docs_table(docs: pd.DataFrame, live: pd.DataFrame) -> list[str]:
    msgs = []
    if not docs["url"].is_unique:
        msgs.append("docs table holds duplicate urls")
    if set(docs["url"]) != set(live["url"]):
        msgs.append(
            f"docs table urls differ from the live corpus ({len(docs)} rows vs {len(live)} live)"
        )
    return msgs


# -- workloads ------------------------------------------------------------


def interactive(run: Run) -> dict:
    """Warm reconciliation service: rounds of searches and one reconcile
    batch; a traced run then sends one re-match batch."""
    from find_that_charity_spark.operators import build, query

    spark, seed = run.spark, run.seed
    t0 = time.perf_counter()
    pages = gen.make_corpus(INTERACTIVE_DOCS, seed)
    live = gen.live_view(pages)
    src, idx = f"{run.work}/pages", f"{run.work}/index"
    write_pages(pages, src)
    run.trace_on()
    info = run.op("build_index", build.build_index, spark, src, idx, build_config())
    searcher = query.IndexSearcher(spark, idx)
    run.trace_off()
    live_texts = live["text"].tolist()
    _warm_up(spark, searcher, idx, seed, live_texts)
    setup = time.perf_counter() - t0

    rng = gen.rng_for(seed, "client")
    log: list = []
    _read_loop(run, searcher, idx, rng, live_texts, log, 0, run.seconds,
               INTERACTIVE_ROUNDS)
    searcher.close()
    rss = run.rss_mb()
    bulk = _bulk(run, idx) if run.traced else None

    # verification: outside every timed region
    docs = read_docs(idx)
    msgs = check_docs_table(docs, live)
    oracle = check.Oracle(live, docs)
    wrong, more = verify_exact(oracle, log, seed, "interactive")
    bulk_msgs = verify_bulk(oracle, *bulk, seed) if bulk else []
    text_bytes = sum(len(t.encode("utf-8")) for t in live["text"])
    return {
        "setup": setup,
        "rss_mb": rss,
        "wrong": wrong + len(msgs) + bool(bulk_msgs),
        "messages": msgs + more + bulk_msgs,
        "bulk_queries": len(bulk[0]) if bulk else 0,
        "docs_written": len(live),
        "write_wall": run.walls["build_index"],
        "index_bytes_per_text_byte": dir_bytes(idx) / text_bytes,
        "index_dir": idx,
        "build_info": info,
        "chunks": count_chunks(idx),
    }


def lifecycle(run: Run) -> dict:
    """Index operator: build, re-crawl rounds with reads between them,
    then compaction and vacuum, then reads checked against the oracle."""
    from find_that_charity_spark.operators import build, query, vacuum
    from find_that_charity_spark.streaming import incremental

    spark, seed = run.spark, run.seed
    t0 = time.perf_counter()
    pages = gen.make_corpus(LIFECYCLE_DOCS, seed)
    lives = [gen.live_view(pages)]
    rounds = []
    for r in range(ROUNDS):
        rounds.append(gen.make_round(lives[-1], seed, r, ROUND_UPDATED, ROUND_NEW))
        lives.append(gen.apply_round(lives[-1], rounds[-1]))
    src, idx = f"{run.work}/pages", f"{run.work}/index"
    incoming = f"{run.work}/incoming"
    write_pages(pages, src)
    staged = []
    for r, rp in enumerate(rounds):
        write_pages(rp, f"{run.work}/staged{r}")
        staged.append(f"{run.work}/staged{r}")
    os.makedirs(incoming)
    setup = time.perf_counter() - t0

    rng = gen.rng_for(seed, "client")
    log: list = []
    docs_at: dict[int, pd.DataFrame] = {}
    # a read phase after each round and one after vacuum
    phase_s = run.seconds / (ROUNDS + 1)

    run.trace_on()
    info = run.op("build_index", build.build_index, spark, src, idx, build_config())
    run.trace_off()
    searcher = query.IndexSearcher(spark, idx)
    # not timed: compiles the read plans
    _warm_up(spark, searcher, idx, seed, lives[0]["text"].tolist())
    searcher.close()
    for r in range(ROUNDS):
        for f in os.listdir(staged[r]):
            if f.endswith(".parquet"):
                os.rename(f"{staged[r]}/{f}", f"{incoming}/round{r}-{f}")
        run.trace_on()
        run.op("ingest", incremental.incremental_refresh, spark, incoming, idx,
                num_buckets=NUM_BUCKETS)
        searcher = query.IndexSearcher(spark, idx)  # reopened: it pins tombstones
        run.trace_off()
        _reload(run, rng, idx, log, r + 1)
        _read_loop(run, searcher, idx, rng, lives[r + 1]["text"].tolist(), log, r + 1,
                   phase_s, LIFECYCLE_PHASE_ROUNDS)
        searcher.close()
        docs_at[r + 1] = read_docs(idx)
    chunks = count_chunks(idx)
    run.trace_on()
    run.op("compact", build.compact_stream_chunks, spark, idx)
    tombstones = len(read_tombstone_ids(idx))
    t_vac = time.time()
    run.op("vacuum", vacuum.vacuum_index, spark, idx)
    vacuum_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(idx) for f in files
        if os.path.getmtime(os.path.join(d, f)) >= t_vac
    )
    searcher = query.IndexSearcher(spark, idx)
    run.trace_off()
    _reload(run, rng, idx, log, ROUNDS + 1)
    final = lives[-1]
    _read_loop(run, searcher, idx, rng, final["text"].tolist(), log, ROUNDS + 1,
               phase_s, LIFECYCLE_PHASE_ROUNDS)
    searcher.close()
    rss = run.rss_mb()

    # verification: outside every timed region
    churn = [e for e in log if e[1] <= ROUNDS]
    after = [e for e in log if e[1] == ROUNDS + 1]
    wrong_a, msgs_a = verify_not_stale(churn, docs_at, {r: lives[r] for r in docs_at})
    docs = read_docs(idx)
    msgs = check_docs_table(docs, final)
    oracle = check.Oracle(final, docs)
    wrong_b, msgs_b = verify_exact(oracle, after, seed, "lifecycle")
    text_bytes = sum(len(t.encode("utf-8")) for t in final["text"])
    docs_written = len(lives[0]) + sum(len(rp) for rp in rounds)
    write_wall = sum(
        run.walls[k] for k in ("build_index", "ingest", "compact", "vacuum", "reload"))
    return {
        "setup": setup,
        "rss_mb": rss,
        "wrong": wrong_a + wrong_b + len(msgs),
        "messages": msgs + msgs_a + msgs_b,
        "docs_written": docs_written,
        "write_wall": write_wall,
        "index_bytes_per_text_byte": dir_bytes(idx) / text_bytes,
        "index_dir": idx,
        "build_info": info,
        "chunks": chunks,
        "ingested_docs": sum(len(rp) for rp in rounds),
        "tombstones": tombstones,
        "vacuum_bytes": vacuum_bytes,
    }


WORKLOADS = {"interactive": interactive, "lifecycle": lifecycle}


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
