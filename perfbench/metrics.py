"""Turn one run's measurements into the metrics named in BENCHMARK.json."""

from __future__ import annotations

import json
import os
import statistics

import numpy as np


# a tail is never below this percentile, however few the samples
TAIL_FLOOR = 75.0


def tail(ms: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, but at least p75 (fewer than 40 samples leave fewer
    than ten beyond it). Needs at least 8 samples."""
    n = len(ms)
    if n < 8:
        raise ValueError(f"{n} samples are too few for a tail")
    p = max(TAIL_FLOOR, 100.0 * (n - 10) / n)
    return p, float(np.percentile(ms, p, method="lower"))


def _select(spec: dict, section: str, values: dict) -> dict:
    """``values`` as printed metrics; its names must be exactly the
    section's names in BENCHMARK.json."""
    names = [m["name"] for m in spec[section]]
    if set(values) != set(names):
        raise ValueError(
            f"{section}: measured {sorted(set(values) ^ set(names))} disagree with BENCHMARK.json"
        )
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec[section]}


def end_to_end(run, res: dict, spec: dict) -> dict:
    lat = run.lat
    values = {
        "search_p50_ms": statistics.median(lat["search"]),
        "search_tail_ms": tail(lat["search"])[1],
        "recon_p50_ms": statistics.median(lat["reconcile"]),
        "recon_tail_ms": tail(lat["reconcile"])[1],
        "index_docs_per_s": res["docs_written"] / res["write_wall"],
        "index_bytes_per_text_byte": res["index_bytes_per_text_byte"],
        "driver_peak_rss_mb": res["rss_mb"],
        "setup_s": res["setup"],
    }
    return _select(spec, "end_to_end", values)


def _manifest_walls(index_dir: str) -> dict[str, float]:
    walls: dict[str, float] = {}
    path = os.path.join(index_dir, "manifest.jsonl")
    if not os.path.exists(path):
        return walls
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            if "wall_s" in e:
                walls[e["stage"]] = walls.get(e["stage"], 0.0) + float(e["wall_s"])
    return walls


def per_layer(run, res: dict, spec: dict) -> dict:
    """Read-path layers are means per traced read call (counted over the
    read calls' request ids only); write-path layers and route counts are
    totals over the run's fixed work; Spark counts are means per traced
    call of any kind."""
    tr = run.tracer
    reads = run.read_reqs
    n_read = max(1, len(reads))
    n_ops = max(1, run.collector.n_ops)

    def per_read(key: str) -> float:
        return tr.count(key, reads) / n_read

    def span_read(name: str, parents=None) -> float:
        return tr.total_ms(name, parents, reads) / n_read

    recon_self = span_read("reconcile") - span_read("run_queries", ("reconcile",))
    # results turned into rows and frames: the url join-back and local
    # relation of the driver route, and the rows a reconcile collects
    materialize = (
        span_read("create_df", ("score_driver", "run_queries"))
        + span_read("collect", ("score_driver", "run_queries", "reconcile"))
    )
    walls = _manifest_walls(res["index_dir"])
    ingest_total = tr.total_ms("incremental_refresh") / 1000.0
    refresh = tr.total_ms("refresh_stats", ("incremental_refresh",)) / 1000.0
    spark_tot = run.collector.totals()
    blocks_total = tr.count("bmw.blocks_total", reads)
    windows_total = tr.count("bmw.windows_total", reads)
    tl, ul = run.traced_lat["search"], run.untraced_lat["search"]
    overhead = (statistics.median(tl) / statistics.median(ul) - 1.0) if tl and ul else 0.0
    values = {
        "analyzer.calls": per_read("analyzer.calls"),
        "analyzer.ms": per_read("analyzer.ms"),
        "query.probe.ms": span_read("probe"),
        "query.terms_matched": per_read("query.terms_matched"),
        "query.postings_volume": per_read("query.postings_volume"),
        "query.fetch.ms": span_read("fetch"),
        "query.segment_rows": per_read("query.segment_rows"),
        "query.fetch_bytes": per_read("query.fetch_bytes"),
        "query.score.ms": span_read("scorer"),
        "codec.blocks_decoded": per_read("codec.blocks_decoded"),
        "query.bmw.blocks_skipped_ratio": (
            1.0 - tr.count("bmw.blocks_decoded", reads) / blocks_total if blocks_total else 0.0
        ),
        "query.bmw.windows_skipped_ratio": (
            tr.count("bmw.windows_skipped", reads) / windows_total if windows_total else 0.0
        ),
        "query.route.driver": tr.count("route.driver"),
        "query.route.distributed": tr.count("route.distributed"),
        "bulk.queries_per_s": (
            res["bulk_queries"] / run.walls["bulk"] if run.walls.get("bulk") else 0.0
        ),
        "query.materialize.ms": materialize,
        "query.freshness.ms": per_read("freshness.ms"),
        "query.files_walked": per_read("freshness.files"),
        "recon.self_ms": recon_self,
        "recon.excluded_docs": per_read("recon.excluded_docs"),
        "build.tokenized_s": walls.get("tokenized", 0.0),
        "build.docs_s": walls.get("docs", 0.0),
        "build.segments_s": walls.get("segments", 0.0),
        "build.dictionary_s": walls.get("dictionary", 0.0),
        "build.compact_s": walls.get("compact", 0.0),
        "build.fuzzy_keys_s": walls.get("fuzzy_keys", 0.0),
        "build.head_terms": float(res.get("build_info", {}).get("n_head_terms", 0)),
        "ingest.append_s": ingest_total - refresh,
        "ingest.refresh_stats_s": refresh,
        "ingest.docs_per_s": (
            res.get("ingested_docs", 0) / run.walls["ingest"] if run.walls.get("ingest") else 0.0
        ),
        "ingest.chunks": float(res.get("chunks", 0)),
        "ingest.tombstones": float(res.get("tombstones", 0)),
        "manifest.marks": tr.count("manifest.marks"),
        "manifest.mark_ms": tr.count("manifest.mark_ms"),
        "manifest.bytes_written": tr.count("manifest.bytes_written"),
        "compact.s": tr.total_ms("compact") / 1000.0,
        "compact.chunks_folded": tr.count("compact.chunks_folded"),
        "vacuum.s": tr.total_ms("vacuum") / 1000.0,
        "vacuum.bytes_rewritten": float(res.get("vacuum_bytes", 0)),
        "trace.overhead_share": overhead,
        "host.cal_py_s": res["calibration"]["py_1thread_s"],
        "host.cal_jvm_s": res["calibration"]["jvm_allcore_s"],
    }
    for f in spark_tot:
        values[f"spark.{f}"] = spark_tot[f] / n_ops
    return _select(spec, "per_layer", values)
