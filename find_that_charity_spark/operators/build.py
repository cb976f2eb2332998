"""Index build pipeline (SURVEY.md §2C, C1-C14).

Dataflow (all DataFrame; Python only at Arrow pandas-UDF boundaries):

    read_corpus -> dedup latest per url (C3) -> extract text (C2)
      -> tokenize (C5, Arrow pandas UDF) -> deterministic doc_ids (C4)
      -> docs table + corpus stats (C6)
      -> posexplode -> tf per (term, doc) (C7, map-side partial agg)
      -> term bucket + head-term salt (C8, explicit skew split)
      -> applyInPandas encode segments (C9, numpy delta+varint+blockmax)
      -> partitioned segment sink (C12) [chunked jobs -> resumable, C13]
      -> compaction merge of small multi-segment terms (C10)
      -> dictionary + manifest finalize (C11, C14)

Skew handling (BASELINE.json north_rule: "salted repartition-by-term with
explicit skew splitting for head terms"): a first aggregation counts
postings per term; terms above ``max_postings_per_segment`` are split into
S_t = ceil(count/max) contiguous doc_id ranges ("salts"). Each (bucket,
salt) group therefore holds a bounded pandas DataFrame — AQE cannot see
skew inside FlatMapGroupsInPandas, so this is done explicitly. Head terms
legitimately remain sharded across segments (disjoint doc ranges, like
Lucene's size-capped tiered merges); the query side treats a term's
segments as one logical docID-sorted list. Compaction (C10) re-merges
terms whose shards are small, so the common case is 1 segment/term.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from find_that_charity_spark.functions.analyzer import tokenize_udf
from find_that_charity_spark.functions.codec import decode_postings, encode_postings
from find_that_charity_spark.operators.doc_ids import dedup_and_assign_ids
from find_that_charity_spark.plans.checkpoint import Manifest, write_format
from find_that_charity_spark.sources.corpus import read_corpus

BLOCKMAX_TYPE = ArrayType(
    StructType(
        [
            StructField("last_doc", LongType()),
            StructField("max_tf", IntegerType()),
            StructField("min_dl", IntegerType()),
            StructField("offset", IntegerType()),
            StructField("n", IntegerType()),
        ]
    )
)

SEGMENT_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("bucket", IntegerType()),
        StructField("salt", IntegerType()),
        StructField("seg_id", StringType()),
        StructField("df", IntegerType()),
        StructField("cf", LongType()),
        StructField("min_doc", LongType()),
        StructField("max_doc", LongType()),
        StructField("has_positions", BooleanType()),
        StructField("postings", BinaryType()),
        StructField("blockmax", BLOCKMAX_TYPE),
    ]
)


@dataclass
class BuildConfig:
    num_buckets: int = 32          # term buckets (segment partition key)
    id_buckets: int = 256          # doc_id assignment hash buckets
    max_postings_per_segment: int = 1_000_000  # head-term split threshold
    segment_chunks: int = 4        # resumable sink jobs (1 = single commit)
    compact: bool = True
    head_sample_tokens: int = 5_000_000  # doc-sample size for head detection
    positions: bool = False        # store token positions (phrase queries)
    fuzzy_keys: bool = True        # materialize the deletion-key index (D2)
    aqe_coalesce: bool = False     # AQE post-shuffle coalescing during build
    # (off by default: corpus-sized shuffles got narrowed to ~1.2 task
    # waves/core, idling stage tails — BENCH/BASELINE.md; turn on for
    # toy corpora where per-task overhead dominates)
    block_codec: str = "varint"
    # Posting-block stream codec: "varint" (delta+varint, default) or
    # "pfor" (PForDelta/NewPFD — functions/pfor.py), the two encodings
    # BASELINE.json sanctions for B6. Blobs are self-describing (codec id
    # in byte 0), so readers and compaction handle mixed-codec stores —
    # e.g. a varint base index receiving pfor streamed appends.


# packed-shuffle layout bounds (tf_table / _encode_group): token rows
# carry docdl = doc_id << _DL_BITS | dl and gkey = bucket << 32 | salt
_DL_BITS = 22


def check_pack_bounds(max_dl: int, n_docs: int) -> None:
    """Refuse to build postings that would overflow the packed layout —
    loud failure instead of silently corrupted doc ids. 2^22 tokens/doc
    and 2^41 docs are far above the web-corpus regime (Lucene's own
    per-document limits are comparable)."""
    if int(max_dl or 0) >= (1 << _DL_BITS):
        raise ValueError(
            f"document of {max_dl} tokens exceeds the "
            f"2^{_DL_BITS}-token packed-shuffle limit"
        )
    if int(n_docs or 0) > (1 << (63 - _DL_BITS)):
        raise ValueError("corpus exceeds the doc_id packed-shuffle limit")


def _extract_text() -> "F.Column":
    """C2: prefer the extracted ``text`` column; fall back to a trivial
    html-strip for rows where only ``html`` is present. Native expression
    (the fixture html is a plain wrapper); a real boilerplate extractor
    would be an Arrow pandas UDF here — the pinned-vs-vectorized
    byte-identity test covers the tokenizer boundary either way."""
    stripped = F.regexp_replace(F.decode(F.col("html"), "utf-8"), "<[^>]*>", "")
    return F.coalesce(F.col("text"), stripped)


def _encode_group(positions: bool = False, codec: str = "varint"):
    """C9: per-(bucket, salt) group of TOKEN-level rows -> one segment row
    per term.

    Input rows are raw token instances (term, doc_id, dl[, pos]) — the tf
    aggregation happens HERE in numpy (run-length over the sorted group)
    instead of in a dedicated groupBy stage, which removes one full
    shuffle+sort of the corpus from the build (map-side combine saved
    ~35% of bytes but cost a whole extra exchange)."""

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        # rows arrive PACKED (docdl = doc_id << 22 | dl, gkey = bucket <<
        # 32 | salt) — see tf_table(): 3 shuffled fields instead of 5
        # roughly halves the UnsafeRow bytes churned through the corpus
        # shuffle sort. Sorting by docdl == sorting by doc_id (dl is a
        # function of the doc), so postings order — and therefore segment
        # bytes — are identical to the unpacked layout.
        sort_cols = ["term", "docdl", "pos"] if positions else ["term", "docdl"]
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        gkey = int(pdf["gkey"].iloc[0])
        bucket, salt = gkey >> 32, gkey & 0xFFFFFFFF
        seg_id = f"b{bucket:05d}s{salt:05d}"
        terms = pdf["term"].to_numpy()
        docdl = pdf["docdl"].to_numpy(dtype=np.int64)
        docs_all = docdl >> _DL_BITS
        dls_all = docdl & ((1 << _DL_BITS) - 1)
        pos_all = pdf["pos"].to_numpy(dtype=np.int64) if positions else None
        # run-length over (term, doc): starts where term or doc changes
        t_change = np.concatenate([[True], terms[1:] != terms[:-1]])
        d_change = np.concatenate([[True], docs_all[1:] != docs_all[:-1]])
        run_starts = np.flatnonzero(t_change | d_change)
        run_ends = np.concatenate([run_starts[1:], [len(terms)]])
        run_tfs = (run_ends - run_starts).astype(np.int64)
        run_docs = docs_all[run_starts]
        run_dls = dls_all[run_starts]
        run_terms = terms[run_starts]
        # per-term slices over the runs
        term_change = np.flatnonzero(
            np.concatenate([[True], run_terms[1:] != run_terms[:-1]])
        )
        term_bounds = np.concatenate([term_change, [len(run_terms)]])
        token_bounds = np.concatenate([run_starts, [len(terms)]])
        out = []
        for i in range(len(term_change)):
            s, e = term_bounds[i], term_bounds[i + 1]
            pf = (
                pos_all[token_bounds[s] : token_bounds[e]] if positions else None
            )
            blob, bm = encode_postings(
                run_docs[s:e], run_tfs[s:e], run_dls[s:e], positions_flat=pf,
                codec=codec,
            )
            out.append(
                (
                    run_terms[s],
                    bucket,
                    salt,
                    seg_id,
                    int(e - s),
                    int(run_tfs[s:e].sum()),
                    int(run_docs[s]),
                    int(run_docs[e - 1]),
                    positions,
                    blob,
                    [
                        {"last_doc": ld, "max_tf": mt, "min_dl": md, "offset": off, "n": n}
                        for ld, mt, md, off, n in bm
                    ],
                )
            )
        return pd.DataFrame(out, columns=SEGMENT_SCHEMA.fieldNames())

    return encode


def _merge_group(codec: str = "varint"):
    """C10: merge one term's sub-segments (disjoint doc ranges) into one.

    Sub-segments are decoded, concatenated in min_doc order, re-encoded.
    Only invoked for terms whose total postings fit one segment."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 1:
            return pdf[SEGMENT_SCHEMA.fieldNames()]
        pdf = pdf.sort_values("min_doc")
        # positions survive the merge only if every sub-segment carries them
        with_pos = bool(pdf["has_positions"].all())
        docs_l, tfs_l, dls_l, pos_l = [], [], [], []
        for _, row in pdf.iterrows():
            bm = [
                (b["last_doc"], b["max_tf"], b["min_dl"], b["offset"], b["n"])
                for b in row["blockmax"]
            ]
            out = decode_postings(row["postings"], bm, with_positions=with_pos)
            docs_l.append(out[0])
            tfs_l.append(out[1])
            dls_l.append(out[2])
            if with_pos:
                pos_l.append(out[3])
        docs = np.concatenate(docs_l)
        tfs = np.concatenate(tfs_l)
        dls = np.concatenate(dls_l)
        pf = np.concatenate(pos_l) if with_pos else None
        blob, bm = encode_postings(docs, tfs, dls, positions_flat=pf, codec=codec)
        first = pdf.iloc[0]
        return pd.DataFrame(
            [
                (
                    first["term"],
                    int(first["bucket"]),
                    0,
                    f"b{int(first['bucket']):05d}m",
                    int(len(docs)),
                    int(tfs.sum()),
                    int(docs[0]),
                    int(docs[-1]),
                    with_pos,
                    blob,
                    [
                        {"last_doc": ld, "max_tf": mt, "min_dl": md, "offset": off, "n": n}
                        for ld, mt, md, off, n in bm
                    ],
                )
            ],
            columns=SEGMENT_SCHEMA.fieldNames(),
        )

    return merge


def compact_segments(
    spark: SparkSession,
    index_dir: str,
    max_postings_per_segment: int,
    block_codec: str = "varint",
    mergeable_df: DataFrame | None = None,
) -> int:
    """C10 — Lucene-merge analog, standalone maintenance operation.

    Terms whose sub-segments (from salting or streaming appends) together
    fit one segment are decoded, concatenated in doc order and re-encoded;
    everything else is untouched. When nothing is mergeable (the common
    case right after a batch build, where multi-segment terms exceed the
    cap by construction) this is metadata-only — no copy of the segment
    store. Returns the number of terms consolidated.

    ``mergeable_df`` (term, bucket), when given, replaces the discovery
    scan: the caller already knows per-term (n_segments, df) — the build
    passes a filter of the freshly written dictionary, so the no-merge
    decision costs one dictionary-sized job instead of a groupBy over
    the whole segment store (whose file count — and therefore scan cost
    — grows with build parallelism; the discovery scan was the one build
    stage measured getting SLOWER from local[2] to local[8]).

    The final swap is crash-safe: the old store is renamed aside before
    the new one moves in, so every intermediate state is recoverable
    (``_recover_segment_swap``) and a rerun of ``build_index`` never
    finds the segments directory missing."""
    _recover_segment_swap(index_dir)
    raw = spark.read.option("basePath", f"{index_dir}/segments").parquet(
        f"{index_dir}/segments/chunk=*"
    ).drop("chunk")
    if mergeable_df is not None:
        merge_rows = mergeable_df.select("term", "bucket").collect()
        n_merged = len(merge_rows)
        mergeable = None
        if n_merged:
            mergeable = spark.createDataFrame(
                [(r["term"],) for r in merge_rows], "term string"
            )
    else:
        seg_sizes = raw.groupBy("term").agg(
            F.count(F.lit(1)).alias("n_seg"), F.sum("df").alias("total_df")
        )
        mergeable = seg_sizes.where(
            (F.col("n_seg") > 1) & (F.col("total_df") <= max_postings_per_segment)
        ).select("term")
        n_merged = mergeable.count()
    if n_merged > 0:
        to_merge = raw.join(F.broadcast(mergeable), "term")
        untouched = raw.join(F.broadcast(mergeable), "term", "left_anti")
        merged = to_merge.groupBy("term").applyInPandas(
            _merge_group(codec=block_codec), SEGMENT_SCHEMA
        )
        final = untouched.select(SEGMENT_SCHEMA.fieldNames()).unionByName(
            merged.select(SEGMENT_SCHEMA.fieldNames())
        )
        # keep the uniform segments/chunk=*/bucket=* layout so later
        # streaming appends (new chunk dirs) discover consistently
        tmp = f"{index_dir}/segments_compacted"
        final.write.mode("overwrite").partitionBy("bucket").parquet(f"{tmp}/chunk=0")
        # crash-safe swap: old aside -> new in -> drop old. A crash at any
        # point leaves a state _recover_segment_swap can finish.
        backup = f"{index_dir}/segments_old"
        os.rename(f"{index_dir}/segments", backup)
        os.rename(tmp, f"{index_dir}/segments")
        shutil.rmtree(backup)
    return n_merged


def _recover_segment_swap(index_dir: str) -> None:
    """Finish an interrupted compaction swap, preferring the newest
    complete store: segments if present, else the written-but-unswapped
    segments_compacted, else the segments_old backup."""
    seg = f"{index_dir}/segments"
    tmp = f"{index_dir}/segments_compacted"
    backup = f"{index_dir}/segments_old"
    if not os.path.exists(seg):
        if os.path.exists(tmp):
            os.rename(tmp, seg)  # crashed between the two renames
        elif os.path.exists(backup):
            os.rename(backup, seg)  # defensive: tmp lost, restore old
    for leftover in (tmp, backup):
        if os.path.exists(seg) and os.path.exists(leftover):
            shutil.rmtree(leftover)


def _link_tree(src: str, dst: str) -> None:
    """Replicate a directory tree with hard links — O(#files) metadata
    ops, zero data bytes moved (parquet files are write-once, so sharing
    the inode is safe). Falls back to a copy on filesystems that refuse
    cross-link (object-store mounts)."""
    for dirpath, _dirs, files in os.walk(src):
        rel = os.path.relpath(dirpath, src)
        out_dir = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out_dir, exist_ok=True)
        for fn in files:
            s = os.path.join(dirpath, fn)
            d = os.path.join(out_dir, fn)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def compact_stream_chunks(
    spark: SparkSession,
    index_dir: str,
    max_postings_per_segment: int = 1_000_000,
    block_codec: str = "varint",
    min_chunks: int = 2,
) -> int:
    """Tiered MINOR compaction — the Lucene TieredMergePolicy analog for
    streaming appends.

    ``compact_segments`` (C10) is a MAJOR compaction: when any term
    merges it rewrites the whole store into one chunk — O(index) bytes,
    unacceptable as routine maintenance at 100 TB. Streaming appends
    (`incremental_refresh`) add one ``chunk=stream_*`` dir per epoch, so
    an always-on ingest fragments the store without bound: every query's
    segment scan lists and prunes ever more files, and hot terms spread
    over one tiny posting list per epoch.

    This folds ONLY the minor chunks — ``chunk=stream_*`` plus any
    ``chunk=tier*`` produced by previous folds — into a single new
    ``chunk=tier<g>``: per-term sub-segments that fit one segment are
    decoded/concatenated/re-encoded (positional- and codec-aware via
    ``_merge_group``), the rest pass through. Base chunks cross into the
    new store as HARD LINKS (``_link_tree``): the swap costs O(streamed
    bytes) + O(#base files) metadata ops, never O(index bytes). Crash
    safety reuses the exact ``segments_compacted``/``segments_old``
    rename protocol of C10, so ``_recover_segment_swap`` finishes any
    interrupted fold.

    After a fold the streamed units' chunk dirs are gone; the next
    ``refresh_stats`` detects that, falls back to one full (column-
    pruned, blob-free) dictionary recompute and re-snapshots
    ``dictionary_base``, making later refreshes incremental again. The
    dictionary's df/cf are unchanged by the fold (merge preserves both),
    so queries between the fold and that refresh stay exact.

    Returns the number of minor chunks folded (0 = below ``min_chunks``,
    nothing touched)."""
    _recover_segment_swap(index_dir)
    seg_root = f"{index_dir}/segments"
    chunks = [d for d in os.listdir(seg_root) if d.startswith("chunk=")]
    minor = sorted(
        d for d in chunks
        if d.startswith("chunk=stream_") or d.startswith("chunk=tier")
    )
    if len(minor) < min_chunks:
        return 0
    base_chunks = sorted(set(chunks) - set(minor))
    gen = 1 + max(
        (int(d[len("chunk=tier"):]) for d in minor if d.startswith("chunk=tier")),
        default=0,
    )
    raw = (
        spark.read.option("basePath", seg_root)
        .parquet(*[f"{seg_root}/{d}" for d in minor])
        .drop("chunk")
    )
    seg_sizes = raw.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_seg"), F.sum("df").alias("total_df")
    )
    mergeable = seg_sizes.where(
        (F.col("n_seg") > 1) & (F.col("total_df") <= max_postings_per_segment)
    ).select("term")
    to_merge = raw.join(F.broadcast(mergeable), "term")
    untouched = raw.join(F.broadcast(mergeable), "term", "left_anti")
    merged = to_merge.groupBy("term").applyInPandas(
        _merge_group(codec=block_codec), SEGMENT_SCHEMA
    )
    final = untouched.select(SEGMENT_SCHEMA.fieldNames()).unionByName(
        merged.select(SEGMENT_SCHEMA.fieldNames())
    )
    tmp = f"{index_dir}/segments_compacted"
    final.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{tmp}/chunk=tier{gen}"
    )
    for d in base_chunks:
        _link_tree(f"{seg_root}/{d}", f"{tmp}/{d}")
    backup = f"{index_dir}/segments_old"
    os.rename(seg_root, backup)
    os.rename(tmp, seg_root)
    shutil.rmtree(backup)
    return len(minor)


def build_index(
    spark: SparkSession,
    corpus_source: str | DataFrame,
    index_dir: str,
    config: BuildConfig | None = None,
) -> dict:
    """Build the full inverted index under ``index_dir``. Resumable: rerun
    after interruption and completed units are skipped (manifest).

    ``corpus_source``: Iceberg table name / parquet path, or a prepared
    DataFrame in the web_pages schema."""
    cfg = config or BuildConfig()
    write_format(index_dir)  # stamp (or verify) the on-disk format version
    mf = Manifest(index_dir)
    metrics: dict = {}

    if isinstance(corpus_source, DataFrame):
        corpus = corpus_source
        corpus_source_name = "<dataframe>"
    else:
        corpus = read_corpus(spark, corpus_source)
        corpus_source_name = corpus_source

    # Every build shuffle is substantial (corpus-sized or dictionary-sized),
    # so AQE's post-shuffle coalescing only narrows stages to ~1.2 task
    # waves per core and leaves stage tails idle (measured: ~25% of build
    # wall at 8 cores). Scope the override to the build; queries keep AQE
    # coalescing (their exchanges ARE small).
    _coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    _coalesce_prev = spark.conf.get(_coalesce_key, "true")
    spark.conf.set(_coalesce_key, str(cfg.aqe_coalesce).lower())
    try:
        return _build_index_body(spark, corpus, corpus_source_name, index_dir, cfg, mf, metrics)
    finally:
        spark.conf.set(_coalesce_key, _coalesce_prev)


def _build_index_body(
    spark: SparkSession,
    corpus: DataFrame,
    corpus_source_name: str,
    index_dir: str,
    cfg: BuildConfig,
    mf: Manifest,
    metrics: dict,
) -> dict:

    # ---- stage: tokenized (C2-C5) ----------------------------------------
    # One pass over the corpus: dedup -> extract -> deterministic ids ->
    # tokenize -> write a TRANSIENT tokenized table. Everything downstream
    # (docs, stats, postings) is a column-pruned read of this table — the
    # expensive tokenizer UDF runs exactly once, nothing is cached in
    # executor memory, and resume gets tokens for free.
    if not mf.is_done("tokenized"):
        t0 = time.time()
        # drop html before the shuffle (it's usually the widest column);
        # extraction keeps only the text we index
        extracted = corpus.select(
            "url", "warc_ts", "lang", _extract_text().alias("text")
        )
        # fused dedup + deterministic ids: ONE full-width shuffle instead
        # of dedup-then-assign's two; its bucket-count job scans only url
        # (column pruning), and tokenization happens after, exactly once
        with_ids = dedup_and_assign_ids(extracted, num_buckets=cfg.id_buckets)
        (
            with_ids.select(
                "doc_id", "url", "warc_ts", "lang", tokenize_udf("text").alias("tokens")
            )
            .withColumn("doc_len", F.size("tokens").cast("int"))
            .write.mode("overwrite")
            .parquet(f"{index_dir}/tokenized")
        )
        mf.mark_done(
            "tokenized", wall_s=round(time.time() - t0, 3), input=corpus_source_name
        )

    tokenized = spark.read.parquet(f"{index_dir}/tokenized")

    # C8 pass 1: head-term detection from a seeded DOC SAMPLE — a head
    # term (postings > cap) is massively represented in any few-million-
    # token sample, so estimated counts find it reliably without a full
    # explode+shuffle pass. Split spans only shape group sizes
    # (correctness is unaffected), so estimation error just wiggles
    # segment boundaries. Runs in a CONCURRENT job thread overlapped with
    # the docs-table write (both need only the tokenized table) — the
    # sequential version left the cluster idle for the sample job's
    # duration between the docs and segments stages.
    need_segments = any(
        not mf.is_done("segments", str(c)) for c in range(cfg.segment_chunks)
    )
    head_out: dict = {}

    def _detect_heads(total_tokens: int) -> None:
        try:
            fraction = min(1.0, cfg.head_sample_tokens / max(1, total_tokens))
            sample = tokenized if fraction >= 1.0 else tokenized.sample(
                fraction=fraction, seed=42
            )
            est_counts = (
                sample.select("doc_id", F.explode("tokens").alias("term"))
                .groupBy("term")
                # postings = distinct docs per term (df), NOT token count
                .agg((F.countDistinct("doc_id") / fraction).alias("est"))
                .where(F.col("est") > cfg.max_postings_per_segment * 0.5)
                .collect()
            )
            head_out["rows"] = [
                r for r in est_counts
                if np.ceil(r["est"] / cfg.max_postings_per_segment) > 1
            ]
        except BaseException as exc:  # surfaced at join time
            head_out["err"] = exc

    head_thread = None

    # ---- stage: docs + stats (C6) ----------------------------------------
    if not mf.is_done("docs"):
        t0 = time.time()
        # stats first: one cheap column-pruned agg, after which the
        # head-detection job can run concurrently with the docs write
        stats_row = tokenized.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_len").cast("long").alias("total_len"),
            F.avg("doc_len").alias("avgdl"),
            F.max("doc_len").alias("max_dl"),
        ).collect()[0]
        check_pack_bounds(stats_row["max_dl"], stats_row["n_docs"])
        spark.createDataFrame([stats_row]).write.mode("overwrite").parquet(
            f"{index_dir}/corpus_stats"
        )
        if need_segments:
            import threading

            head_thread = threading.Thread(
                target=_detect_heads, args=(int(stats_row["total_len"] or 0),)
            )
            head_thread.start()
        # docs partitioned by url hash bucket: streaming appends probe
        # "is this url already indexed?" against ONLY the batch's buckets
        # (partition pruning), so the per-batch anti-join reads O(batch)
        # partitions instead of the whole docs table (VERDICT r02 item 6)
        # repartition on the partition column before the partitioned write:
        # without it every write task emits a file per bucket it sees
        # (tasks x id_buckets files — measured 2048 files at 32 tasks,
        # with the driver-side commit cost growing WITH parallelism);
        # with it the sink is exactly one file per bucket at any core
        # count, and the slim docs relation is a cheap shuffle.
        tokenized.select("doc_id", "url", "warc_ts", "lang", "doc_len").withColumn(
            "url_bucket",
            F.pmod(F.xxhash64("url"), F.lit(cfg.id_buckets)).cast("int"),
        ).repartition(cfg.id_buckets, "url_bucket").write.mode(
            "overwrite"
        ).partitionBy("url_bucket").parquet(
            f"{index_dir}/docs"
        )
        mf.mark_done(
            "docs",
            n_docs=stats_row["n_docs"],
            total_len=stats_row["total_len"],
            url_buckets=cfg.id_buckets,
            wall_s=round(time.time() - t0, 3),
        )

    stats = spark.read.parquet(f"{index_dir}/corpus_stats").collect()[0]
    avgdl = float(stats["avgdl"])
    n_docs = int(stats["n_docs"])
    metrics["n_docs"] = n_docs
    metrics["avgdl"] = avgdl
    if need_segments and head_thread is None:  # resume path: docs was done
        _detect_heads(int(stats["total_len"] or 0))

    # ---- stage: segments (C7-C9, C12) ----------------------------------
    def tf_table() -> DataFrame:
        # column-pruned read of the tokenized table -> TOKEN-level rows;
        # tf aggregation happens inside the encode group (run-length over
        # the sorted pandas group), so the build has exactly ONE corpus
        # shuffle here: the repartition to gkey = (bucket, salt).
        # (doc_id, dl) are packed into one long BEFORE the explode (one
        # op per doc, not per token): the token rows carried through the
        # corpus shuffle shrink from 5 UnsafeRow fields to 3, which cuts
        # the shuffle-sort byte churn ~40% — measured as the bandwidth-
        # bound piece of the build (docs/SCALE.md). doc_id < 2^41 and
        # dl < 2^22 by the _DL_LIMIT check in the docs stage.
        exploded = tokenized.select(
            F.shiftleft("doc_id", _DL_BITS)
            .bitwiseOR(F.col("doc_len").cast("long"))
            .alias("docdl"),
            F.posexplode("tokens").alias("pos", "term"),
        )
        if not cfg.positions:
            exploded = exploded.drop("pos")
        return exploded

    pending_chunks = [c for c in range(cfg.segment_chunks) if not mf.is_done("segments", str(c))]
    if pending_chunks:
        tf = None
        for chunk in pending_chunks:
            if tf is None:
                tf = tf_table().withColumn(
                    "bucket", F.pmod(F.xxhash64("term"), F.lit(cfg.num_buckets)).cast("int")
                )
                if head_thread is not None:
                    head_thread.join()
                if "err" in head_out:
                    raise head_out["err"]
                head_rows = head_out.get("rows", [])
                if head_rows:
                    spans = [
                        (
                            r["term"],
                            int(np.ceil(n_docs / np.ceil(r["est"] / cfg.max_postings_per_segment))),
                        )
                        for r in head_rows
                    ]
                    spans_df = spark.createDataFrame(spans, "term string, span long")
                    tf = tf.join(F.broadcast(spans_df), "term", "left").withColumn(
                        "salt",
                        F.coalesce(
                            F.floor(F.shiftright("docdl", _DL_BITS) / F.col("span")),
                            F.lit(0),
                        ).cast("long"),
                    ).drop("span")
                else:
                    tf = tf.withColumn("salt", F.lit(0).cast("long"))
                # single packed group key: repartition + groupBy hash one
                # long instead of two ints (see _encode_group)
                tf = tf.withColumn(
                    "gkey",
                    F.shiftleft(F.col("bucket").cast("long"), 32).bitwiseOR(
                        F.col("salt")
                    ),
                ).drop("salt", "bucket")
                if len(pending_chunks) > 1:
                    # cache tf only when several chunk jobs will re-read it;
                    # a single-chunk build streams explode->encode directly
                    tf = tf.persist()
                metrics["n_head_terms"] = len(head_rows)
            t0 = time.time()
            lo = chunk * cfg.num_buckets // cfg.segment_chunks
            hi = (chunk + 1) * cfg.num_buckets // cfg.segment_chunks
            part = tf.where(
                (F.shiftright("gkey", 32) >= lo) & (F.shiftright("gkey", 32) < hi)
            )
            # explicit repartition on the group keys: groupBy reuses the
            # hash partitioning (no second exchange), the user-specified
            # partition count is exempt from AQE coalescing, and >= 4
            # task waves per core keep the Zipf-skewed encode groups from
            # ending the stage in a straggler tail (measured ~8s of the
            # 39s encode wall at 8 cores before this). Data-aware: small
            # corpora cap at ~500k tokens/partition so a tiny build does
            # not fragment the segment store into hundreds of files.
            n_enc = min(
                max(
                    int(spark.conf.get("spark.sql.shuffle.partitions")),
                    spark.sparkContext.defaultParallelism * 4,
                ),
                max(
                    spark.sparkContext.defaultParallelism,
                    int(stats["total_len"] or 0) // 500_000 + 1,
                ),
            )
            segs = part.repartition(n_enc, "gkey").groupBy("gkey").applyInPandas(
                _encode_group(positions=cfg.positions, codec=cfg.block_codec),
                SEGMENT_SCHEMA,
            )
            segs.write.mode("overwrite").partitionBy("bucket").parquet(
                f"{index_dir}/segments/chunk={chunk}"
            )
            written = spark.read.parquet(f"{index_dir}/segments/chunk={chunk}")
            agg = written.agg(
                F.count(F.lit(1)).alias("n_segments"),
                F.sum("df").alias("n_postings"),
                F.countDistinct("term").alias("n_terms"),
            ).collect()[0]
            mf.mark_done(
                "segments",
                str(chunk),
                buckets=f"[{lo},{hi})",
                n_segments=int(agg["n_segments"]),
                n_postings=int(agg["n_postings"] or 0),
                n_terms=int(agg["n_terms"]),
                wall_s=round(time.time() - t0, 3),
            )
        if tf is not None and len(pending_chunks) > 1:
            tf.unpersist()

    # ---- stage: dictionary (C11) — BEFORE compact since round 5 ---------
    # The dictionary aggregation (term, bucket -> df, cf, n_segments) IS
    # the compaction decision input: running it first lets the compact
    # stage read mergeable terms from the tiny dictionary instead of
    # re-scanning the whole segment store (whose parquet file count grows
    # with build parallelism — the discovery scan was the one stage that
    # got SLOWER from local[2] to local[8] in BENCH/SCALING_r05_attempt3).
    # Stage order across versions is resume-safe: both flags are checked
    # independently, and either order converges to the same final state.
    if not mf.is_done("dictionary"):
        t0 = time.time()
        n_terms = _write_dictionary(spark, index_dir)
        if mf.is_done("compact"):
            # resuming a pre-round-5 manifest (old stage order: compact
            # already done, dictionary pending): the compact stage won't
            # run again, so its snapshot step happens here instead
            _snapshot_dictionary_base(index_dir)
        mf.mark_done("dictionary", n_terms=n_terms, wall_s=round(time.time() - t0, 3))
        metrics["n_terms"] = n_terms

    # ---- stage: compact (C10) ------------------------------------------
    # Decision from the dictionary: a term is mergeable iff it has >1
    # segment and its total df fits one cap. In the common batch case
    # (multi-segment terms are salted heads that exceed the cap by
    # construction) this is one dictionary-sized job and NO segment scan.
    # On a genuine merge (over-salted tail terms) the dictionary is
    # recomputed from the compacted store with an atomic swap. The
    # immutable hardlink base snapshot (incremental refresh reads
    # base + deltas — VERDICT r02 item 4) is (re)taken at the END of
    # this stage so it always reflects the final dictionary; a crash
    # anywhere in between reruns the stage (manifest) and converges.
    if not mf.is_done("compact"):
        t0 = time.time()
        _recover_dictionary_swap(index_dir)
        n_merged = 0
        if cfg.compact:
            mergeable = (
                spark.read.parquet(f"{index_dir}/dictionary")
                .where(
                    (F.col("n_segments") > 1)
                    & (F.col("df") <= cfg.max_postings_per_segment)
                )
                .select("term", "bucket")
            )
            n_merged = compact_segments(
                spark, index_dir, cfg.max_postings_per_segment,
                cfg.block_codec, mergeable_df=mergeable,
            )
            if n_merged:
                _refresh_dictionary(spark, index_dir)
        _snapshot_dictionary_base(index_dir)
        mf.mark_done("compact", n_terms_merged=n_merged, wall_s=round(time.time() - t0, 3))

    # ---- stage: fuzzy_keys (D2 fuzzy acceleration) -----------------------
    # Deletion-neighborhood index (functions/fuzzy.py): |dict| * (len+1)
    # rows, built once so fuzzy query batches equi-join a pushed IN-list
    # scan instead of running levenshtein over the whole dictionary.
    if cfg.fuzzy_keys and not mf.is_done("fuzzy_keys"):
        t0 = time.time()
        write_fuzzy_keys(spark, index_dir)
        mf.mark_done("fuzzy_keys", wall_s=round(time.time() - t0, 3))

    return metrics


def _write_dictionary(spark: SparkSession, index_dir: str) -> int:
    """Aggregate the segment store into the dictionary (C11). Returns
    the term count. Direct overwrite — only used while no consumer can
    be reading (the dictionary stage of a build); the post-merge rewrite
    uses the atomic :func:`_refresh_dictionary` swap instead."""
    segs = spark.read.parquet(f"{index_dir}/segments")
    dictionary = segs.groupBy("term", "bucket").agg(
        F.sum("df").cast("long").alias("df"),
        F.sum("cf").cast("long").alias("cf"),
        F.count(F.lit(1)).cast("int").alias("n_segments"),
    )
    dictionary.write.mode("overwrite").parquet(f"{index_dir}/dictionary")
    return spark.read.parquet(f"{index_dir}/dictionary").count()


def _refresh_dictionary(spark: SparkSession, index_dir: str) -> None:
    """Recompute the dictionary from the (just-compacted) segment store
    with a crash-safe swap mirroring the segments one: write aside, old
    aside, new in, drop old. A crash at any point is finished by
    :func:`_recover_dictionary_swap` on the next compact-stage entry."""
    d = f"{index_dir}/dictionary"
    new, old = f"{d}_new", f"{d}_old"
    segs = spark.read.parquet(f"{index_dir}/segments")
    (
        segs.groupBy("term", "bucket")
        .agg(
            F.sum("df").cast("long").alias("df"),
            F.sum("cf").cast("long").alias("cf"),
            F.count(F.lit(1)).cast("int").alias("n_segments"),
        )
        .write.mode("overwrite")
        .parquet(new)
    )
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(d, old)
    os.rename(new, d)
    shutil.rmtree(old)


def _recover_dictionary_swap(index_dir: str) -> None:
    """Finish an interrupted :func:`_refresh_dictionary` swap, preferring
    the newest complete table (same policy as ``_recover_segment_swap``)."""
    d = f"{index_dir}/dictionary"
    new, old = f"{d}_new", f"{d}_old"
    if not os.path.exists(d):
        if os.path.exists(new) and os.path.exists(f"{new}/_SUCCESS"):
            os.rename(new, d)
        elif os.path.exists(old):
            os.rename(old, d)
    for leftover in (new, old):
        if os.path.exists(d) and os.path.exists(leftover):
            shutil.rmtree(leftover)


def _snapshot_dictionary_base(index_dir: str) -> None:
    """(Re)take the immutable dictionary_base hardlink snapshot from the
    current dictionary. The base is only read by incremental refresh
    (base + per-stream-chunk deltas); parquet files are write-once, so
    hardlinks are safe and the copy is metadata-only."""
    base = f"{index_dir}/dictionary_base"
    if os.path.exists(base):
        shutil.rmtree(base)
    shutil.copytree(
        f"{index_dir}/dictionary", base, copy_function=os.link
    )


def write_fuzzy_keys(spark: SparkSession, index_dir: str) -> None:
    """(Re)materialize the deletion-key expansion of the dictionary.

    One direct overwrite: the source (dictionary) is a different path, so
    no staging copy is needed, and this is the index's largest derived
    table (|dictionary| x (len+1) rows) — writing it twice would double
    the cost of every build and refresh.

    Deliberately df-free (key, term only): the query path joins matched
    candidates back to the live dictionary for fresh (df, bucket), which
    makes this table append-only under streaming — a refresh appends keys
    for genuinely-new terms instead of rewriting |dict| x (len+1) rows."""
    from find_that_charity_spark.functions.fuzzy import deletion_keys_expr

    dictionary = spark.read.parquet(f"{index_dir}/dictionary")
    keys = dictionary.select(
        F.explode(deletion_keys_expr("term")).alias("key"),
        "term",
    )
    keys.write.mode("overwrite").parquet(f"{index_dir}/fuzzy_keys")
