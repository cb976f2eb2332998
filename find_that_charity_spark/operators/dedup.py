"""Deduplication operators over document corpora.

Covers the reference's url-identity dedup (SURVEY.md §2C C3) plus the
training-data-pipeline family: exact content dedup, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup. All are DataFrame
plans; the only Python is Arrow-batched pandas UDFs for signature math.

Scale notes:
- exact dedup is one hash-groupBy shuffle — maps 1:1 to 100 TB (AQE
  coalesces; md5 is JVM-side).
- MinHash banding turns O(n²) similarity into an equi-join on
  (band, band_hash) buckets — the standard LSH trick; candidate pairs
  then get an exact verify. Band-hash skew (e.g. boilerplate docs) is
  bounded by a per-bucket size cap.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from find_that_charity_spark.functions.analyzer import tokenize_expr


def dedup_latest_by_url(pages: DataFrame) -> DataFrame:
    """C3: keep the latest ``warc_ts`` capture per url (row_number window).

    Ties on (url, warc_ts) break by content hash — the SAME tie-break as
    the fused ``dedup_and_assign_ids`` (operators/doc_ids.py), so the
    streaming dedup path and the batch path keep identical text."""
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"), F.desc(F.xxhash64("text")))
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact content dedup: one row per distinct text, keeper = min id.

    Output: (keep_id bigint, n_dups bigint) ordered by keep_id.
    """
    return (
        docs.select(F.col(id_col).alias("_id"), F.md5(F.col(text_col)).alias("h"))
        .groupBy("h")
        .agg(F.min("_id").cast("bigint").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("keep_id", "n_dups")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

# Deterministic universal-hash parameters: h_i(x) = (a_i*x + b_i) mod p.
# p = 2^31 - 1 keeps a*x + b < 2^62, so the whole family runs in
# vectorized uint64 numpy (no Python bigints); 31-bit min-hashes are the
# standard quality/width trade-off.
_MERSENNE_P = (1 << 31) - 1


def _minhash_params(num_hashes: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE_P, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE_P, size=num_hashes, dtype=np.int64)
    return a, b


def _shingle_hashes(tokens: list[str], shingle: int) -> np.ndarray:
    """Stable 61-bit hashes of one doc's token n-gram shingles (md5 prefix
    — process-stable, unlike Python's salted hash()). Scalar reference
    twin of the batch kernel (tests compare the two); the hot path is
    :func:`_batch_shingle_hashes`."""
    import hashlib

    if len(tokens) < shingle:
        grams = [" ".join(tokens)] if tokens else []
    else:
        grams = [" ".join(tokens[i : i + shingle]) for i in range(len(tokens) - shingle + 1)]
    if not grams:
        return np.empty(0, dtype=np.int64)
    buf = b"".join(hashlib.md5(g.encode("utf-8")).digest()[:8] for g in grams)
    out = np.frombuffer(buf, dtype=np.uint64)
    return (out % np.uint64(_MERSENNE_P)).astype(np.int64)


def _batch_shingle_hashes(
    tokens: pd.Series, shingle: int
) -> tuple[np.ndarray, np.ndarray]:
    """Shingle hashes for a WHOLE Arrow batch in one vectorized pass
    (VERDICT r03 item 3 — no per-doc Python loop, no per-shingle md5
    call): explode tokens C-side, build n-gram strings by shifted
    object-array concatenation, hash every gram with the numpy-vectorized
    MD5 (functions/md5_batch.py — bit-identical to hashlib, so the DuckDB
    oracle's md5_number_upper math is untouched).

    Returns (hashes uint64 mod p, row_pos int64): gram i belongs to the
    batch row ``row_pos[i]``; grams are NOT globally sorted by row."""
    from find_that_charity_spark.functions.md5_batch import md5_u64_of_strs

    flat = tokens.reset_index(drop=True).explode().dropna()
    if flat.empty:
        return np.empty(0, np.uint64), np.empty(0, np.int64)
    vals = flat.to_numpy(dtype=object)
    rows = flat.index.to_numpy(dtype=np.int64)
    n = vals.size
    gram_parts: list[np.ndarray] = []
    row_parts: list[np.ndarray] = []
    if n >= shingle:
        # windows that do not cross a doc boundary: token j starts a gram
        # iff token j+shingle-1 is in the same row
        g = vals[: n - shingle + 1]
        for j in range(1, shingle):
            g = g + " " + vals[j : n - shingle + 1 + j]
        ok = rows[: n - shingle + 1] == rows[shingle - 1 :]
        gram_parts.append(g[ok])
        row_parts.append(rows[: n - shingle + 1][ok])
    # docs with 0 < len < shingle contribute ONE whole-doc gram
    counts = np.bincount(rows, minlength=int(tokens.size))
    short_rows = np.flatnonzero((counts > 0) & (counts < shingle))
    if short_rows.size:
        shorts = (
            flat[flat.index.isin(short_rows)].groupby(level=0).agg(" ".join)
        )
        gram_parts.append(shorts.to_numpy(dtype=object))
        row_parts.append(shorts.index.to_numpy(dtype=np.int64))
    grams = np.concatenate(gram_parts) if gram_parts else np.empty(0, object)
    row_pos = np.concatenate(row_parts) if row_parts else np.empty(0, np.int64)
    if grams.size == 0:
        return np.empty(0, np.uint64), row_pos
    hashes = md5_u64_of_strs(grams) % np.uint64(_MERSENNE_P)
    return hashes, row_pos


def minhash_signature_udf(num_hashes: int = 64, shingle: int = 3):
    """Arrow-batched pandas UDF: tokens array → minhash signature array.

    Fully batch-vectorized: one shingle+md5 pass over the whole batch,
    one (num_hashes, total_shingles) affine hash, one segmented min
    (minimum.reduceat) — measured >=10x the r03 per-doc-loop kernel
    (benchmarks/bench_micro.py). Signatures are bit-identical to the old
    kernel and to minhash_pairs_sql's DuckDB rendering."""
    a, b = _minhash_params(num_hashes)

    a_u = a.astype(np.uint64)[:, None]
    b_u = b.astype(np.uint64)[:, None]

    @pandas_udf(ArrayType(LongType()))
    def _sig(tokens: pd.Series) -> pd.Series:
        n_rows = len(tokens)
        sh, row_pos = _batch_shingle_hashes(tokens, shingle)
        # empty docs keep the sentinel signature [p] * H
        out = np.full((n_rows, num_hashes), _MERSENNE_P, dtype=np.int64)
        if sh.size:
            order = np.argsort(row_pos, kind="stable")
            sh, row_pos = sh[order], row_pos[order]
            # (num_hashes, total) affine hash — uint64 throughout
            # (a, x, b < 2^31 so a*x + b < 2^62), then min per row segment
            vals = (a_u * sh[None, :] + b_u) % np.uint64(_MERSENNE_P)
            starts = np.flatnonzero(
                np.concatenate([[True], row_pos[1:] != row_pos[:-1]])
            )
            mins = np.minimum.reduceat(vals, starts, axis=1)
            out[row_pos[starts]] = mins.T.astype(np.int64)
        return pd.Series(out.tolist())

    return _sig


# ---------------------------------------------------------------------------
# Relational (pure-JVM) signature kernels — VERDICT r03 item 3.
#
# The r03 Arrow kernels hashed per shingle with hashlib.md5 in a per-doc
# Python loop; measurement showed hashlib is already near its C floor
# (~1.8 us/shingle), so batching the Python side caps out well under the
# 10x the verdict asked for. The real fix is to leave Python entirely:
# explode shingles, hash JVM-side, aggregate the signature with partial
# (map-side) min/sum aggregation — whole-stage codegen end to end, no
# Arrow transfer, no GIL. Two hash flavors:
#
#   md5      bit-identical to the Arrow kernels and to the DuckDB
#            oracle's md5_number_upper (the little-endian uint64 of the
#            first 8 digest bytes, rebuilt from the hex string with two
#            conv()s — 2^32 = 2 mod p keeps everything in signed longs).
#            Backs the driver gates: same signatures, same oracle SQL.
#   xxhash64 the 100-TB path: ~30x cheaper per shingle than md5 with the
#            same uniformity for sketching. NOT oracle-renderable (DuckDB
#            has no xxhash64), so gates pin md5 and the scale flavor is
#            covered by pytest equivalence of the banding math.
# ---------------------------------------------------------------------------


def _grams_expr(toks, shingle: int):
    """Token n-gram shingle STRINGS from a (pre-projected) token array
    column — same semantics as the Arrow kernels: whole-doc gram when
    0 < len < shingle, empty when empty.

    Built with zip_with over shifted slices (shingle-1 whole-array slices
    + elementwise concat) — measured >2x the naive transform(sequence,
    slice(...)) form, whose per-gram slice allocates a sub-array per
    element. Callers MUST alias the tokenizer into its own projection
    first: inlining tokenize_expr here would re-run the regexp per
    reference."""
    n = F.size(toks)
    ln = F.greatest(n - F.lit(shingle - 1), F.lit(0))
    g = F.slice(toks, 1, ln)
    for j in range(2, shingle + 1):
        g = F.zip_with(
            g, F.slice(toks, j, ln), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return (
        F.when(n == 0, F.array().cast("array<string>"))
        .when(n < shingle, F.array(F.concat_ws(" ", toks)))
        .otherwise(g)
    )


# polynomial-combination constant for the hashed-gram (xxhash64) flavor:
# gram_hash = fold(acc * C + token_hash) mod p — every intermediate stays
# under 2^62 (p = 2^31 - 1, C < 2^31), so ANSI-mode long arithmetic never
# overflows. Any odd multiplier of full 31-bit weight works; this one is
# the FNV-1a 32-bit prime.
_POLY_C = 16777619


def _hashed_grams_expr(toks, shingle: int):
    """Token n-gram shingle HASHES (mod p) with NO string construction —
    the 100-TB flavor: per-token xxhash64 once, then a mod-p polynomial
    combination of each window. String gram building dominated the
    signature cost (~60%) in the md5 flavor; this path replaces it with
    three long ops per gram.

    Spark 4 evaluates the transform/zip_with lambdas with an interpreted
    expression tree per element — but the MEASURED explode+window twin
    (hash_fn='xxhash64_exploded', VERDICT r04 item 4) is 0.89x, i.e.
    SLOWER: its token-stream exchange + per-doc sort costs more than the
    interpreter does, while this form needs no exchange at all
    (benchmarks/bench_micro.py, 100k docs, interleaved medians). The HOF
    form therefore stays the scale default."""
    th = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(_MERSENNE_P)))
    n = F.size(toks)
    ln = F.greatest(n - F.lit(shingle - 1), F.lit(0))
    g = F.slice(th, 1, ln)
    for j in range(2, shingle + 1):
        g = F.zip_with(
            g,
            F.slice(th, j, ln),
            lambda acc, h: F.pmod(acc * F.lit(_POLY_C) + h, F.lit(_MERSENNE_P)),
        )
    whole = F.aggregate(
        th,
        F.lit(0).cast("long"),
        lambda acc, h: F.pmod(acc * F.lit(_POLY_C) + h, F.lit(_MERSENNE_P)),
    )
    return (
        F.when(n == 0, F.array().cast("array<long>"))
        .when(n < shingle, F.array(whole))
        .otherwise(g)
    )


def _md5_u64_halves(col) -> tuple:
    """(low 4 bytes, high 4 bytes) of the little-endian uint64 read of the
    first 8 md5 digest bytes, as long columns — the full value can exceed
    signed-long range, so consumers combine the halves themselves."""
    h = F.md5(col)
    low4 = F.conv(
        F.concat(F.substring(h, 7, 2), F.substring(h, 5, 2),
                 F.substring(h, 3, 2), F.substring(h, 1, 2)),
        16, 10,
    ).cast("long")
    high4 = F.conv(
        F.concat(F.substring(h, 15, 2), F.substring(h, 13, 2),
                 F.substring(h, 11, 2), F.substring(h, 9, 2)),
        16, 10,
    ).cast("long")
    return low4, high4


def _md5_mod_p(col):
    """little-endian-uint64(md5[:8]) % (2^31 - 1) in signed-long
    arithmetic: 2^32 = 2 (mod p), so x % p = (low4 + 2*high4) % p with
    every intermediate < 2^34. Bit-identical to the Arrow kernels and to
    DuckDB's md5_number_upper % p (verified in tests)."""
    low4, high4 = _md5_u64_halves(col)
    return F.pmod(low4 + F.lit(2) * high4, F.lit(_MERSENNE_P))


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, sig array<long>) — fully relational minhash signatures.

    One explode + hash + groupBy with ``num_hashes`` min-aggregates:
    Catalyst's partial aggregation reduces each map partition to one row
    per doc before the shuffle, so the exchange carries O(docs) rows of
    64 longs — never the shingle stream. Empty docs get the sentinel
    [p] * num_hashes, as in the Arrow kernel."""
    a, b = _minhash_params(num_hashes)
    # tokenizer in its OWN projection: every gram expression below
    # references the array many times, and an inlined tokenize_expr would
    # re-run the regexp per reference (measured 3x the whole gram stage)
    toksdf = docs.select(
        F.col(id_col).alias("id"), tokenize_expr(text_col).alias("toks")
    )
    if hash_fn == "md5":
        grams = toksdf.select(
            "id", F.explode(_grams_expr(F.col("toks"), shingle)).alias("g")
        )
        hashed = grams.select("id", _md5_mod_p(F.col("g")).alias("x"))
    elif hash_fn == "xxhash64":
        hashed = toksdf.select(
            "id", F.explode(_hashed_grams_expr(F.col("toks"), shingle)).alias("x")
        )
    elif hash_fn == "xxhash64_exploded":
        # explode twin of the HOF flavor (VERDICT r04 item 4): Spark 4
        # evaluates HOF lambdas with an interpreted expression tree PER
        # ELEMENT, so transform/zip_with+xxhash64 pays interpreter cost
        # per token. Here the token hash is a whole-stage-codegen
        # projection over the exploded stream; the sliding gram
        # combination is shingle-1 window leads over (id, pos); and the
        # minhash aggregation below reuses the window's id-partitioning,
        # so the ONLY exchange is the token stream (16 B/token) — vs zero
        # extra exchange but interpreted lambdas in the HOF flavor.
        # Output-identical to hash_fn='xxhash64' (pinned in tests); the
        # >=100k-doc A/B lives in benchmarks/bench_micro.py.
        from pyspark.sql import Window

        tok = toksdf.select(
            "id", F.size("toks").alias("n"), F.posexplode("toks").alias("pos", "t")
        )
        h = tok.select(
            "id", "n", "pos", F.pmod(F.xxhash64("t"), F.lit(_MERSENNE_P)).alias("h")
        )
        w = Window.partitionBy("id").orderBy("pos")
        g = F.col("h")
        for j in range(1, shingle):
            lead_j = F.lead("h", j).over(w)
            # null lead = doc ends inside the window: keep the partial
            # fold, which for the pos==0 row of a short doc (n < shingle)
            # is exactly the HOF flavor's whole-doc gram
            g = F.when(
                lead_j.isNotNull(),
                F.pmod(g * F.lit(_POLY_C) + lead_j, F.lit(_MERSENNE_P)),
            ).otherwise(g)
        hashed = (
            h.select("id", g.alias("x"), "pos", "n")
            .where(
                (F.col("pos") + F.lit(shingle) <= F.col("n"))
                | ((F.col("n") < shingle) & (F.col("pos") == 0))
            )
            .select("id", "x")
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    aggs = [
        F.min(
            F.pmod(F.lit(int(a[i])) * F.col("x") + F.lit(int(b[i])), F.lit(_MERSENNE_P))
        ).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    sigs = hashed.groupBy("id").agg(*aggs).select(
        "id", F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig")
    )
    default = F.array(*[F.lit(_MERSENNE_P).cast("long")] * num_hashes)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(sigs, "id", "left")
        .select("id", F.coalesce("sig", default).alias("sig"))
    )


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sh long) — fully relational 64-bit SimHash (md5 token hash,
    bit-majority vote), identical to the Arrow kernel's output.

    The uint64 token hash is kept as two 32-bit halves (it can exceed
    signed-long range); 64 bit-sum aggregates + a count feed the majority
    vote, and the signed result is assembled with a wrapping shiftleft —
    the same two's-complement view the Arrow kernel produces."""
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(tokenize_expr(text_col)).alias("t")
    )
    low4, high4 = _md5_u64_halves(F.col("t"))
    hashed = toks.select("id", low4.alias("lo"), high4.alias("hi"))
    aggs = [
        F.sum(F.shiftrightunsigned("lo", j).bitwiseAND(F.lit(1))).alias(f"b{j}")
        for j in range(32)
    ] + [
        F.sum(F.shiftrightunsigned("hi", j - 32).bitwiseAND(F.lit(1))).alias(f"b{j}")
        for j in range(32, 64)
    ] + [F.count(F.lit(1)).alias("n")]
    bits = hashed.groupBy("id").agg(*aggs)
    low_maj = sum(
        (F.when(F.lit(2) * F.col(f"b{j}") > F.col("n"), F.lit(1 << j)).otherwise(F.lit(0))
         for j in range(32)),
        start=F.lit(0),
    ).cast("long")
    high_maj = sum(
        (F.when(F.lit(2) * F.col(f"b{j}") > F.col("n"), F.lit(1 << (j - 32))).otherwise(F.lit(0))
         for j in range(32, 64)),
        start=F.lit(0),
    ).cast("long")
    sigs = bits.select(
        "id", F.shiftleft(high_maj, 32).bitwiseOR(low_maj).alias("sh")
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(sigs, "id", "left")
        .select("id", F.coalesce("sh", F.lit(0).cast("long")).alias("sh"))
    )


# "auto" signature routing (VERDICT r04 item 2): the relational kernels
# win from a few thousand docs up (interleaved A/B at 30k docs,
# benchmarks/bench_micro.py) but their ~60-column aggregate plan costs
# more in planning/codegen than the whole Arrow kernel does in compute on
# tiny inputs — the r04 driver gates (~120-200 docs) tripled their walls.
# Mirror of query.py's localize_threshold: a cheap limit(n+1) row probe
# routes small inputs to the bit-identical md5_batch Arrow kernel and
# everything else to the relational (at-scale default) path.
_AUTO_SIGNATURE_THRESHOLD = 5_000

# below this row count (known exactly from the auto-routing probe) the
# banding + verify tail runs driver-side on the collected signatures
# (optimization round 6 batch 5): the distributed tail is a self-join +
# pair-dedup whose AQE stage-jobs are pure scheduling at this size, while
# the candidate algebra is a few thousand int comparisons. Bounds the
# worst-case (all-identical signatures) pair set at ~2M.
_DRIVER_PAIRS_THRESHOLD = 2_000


def _resolve_signature_impl_n(
    docs: DataFrame, id_col: str, signature_impl: str, large: str
) -> tuple[str, int | None]:
    """(impl, n_probe): n_probe is the limited row count used for the
    auto routing decision (None when impl was forced) — an exact count
    whenever it is <= the threshold, which lets callers prove plan
    simplifications like the over-cap-bucket census being unnecessary."""
    if signature_impl != "auto":
        return signature_impl, None
    n = docs.select(id_col).limit(_AUTO_SIGNATURE_THRESHOLD + 1).count()
    return ("arrow" if n <= _AUTO_SIGNATURE_THRESHOLD else large), n


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle: int = 3,
    threshold: float = 0.5,
    bucket_cap: int = 1000,
    signature_impl: str = "auto",
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding + exact verify.

    Output: (id_a, id_b, jaccard_mil) with id_a < id_b, estimated Jaccard
    (signature agreement rate) >= threshold, quantized to 1e-3.

    Skew guard: a degenerate band bucket (boilerplate/empty docs collapse
    to one signature) would emit O(m²) candidate pairs. Buckets larger
    than ``bucket_cap`` therefore emit STAR pairs only — every member
    against the bucket's min-id representative (m-1 pairs) — bounding
    candidates at bucket_cap x |bucket| instead of |bucket|² per bucket.
    Precision is unaffected (every emitted pair is agreement-verified),
    but recall inside an over-cap bucket is star-approximate: a pair whose
    ONLY shared buckets are over-cap is reported through the representative
    rather than directly, and is lost entirely if neither member clears the
    threshold against the representative. In the intended regime (over-cap
    buckets are near-identical boilerplate cliques) members agree with the
    representative too, and the clique stays one connected component; exact
    all-pairs output is guaranteed only when no bucket exceeds the cap —
    the regime minhash_pairs_sql's oracle equivalence also assumes.
    """
    rows_per_band = num_hashes // bands
    signature_impl, n_probe = _resolve_signature_impl_n(
        docs, id_col, signature_impl, large="relational_md5"
    )
    if signature_impl == "relational_md5":
        sigs = minhash_signatures(docs, id_col, text_col, num_hashes, shingle, "md5")
    elif signature_impl == "relational_xxhash":
        # scale flavor: same banding/verify math over xxhash64 signatures
        # (~30x cheaper per shingle; not DuckDB-oracle-renderable)
        sigs = minhash_signatures(docs, id_col, text_col, num_hashes, shingle, "xxhash64")
    elif signature_impl == "arrow":
        sig_udf = minhash_signature_udf(num_hashes, shingle)
        sigs = docs.select(
            F.col(id_col).alias("id"),
            sig_udf(tokenize_expr(text_col)).alias("sig"),
        )
    else:
        raise ValueError(f"unknown signature_impl {signature_impl!r}")
    # Driver tail (see _DRIVER_PAIRS_THRESHOLD). Banding here groups by
    # the band's VALUE slice instead of F.hash(slice); the outputs are
    # provably identical when the verify threshold's mismatch budget is
    # smaller than the band count (pigeonhole: any pair with agreement >=
    # threshold then shares at least one exact band, and every
    # hash-banding candidate that survives the verify is such a pair) —
    # the classic banding-soundness regime, which the gate parameters
    # satisfy. Outside it, or above the size bound, the distributed plan
    # runs unchanged.
    mismatch_budget = num_hashes - int(np.ceil(threshold * num_hashes))
    if (
        n_probe is not None
        and n_probe <= min(_DRIVER_PAIRS_THRESHOLD, bucket_cap)
        and mismatch_budget < bands
    ):
        sig_rows = sigs.collect()
        ids = [int(r["id"]) for r in sig_rows]
        sig_l = [list(r["sig"]) for r in sig_rows]
        # keyed on the (id_a, id_b) pair — exactly one output row per
        # pair, mirroring the distributed dropDuplicates even for
        # degenerate inputs with duplicate ids (review finding)
        cand: dict[tuple[int, int], tuple[int, int]] = {}
        for b in range(bands):
            groups: dict[tuple, list[int]] = {}
            for j in range(len(ids)):
                key = tuple(sig_l[j][b * rows_per_band : (b + 1) * rows_per_band])
                groups.setdefault(key, []).append(j)
            for members in groups.values():
                if len(members) > 1:
                    for x in range(len(members)):
                        for y in range(x + 1, len(members)):
                            a, c = ids[members[x]], ids[members[y]]
                            ja, jb = members[x], members[y]
                            if a > c:
                                a, c = c, a
                                ja, jb = jb, ja
                            if a != c:
                                cand.setdefault((a, c), (ja, jb))
        out_rows = []
        for (a, c), (ja, jb) in cand.items():
            agree = sum(
                1 for u, v in zip(sig_l[ja], sig_l[jb]) if u == v
            ) / float(num_hashes)
            if agree >= threshold:
                out_rows.append((a, c, int(np.floor(agree * 1000 + 0.5))))
        return docs.sparkSession.createDataFrame(
            pd.DataFrame(
                sorted(out_rows), columns=["id_a", "id_b", "jaccard_mil"]
            ),
            "id_a bigint, id_b bigint, jaccard_mil bigint",
        )
    banded = sigs.select(
        "id",
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.hash(F.slice("sig", i * rows_per_band + 1, rows_per_band)),
            )
        ).alias("band", "band_hash"),
    )
    # the signature UDF (tokenize + shingle + 64 hashes over every doc) is
    # the expensive part and feeds several plan branches below (census,
    # both self-join sides, star path) — persist so it computes once;
    # MEMORY_AND_DISK because signatures of a web-scale corpus exceed
    # executor memory. ContextCleaner reclaims it when unreferenced.
    from pyspark import StorageLevel

    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    # n_probe is EXACT only while <= _AUTO_SIGNATURE_THRESHOLD (the probe
    # counts limit(threshold+1) rows); a truncated probe must never
    # disable the skew guard (review finding, optimization round 6)
    if (
        n_probe is not None
        and n_probe <= _AUTO_SIGNATURE_THRESHOLD
        and n_probe <= bucket_cap
    ):
        # over-cap buckets are IMPOSSIBLE (total rows <= bucket_cap), so
        # the census, anti-join and star branch are statically removable:
        # provably the identical plan with `over` empty (optimization
        # round 6 batch 3 — at gate scale those branches cost ~6 AQE
        # stage-jobs of pure scheduling)
        pairs = (
            banded.alias("l")
            .join(
                banded.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.band_hash") == F.col("r.band_hash"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                F.col("l.sig").alias("sig_a"),
                F.col("r.sig").alias("sig_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        agree = F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
        ) / F.lit(float(num_hashes))
        return (
            pairs.withColumn("jac", agree)
            .where(F.col("jac") >= threshold)
            .select(
                F.col("id_a").cast("bigint"),
                F.col("id_b").cast("bigint"),
                F.floor(F.col("jac") * 1000 + F.lit(0.5)).cast("bigint").alias("jaccard_mil"),
            )
        )
    # bucket-size census; over-cap buckets are few (degenerate cliques)
    over = (
        banded.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .where(F.col("bsz") > bucket_cap)
        .select("band", "band_hash")
    )
    small = banded.join(F.broadcast(over), ["band", "band_hash"], "left_anti")
    pairs = (
        small.alias("l")
        .join(
            small.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
    )
    big = banded.join(F.broadcast(over), ["band", "band_hash"])
    reps = (
        big.groupBy("band", "band_hash")
        .agg(F.min("id").alias("rep_id"))
        .withColumnRenamed("band", "_rband")
        .withColumnRenamed("band_hash", "_rband_hash")
    )
    reps_sig = (
        big.join(
            F.broadcast(reps),
            (F.col("band") == F.col("_rband"))
            & (F.col("band_hash") == F.col("_rband_hash"))
            & (F.col("id") == F.col("rep_id")),
        )
        .select("band", "band_hash", "rep_id", F.col("sig").alias("rep_sig"))
    )
    star = (
        big.join(F.broadcast(reps_sig), ["band", "band_hash"])
        .where(F.col("id") != F.col("rep_id"))
        .select(
            F.col("rep_id").alias("id_a"),  # rep is the bucket min -> id_a < id_b
            F.col("id").alias("id_b"),
            F.col("rep_sig").alias("sig_a"),
            F.col("sig").alias("sig_b"),
        )
    )
    pairs = pairs.unionByName(star).dropDuplicates(["id_a", "id_b"])
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    ) / F.lit(float(num_hashes))
    return (
        pairs.withColumn("jac", agree)
        .where(F.col("jac") >= threshold)
        .select(
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            F.floor(F.col("jac") * 1000 + F.lit(0.5)).cast("bigint").alias("jaccard_mil"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
) -> DataFrame:
    """Exact token-set Jaccard similarity pairs (small/verify-path dedup).

    Relational plan: explode distinct tokens, self-equi-join on token →
    intersection counts; |A∪B| = |A|+|B|-|A∩B|. SQL-expressible, so it
    doubles as a DuckDB-checkable oracle for the MinHash estimate. At
    scale the token join replaces the O(n²) pair enumeration; boilerplate
    token skew is the caveat (use MinHash path there).

    Output: (id_a, id_b, jaccard_mil) with id_a < id_b, Jaccard >= threshold.
    """
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(tokenize_expr(text_col))).alias("t")
    )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        toks.alias("l")
        .join(toks.alias("r"), (F.col("l.t") == F.col("r.t")) & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jac", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .where(F.col("jac") >= threshold)
        .select(
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            F.floor(F.col("jac") * 1000 + F.lit(0.5)).cast("bigint").alias("jaccard_mil"),
        )
    )


def minhash_pairs_sql(
    docs_sql: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB oracle twin of :func:`minhash_lsh_pairs`.

    Renders the *identical* signature math in SQL: DuckDB's
    ``md5_number_upper`` equals numpy's little-endian uint64 read of the
    first 8 md5 bytes (verified), and the (a, b) universal-hash table is
    inlined from the same seeded generator. The oracle compares ALL pairs'
    signature agreement — no banding — which is exactly equivalent to the
    banded LSH output whenever ``threshold > 1 - bands/num_hashes``: a
    pair passing the agreement filter then has fewer disagreeing signature
    rows than there are bands, so by pigeonhole it shares one fully
    identical band and is guaranteed to be an LSH candidate. ``docs_sql``
    must select (id, text) and stay small — the oracle is O(n²) by design.
    """
    if threshold <= 1.0 - bands / num_hashes:
        raise ValueError("oracle exact only when threshold > 1 - bands/num_hashes")
    a, b = _minhash_params(num_hashes)
    params = ", ".join(
        f"({i}, {int(a[i])}::UBIGINT, {int(b[i])}::UBIGINT)" for i in range(num_hashes)
    )
    p = _MERSENNE_P
    return f"""
WITH docs AS ({docs_sql}),
tk AS (SELECT id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM docs),
sh AS (
  SELECT id, unnest(
    CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
         WHEN len(tk) < {shingle} THEN [array_to_string(tk, ' ')]
         ELSE list_transform(range(1, len(tk) - {shingle - 2}),
                             i -> array_to_string(tk[i:i+{shingle - 1}], ' '))
    END) AS g
  FROM tk
),
hx AS (SELECT id, (md5_number_upper(g) % {p})::UBIGINT AS x FROM sh),
p AS (SELECT * FROM (VALUES {params}) v(i, a, b)),
sig0 AS (SELECT id, p.i, min((p.a * hx.x + p.b) % {p}) AS v
         FROM hx CROSS JOIN p GROUP BY 1, 2),
sig AS (
  SELECT d.id, p.i, coalesce(s.v, {p}) AS v
  FROM (SELECT DISTINCT id FROM docs) d CROSS JOIN p
  LEFT JOIN sig0 s ON s.id = d.id AND s.i = p.i
),
agree AS (
  SELECT a.id AS id_a, b.id AS id_b,
         sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS n_eq
  FROM sig a JOIN sig b ON a.i = b.i AND a.id < b.id
  GROUP BY 1, 2
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(floor(n_eq * 1000.0 / {num_hashes} + 0.5) AS BIGINT) AS jaccard_mil
FROM agree WHERE n_eq * 1.0 / {num_hashes} >= {threshold}
ORDER BY id_a, id_b
"""


def simhash_pairs_sql(docs_sql: str, max_hamming: int = 3) -> str:
    """DuckDB oracle twin of :func:`simhash_near_dups`: recompute every
    simhash (same md5 little-endian token hash, same bit-majority) and
    recount hamming over ALL pairs — exactly the operator's output, since
    the (max_hamming+1)-block banding has total recall at that radius.
    ``docs_sql`` must select (id, text) and stay small (O(n²) oracle)."""
    sums = ", ".join(
        f"sum(CAST((h // {1 << j}::UBIGINT) % 2 AS BIGINT)) AS b{j}" for j in range(64)
    )
    asm = " + ".join(
        f"(CASE WHEN 2*b{j} > n THEN {1 << j}::UBIGINT ELSE 0::UBIGINT END)"
        for j in range(64)
    )
    return f"""
WITH docs AS ({docs_sql}),
t AS (SELECT id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM docs),
h AS (SELECT id, md5_number_upper(tok)::UBIGINT AS h FROM t),
bits AS (SELECT id, {sums}, count(*) AS n FROM h GROUP BY id),
sim0 AS (SELECT id, {asm} AS sh FROM bits),
sim AS (
  SELECT d.id, coalesce(s.sh, 0::UBIGINT) AS sh
  FROM (SELECT DISTINCT id FROM docs) d LEFT JOIN sim0 s ON s.id = d.id
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, bit_count(xor(a.sh, b.sh)) AS hamming
  FROM sim a JOIN sim b ON a.id < b.id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(hamming AS INT) AS hamming
FROM pairs WHERE hamming <= {max_hamming}
ORDER BY id_a, id_b
"""


def simhash_udf(bits: int = 64):
    """Arrow-batched SimHash over token arrays (unweighted).

    Batch-vectorized (VERDICT r03 item 3): every token in the batch is
    hashed in one numpy-MD5 pass (functions/md5_batch.py, bit-identical
    to hashlib/md5_number_upper), the (total_tokens, 64) bit matrix is
    majority-voted per doc with one segmented add.reduceat, and the
    64-bit packs happen for all docs at once. Same output as the r03
    per-doc kernel; >=10x its throughput (benchmarks/bench_micro.py)."""
    from find_that_charity_spark.functions.md5_batch import md5_u64_of_strs

    @pandas_udf(LongType())
    def _simhash(tokens: pd.Series) -> pd.Series:
        n_rows = len(tokens)
        out = np.zeros(n_rows, dtype=np.int64)
        flat = tokens.reset_index(drop=True).explode().dropna()
        if not flat.empty:
            rows = flat.index.to_numpy(dtype=np.int64)  # ascending (explode order)
            hs = md5_u64_of_strs(flat.to_numpy(dtype=object))
            bitmat = np.unpackbits(
                hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            ).astype(np.int64)
            starts = np.flatnonzero(np.concatenate([[True], rows[1:] != rows[:-1]]))
            sums = np.add.reduceat(bitmat, starts, axis=0)  # (n_present, 64)
            counts = np.diff(np.concatenate([starts, [rows.size]]))
            maj = (2 * sums > counts[:, None]).astype(np.uint8)
            packed = np.packbits(maj, axis=1, bitorder="little").view(np.uint64)[:, 0]
            out[rows[starts]] = packed.astype(np.int64)  # two's-complement view
        return pd.Series(out)

    return _simhash


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    signature_impl: str = "auto",
) -> DataFrame:
    """SimHash near-dup pairs: block banding + exact hamming verify.

    The 64-bit signature is split into ``max_hamming + 1`` contiguous
    blocks, so by pigeonhole any pair within ``max_hamming`` differing
    bits shares at least one IDENTICAL block — banding recall is total
    for the requested radius (a fixed 4-block split only guarantees
    hamming <= 3 and silently drops farther pairs). Candidates then get
    an exact ``bit_count(xor)`` recount.

    Output: (id_a, id_b, hamming int).
    """
    n_blocks = max_hamming + 1
    if not 1 <= n_blocks <= 64:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    base, extra = divmod(64, n_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    offs = [sum(widths[:i]) for i in range(n_blocks)]
    block_cols = [
        F.col("sh")
        if w == 64
        else F.shiftrightunsigned("sh", off).bitwiseAND(F.lit((1 << w) - 1))
        for off, w in zip(offs, widths)
    ]
    signature_impl, n_probe = _resolve_signature_impl_n(
        docs, id_col, signature_impl, large="relational_md5"
    )
    if signature_impl == "relational_md5":
        sigs = simhash_signatures(docs, id_col, text_col)
    elif signature_impl == "arrow":
        sim = simhash_udf()
        sigs = docs.select(
            F.col(id_col).alias("id"), sim(tokenize_expr(text_col)).alias("sh")
        )
    else:
        raise ValueError(f"unknown signature_impl {signature_impl!r}")
    # Driver tail (see _DRIVER_PAIRS_THRESHOLD in the minhash twin):
    # block banding already groups by the block VALUE, so the driver-side
    # candidate set is exactly the distributed one; the hamming verify is
    # the same bit_count. Above the bound the distributed plan runs
    # unchanged.
    if n_probe is not None and n_probe <= _DRIVER_PAIRS_THRESHOLD:
        sig_rows = sigs.collect()
        ids = [int(r["id"]) for r in sig_rows]
        shs = [int(r["sh"]) & 0xFFFFFFFFFFFFFFFF for r in sig_rows]
        # keyed on the pair — one row per (id_a, id_b), as distributed
        cand: dict[tuple[int, int], tuple[int, int]] = {}
        for off, w in zip(offs, widths):
            groups: dict[int, list[int]] = {}
            for j in range(len(ids)):
                groups.setdefault((shs[j] >> off) & ((1 << w) - 1), []).append(j)
            for members in groups.values():
                if len(members) > 1:
                    for x in range(len(members)):
                        for y in range(x + 1, len(members)):
                            a, c = ids[members[x]], ids[members[y]]
                            ja, jb = members[x], members[y]
                            if a > c:
                                a, c = c, a
                                ja, jb = jb, ja
                            if a != c:
                                cand.setdefault((a, c), (ja, jb))
        out_rows = []
        for (a, c), (ja, jb) in cand.items():
            ham = (shs[ja] ^ shs[jb]).bit_count()
            if ham <= max_hamming:
                out_rows.append((a, c, ham))
        return docs.sparkSession.createDataFrame(
            pd.DataFrame(sorted(out_rows), columns=["id_a", "id_b", "hamming"]),
            "id_a bigint, id_b bigint, hamming int",
        )
    blocks = sigs.select(
        "id",
        "sh",
        F.posexplode(F.array(*block_cols)).alias("blk", "blk_val"),
    )
    cand = (
        blocks.alias("l")
        .join(
            blocks.alias("r"),
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.blk_val") == F.col("r.blk_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sh").alias("sh_a"),
            F.col("r.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select(
            F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"), F.col("hamming").cast("int")
        )
    )
