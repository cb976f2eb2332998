"""Relational (pure-JVM) dedup signatures (VERDICT r03 item 3) must be
bit-identical to the Arrow kernels — same md5 math, zero Python."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from find_that_charity_spark.functions.analyzer import analyze
from find_that_charity_spark.operators.dedup import (
    _MERSENNE_P,
    _batch_shingle_hashes,
    _shingle_hashes,
    minhash_lsh_pairs,
    minhash_signature_udf,
    minhash_signatures,
    simhash_near_dups,
    simhash_signatures,
    simhash_udf,
)
from find_that_charity_spark.functions.analyzer import tokenize_expr
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark, sf_small):
    from find_that_charity_spark.sources.corpus import read_table

    return read_table(spark, sf_small, "documents").select("doc_id", "text").limit(200)


def test_relational_minhash_equals_arrow(spark, corpus):
    rel = {
        r["id"]: r["sig"]
        for r in minhash_signatures(corpus, "doc_id", "text").collect()
    }
    udf = minhash_signature_udf(64, 3)
    arrow = {
        r["id"]: r["sig"]
        for r in corpus.select(
            F.col("doc_id").alias("id"), udf(tokenize_expr("text")).alias("sig")
        ).collect()
    }
    assert rel == arrow


def test_relational_simhash_equals_arrow(spark, corpus):
    rel = {r["id"]: r["sh"] for r in simhash_signatures(corpus, "doc_id", "text").collect()}
    sim = simhash_udf()
    arrow = {
        r["id"]: r["sh"]
        for r in corpus.select(
            F.col("doc_id").alias("id"), sim(tokenize_expr("text")).alias("sh")
        ).collect()
    }
    assert rel == arrow


def test_edge_docs_all_impls(spark):
    """Empty / single-token / sub-shingle docs agree across impls."""
    rows = [(0, ""), (1, "one"), (2, "two words"), (3, "three tokens here"),
            (4, "a b c d e f g h")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rel = {r["id"]: r["sig"] for r in minhash_signatures(df, "doc_id", "text").collect()}
    udf = minhash_signature_udf(64, 3)
    arrow = {
        r["id"]: r["sig"]
        for r in df.select(F.col("doc_id").alias("id"),
                           udf(tokenize_expr("text")).alias("sig")).collect()
    }
    assert rel == arrow
    assert rel[0] == [_MERSENNE_P] * 64  # empty doc sentinel
    relh = {r["id"]: r["sh"] for r in simhash_signatures(df, "doc_id", "text").collect()}
    sim = simhash_udf()
    arrowh = {
        r["id"]: r["sh"]
        for r in df.select(F.col("doc_id").alias("id"),
                           sim(tokenize_expr("text")).alias("sh")).collect()
    }
    assert relh == arrowh
    assert relh[0] == 0
    # the xxhash64 flavors agree with each other on edges too (HOF vs
    # explode+window twin — VERDICT r04 item 4)
    xx = {
        r["id"]: r["sig"]
        for r in minhash_signatures(df, "doc_id", "text", hash_fn="xxhash64").collect()
    }
    xx_ex = {
        r["id"]: r["sig"]
        for r in minhash_signatures(
            df, "doc_id", "text", hash_fn="xxhash64_exploded"
        ).collect()
    }
    assert xx == xx_ex
    assert xx[0] == [_MERSENNE_P] * 64


def test_batch_shingle_hashes_match_scalar():
    """The Arrow batch kernel's shingle pass equals the scalar reference
    per doc (ordering within a doc preserved as a multiset per row)."""
    rng = np.random.default_rng(3)
    docs = [
        [f"w{int(x):03d}" for x in rng.integers(0, 50, int(rng.integers(0, 9)))]
        for _ in range(300)
    ]
    hashes, rows = _batch_shingle_hashes(pd.Series(docs), 3)
    got: dict[int, list[int]] = {}
    for h, r in zip(hashes.tolist(), rows.tolist()):
        got.setdefault(r, []).append(h % _MERSENNE_P)
    for i, toks in enumerate(docs):
        want = sorted(_shingle_hashes(toks, 3).tolist())
        assert sorted(got.get(i, [])) == want, i


def test_lsh_pairs_same_output_all_impls(spark, corpus):
    """The full banded operator emits identical pairs for the relational
    and Arrow signature paths (md5 flavors), and the xxhash64 scale flavor
    produces a valid pair set over the same planted dups."""
    base = minhash_lsh_pairs(corpus, signature_impl="relational_md5").collect()
    arrow = minhash_lsh_pairs(corpus, signature_impl="arrow").collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, arrow))
    sim_rel = simhash_near_dups(corpus, signature_impl="relational_md5").collect()
    sim_arrow = simhash_near_dups(corpus, signature_impl="arrow").collect()
    assert sorted(map(tuple, sim_rel)) == sorted(map(tuple, sim_arrow))
    # xxhash flavor: runs, and near-identical planted dup pairs (synth docs
    # documents table plants id-shifted dups) still surface
    xx = minhash_lsh_pairs(corpus, signature_impl="relational_xxhash").collect()
    base_pairs = {(r["id_a"], r["id_b"]) for r in base}
    xx_pairs = {(r["id_a"], r["id_b"]) for r in xx}
    exact = {p for p in base_pairs}  # md5 pair set as reference
    # signature-agreement estimates differ per hash family; true near-dups
    # (agreement 1.0 under md5) must also agree fully under xxhash
    full = {
        (r["id_a"], r["id_b"]) for r in base if r["jaccard_mil"] == 1000
    }
    assert full <= xx_pairs


def test_auto_signature_routing(spark, corpus):
    """signature_impl='auto' (the default, VERDICT r04 item 2) routes by a
    cheap row probe: small inputs take the Arrow kernel, large the
    relational path — and either way the OUTPUT is the md5 pair set."""
    from find_that_charity_spark.operators import dedup as D

    assert D._resolve_signature_impl_n(corpus, "doc_id", "auto", "relational_md5")[0] == "arrow"
    # a >threshold input routes relational without scanning text
    big = spark.range(D._AUTO_SIGNATURE_THRESHOLD + 10).withColumnRenamed("id", "doc_id")
    assert (
        D._resolve_signature_impl_n(big, "doc_id", "auto", "relational_md5")[0]
        == "relational_md5"
    )
    # explicit impls pass through untouched
    assert D._resolve_signature_impl_n(corpus, "doc_id", "arrow", "relational_md5")[0] == "arrow"
    # default call (auto) == pinned relational output on the same corpus
    auto = minhash_lsh_pairs(corpus).collect()
    rel = minhash_lsh_pairs(corpus, signature_impl="relational_md5").collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, rel))
    sim_auto = simhash_near_dups(corpus).collect()
    sim_rel = simhash_near_dups(corpus, signature_impl="relational_md5").collect()
    assert sorted(map(tuple, sim_auto)) == sorted(map(tuple, sim_rel))
