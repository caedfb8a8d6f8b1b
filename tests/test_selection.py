"""Data-selection operators: DSIR, SemDeDup, Bloom decontamination,
perplexity buckets (sparkjesse.selection)."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from sparkjesse import selection as sel


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# DSIR
# ---------------------------------------------------------------------------

def _local_grams(text: str | None, include_uni: bool = True) -> list[str]:
    toks = [] if text is None else text.split(" ")
    grams = list(toks) if include_uni else []
    grams += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return grams


def _local_bucket(gram: str, n_buckets: int, salt: str = "") -> int:
    return int(hashlib.md5((salt + gram).encode()).hexdigest()[:4],
               16) % n_buckets


def test_bucket_counts_match_local(spark, docs):
    n_buckets = 512
    got = {r["bucket"]: r["n"]
           for r in sel.bucket_counts(docs, n_buckets=n_buckets)
           .collect()}
    want: dict[int, int] = {}
    for r in docs.select("text").collect():
        for g in _local_grams(r["text"]):
            b = _local_bucket(g, n_buckets)
            want[b] = want.get(b, 0) + 1
    assert got == want


def test_dsir_model_and_weights_match_numpy_oracle(spark, docs):
    n_buckets = 512
    target = docs.where(F.col("lang") == "en")
    model = sel.dsir_model(target, docs, n_buckets=n_buckets)
    # model internals: counts sum to corpus gram totals
    rows = docs.select("doc_id", "text", "lang").collect()
    tgt_total = sum(len(_local_grams(r["text"])) for r in rows
                    if r["lang"] == "en")
    assert int(model["tgt"].sum()) == tgt_total

    got = {r["doc_id"]: r for r in
           sel.dsir_weights(docs, model).collect()}
    assert len(got) == len(rows)
    B, alpha = n_buckets, model["alpha"]
    T, R = int(model["tgt"].sum()), int(model["raw"].sum())
    for r in rows[:50]:
        grams = _local_grams(r["text"])
        idx = [_local_bucket(g, n_buckets) for g in grams]
        w = sum(math.log((int(model["tgt"][i]) + alpha)
                         / (T + alpha * B))
                - math.log((int(model["raw"][i]) + alpha)
                           / (R + alpha * B)) for i in idx)
        g = got[r["doc_id"]]
        assert g["n_grams"] == len(grams)
        assert g["tgt_hits"] == sum(int(model["tgt"][i]) for i in idx)
        assert g["raw_hits"] == sum(int(model["raw"][i]) for i in idx)
        assert g["weight"] == pytest.approx(w, abs=2e-6)


def test_dsir_weights_favor_target_like_docs(spark, docs):
    # target = english docs; english docs should score higher on
    # average than non-english ones
    model = sel.dsir_model(docs.where(F.col("lang") == "en"), docs,
                           n_buckets=2048)
    w = (sel.dsir_weights(docs, model)
         .join(docs.select("doc_id", "lang"), "doc_id")
         .groupBy(F.col("lang") == "en")
         .agg(F.avg(F.col("weight") / F.col("n_grams")).alias("m"))
         .collect())
    means = {r[0]: r["m"] for r in w}
    assert means[True] > means[False]


def test_dsir_resample_deterministic_and_sized(spark, docs):
    model = sel.dsir_model(docs.where(F.col("lang") == "en"), docs,
                           n_buckets=512)
    a = sel.dsir_resample(docs, model, 0.25)
    b = sel.dsir_resample(docs.repartition(7), model, 0.25)
    ia = sorted(r["doc_id"] for r in a.select("doc_id").collect())
    ib = sorted(r["doc_id"] for r in b.select("doc_id").collect())
    assert ia == ib  # partitioning-invariant
    n = docs.count()
    assert abs(len(ia) - 0.25 * n) <= 0.02 * n + 2
    # kept docs skew target-like: mean weight above corpus mean
    wdf = sel.dsir_weights(docs, model)
    kept_mean = (wdf.join(a.select("doc_id"), "doc_id")
                 .agg(F.avg("weight")).collect()[0][0])
    all_mean = wdf.agg(F.avg("weight")).collect()[0][0]
    assert kept_mean > all_mean


def test_dsir_weight_zero_shuffle_plan(spark, docs):
    model = sel.dsir_model(docs.limit(50), docs, n_buckets=64)
    plan = (sel.dsir_weights(docs, model)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_bucket_counts_impls_agree(spark, docs):
    # the Arrow per-partition histogram (scale path) and the
    # pure-expression explode twin must produce identical histograms
    n_buckets = 512
    arrow = {r["bucket"]: r["n"]
             for r in sel.bucket_counts(docs, n_buckets=n_buckets,
                                        impl="arrow").collect()}
    expr = {r["bucket"]: r["n"]
            for r in sel.bucket_counts(docs, n_buckets=n_buckets,
                                       impl="expr").collect()}
    assert arrow == expr
    with pytest.raises(ValueError):
        sel.bucket_counts(docs, impl="nope")


def test_hashed_grams_edge_docs(spark):
    # single-token and empty docs: no bigrams, never a crash (a
    # descending sequence(1, 0) once made element_at throw here);
    # NULL text has no grams at all; both the expression path and
    # both bucket_counts impls agree with the local hashlib twin
    n_buckets = 64
    df = spark.createDataFrame(
        [("a", "solo"), ("b", ""), ("c", "two words"), ("d", None)],
        "doc_id string, text string")
    got = {r["doc_id"]: list(r["bk"] or []) for r in df.select(
        "doc_id",
        sel.hashed_grams_col("text", n_buckets=n_buckets).alias("bk"))
        .collect()}
    want = {r["doc_id"]: [_local_bucket(g, n_buckets)
                          for g in _local_grams(r["text"])]
            for r in df.collect()}
    assert got == want
    for impl in ("arrow", "expr"):
        hist = {r["bucket"]: r["n"]
                for r in sel.bucket_counts(df, n_buckets=n_buckets,
                                           impl=impl).collect()}
        flat: dict[int, int] = {}
        for bks in want.values():
            for b in bks:
                flat[b] = flat.get(b, 0) + 1
        assert hist == flat, impl
    # the DSIR kernel scores NULL text as zero grams, not one '' gram
    model = sel.dsir_model(df, df, n_buckets=n_buckets)
    null_row = sel.dsir_weights(df, model).where("doc_id = 'd'").collect()
    assert [(r["n_grams"], r["tgt_hits"], r["weight"]) for r in null_row] \
        == [(0, 0, 0.0)]


def test_hashed_grams_spark_expression_matches_python_hash(spark, docs):
    # the Spark expression path (conv/substring/md5) and the pandas
    # UDF path (hashlib) must agree gram-for-gram
    n_buckets = 512
    got = docs.select(
        "doc_id",
        sel.hashed_grams_col("text", n_buckets=n_buckets)
        .alias("bk")).collect()
    for r in got[:50]:
        want = [_local_bucket(g, n_buckets)
                for g in _local_grams(
                    docs.where(F.col("doc_id") == r["doc_id"])
                    .collect()[0]["text"])]
        assert list(r["bk"]) == want


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------

def test_semantic_dedup_impls_agree(spark, embs):
    cents = sel.seed_centroids(embs, n_centroids=8)
    got_g = sel.semantic_dedup(embs, cents, threshold=0.8,
                               impl="grouped")
    got_p = sel.semantic_dedup(embs, cents, threshold=0.8,
                               impl="pairs")
    rows_g = sorted((r["vec_id"], r["cell"], round(r["cent_sim"], 6),
                     r["is_dup"]) for r in got_g.collect())
    rows_p = sorted((r["vec_id"], r["cell"], round(r["cent_sim"], 6),
                     r["is_dup"]) for r in got_p.collect())
    assert rows_g == rows_p


def test_semantic_dedup_flags_planted_near_dups(spark, embs):
    # plant exact copies: every copy pair is cosine 1.0, so one of
    # each pair must be flagged (the farther-from-centroid one stays)
    base = embs.limit(20)
    copies = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "embedding", "label")
    df = base.unionByName(copies)
    cents = sel.seed_centroids(df, n_centroids=4)
    out = sel.semantic_dedup(df, cents, threshold=0.999999)
    rows = {r["vec_id"]: r for r in out.collect()}
    for r in base.collect():
        a, b = rows[r["vec_id"]], rows[r["vec_id"] + 100000]
        assert a["cell"] == b["cell"]
        # exactly one of an identical pair survives (tie on
        # cent_sim ⇒ smaller id kept)
        assert a["is_dup"] != b["is_dup"]
        assert not a["is_dup"] and b["is_dup"]


def test_semantic_dedup_keeps_farthest_from_centroid(spark, embs):
    cents = sel.seed_centroids(embs, n_centroids=4)
    out = sel.semantic_dedup(embs, cents, threshold=0.9)
    rows = out.collect()
    # survivors of each cell dominate: for every dup there exists a
    # τ-similar keeper with smaller (cent_sim, id) — spot-check the
    # invariant that a flagged row never has the cell-minimal
    # (cent_sim, id)
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, rs in by_cell.items():
        best = min((r["cent_sim"], r["vec_id"]) for r in rs)
        for r in rs:
            if (r["cent_sim"], r["vec_id"]) == best:
                assert not r["is_dup"]


def test_semantic_dedup_assignment_kernels_agree(spark, embs):
    """literal-expression vs broadcast-matrix-UDF centroid assignment
    must agree cell-for-cell and sim-for-sim (the udf path is what a
    50k-cluster production codebook uses; the literal path is what
    the dd_semantic oracle pins)."""
    cents = sel.seed_centroids(embs, n_centroids=8)
    lit = sel.semantic_dedup(embs, cents, threshold=0.8,
                             assign="literal")
    udf = sel.semantic_dedup(embs, cents, threshold=0.8,
                             assign="udf")
    rows_l = sorted((r["vec_id"], r["cell"], round(r["cent_sim"], 6),
                     r["is_dup"]) for r in lit.collect())
    rows_u = sorted((r["vec_id"], r["cell"], round(r["cent_sim"], 6),
                     r["is_dup"]) for r in udf.collect())
    assert rows_l == rows_u


def test_seed_centroids_fail_fast(spark, embs):
    with pytest.raises(ValueError):
        sel.seed_centroids(embs.limit(3), n_centroids=8)


def test_semantic_dedup_assignment_zero_shuffle(spark, embs):
    # the assignment stage (before the cluster-keyed stage) is a pure
    # expression; the grouped impl's ONLY exchange is the cell one
    cents = sel.seed_centroids(embs, n_centroids=8)
    plan = (sel.semantic_dedup(embs, cents, impl="grouped")
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1


# ---------------------------------------------------------------------------
# Bloom decontamination
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_vs_exact(spark, docs):
    from sparkjesse.dedup import decontaminate_report

    bench = docs.where(F.col("doc_id") % 17 == 0).select("text")
    bloom = sel.bloom_build(bench, ngram=3, n_bits=1 << 16,
                            n_hashes=4)
    exact_ids = {r["doc_id"] for r in
                 decontaminate_report(docs, bench, shingle_n=3)
                 .collect()}
    got = {r["doc_id"]: r for r in
           sel.bloom_contaminated(docs, bloom).collect()}
    flagged = {i for i, r in got.items() if r["contaminated"]}
    assert exact_ids <= flagged  # Bloom can never miss
    # false-positive docs are bounded (generous: ≤ 10% of the rest)
    fp = flagged - exact_ids
    assert len(fp) <= 0.10 * docs.count()


def test_bloom_bitmap_bounded(spark, docs):
    bloom = sel.bloom_build(docs.limit(30).select("text"), ngram=3,
                            n_bits=1 << 12, n_hashes=2)
    assert len(bloom["bits"]) == (1 << 12) // 8
    assert 0 < bloom["n_set"] <= 1 << 12


def test_bloom_probe_zero_shuffle_plan(spark, docs):
    bloom = sel.bloom_build(docs.limit(10).select("text"), ngram=3,
                            n_bits=1 << 12, n_hashes=2)
    plan = (sel.bloom_contaminated(docs, bloom)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# perplexity buckets
# ---------------------------------------------------------------------------

def test_perplexity_buckets_split_and_order(spark, docs):
    from sparkjesse.textops import ngram_lm_train

    model = ngram_lm_train(docs, max_vocab=500)
    out = sel.perplexity_buckets(docs, model).collect()
    by_bucket: dict = {}
    for r in out:
        by_bucket.setdefault(r["ppl_bucket"], []).append(r["lm_ppl"])
    assert set(by_bucket) <= {"head", "middle", "tail", None}
    # roughly a third each (exact percentile cut)
    n = len(out)
    for b in ("head", "middle", "tail"):
        assert len(by_bucket.get(b, [])) >= 0.2 * n
    assert max(by_bucket["head"]) <= min(by_bucket["tail"])
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])


def test_perplexity_buckets_null_for_empty_docs(spark):
    from sparkjesse.textops import ngram_lm_train

    df = spark.createDataFrame(
        [(1, "aa bb aa"), (2, ""), (3, "aa bb")],
        "doc_id long, text string")
    model = ngram_lm_train(df, min_count=1)
    rows = {r["doc_id"]: r for r in
            sel.perplexity_buckets(df, model).collect()}
    assert rows[2]["lm_ppl"] is None
    assert rows[2]["ppl_bucket"] is None
    assert rows[1]["ppl_bucket"] is not None
