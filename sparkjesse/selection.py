"""Data-selection operators for LLM training pipelines: DSIR
importance resampling, SemDeDup semantic deduplication, Bloom-filter
decontamination, and CCNet-style perplexity bucketing.

These compose the existing corpus machinery (``textops`` tokenization,
``sampling`` md5 buckets, ``similarity`` cosine kernels, ``dedup``
n-gram sets) into the selection stage of a training-data pipeline:
given a raw crawl and a small trusted target corpus, score every raw
document by how target-like it is (DSIR), prune semantically redundant
documents (SemDeDup), and drop benchmark-contaminated ones (Bloom) —
all as deterministic, retry-safe Spark plans.

Scale shape (the part that must survive 10^12 docs):

* DSIR (Xie et al. 2023, "Data Selection for Language Models via
  Importance Resampling"): both corpora are reduced to ``n_buckets``
  hashed-n-gram counts (ONE map-side-combined groupBy each, shuffle
  volume = n_buckets rows per task); the bucket log-ratio table is
  ≤ ``n_buckets`` floats and rides inside an Arrow-batched pandas UDF
  closure, so scoring the raw corpus is a ZERO-SHUFFLE map — the
  exact ``encode_documents`` pattern and size bound.
* SemDeDup (Abbas et al. 2023): one zero-shuffle centroid assignment
  (broadcast codebook), then per-cluster pairwise cosine. The only
  shuffle is on the cluster id; per-cluster work is O(size²), bounded
  by sizing ``n_clusters ∝ corpus/√target_cluster_size`` (the paper's
  own design — clusters exist precisely to cap the quadratic term).
* Bloom decontamination: the benchmark's n-gram set is folded into an
  ``n_bits`` bitmap (distinct-index shuffle bounded by ``n_bits``),
  and membership tests are a zero-shuffle map with the bitmap in the
  UDF closure — unlike ``dedup.decontaminate_report``'s exact
  broadcast set, the bitmap size is FIXED at build time no matter how
  large the benchmark suite grows (false-positive rate, not memory,
  is the tunable).

Cross-engine determinism: bucket ids are md5-derived (the
``sampling.hash_bucket`` idiom, 4 hex digits mod ``n_buckets``), so a
SQL engine reproduces the DSIR bucket machinery exactly — the
``sel_dsir`` oracle query hash-pins per-document integer gram/bucket
statistics against DuckDB; the float log-ratio weights are pinned by
pytest against a local NumPy oracle (float fold order is engine-
specific, integers are not).

Reference scope note: jesse (the validation reference) has no
selection stage; this is north-star training-pipeline surface
(SURVEY §2.6) alongside dedup/encode/quality/packing.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textops import tokens_col

__all__ = [
    "hashed_grams_col", "bucket_counts", "dsir_model",
    "dsir_weight_col", "dsir_weights", "dsir_resample",
    "seed_centroids", "semantic_dedup",
    "bloom_build", "bloom_probe_col", "bloom_contaminated",
    "perplexity_buckets",
]


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------

def _bucket_expr(gram: Column, n_buckets: int, salt: str) -> Column:
    """md5 bucket in [0, n_buckets): first 4 hex digits mod n_buckets
    (the ``sampling.hash_bucket`` idiom — reproducible in any engine
    with md5)."""
    h = F.md5(F.concat(F.lit(salt), gram))
    return (F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
            % F.lit(n_buckets))


def hashed_grams_col(text_col: Column | str = "text", *,
                     n_buckets: int = 8192, salt: str = "",
                     include_unigrams: bool = True) -> Column:
    """Per-document array of hashed n-gram bucket ids (unigrams +
    adjacent-bigram strings ``"a b"``), pure column expression.

    DSIR's feature space: a bag of hashed n-grams. 4 md5 hex digits
    give 65,536 raw values, so ``n_buckets`` must be ≤ 65536 (8192 is
    the paper-scale default; collisions are part of the model, not an
    error)."""
    if not 1 <= n_buckets <= 65536:
        raise ValueError("n_buckets must be in [1, 65536]")
    toks = tokens_col(text_col)
    # adjacent pairs via two shifted slices; n_pairs = size-1 clamped
    # to 0 so single-token docs yield [] (a descending sequence(1, 0)
    # here once made element_at(toks, 2) throw on 1-token docs)
    n_pairs = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n_pairs), F.slice(toks, 2, n_pairs),
        lambda a, b: F.concat_ws(" ", a, b))
    grams = (F.concat(toks, bigrams) if include_unigrams else bigrams)
    return F.transform(grams,
                       lambda g: _bucket_expr(g, n_buckets, salt))


def bucket_counts(df: DataFrame, text_col: str = "text", *,
                  n_buckets: int = 8192, salt: str = "",
                  include_unigrams: bool = True,
                  impl: str = "arrow") -> DataFrame:
    """Hashed-gram bucket histogram ``(bucket, n)`` for a corpus — the
    sufficient statistic DSIR needs from each side. ONE shuffle,
    map-side combined, ≤ ``n_buckets`` result rows.

    ``impl="arrow"`` (default, the scale path): each partition folds
    its grams into a dense ``n_buckets`` int64 histogram inside ONE
    ``mapInPandas`` pass and emits only its nonzero rows — shuffle
    volume ≤ ``n_buckets`` rows per partition, no per-gram rows ever
    materialize. ``impl="expr"``: the pure-expression explode twin
    (engine-portable md5/conv plan; Catalyst evaluates HOF lambdas
    interpreted per ELEMENT, so the per-gram md5 makes it ~4× slower
    at equal results — kept as the differential/parity path, same
    role as ``dedup``'s expression SimHash). Both paths hash with the
    identical md5-prefix rule and are pytest-pinned equal."""
    if impl == "expr":
        grams = hashed_grams_col(text_col, n_buckets=n_buckets,
                                 salt=salt,
                                 include_unigrams=include_unigrams)
        return (df.select(F.explode(grams).alias("bucket"))
                  .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))
    if impl != "arrow":
        raise ValueError(f"unknown impl: {impl!r}")
    if not 1 <= n_buckets <= 65536:
        raise ValueError("n_buckets must be in [1, 65536]")

    def hist(batches):
        counts = np.zeros(n_buckets, dtype=np.int64)
        for pdf in batches:
            # NULL text has no grams (as explode over a NULL array)
            for t in pdf["__text__"].dropna():
                toks = t.split(" ")
                grams = (list(toks) if include_unigrams else [])
                grams += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
                for g in grams:
                    counts[int(hashlib.md5(
                        (salt + g).encode()).hexdigest()[:4], 16)
                        % n_buckets] += 1
        nz = np.nonzero(counts)[0]
        yield pd.DataFrame({"bucket": nz.astype(np.int64),
                            "n": counts[nz]})

    return (df.select(F.col(text_col).alias("__text__"))
              .mapInPandas(hist, "bucket long, n long")
              .groupBy("bucket").agg(F.sum("n").alias("n")))


def dsir_model(target: DataFrame, raw: DataFrame,
               text_col: str = "text", *, n_buckets: int = 8192,
               salt: str = "", include_unigrams: bool = True,
               alpha: float = 1.0) -> dict:
    """Fit the DSIR importance model: hashed-gram bucket histograms of
    the (small, trusted) target corpus and the raw corpus, plus the
    per-bucket add-``alpha`` smoothed log probability ratio
    ``log((t_b+α)/(T+αB)) − log((r_b+α)/(R+αB))``.

    Driver materialization is ≤ ``n_buckets`` rows per side — bounded
    by construction, like the ``encode_documents`` vocab and the
    ``ngram_lm_train`` capped bigram table. Returns ``{"n_buckets",
    "salt", "include_unigrams", "alpha", "tgt", "raw", "logratio"}``
    with ``tgt``/``raw`` dense int64 arrays and ``logratio`` dense
    float64, all length ``n_buckets``."""
    kw = dict(n_buckets=n_buckets, salt=salt,
              include_unigrams=include_unigrams)
    tgt = np.zeros(n_buckets, dtype=np.int64)
    for r in bucket_counts(target, text_col, **kw).collect():
        tgt[r["bucket"]] = r["n"]
    raw_a = np.zeros(n_buckets, dtype=np.int64)
    for r in bucket_counts(raw, text_col, **kw).collect():
        raw_a[r["bucket"]] = r["n"]
    T, R, B = int(tgt.sum()), int(raw_a.sum()), n_buckets
    logratio = (np.log((tgt + alpha) / (T + alpha * B))
                - np.log((raw_a + alpha) / (R + alpha * B)))
    return {"n_buckets": n_buckets, "salt": salt,
            "include_unigrams": include_unigrams, "alpha": alpha,
            "tgt": tgt, "raw": raw_a, "logratio": logratio}


def dsir_weight_col(model: dict,
                    text_col: Column | str = "text") -> Column:
    """Per-document DSIR statistics as a pure map —
    ``struct<n_grams, tgt_hits, raw_hits, weight>`` where ``weight``
    is the log importance weight (sum of bucket log-ratios over the
    document's hashed grams, the bag-of-hashed-n-grams likelihood
    ratio) and ``tgt_hits``/``raw_hits`` are the integer sums of the
    bucket counts the grams landed in (engine-order-independent, so
    the DuckDB oracle hash-pins the full hashing + histogram-join
    machinery exactly; the float ``weight`` is pytest-pinned).

    Zero shuffle: the ≤ ``n_buckets``-entry model rides in the Arrow
    UDF closure; gram hashing uses the same md5 scheme as the Spark
    expression path (``hashed_grams_col``) — md5 is md5 in every
    engine."""
    n_buckets = model["n_buckets"]
    salt = model["salt"]
    include_uni = model["include_unigrams"]
    tgt, raw, logratio = model["tgt"], model["raw"], model["logratio"]

    @F.pandas_udf("struct<n_grams:long, tgt_hits:long,"
                  " raw_hits:long, weight:double>")
    def score(texts: pd.Series) -> pd.DataFrame:
        ng, th, rh, w = [], [], [], []
        for t in texts:
            # NULL text has no grams: zero counts, weight 0.0
            toks = [] if t is None else t.split(" ")
            grams = (list(toks) if include_uni else [])
            grams += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            idx = [int(hashlib.md5((salt + g).encode()).hexdigest()
                       [:4], 16) % n_buckets for g in grams]
            ng.append(len(idx))
            th.append(int(sum(int(tgt[i]) for i in idx)))
            rh.append(int(sum(int(raw[i]) for i in idx)))
            w.append(round(float(sum(float(logratio[i])
                                     for i in idx)), 6))
        return pd.DataFrame({"n_grams": ng, "tgt_hits": th,
                             "raw_hits": rh, "weight": w})

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return score(c)


def dsir_weights(df: DataFrame, model: dict, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Standalone DSIR score frame ``(id, n_grams, tgt_hits,
    raw_hits, weight)`` — :func:`dsir_weight_col` split into columns;
    zero shuffle."""
    s = dsir_weight_col(model, text_col)
    return df.select(
        F.col(id_col),
        s.getField("n_grams").alias("n_grams"),
        s.getField("tgt_hits").alias("tgt_hits"),
        s.getField("raw_hits").alias("raw_hits"),
        s.getField("weight").alias("weight"))


def dsir_resample(df: DataFrame, model: dict, fraction: float, *,
                  text_col: str = "text", id_col: str = "doc_id",
                  salt: str = "gumbel", exact: bool = True) -> DataFrame:
    """Importance resampling: keep ~``fraction`` of documents by
    Gumbel top-k over the log weights — sampling WITHOUT replacement
    proportional to the importance weights (the Gumbel-max trick DSIR
    prescribes), with the Gumbel noise derived from the md5 id bucket
    so the sample is a pure function of the data (retry-safe,
    cluster-size-independent, like ``sampling.deterministic_sample``).

    ``exact=True`` computes the keep threshold with an exact
    percentile (full-accuracy, fine to a few 10^9 rows);
    ``exact=False`` uses ``approx_percentile`` — the 10^12-row path
    (sketch-based, one map-side-combined pass, documented ±0.1%
    boundary fuzz)."""
    from .sampling import BUCKETS, hash_bucket

    if not 0.0 < fraction <= 1.0:
        raise ValueError("fraction must be in (0, 1]")
    w = dsir_weight_col(model, text_col).getField("weight")
    u = (hash_bucket(id_col, salt=salt).cast("double") + 0.5) / BUCKETS
    key = (w - F.log(-F.log(u))).alias("__gkey__")
    scored = df.withColumn("__gkey__", key)
    pct = float(1.0 - fraction)
    fn = "percentile" if exact else "approx_percentile"
    thr_row = scored.select(
        F.expr(f"{fn}(__gkey__, {pct!r})").alias("t")).collect()[0]
    thr = thr_row["t"]
    if thr is None:
        return df
    return (scored.where(F.col("__gkey__") >= F.lit(float(thr)))
                  .drop("__gkey__"))


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication over embeddings
# ---------------------------------------------------------------------------

def seed_centroids(corpus: DataFrame, *, id_col: str = "vec_id",
                   emb_col: str = "embedding",
                   n_centroids: int = 16) -> list:
    """Deterministic untrained codebook: the first ``n_centroids``
    vectors by id — the ``similarity.assignment_parity`` seeding rule,
    so an external SQL engine can reproduce the codebook (and hence
    the whole SemDeDup verdict) from the data alone. Production runs
    pass ``similarity.kmeans_codebook`` output instead."""
    rows = (corpus.orderBy(F.col(id_col)).limit(n_centroids)
                  .select(id_col, emb_col).collect())
    if len(rows) < n_centroids:
        raise ValueError(
            f"corpus has {len(rows)} rows < n_centroids={n_centroids}")
    return sorted((r[id_col], [float(x) for x in r[emb_col]])
                  for r in rows)


def _assign_cols(centroids: list, emb_col: str) -> tuple[Column, Column]:
    """(cell, cent_sim): nearest centroid by cosine (desc sim, asc
    centroid id tiebreak — the ``assignment_parity`` literal path) and
    the cosine to it, both rounded to 6 dp for cross-engine
    determinism. Pure expressions, zero shuffle."""
    from .similarity import cosine_col

    scored = F.array(*[
        F.struct(
            (-F.round(cosine_col(
                F.col(emb_col), F.array(*[F.lit(x) for x in vec])), 6))
            .alias("negsim"),
            F.lit(cid).alias("cent_id"))
        for cid, vec in centroids])
    best = F.sort_array(scored)[0]
    return (best.getField("cent_id").cast("long"),
            -best.getField("negsim"))


# expression trees grow linearly with the codebook; past this the
# broadcast-matrix UDF wins (same crossover similarity.py uses for
# the IVF coarse quantizer)
_LITERAL_ASSIGN_MAX = 64


def _assign_udf_cols(centroids: list, emb_col: str):
    """Large-codebook twin of :func:`_assign_cols`: one Arrow-batched
    matmul against the broadcast centroid matrix (the
    ``similarity._nearest_cells_udf`` pattern, extended to return the
    similarity too). Tiebreak identity with the literal path: cosines
    round to 6 dp BEFORE the argmax, and ``np.argmax`` returns the
    FIRST maximum — centroids are sorted by cent_id, so ties resolve
    to the smaller id exactly like the (negsim, cent_id) struct sort
    (pytest-pinned equal on both paths)."""
    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    mat = np.array([v for _, v in centroids], dtype=np.float64)
    mat_n = mat / np.maximum(
        np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)

    @F.pandas_udf("struct<cell:long, cent_sim:double>")
    def assign(embs: pd.Series) -> pd.DataFrame:
        E = np.array([np.asarray(e, dtype=np.float64) for e in embs])
        En = E / np.maximum(
            np.linalg.norm(E, axis=1, keepdims=True), 1e-300)
        sims = np.round(En @ mat_n.T, 6)
        best = np.argmax(sims, axis=1)
        return pd.DataFrame(
            {"cell": cids[best],
             "cent_sim": sims[np.arange(len(best)), best]})

    s = assign(F.col(emb_col))
    return s.getField("cell"), s.getField("cent_sim")


def semantic_dedup(df: DataFrame, centroids: list, *,
                   id_col: str = "vec_id",
                   emb_col: str = "embedding",
                   threshold: float = 0.95,
                   impl: str = "grouped",
                   assign: str = "auto") -> DataFrame:
    """SemDeDup (Abbas et al. 2023): flag semantically redundant
    embeddings. Each vector is assigned to its nearest centroid
    (zero-shuffle broadcast-codebook expression); within a cluster, a
    vector is a duplicate iff some τ-similar cluster-mate is FARTHER
    from the centroid (SemDeDup keeps the low-centroid-similarity
    representative to preserve diversity; ties break to the smaller
    id). Comparisons use 6-dp-rounded cosines so both impls and the
    SQL oracle agree bit-for-bit.

    Returns ``(id, cell, cent_sim, is_dup)``.

    ``impl="grouped"`` (default, the scale path): ONE shuffle on the
    cluster id, per-cluster pairwise cosine inside an
    ``applyInPandas`` batch — O(size²) per cluster, capped by sizing
    ``n_clusters`` (the paper runs 50k clusters at 100M scale for
    ~2k-vector clusters). ``impl="pairs"``: the same verdict as a
    cluster-keyed self-join of pure column expressions — more
    shuffle-hungry but every operation is engine-portable (the
    ``dd_semantic`` oracle's path; pytest pins both impls equal).

    ``assign`` picks the centroid-assignment kernel: ``"literal"``
    (expression tree, engine-portable) for small codebooks,
    ``"udf"`` (broadcast-matrix Arrow matmul) for the 50k-cluster
    production codebooks where a literal tree would explode the plan;
    ``"auto"`` (default) crosses over at ``_LITERAL_ASSIGN_MAX`` (64)
    centroids. Both kernels round to 6 dp before the argmax and
    tiebreak to the smaller centroid id (pytest-pinned equal)."""
    if impl not in ("grouped", "pairs"):
        raise ValueError(f"unknown impl: {impl!r}")
    if assign == "auto":
        assign = ("literal" if len(centroids) <= _LITERAL_ASSIGN_MAX
                  else "udf")
    if assign == "literal":
        cell, cent_sim = _assign_cols(centroids, emb_col)
    elif assign == "udf":
        cell, cent_sim = _assign_udf_cols(centroids, emb_col)
    else:
        raise ValueError(f"unknown assign: {assign!r}")
    assigned = df.select(
        F.col(id_col).alias("id"),
        F.col(emb_col).alias("emb"),
        cell.alias("cell"),
        cent_sim.alias("cent_sim"))

    if impl == "pairs":
        from .similarity import cosine_col

        a = assigned.alias("a")
        b = (assigned.withColumnRenamed("id", "bid")
                     .withColumnRenamed("emb", "bemb")
                     .withColumnRenamed("cent_sim", "bcs").alias("b"))
        pair_cos = F.round(cosine_col(F.col("a.emb"),
                                      F.col("b.bemb")), 6)
        dominated = (
            a.join(b, on="cell")
             .where((F.col("a.id") != F.col("bid"))
                    & (pair_cos >= F.lit(threshold))
                    & ((F.col("bcs") < F.col("a.cent_sim"))
                       | ((F.col("bcs") == F.col("a.cent_sim"))
                          & (F.col("bid") < F.col("a.id")))))
             .select(F.col("cell"), F.col("a.id").alias("id"))
             .distinct())
        return (assigned.join(dominated.withColumn("__dup__",
                                                   F.lit(True)),
                              on=["cell", "id"], how="left")
                .select(F.col("id").alias(id_col), "cell", "cent_sim",
                        F.coalesce("__dup__", F.lit(False))
                         .alias("is_dup")))

    import pandas as _pd

    def dedup_cell(pdf: _pd.DataFrame) -> _pd.DataFrame:
        # rows of one cluster. Vectorized ACROSS PAIRS, looping over
        # DIMENSIONS (the _cosine_pairs_batch trick): each pair's dot
        # accumulator sees the exact left-fold IEEE sequence, so the
        # 6-dp-rounded sims match the per-pair loop this replaced —
        # which did O(n²) python-level np.dot calls, ~6 s for a
        # paper-sized 2k-vector cluster. Chunked over rows so peak
        # memory is CHUNK×n doubles, not n².
        cs = pdf["cent_sim"].to_numpy()
        ids = pdf["id"].to_numpy()
        n = len(ids)
        E = np.stack([np.asarray(e, dtype=np.float64)
                      for e in pdf["emb"]]) if n else np.zeros((0, 1))
        dim = E.shape[1]
        sq = np.zeros(n)
        for d in range(dim):
            sq += E[:, d] * E[:, d]
        nrm = np.sqrt(sq)
        order = np.lexsort((ids, cs))  # (cent_sim, id) ascending
        rank = np.empty(n, dtype=np.int64)
        rank[order] = np.arange(n)
        dup = np.zeros(n, dtype=bool)
        chunk = 1024
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            G = np.zeros((e - s, n))
            for d in range(dim):
                G += np.outer(E[s:e, d], E[:, d])
            denom = np.outer(nrm[s:e], nrm)
            sim = np.divide(G, denom, out=np.zeros_like(G),
                            where=denom != 0)  # zero-norm pair -> 0.0
            hit = np.round(sim, 6) >= threshold
            hit[np.arange(e - s), np.arange(s, e)] = False  # self
            # only earlier-in-(cent_sim, id)-order mates dominate
            dup[s:e] = (hit & (rank[None, :] < rank[s:e, None])
                        ).any(axis=1)
        return _pd.DataFrame({"id": ids, "cell": pdf["cell"],
                              "cent_sim": cs, "is_dup": dup})

    out = (assigned.groupBy("cell")
           .applyInPandas(dedup_cell,
                          "id long, cell long, cent_sim double,"
                          " is_dup boolean"))
    return out.withColumnRenamed("id", id_col)


# ---------------------------------------------------------------------------
# Bloom-filter decontamination
# ---------------------------------------------------------------------------

def _bloom_indices(gram: str, *, n_bits: int, n_hashes: int,
                   salt: str) -> list[int]:
    return [int(hashlib.md5(f"{i}:{salt}{gram}".encode()).hexdigest()
                [:8], 16) % n_bits for i in range(n_hashes)]


def bloom_build(benchmark: DataFrame, text_col: str = "text", *,
                ngram: int = 8, n_bits: int = 1 << 20,
                n_hashes: int = 4, salt: str = "") -> dict:
    """Fold a benchmark suite's word ``ngram`` set into a Bloom bitmap
    for membership-test decontamination at fixed memory.

    ``dedup.decontaminate_report`` broadcasts the EXACT n-gram set —
    right when the benchmark suite is small. This is the path for when
    it is not: the distinct (gram, hash_i) indices are reduced in
    Spark (shuffle and driver pull both ≤ ``n_bits`` longs — the
    bitmap, not the benchmark, bounds memory) and packed into a bytes
    bitmap. False-positive rate ≈ ``(1 − e^{−kn/m})^k``; false
    negatives impossible, so contamination RECALL is exact
    (pytest-pinned against the exact reporter).

    Returns ``{"bits": bytes, "n_bits", "n_hashes", "ngram",
    "salt", "n_set"}``."""
    from .textops import shingles_col

    toks = tokens_col(text_col)
    grams = F.array_distinct(shingles_col(toks, ngram))

    def to_indices(batches):
        for pdf in batches:
            idx = set()
            for g in pdf["gram"]:
                idx.update(_bloom_indices(g, n_bits=n_bits,
                                          n_hashes=n_hashes,
                                          salt=salt))
            yield pd.DataFrame({"idx": sorted(idx)})

    idx_df = (benchmark.select(F.explode(grams).alias("gram"))
              .mapInPandas(to_indices, "idx long")
              .distinct())
    bits = np.zeros(n_bits, dtype=bool)
    n_set = 0
    for r in idx_df.collect():
        bits[r["idx"]] = True
        n_set += 1
    return {"bits": np.packbits(bits).tobytes(), "n_bits": n_bits,
            "n_hashes": n_hashes, "ngram": ngram, "salt": salt,
            "n_set": n_set}


def bloom_probe_col(bloom: dict,
                    text_col: Column | str = "text") -> Column:
    """The Bloom membership probe as a pure COLUMN —
    ``struct<n_grams, n_hits>`` over ``text_col`` — for callers that
    filter the corpus in place (``withColumn`` + ``where``, zero
    shuffle, no join back; the pattern ``tools/pipeline_job.py`` uses
    for every per-row verdict). A gram "hits" iff all ``n_hashes`` bit
    positions are set; the bitmap rides in the Arrow UDF closure
    (``n_bits/8`` bytes, fixed)."""
    n_bits, n_hashes = bloom["n_bits"], bloom["n_hashes"]
    ngram, salt = bloom["ngram"], bloom["salt"]
    packed = np.frombuffer(bloom["bits"], dtype=np.uint8)

    @F.pandas_udf("struct<n_grams:long, n_hits:long>")
    def probe(texts: pd.Series) -> pd.DataFrame:
        bits = np.unpackbits(packed).astype(bool)
        ngs, hits = [], []
        for t in texts:
            toks = (t or "").split(" ")
            if len(toks) <= ngram:
                grams = {" ".join(toks)}
            else:
                grams = {" ".join(toks[i:i + ngram])
                         for i in range(len(toks) - ngram + 1)}
            h = sum(
                1 for g in grams
                if all(bits[i] for i in _bloom_indices(
                    g, n_bits=n_bits, n_hashes=n_hashes, salt=salt)))
            ngs.append(len(grams))
            hits.append(h)
        return pd.DataFrame({"n_grams": ngs, "n_hits": hits})

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return probe(c)


def bloom_contaminated(df: DataFrame, bloom: dict,
                       text_col: str = "text",
                       id_col: str = "doc_id", *,
                       min_hits: int = 1) -> DataFrame:
    """Per-document contamination verdict against a Bloom bitmap:
    ``(id, n_grams, n_hits, contaminated)`` — the standalone-frame
    wrapper over :func:`bloom_probe_col`; zero shuffle."""
    s = bloom_probe_col(bloom, text_col)
    return df.select(
        F.col(id_col),
        s.getField("n_grams").alias("n_grams"),
        s.getField("n_hits").alias("n_hits"),
        (s.getField("n_hits") >= F.lit(min_hits))
        .alias("contaminated"))


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing
# ---------------------------------------------------------------------------

def perplexity_buckets(df: DataFrame, model: dict,
                       text_col: str = "text",
                       id_col: str = "doc_id", *,
                       cuts: tuple = (1 / 3, 2 / 3),
                       exact: bool = True) -> DataFrame:
    """CCNet's head/middle/tail split: score every document under the
    bigram LM (``textops.lm_score_col``, zero-shuffle map), take the
    ``cuts`` perplexity quantiles over scoreable docs (exact
    percentile, or ``approx_percentile`` at 10^12 scale), and label
    ``head`` (lowest ppl = most natural) / ``middle`` / ``tail``;
    unscoreable (empty) docs get NULL. Returns
    ``(id, lm_ppl, ppl_bucket)``."""
    from .textops import lm_score_col

    lo, hi = sorted(cuts)
    ppl = lm_score_col(model, text_col).getField("ppl")
    scored = df.select(F.col(id_col), ppl.alias("lm_ppl"))
    fn = "percentile" if exact else "approx_percentile"
    qs = scored.select(
        F.expr(f"{fn}(lm_ppl, array({lo!r}, {hi!r}))").alias("q")
    ).collect()[0]["q"]
    if qs is None or qs[0] is None:
        return scored.withColumn("ppl_bucket",
                                 F.lit(None).cast("string"))
    q1, q2 = float(qs[0]), float(qs[1])
    bucket = (F.when(F.col("lm_ppl").isNull(),
                     F.lit(None).cast("string"))
               .when(F.col("lm_ppl") <= q1, F.lit("head"))
               .when(F.col("lm_ppl") <= q2, F.lit("middle"))
               .otherwise(F.lit("tail")))
    return scored.withColumn("ppl_bucket", bucket)
