"""Similarity search over embedding columns (``array<float>``).

* ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against the full corpus; one shuffle for the per-query window.
  The baseline and the verifier for the approximate path.
* ``ann_topk_bucketed`` — LSH-flavored scale path: corpus and queries
  are bucketed by the sign pattern of the leading dimensions (a
  data-derived random-hyperplane sketch — deterministic, no RNG), the
  join is restricted to same-bucket candidates, so each query touches
  ~corpus/2^bits rows. At 10^12 rows the bucket column becomes the
  table's partition key so bucket joins are co-located scans.

Determinism contract: dot products are **left folds in index order over
doubles** (``F.aggregate`` over ``zip_with``), giving bit-identical
results in any engine that folds sequentially — the DuckDB oracle uses
``list_reduce`` with the same shape. Never rely on engine-native
``list_cosine_similarity`` style builtins whose accumulation order is
unspecified.
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType
from pyspark.sql.window import Window


def dot_col(a: Column, b: Column) -> Column:
    """Deterministic dot product: left fold of exact float×float
    products (each product is exact in double) in index order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v)


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    """dot/(|a|·|b|) with a fixed operation order (divide twice).

    Zero-norm operands yield NULL: Spark 4 runs ANSI mode by default,
    so an unguarded division makes ONE all-zero embedding (a deleted
    doc, a failed encoder) abort the whole job with DIVIDE_BY_ZERO.
    ``try_divide`` keeps the exact divide-twice operation order and
    evaluates each norm fold ONCE — a CaseWhen guard was measured 1.8×
    slower because Catalyst's subexpression elimination does not span
    branch boundaries, so the norms were folded twice. NULL embeddings
    still propagate NULL."""
    return F.try_divide(F.try_divide(dot_col(a, b), norm_col(a)),
                        norm_col(b))


def _cosine_pairs_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized pairwise cosine, BIT-IDENTICAL to ``cosine_col``.

    The expression fold is interpreted per array element, and the
    all-pairs scoring join evaluates it |Q|×|C| times — the inner loop
    of similarity search. This UDF vectorizes ACROSS PAIRS while
    looping over DIMENSIONS, so each pair's accumulator sees the exact
    same IEEE-double operation sequence as the left fold
    (``acc = (((0+p0)+p1)+…)``, float→double casts exact, then
    ``dot/sqrt(na)/sqrt(nb)`` divide-twice) — bit-for-bit equal
    results, parity test-pinned. Row-level nulls and length-mismatched
    pairs return null exactly like ``zip_with`` null-poisoning.
    Caveats (documented contract): a null ELEMENT inside an embedding
    arrives from Arrow as NaN and yields NaN where the expression path
    yields null — don't feed element-null embeddings to the arrow
    impl. A ZERO-NORM vector yields NULL on both paths: the NaN this
    kernel computes surfaces as NA through the Float64 extension
    array, matching ``cosine_col``, whose ``try_divide`` returns NULL
    on a zero norm (test-pinned)."""
    n = len(a)
    out = np.full(n, np.nan)
    valid = np.empty(n, dtype=bool)
    arrs_a, arrs_b = a.to_numpy(), b.to_numpy()
    for i in range(n):
        va, vb = arrs_a[i], arrs_b[i]
        valid[i] = va is not None and vb is not None and len(va) == len(vb)
    idx = np.nonzero(valid)[0]
    if len(idx):
        lens = np.array([len(arrs_a[i]) for i in idx])
        for dim in np.unique(lens):
            sub = idx[lens == dim]
            A = np.stack([arrs_a[i] for i in sub]).astype(np.float64)
            B = np.stack([arrs_b[i] for i in sub]).astype(np.float64)
            dot = np.zeros(len(sub))
            na = np.zeros(len(sub))
            nb = np.zeros(len(sub))
            for d in range(dim):
                dot += A[:, d] * B[:, d]
                na += A[:, d] * A[:, d]
                nb += B[:, d] * B[:, d]
            with np.errstate(divide="ignore", invalid="ignore"):
                out[sub] = dot / np.sqrt(na) / np.sqrt(nb)
    res = pd.Series(out, dtype="object")
    res[~valid] = None
    return res.astype("Float64")


_COSINE_UDF = None


def cosine_pairs_udf(a: Column, b: Column) -> Column:
    """``_cosine_pairs_batch`` as a pandas UDF (built lazily — the
    decorator needs an active SparkSession, and this module imports
    fine without one)."""
    global _COSINE_UDF
    if _COSINE_UDF is None:
        _COSINE_UDF = F.pandas_udf(_cosine_pairs_batch, "double")
    return _COSINE_UDF(a, b)


def _pair_cosine(qe: Column, ce: Column, impl: str) -> Column:
    if impl in ("auto", "arrow"):
        return cosine_pairs_udf(qe, ce)
    return cosine_col(qe, ce)


def brute_force_topk(queries: DataFrame, corpus: DataFrame, *,
                     id_col: str = "vec_id", emb_col: str = "embedding",
                     k: int = 5, impl: str = "auto") -> DataFrame:
    """Exact top-k neighbors per query (cosine desc, neighbor id asc as
    the deterministic tiebreak). Query side is broadcast — the corpus is
    scanned once, map-side, with no corpus shuffle; the only shuffle is
    the per-query top-k window over #queries × #corpus scored rows
    (use a small/sampled query set, or the bucketed path below)."""
    q = F.broadcast(queries.select(F.col(id_col).alias("query_id"),
                                   F.col(emb_col).alias("__qe__")))
    scored = (corpus.select(F.col(id_col).alias("neighbor_id"),
                            F.col(emb_col).alias("__ce__"))
              .join(q, F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      F.round(_pair_cosine(F.col("__qe__"), F.col("__ce__"),
                                           impl), 6)
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("query_id", "neighbor_id", "cosine", "rank"))


def sign_bucket(emb: Column, *, bits: int = 4) -> Column:
    """Deterministic hyperplane sketch: bit i = (emb[i] > 0). Buckets
    the space into 2^bits cells; at scale, persist as a partition/
    cluster key so same-bucket joins are co-located."""
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(F.element_at(emb, i + 1) > 0,
                           F.lit(2 ** i)).otherwise(0)
    return out.cast("int")


def _fold_cosines(emb_rows: Sequence, codebook: np.ndarray) -> np.ndarray:
    """Rounded cosines between each row embedding and every codebook
    vector, reproducing the engine's deterministic expression math
    BIT-FOR-BIT: dot products and squared norms are accumulated with an
    explicit loop over dimensions IN INDEX ORDER (the same left fold as
    ``dot_col`` — numpy's matmul/pairwise summation would differ in the
    last ulp), cosine = dot / |a| / |b| (divide twice, same order), and
    rounding is sign-aware HALF_UP to 6 decimals (Spark/DuckDB
    ``round`` semantics; ``np.round`` is half-to-even)."""
    E = np.stack([np.asarray(e, dtype=np.float64) for e in emb_rows])
    C = codebook.astype(np.float64)
    n, d = E.shape
    S = np.zeros((n, C.shape[0]))
    en = np.zeros(n)
    cn = np.zeros(C.shape[0])
    for j in range(d):  # left fold in index order == dot_col
        S += E[:, j:j + 1] * C[None, :, j]
        en += E[:, j] * E[:, j]
        cn += C[:, j] * C[:, j]
    cos = S / np.sqrt(en)[:, None] / np.sqrt(cn)[None, :]
    return np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6


def _nearest_cells_udf(cents: list, n_cells: int):
    """Pandas UDF: the ``n_cells`` nearest centroid ids per embedding,
    scored against a BROADCAST numpy matrix — the assignment path for
    large codebooks, where baking ``n_centroids × dim`` literals into
    the expression tree (the small-codebook path) would blow up
    Catalyst. Ordering matches the literal path exactly: rounded-cosine
    desc, centroid id asc (``cents`` must be sorted by id)."""
    cids = np.asarray([c for c, _ in cents], dtype=np.int64)
    cb = np.asarray([v for _, v in cents], dtype=np.float64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def nearest(emb: pd.Series) -> pd.Series:
        cos = _fold_cosines(list(emb), cb)
        # lexsort: last key is primary → (-cos) primary, id asc tie
        order = np.lexsort((np.broadcast_to(cids, cos.shape), -cos),
                           axis=1)[:, :n_cells]
        return pd.Series([row.tolist() for row in
                          cids[order].astype(np.int32)])

    return nearest


def kmeans_codebook(corpus: DataFrame, *, id_col: str = "vec_id",
                    emb_col: str = "embedding", n_centroids: int = 256,
                    n_iters: int = 5) -> list:
    """Deterministic Lloyd refinement: a k-means codebook as
    ``[(cent_id, vector), ...]`` sorted by cent_id (= codebook
    position), seeded with the first ``n_centroids`` corpus vectors by
    id (data-derived, no RNG) and refined for a FIXED ``n_iters``.

    Scale shape per iteration: one corpus pass assigns cells via the
    broadcast-matrix pandas UDF (zero shuffle), ``mapInPandas`` emits
    per-partition partial (cell, count, sum-vector) rows — at most
    ``partitions × n_centroids`` tiny rows — and a groupBy reduces them
    to ``n_centroids`` rows before a codebook-sized collect. The corpus
    itself never shuffles and never reaches the driver.

    Determinism: partials carry their partition id and the combine sums
    them in sorted (cell, partition) order, so results are reproducible
    for a fixed input layout; centroid components are rounded to 9
    decimals each iteration to damp last-ulp reorder jitter. Empty
    cells keep their previous centroid."""
    from pyspark import TaskContext
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)
    seed_rows = (corpus.orderBy(F.col(id_col)).limit(n_centroids)
                 .select(emb_col).collect())
    if len(seed_rows) < n_centroids:
        raise ValueError(
            f"corpus has only {len(seed_rows)} rows — cannot seed "
            f"n_centroids={n_centroids} cells; lower n_centroids or "
            f"grow the corpus")
    cb = np.asarray([[float(x) for x in r[emb_col]] for r in seed_rows],
                    dtype=np.float64)
    k, dim = cb.shape
    partial_schema = StructType([
        StructField("cell", LongType()),
        StructField("pid", LongType()),
        StructField("cnt", LongType()),
        StructField("s", ArrayType(DoubleType())),
    ])
    emb_only = corpus.select(emb_col)
    for _ in range(n_iters):
        cb_iter = cb.copy()

        def partials(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
            pid = TaskContext.get().partitionId()
            cnt = np.zeros(k, dtype=np.int64)
            acc = np.zeros((k, dim))
            for pdf in batches:
                if not len(pdf):
                    continue
                cos = _fold_cosines(list(pdf[emb_col]), cb_iter)
                cells = np.argmax(cos, axis=1)  # first max = lowest id
                E = np.stack([np.asarray(e, dtype=np.float64)
                              for e in pdf[emb_col]])
                for c in np.unique(cells):
                    m = cells == c
                    cnt[c] += int(m.sum())
                    acc[c] += E[m].sum(axis=0)
            hit = np.nonzero(cnt)[0]
            yield pd.DataFrame({"cell": hit, "pid": pid,
                                "cnt": cnt[hit],
                                "s": [acc[c] for c in hit]})

        def combine(key, pdf):
            pdf = pdf.sort_values("pid")  # deterministic sum order
            s = np.zeros(dim)
            for row in pdf["s"]:
                s += np.asarray(row)
            n = int(pdf["cnt"].sum())
            return pd.DataFrame({"cell": [key[0]], "cnt": [n],
                                 "s": [s / n]})

        rows = (emb_only.mapInPandas(partials, partial_schema)
                .groupBy("cell")
                .applyInPandas(combine,
                               "cell bigint, cnt bigint, s array<double>")
                .collect())
        for r in rows:
            cb[r["cell"]] = np.round(np.asarray(r["s"]), 9)
    return [(i, [float(x) for x in cb[i]]) for i in range(k)]


# literal-codebook assignment stays an expression tree up to this many
# centroids; beyond it the broadcast-matrix pandas UDF takes over (a
# ~64k-literal Catalyst tree per probe stage is not viable)
LITERAL_CODEBOOK_MAX = 32


def ivf_topk(queries: DataFrame, corpus: DataFrame, *,
             id_col: str = "vec_id", emb_col: str = "embedding",
             k: int = 3, n_centroids: int = 8, nprobe: int = 2,
             codebook: Optional[list] = None, train_iters: int = 0,
             literal_max: int = LITERAL_CODEBOOK_MAX) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the scale path for
    embedding search at 10^12 rows.

    * **Coarse quantizer**: ``codebook`` as ``[(cent_id, vector)]``,
      or — by default — the first ``n_centroids`` corpus vectors by id
      (data-derived, no RNG, so the DuckDB oracle reproduces the index
      bit-for-bit). ``train_iters > 0`` refines the seed with the
      deterministic Lloyd pass (``kmeans_codebook``).
    * **Index**: cell assignment is a ZERO-SHUFFLE map-side argmax
      over the corpus. Small codebooks (≤ ``literal_max``) are baked
      into the plan as expression literals; larger ones ship as a
      broadcast numpy matrix inside an Arrow-batched pandas UDF with
      BIT-IDENTICAL scoring (``_fold_cosines`` reproduces the
      expression fold; parity is test-pinned at 256 centroids). At
      scale the assignment is persisted as the table's partition/
      cluster key so each probe is a partition-pruned scan.
    * **Search**: each query probes its ``nprobe`` nearest centroid
      cells (multi-probe recall guard) and scores only those cells'
      members — candidate volume ~``nprobe/n_centroids`` of the
      corpus.

    Ties on assignment break toward the lower centroid id (stable in
    both engines and both assignment paths)."""
    if codebook is None:
        if train_iters > 0:
            codebook = kmeans_codebook(corpus, id_col=id_col,
                                       emb_col=emb_col,
                                       n_centroids=n_centroids,
                                       n_iters=train_iters)
        else:
            cent_rows = (corpus.orderBy(F.col(id_col)).limit(n_centroids)
                         .select(id_col, emb_col).collect())
            codebook = [(r[id_col], [float(x) for x in r[emb_col]])
                        for r in cent_rows]
    cents = sorted(codebook, key=lambda c: c[0])

    def nearest_cells_literal(emb: Column, n_cells: int) -> Column:
        """ids of the n_cells nearest centroids: sort an
        n_centroids-length literal-scored array — pure expressions."""
        scored = F.array(*[
            F.struct(
                (-F.round(cosine_col(
                    emb, F.array(*[F.lit(x) for x in vec])), 6))
                .alias("negsim"),
                F.lit(cid).alias("cent_id"))
            for cid, vec in cents])
        return F.transform(F.slice(F.sort_array(scored), 1, n_cells),
                           lambda c: c.getField("cent_id"))

    def assign(df: DataFrame, id_alias: str, emb_alias: str,
               n_cells: int) -> DataFrame:
        if len(cents) <= literal_max:
            cells = nearest_cells_literal(F.col(emb_col), n_cells)
        else:
            cells = _nearest_cells_udf(cents, n_cells)(F.col(emb_col))
        return (df.select(F.col(id_col).alias(id_alias),
                          F.col(emb_col).alias(emb_alias),
                          F.explode(cells).alias("cent_id")))

    indexed = assign(corpus, "neighbor_id", "__ce__", 1)
    probes = F.broadcast(assign(queries, "query_id", "__qe__", nprobe))
    scored = (indexed.join(probes, on="cent_id")
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      F.round(cosine_col(F.col("__qe__"), F.col("__ce__")),
                              6).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("query_id", "neighbor_id", "cosine", "rank"))


def assignment_parity(corpus: DataFrame, *, id_col: str = "vec_id",
                      emb_col: str = "embedding",
                      n_centroids: int = 64) -> DataFrame:
    """Hard cross-path parity probe for the IVF coarse quantizer:
    assign every corpus vector to its nearest centroid through BOTH
    assignment paths — the literal-expression tree (small-codebook
    path) and the broadcast-numpy-matrix pandas UDF (large-codebook
    path, ``_nearest_cells_udf``) — over the SAME deterministic seed
    codebook (first ``n_centroids`` vectors by id; no training, so a
    SQL oracle can recompute the expected cell independently).
    Returns ``(vec_id, cell_literal, cell_udf, agree)``.

    This is the oracle-facing twin of
    ``test_ivf_broadcast_assignment_parity_at_256_centroids``: a SQL
    engine recomputes the assignment from the same seed codebook and
    hash-pins BOTH paths at once — if either path's rounding, fold
    order, or tiebreak drifts, the value hash breaks. The trained
    (Lloyd) codebook path reuses exactly these two assignment kernels,
    so parity here transfers to ``ivf_topk(train_iters>0)``
    (pytest-pinned separately — k-means is iterative, not
    SQL-expressible)."""
    cent_rows = (corpus.orderBy(F.col(id_col)).limit(n_centroids)
                 .select(id_col, emb_col).collect())
    cents = sorted((r[id_col], [float(x) for x in r[emb_col]])
                   for r in cent_rows)
    scored = F.array(*[
        F.struct(
            (-F.round(cosine_col(
                F.col(emb_col), F.array(*[F.lit(x) for x in vec])), 6))
            .alias("negsim"),
            F.lit(cid).alias("cent_id"))
        for cid, vec in cents])
    lit_cell = (F.sort_array(scored)[0].getField("cent_id")
                .cast("int"))
    udf_cell = _nearest_cells_udf(cents, 1)(F.col(emb_col))[0]
    return (corpus.select(F.col(id_col),
                          lit_cell.alias("cell_literal"),
                          udf_cell.cast("int").alias("cell_udf"))
            .withColumn("agree",
                        F.col("cell_literal") == F.col("cell_udf")))


def ann_topk_bucketed(queries: DataFrame, corpus: DataFrame, *,
                      id_col: str = "vec_id", emb_col: str = "embedding",
                      k: int = 3, bits: int = 4,
                      multiprobe: int = 1, impl: str = "auto") -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket, MULTI-PROBED. ``multiprobe=1`` (default) probes the
    query's own bucket plus every Hamming-1 neighbor bucket
    (``bits + 1`` probes) — a near-neighbor that straddles one
    hyperplane still lands in a probed bucket, so ``bits`` can grow
    (finer candidate pruning, ~2^bits reduction) without the recall
    collapse a single-probe sketch suffers. Probed buckets are
    disjoint, so no candidate dedup is needed; the corpus is bucketed
    ONCE (at scale: persist the bucket as the table's partition/
    cluster key) and only the tiny query side is expanded
    ``bits + 1``-fold before the broadcast. ``multiprobe=0`` is the
    legacy single-bucket probe. Verify recall against
    ``brute_force_topk`` on samples (see tests)."""
    qb = sign_bucket(F.col(emb_col), bits=bits)
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(emb_col).alias("__qe__"),
                       qb.alias("__home__"))
    if multiprobe >= 1:
        probes = F.array(
            F.col("__home__"),
            *[F.col("__home__").bitwiseXOR(F.lit(1 << i))
              for i in range(bits)])
        q = q.select("query_id", "__qe__",
                     F.explode(probes).alias("bucket"))
    else:
        q = q.withColumnRenamed("__home__", "bucket")
    q = F.broadcast(q)
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(emb_col).alias("__ce__"),
                      sign_bucket(F.col(emb_col), bits=bits).alias("bucket"))
    scored = (c.join(q, on="bucket")
               .where(F.col("query_id") != F.col("neighbor_id"))
               .select("query_id", "neighbor_id",
                       F.round(_pair_cosine(F.col("__qe__"),
                                            F.col("__ce__"), impl),
                               6).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("query_id", "neighbor_id", "cosine", "rank"))


def label_centroids(df: DataFrame, emb_col: str = "embedding",
                    label_col: str = "label", *, dim: int,
                    with_cohesion: bool = True) -> DataFrame:
    """Per-label embedding centroid and cohesion — the label-quality
    audit for an embedding table: ``(label, n, centroid[, cohesion])``
    where ``centroid`` is the per-dimension mean (each coordinate
    rounded to 6 — rounding BEFORE the cohesion pass makes every
    downstream cosine deterministic across engines despite
    order-dependent float summation) and ``cohesion`` is the mean
    cosine of members to their centroid (low cohesion ⇒ mislabeled or
    multi-modal label).

    Scale shape: the centroid is ``dim`` map-side-combinable ``avg``
    aggregates — the one shuffle carries ``dim`` doubles per (task,
    label), never embedding rows. Cohesion is a second map-side pass:
    centroids are broadcast (labels are few by definition), cosines
    computed per row, one more tiny aggregate. No pass ever shuffles
    an embedding vector."""
    cent = df.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.round(F.avg(F.element_at(F.col(emb_col), i + 1)), 6)
          .alias(f"_c{i}") for i in range(dim)])
    cent = cent.select(
        label_col, "n",
        F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("centroid"))
    if not with_cohesion:
        return cent
    j = df.select(label_col, emb_col).join(F.broadcast(cent), label_col)
    cos = cosine_col(F.col(emb_col), F.col("centroid"))
    return (j.groupBy(label_col, "n", "centroid")
             .agg(F.round(F.avg(cos), 6).alias("cohesion"))
             .select(label_col, "n", "centroid", "cohesion"))


# ---------------------------------------------------------------------------
# product quantization (PQ) — compressed-domain ANN for 10^12-row tables
# ---------------------------------------------------------------------------

def recall_at_k(approx: DataFrame, exact: DataFrame, *,
                query_col: str = "query_id",
                neighbor_col: str = "neighbor_id") -> DataFrame:
    """Recall telemetry for the ANN stack: per query,
    ``|approx ∩ exact| / |exact|`` over (query, neighbor) pairs —
    ``(query_id, n_exact, n_hit, recall)``. Run any approximate
    searcher (``ann_topk_bucketed`` / ``ivf_topk`` / ``pq_topk`` /
    ``ivfpq_topk``) against ``brute_force_topk`` on a sample and
    aggregate ``avg(recall)`` to catch recall regressions that value
    hashes cannot (an ANN result can drift to a worse-but-valid
    neighbor set without any determinism breach). Both inputs are
    top-k-sized by contract, so every join/agg here is tiny.
    Regression floors are pytest-pinned (the 50-row oracle budget
    carries the determinism pins; recall floors are local
    assertions)."""
    ex = exact.select(F.col(query_col).alias("__q__"),
                      F.col(neighbor_col).alias("__n__"))
    ap = approx.select(F.col(query_col).alias("__q__"),
                       F.col(neighbor_col).alias("__n__"))
    hits = (ap.join(ex, ["__q__", "__n__"])
              .groupBy("__q__").agg(F.count(F.lit(1)).alias("n_hit")))
    base = ex.groupBy("__q__").agg(F.count(F.lit(1)).alias("n_exact"))
    return (base.join(hits, "__q__", "left")
            .select(F.col("__q__").alias(query_col), "n_exact",
                    F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
                    F.round(F.coalesce(F.col("n_hit"), F.lit(0))
                            / F.col("n_exact"), 6).alias("recall")))


def _pq_seed_arrays(corpus: DataFrame, id_col: str, emb_col: str,
                    m: int, n_codes: int) -> list:
    """Deterministic PQ seed codebooks as a list of ``m`` numpy
    ``(n_codes, dim/m)`` arrays: the first ``n_codes`` corpus vectors
    by id, split into contiguous subspaces (no RNG, no training).
    Shared by :func:`pq_train` (Lloyd initialization) and
    :func:`pq_seed_codebooks` (the oracle-facing untrained twin)."""
    seed_rows = (corpus.orderBy(F.col(id_col)).limit(n_codes)
                 .select(emb_col).collect())
    if len(seed_rows) < n_codes:
        # fail fast like the divisibility check: a silently smaller
        # codebook would ripple wrong shapes into every downstream
        # encode/LUT (round-4 ADVICE)
        raise ValueError(
            f"corpus has only {len(seed_rows)} rows — cannot seed "
            f"n_codes={n_codes} PQ codes; lower n_codes or grow the "
            f"corpus")
    seeds = np.asarray([[float(x) for x in r[emb_col]]
                        for r in seed_rows], dtype=np.float64)
    k, dim = seeds.shape
    if dim % m:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    sub = dim // m
    return [seeds[:, s * sub:(s + 1) * sub].copy() for s in range(m)]


def pq_seed_codebooks(corpus: DataFrame, *, id_col: str = "vec_id",
                      emb_col: str = "embedding", m: int = 4,
                      n_codes: int = 16) -> list:
    """UNTRAINED PQ codebooks — exactly :func:`pq_train`'s
    deterministic initialization (first ``n_codes`` vectors by id,
    contiguous subspace split) with zero Lloyd iterations, in the
    same ``[(sub, [(code, subvector), ...]), ...]`` structure every
    PQ consumer takes. Because no iterative training is involved, the
    codes :func:`pq_encode` assigns from this codebook are pure
    argmin-squared-L2 over data-derived literals — a SQL engine can
    recompute them independently, which is what the ``sim_pq_parity``
    oracle query does (the ``assignment_parity`` pattern: the trained
    path reuses the identical encode kernel, so parity here transfers
    to ``pq_train``-produced codebooks)."""
    cb = _pq_seed_arrays(corpus, id_col, emb_col, m, n_codes)
    return [(s, [(c, [float(x) for x in cb[s][c]])
                 for c in range(cb[s].shape[0])])
            for s in range(m)]


def pq_train(corpus: DataFrame, *, id_col: str = "vec_id",
             emb_col: str = "embedding", m: int = 4,
             n_codes: int = 16, n_iters: int = 3) -> list:
    """Product-quantization codebooks (Jégou, Douze & Schmid, TPAMI
    2011): split the embedding into ``m`` contiguous equal-width
    subspaces and Lloyd-train an ``n_codes``-entry L2 codebook per
    subspace. Returns ``[(sub, [(code, subvector), ...]), ...]`` with
    both levels sorted — the index structure for :func:`pq_encode` /
    :func:`pq_topk`. PQ represents each vector in ``m`` small codes
    (m bytes at n_codes=256), a 100-1000x compression that lets a
    10^12-row corpus be scanned in the compressed domain.

    Determinism contract (matches :func:`kmeans_codebook`): seeds are
    the first ``n_codes`` corpus vectors by id (data-derived, no RNG),
    iteration count is FIXED, per-partition partials carry their
    partition id and are combined in sorted (sub, code, pid) order,
    and centroids are rounded to 9 decimals per iteration. Empty cells
    keep their previous centroid.

    Scale shape per iteration: ONE corpus pass trains all ``m``
    subspaces — ``mapInPandas`` emits at most ``partitions × m ×
    n_codes`` tiny partial rows, a groupBy reduces them to ``m ×
    n_codes``, and only that codebook-sized frame is collected. The
    corpus never shuffles and never reaches the driver."""
    from pyspark import TaskContext
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)
    cb = _pq_seed_arrays(corpus, id_col, emb_col, m, n_codes)
    k, sub = cb[0].shape
    partial_schema = StructType([
        StructField("sub", LongType()),
        StructField("code", LongType()),
        StructField("pid", LongType()),
        StructField("cnt", LongType()),
        StructField("s", ArrayType(DoubleType())),
    ])
    emb_only = corpus.select(emb_col)
    for _ in range(n_iters):
        cb_iter = [c.copy() for c in cb]

        def partials(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
            pid = TaskContext.get().partitionId()
            cnt = np.zeros((m, k), dtype=np.int64)
            acc = np.zeros((m, k, sub))
            for pdf in batches:
                if not len(pdf):
                    continue
                E = np.stack([np.asarray(e, dtype=np.float64)
                              for e in pdf[emb_col]])
                for s in range(m):
                    X = E[:, s * sub:(s + 1) * sub]
                    # squared L2 to every code; argmin -> lowest code
                    d2 = ((X[:, None, :] - cb_iter[s][None, :, :]) ** 2
                          ).sum(axis=2)
                    codes = np.argmin(d2, axis=1)
                    for c in np.unique(codes):
                        msk = codes == c
                        cnt[s, c] += int(msk.sum())
                        acc[s, c] += X[msk].sum(axis=0)
            out = {"sub": [], "code": [], "pid": [], "cnt": [], "s": []}
            for s in range(m):
                for c in np.nonzero(cnt[s])[0]:
                    out["sub"].append(s)
                    out["code"].append(int(c))
                    out["pid"].append(pid)
                    out["cnt"].append(int(cnt[s, c]))
                    out["s"].append(acc[s, c])
            yield pd.DataFrame(out)

        def combine(key, pdf):
            pdf = pdf.sort_values("pid")  # deterministic sum order
            acc = np.zeros(sub)
            for row in pdf["s"]:
                acc += np.asarray(row)
            n = int(pdf["cnt"].sum())
            return pd.DataFrame({"sub": [key[0]], "code": [key[1]],
                                 "cnt": [n], "s": [acc / n]})

        rows = (emb_only.mapInPandas(partials, partial_schema)
                .groupBy("sub", "code")
                .applyInPandas(
                    combine,
                    "sub bigint, code bigint, cnt bigint, s array<double>")
                .collect())
        for r in rows:
            cb[r["sub"]][r["code"]] = np.round(np.asarray(r["s"]), 9)
    return [(s, [(c, [float(x) for x in cb[s][c]]) for c in range(k)])
            for s in range(m)]


def pq_encode(df: DataFrame, codebooks: list, *,
              emb_col: str = "embedding",
              out_col: str = "pq_code") -> DataFrame:
    """Attach the ``m``-code PQ representation: per subspace, the
    argmin-squared-L2 code (ties → lowest code). Zero shuffle — an
    Arrow-batched pandas UDF with the (m × n_codes × sub) codebook
    tensor broadcast in its closure; at production scale the code
    column is written once next to the table and the raw embedding
    column is no longer read by search scans."""
    cbs = np.stack([np.asarray([v for _, v in book], dtype=np.float64)
                    for _, book in sorted(codebooks)])
    m, k, sub = cbs.shape

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(emb: pd.Series) -> pd.Series:
        E = np.stack([np.asarray(e, dtype=np.float64) for e in emb])
        codes = np.empty((len(E), m), dtype=np.int32)
        for s in range(m):
            X = E[:, s * sub:(s + 1) * sub]
            d2 = ((X[:, None, :] - cbs[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.Series([row.tolist() for row in codes])

    return df.withColumn(out_col, encode(F.col(emb_col)))


def pq_topk(queries: DataFrame, corpus_codes: DataFrame,
            codebooks: list, *, id_col: str = "vec_id",
            code_col: str = "pq_code", emb_col: str = "embedding",
            k: int = 3) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over PQ codes:
    queries stay full-precision, the corpus is scanned in the
    compressed domain. Per query a lookup table LUT[sub][code] =
    squared L2 between the query's subvector and that code's centroid
    is built once (m × n_codes doubles); a corpus row's approximate
    distance is the sum of m table lookups — no embedding arithmetic,
    no raw-vector reads.

    Scale shape: the query set is small by contract (same as
    ``brute_force_topk``) and ships inside the ``mapInPandas``
    closure; each partition emits only its LOCAL top-k per query
    (``partitions × n_queries × k`` candidate rows), and one tiny
    window pass picks the global top-k. The corpus is touched exactly
    once, map-side, in compressed form. Ties break (distance asc,
    neighbor id asc) in both the partition heap and the final rank."""
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)
    cbs = np.stack([np.asarray([v for _, v in book], dtype=np.float64)
                    for _, book in sorted(codebooks)])
    m, n_codes, sub = cbs.shape
    q_rows = queries.select(id_col, emb_col).collect()
    q_ids = np.asarray([r[id_col] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r[emb_col], dtype=np.float64)
                  for r in q_rows])
    # LUT[q, s, c] — rounded to 9 so the sum-of-lookups is stable
    lut = np.empty((len(q_ids), m, n_codes))
    for s in range(m):
        Xq = Q[:, s * sub:(s + 1) * sub]
        lut[:, s, :] = np.round(
            ((Xq[:, None, :] - cbs[s][None, :, :]) ** 2).sum(axis=2), 9)

    out_schema = StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("adist", DoubleType()),
    ])

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # running per-query top-k, re-merged per Arrow batch so
        # partition memory is O(n_queries × (k + batch)), never
        # O(n_queries × partition_rows)
        best_ids = [np.empty(0, dtype=np.int64) for _ in q_ids]
        best_d = [np.empty(0) for _ in q_ids]
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack([np.asarray(c, dtype=np.int64)
                              for c in pdf[code_col]])
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            # D[q, row] = sum_s LUT[q, s, codes[row, s]]
            D = np.zeros((len(q_ids), len(ids)))
            for s in range(m):
                D += lut[:, s, codes[:, s]]
            D = np.round(D, 9)
            for qi in range(len(q_ids)):
                cid = np.concatenate([best_ids[qi], ids])
                cd = np.concatenate([best_d[qi], D[qi]])
                order = np.lexsort((cid, cd))[:k]  # (dist, id) ties
                best_ids[qi], best_d[qi] = cid[order], cd[order]
        if not any(len(b) for b in best_ids):
            return
        rows = {"query_id": [], "neighbor_id": [], "adist": []}
        for qi in range(len(q_ids)):
            rows["query_id"].extend([q_ids[qi]] * len(best_ids[qi]))
            rows["neighbor_id"].extend(best_ids[qi].tolist())
            rows["adist"].extend(best_d[qi].tolist())
        yield pd.DataFrame(rows)

    cand = corpus_codes.select(id_col, code_col).mapInPandas(
        scan, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "adist", "rank"))


def ivfpq_index(corpus: DataFrame, *, coarse_codebook: list,
                pq_codebooks: list, id_col: str = "vec_id",
                emb_col: str = "embedding") -> DataFrame:
    """Build the IVF-PQ index frame (Jégou et al.'s IVFADC layout):
    ``(id, cell, pq_code)`` — one coarse cell per vector (nearest
    centroid by the engine's rounded-cosine fold, ties → lowest id,
    identical to ``ivf_topk``'s assignment) plus the m-code PQ
    representation. Both assignments are zero-shuffle Arrow UDF maps;
    at production scale this frame is written once as a table
    PARTITIONED BY cell (probes become partition-pruned scans) and the
    raw embedding column is never read again by search."""
    cents = sorted(coarse_codebook, key=lambda c: c[0])
    cell = F.element_at(_nearest_cells_udf(cents, 1)(F.col(emb_col)), 1)
    return (pq_encode(corpus.select(id_col, emb_col), pq_codebooks,
                      emb_col=emb_col)
            .select(F.col(id_col), cell.alias("cell"), "pq_code"))


def ivfpq_topk(queries: DataFrame, index: DataFrame, *,
               coarse_codebook: list, pq_codebooks: list,
               id_col: str = "vec_id", emb_col: str = "embedding",
               k: int = 3, nprobe: int = 2) -> DataFrame:
    """IVF-PQ (IVFADC) approximate top-k: each query probes its
    ``nprobe`` nearest coarse cells and ADC-scans ONLY those cells'
    PQ codes — candidate volume ~``nprobe/n_centroids`` of the corpus,
    each candidate costing m table lookups. The composition of
    ``ivf_topk``'s cell pruning with ``pq_topk``'s compressed-domain
    scoring, and the standard shape for 10^9+-vector search.

    Scale shape: the probed-cell set (≤ queries × nprobe ids) prunes
    the index scan (partition pruning when the index table is
    partitioned by cell); the scan emits only per-partition running
    top-k candidates per query; one tiny window pass finishes. Codes
    are encoded against the RAW vectors (the residual-encoding
    refinement is noted, not implemented — it changes only what
    ``pq_codebooks`` is trained on). Ties break (adist asc, id asc)
    everywhere."""
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)
    cents = sorted(coarse_codebook, key=lambda c: c[0])
    cent_ids = np.asarray([c for c, _ in cents], dtype=np.int64)
    cent_m = np.asarray([v for _, v in cents], dtype=np.float64)
    cbs = np.stack([np.asarray([v for _, v in book], dtype=np.float64)
                    for _, book in sorted(pq_codebooks)])
    m, n_codes, sub = cbs.shape
    q_rows = queries.select(id_col, emb_col).collect()
    q_ids = np.asarray([r[id_col] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r[emb_col], dtype=np.float64)
                  for r in q_rows])
    # query→probe cells with the exact UDF/literal scoring (rounded
    # cosine desc, centroid id asc) so probes match index assignment
    cos = _fold_cosines(list(Q), cent_m)
    order = np.lexsort((np.broadcast_to(cent_ids, cos.shape), -cos),
                       axis=1)[:, :nprobe]
    probe = cent_ids[order]                       # (n_queries, nprobe)
    probe_sets = [set(p.tolist()) for p in probe]
    all_cells = sorted({c for p in probe_sets for c in p})
    lut = np.empty((len(q_ids), m, n_codes))
    for s in range(m):
        Xq = Q[:, s * sub:(s + 1) * sub]
        lut[:, s, :] = np.round(
            ((Xq[:, None, :] - cbs[s][None, :, :]) ** 2).sum(axis=2), 9)

    out_schema = StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("adist", DoubleType()),
    ])

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best_ids = [np.empty(0, dtype=np.int64) for _ in q_ids]
        best_d = [np.empty(0) for _ in q_ids]
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack([np.asarray(c, dtype=np.int64)
                              for c in pdf["pq_code"]])
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cells = pdf["cell"].to_numpy(dtype=np.int64)
            D = np.zeros((len(q_ids), len(ids)))
            for s in range(m):
                D += lut[:, s, codes[:, s]]
            D = np.round(D, 9)
            for qi in range(len(q_ids)):
                msk = np.isin(cells, list(probe_sets[qi]))
                if not msk.any():
                    continue
                cid = np.concatenate([best_ids[qi], ids[msk]])
                cd = np.concatenate([best_d[qi], D[qi][msk]])
                o = np.lexsort((cid, cd))[:k]
                best_ids[qi], best_d[qi] = cid[o], cd[o]
        if not any(len(b) for b in best_ids):
            return
        rows = {"query_id": [], "neighbor_id": [], "adist": []}
        for qi in range(len(q_ids)):
            rows["query_id"].extend([q_ids[qi]] * len(best_ids[qi]))
            rows["neighbor_id"].extend(best_ids[qi].tolist())
            rows["adist"].extend(best_d[qi].tolist())
        yield pd.DataFrame(rows)

    cand = (index.where(F.col("cell").isin([int(c) for c in all_cells]))
                 .select(id_col, "cell", "pq_code")
                 .mapInPandas(scan, out_schema))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "adist", "rank"))


def coarse_residuals(corpus: DataFrame, coarse_codebook: list, *,
                     id_col: str = "vec_id",
                     emb_col: str = "embedding") -> DataFrame:
    """Attach each vector's coarse cell and its residual
    ``emb - centroid[cell]`` — the training/encoding input for
    residual IVF-PQ (the exact IVFADC formulation: PQ quantizes what
    the coarse quantizer leaves over, which concentrates variance and
    roughly halves ADC error vs raw-vector codes). One zero-shuffle
    Arrow UDF; cell assignment is the same rounded-cosine rule as
    ``ivf_topk``/``ivfpq_index``."""
    from pyspark.sql.types import DoubleType, StructField, StructType
    cents = sorted(coarse_codebook, key=lambda c: c[0])
    cent_ids = np.asarray([c for c, _ in cents], dtype=np.int64)
    cent_m = np.asarray([v for _, v in cents], dtype=np.float64)
    pos = {int(c): i for i, c in enumerate(cent_ids)}

    @F.pandas_udf(StructType([
        StructField("cell", IntegerType()),
        StructField("residual", ArrayType(DoubleType()))]))
    def assign(emb: pd.Series) -> pd.DataFrame:
        cos = _fold_cosines(list(emb), cent_m)
        order = np.lexsort(
            (np.broadcast_to(cent_ids, cos.shape), -cos), axis=1)[:, 0]
        cells = cent_ids[order]
        res = [np.asarray(e, dtype=np.float64)
               - cent_m[pos[int(c)]] for e, c in zip(emb, cells)]
        return pd.DataFrame({"cell": cells.astype(np.int32),
                             "residual": [r.tolist() for r in res]})

    s = assign(F.col(emb_col))
    return corpus.select(F.col(id_col),
                         s.getField("cell").alias("cell"),
                         s.getField("residual").alias("residual"))


def ivfpq_index_residual(corpus: DataFrame, *, coarse_codebook: list,
                         id_col: str = "vec_id",
                         emb_col: str = "embedding", m: int = 4,
                         n_codes: int = 16,
                         pq_iters: int = 3) -> tuple:
    """Residual IVF-PQ index build: compute coarse residuals, train the
    PQ codebooks ON the residuals, and encode them. Returns
    ``(index_df, pq_codebooks)`` where ``index_df`` is
    ``(id, cell, pq_code)`` — search with
    ``ivfpq_topk_residual``. Two corpus passes beyond training
    (residual map, encode map), both zero-shuffle."""
    res = coarse_residuals(corpus, coarse_codebook,
                           id_col=id_col, emb_col=emb_col)
    pq = pq_train(res, id_col=id_col, emb_col="residual",
                  m=m, n_codes=n_codes, n_iters=pq_iters)
    idx = (pq_encode(res, pq, emb_col="residual")
           .select(F.col(id_col), "cell", "pq_code"))
    return idx, pq


def ivfpq_topk_residual(queries: DataFrame, index: DataFrame, *,
                        coarse_codebook: list, pq_codebooks: list,
                        id_col: str = "vec_id",
                        emb_col: str = "embedding",
                        k: int = 3, nprobe: int = 2) -> DataFrame:
    """Residual-mode IVFADC search: for each (query, probed cell) pair
    the lookup table is built over the query's RESIDUAL w.r.t. that
    cell's centroid (``LUT[q,cell][s,c] = ||(q - centroid[cell])_s -
    code_c||²``), matching how the corpus codes were trained. Same
    scale shape as ``ivfpq_topk``: ≤ queries × nprobe tiny LUTs ship
    in the scan closure, the index scan is cell-pruned and emits only
    per-partition running top-k candidates."""
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)
    cents = sorted(coarse_codebook, key=lambda c: c[0])
    cent_ids = np.asarray([c for c, _ in cents], dtype=np.int64)
    cent_m = np.asarray([v for _, v in cents], dtype=np.float64)
    pos = {int(c): i for i, c in enumerate(cent_ids)}
    cbs = np.stack([np.asarray([v for _, v in book], dtype=np.float64)
                    for _, book in sorted(pq_codebooks)])
    m, n_codes, sub = cbs.shape
    q_rows = queries.select(id_col, emb_col).collect()
    q_ids = np.asarray([r[id_col] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r[emb_col], dtype=np.float64)
                  for r in q_rows])
    cos = _fold_cosines(list(Q), cent_m)
    order = np.lexsort((np.broadcast_to(cent_ids, cos.shape), -cos),
                       axis=1)[:, :nprobe]
    probe = cent_ids[order]
    lut_qc = {}
    for qi in range(len(q_ids)):
        for c in probe[qi]:
            r = Q[qi] - cent_m[pos[int(c)]]
            t = np.empty((m, n_codes))
            for s in range(m):
                t[s] = np.round(
                    ((r[s * sub:(s + 1) * sub] - cbs[s]) ** 2).sum(axis=1),
                    9)
            lut_qc[(qi, int(c))] = t

    out_schema = StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("adist", DoubleType()),
    ])
    all_cells = sorted({c for (_, c) in lut_qc})

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best_ids = [np.empty(0, dtype=np.int64) for _ in q_ids]
        best_d = [np.empty(0) for _ in q_ids]
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack([np.asarray(c, dtype=np.int64)
                              for c in pdf["pq_code"]])
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cells = pdf["cell"].to_numpy(dtype=np.int64)
            for qi in range(len(q_ids)):
                for c in probe[qi]:
                    msk = cells == c
                    if not msk.any():
                        continue
                    t = lut_qc[(qi, int(c))]
                    sel = codes[msk]
                    d = np.zeros(msk.sum())
                    for s in range(m):
                        d += t[s, sel[:, s]]
                    d = np.round(d, 9)
                    cid = np.concatenate([best_ids[qi], ids[msk]])
                    cd = np.concatenate([best_d[qi], d])
                    o = np.lexsort((cid, cd))[:k]
                    best_ids[qi], best_d[qi] = cid[o], cd[o]
        if not any(len(b) for b in best_ids):
            return
        rows = {"query_id": [], "neighbor_id": [], "adist": []}
        for qi in range(len(q_ids)):
            rows["query_id"].extend([q_ids[qi]] * len(best_ids[qi]))
            rows["neighbor_id"].extend(best_ids[qi].tolist())
            rows["adist"].extend(best_d[qi].tolist())
        yield pd.DataFrame(rows)

    cand = (index.where(F.col("cell").isin([int(c) for c in all_cells]))
                 .select(id_col, "cell", "pq_code")
                 .mapInPandas(scan, out_schema))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "adist", "rank"))
