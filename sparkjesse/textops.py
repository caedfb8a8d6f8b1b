"""Text analysis for large-scale training-data pipelines.

Language-ID (marker-token heuristic), quality scoring (length /
punctuation / stopword ratios), token counting, and document
fingerprinting — every per-document operator is a pure Catalyst
expression tree (``split`` / ``filter`` / ``transform`` / ``aggregate``
higher-order functions), so it runs inside whole-stage codegen with no
Python in the hot path and scales linearly with input partitions. The
one corpus-level operator, ``top_tokens``, is the module's one shuffle
(map-side-combined token counts + TakeOrdered top-k) — frequency is
inherently a corpus question.

Determinism contract: all hashing is ``md5`` over explicit string
payloads, so results are reproducible across engines (the DuckDB oracle
in ``__spark_entry__.py`` computes the same bytes).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

# fixed marker vocabularies for the n-gram/stopword language heuristic;
# deliberately tiny — the heuristic's job is deterministic scoring, the
# lists can be swapped for real per-language stopword tables in prod
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is", "fast", "small", "big"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "valor"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "wert"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "une"],
    "zh": ["de5", "shi4", "zai4", "he2", "you3", "wo3", "ta1"],
}
# deterministic priority order for argmax ties (first wins)
LANG_PRIORITY = ["en", "es", "de", "fr", "zh"]

STOPWORDS = ["the", "a", "of", "and", "to", "is", "in", "it", "on"]


def tokens_col(text: Column | str) -> Column:
    """Whitespace tokenization (single-space separated text)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def shingles_col(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings; docs shorter than ``n`` tokens
    yield one shingle covering the whole doc. Per-row expression only."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(tokens) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(tokens, i, n), " "))


def token_stats(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Per-doc token counts: (id, n_tokens, n_distinct, avg_token_len,
    max_token_len). avg is a left-fold sum / count in double, rounded —
    bit-reproducible across engines."""
    toks = tokens_col(text_col)
    total_len = F.aggregate(toks, F.lit(0).cast("long"),
                            lambda acc, t: acc + F.length(t))
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.round(total_len.cast("double") / F.size(toks).cast("double"), 4)
         .alias("avg_token_len"),
        F.array_max(F.transform(toks, F.length)).alias("max_token_len"),
    )


def quality_features(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Quality-scoring features per doc: char/token counts, type-token
    (distinct) ratio, stopword ratio, and a composite quality score in
    [0,1]. All ratios are rounded doubles with identical expression
    shape to the DuckDB oracle."""
    toks = tokens_col(text_col)
    n_tok = F.size(toks).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    stop = F.size(F.filter(
        toks, lambda t: t.isin(STOPWORDS))).cast("double") / n_tok
    n_chars = F.length(F.col(text_col)).cast("double")
    # crude composite: favor mid-length docs with lexical diversity and a
    # sane (not-too-high) stopword share
    length_term = F.least(n_chars / F.lit(400.0), F.lit(1.0))
    score = F.round(
        F.lit(0.4) * length_term + F.lit(0.4) * distinct_ratio
        + F.lit(0.2) * (F.lit(1.0) - F.least(stop * F.lit(4.0), F.lit(1.0))),
        4)
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(stop, 4).alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Marker-token language heuristic: score = #tokens in each
    language's marker list; guess = argmax with fixed priority-order
    tiebreak. Deterministic, expression-only."""
    toks = tokens_col(text_col)

    # NB: single-arg lambdas only — PySpark higher-order functions call
    # multi-parameter lambdas with (element, index), so default-arg
    # closures would silently bind the index Column
    def marker_filter(markers: list[str]):
        return lambda t: t.isin(markers)

    scores = {lang: F.size(F.filter(toks, marker_filter(m)))
              for lang, m in LANG_MARKERS.items()}
    best = scores[LANG_PRIORITY[0]]
    for lang in LANG_PRIORITY[1:]:
        best = F.greatest(best, scores[lang])
    guess = F.lit(LANG_PRIORITY[-1])
    for lang in reversed(LANG_PRIORITY[:-1]):
        guess = F.when(scores[lang] == best, F.lit(lang)).otherwise(guess)
    out = df.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_PRIORITY],
        guess.alias("lang_guess"),
    )
    return out


def doc_stats(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """:func:`token_stats` + :func:`quality_features` +
    :func:`language_id` composed onto ONE scan — the same join-free
    column composition ``ValidationEngine.validate_multi`` uses for
    keyword verdicts: Catalyst CSEs the shared token array, so the
    corpus is read and tokenized once for all three feature families.
    Column set is the union (minus the duplicated ``n_tokens``)."""
    toks = tokens_col(text_col)
    total_len = F.aggregate(toks, F.lit(0).cast("long"),
                            lambda acc, t: acc + F.length(t))
    n_tok = F.size(toks).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    stop = F.size(F.filter(
        toks, lambda t: t.isin(STOPWORDS))).cast("double") / n_tok
    n_chars = F.length(F.col(text_col)).cast("double")
    length_term = F.least(n_chars / F.lit(400.0), F.lit(1.0))
    score = F.round(
        F.lit(0.4) * length_term + F.lit(0.4) * distinct_ratio
        + F.lit(0.2) * (F.lit(1.0) - F.least(stop * F.lit(4.0), F.lit(1.0))),
        4)

    def marker_filter(markers: list[str]):
        return lambda t: t.isin(markers)

    scores = {lang: F.size(F.filter(toks, marker_filter(m)))
              for lang, m in LANG_MARKERS.items()}
    best = scores[LANG_PRIORITY[0]]
    for lang in LANG_PRIORITY[1:]:
        best = F.greatest(best, scores[lang])
    guess = F.lit(LANG_PRIORITY[-1])
    for lang in reversed(LANG_PRIORITY[:-1]):
        guess = F.when(scores[lang] == best, F.lit(lang)).otherwise(guess)
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.round(total_len.cast("double") / F.size(toks).cast("double"), 4)
         .alias("avg_token_len"),
        F.array_max(F.transform(toks, F.length)).alias("max_token_len"),
        F.length(text_col).alias("n_chars"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(stop, 4).alias("stopword_ratio"),
        score.alias("quality_score"),
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_PRIORITY],
        guess.alias("lang_guess"),
    )


def top_tokens(df: DataFrame, text_col: str = "text", *, k: int = 20,
               by: str | None = None) -> DataFrame:
    """Corpus heavy hitters: the ``k`` most frequent tokens, globally
    or per ``by`` group — ``(by?, token, n, rank)``, ties broken
    token-ascending (deterministic in any engine).

    Scale shape: the explode emits one row per token occurrence, but
    partial (map-side) aggregation collapses them to distinct
    (group, token) pairs before the one hash shuffle. The global
    variant then takes top-k via ``orderBy().limit(k)``, which Spark
    executes as TakeOrderedAndProject — each partition keeps a local
    k-heap and only #partitions × k rows merge at the driver, NO
    global sort. The grouped variant ranks inside a window partitioned
    by the group key (per-group data, already co-located by the agg
    shuffle, is reused — AQE-coalesced). This module's zero-shuffle
    claim keeps its one documented exception here: frequency is a
    corpus-level question."""
    groups = [F.col(by)] if by else []
    counts = (df.select(*groups,
                        F.explode(tokens_col(text_col)).alias("token"))
                .groupBy(*([by] if by else []), "token")
                .agg(F.count(F.lit(1)).alias("n")))
    from pyspark.sql.window import Window
    if by is None:
        top = counts.orderBy(F.desc("n"), F.asc("token")).limit(k)
        w = Window.orderBy(F.desc("n"), F.asc("token"))  # k rows only
    else:
        w = Window.partitionBy(by).orderBy(F.desc("n"), F.asc("token"))
        top = counts
    out = (top.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k))
    cols = ([by] if by else []) + ["token", "n", "rank"]
    return out.select(*cols)


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", *, k: int = 5) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF:
    ``(id, term, tf, df, tfidf, rank)``.

    tf = raw term count within the doc; idf = ln(N / df) with df =
    #docs containing the term and N = corpus size. ``tfidf`` is rounded
    to 6 decimals and the rank ORDERS BY THE ROUNDED VALUE (then term
    ascending) — ln is the one transcendental here, and ranking on the
    rounded score makes the ordering reproducible across engines whose
    ln differs in the last ulp.

    Scale shape: term counts and doc frequencies are both map-side-
    combined groupBys — shuffle rows = #distinct (doc, term) pairs and
    #distinct terms, never raw token occurrences. N arrives as a
    broadcast 1-row cross join (no driver action, single lazy plan).
    The tf⋈idf join shuffles on term; the per-doc top-k is a window
    over doc-partitioned ranks. At 10^12 docs every stage is
    partition-parallel; the only global object is the scalar N."""
    from pyspark.sql.window import Window
    pairs = df.select(F.col(id_col), F.explode(tokens_col(text_col))
                      .alias("term"))
    tf = pairs.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.join(dfreq, "term")
                .crossJoin(F.broadcast(n_docs))
                .withColumn(
                    "tfidf",
                    F.round(F.col("tf").cast("double")
                            * F.log(F.col("n_docs").cast("double")
                                    / F.col("df").cast("double")), 6)))
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select(id_col, "term", "tf", "df", "tfidf", "rank"))


def _run_fold(grams_sorted: Column) -> Column:
    """Single linear fold over a SORTED gram array producing
    ``struct(best_run, best_gram, dup_chars)``:

    - best_run / best_gram — the count and value of the most frequent
      gram. Because the array is sorted, equal grams are adjacent (runs)
      and ties automatically keep the lexicographically smallest gram:
      a later run can only replace the best on STRICTLY greater length.
    - dup_chars — Σ count×length over grams with count > 1, accumulated
      incrementally (2×len when a run reaches 2, +len per further rep).

    Pure Catalyst ``aggregate`` — zero shuffle, zero Python, linear in
    doc length. The sentinel prev="\\x00" is outside the gram alphabet
    (lowercase words joined by spaces)."""
    zero = F.lit(0).cast("long")
    init = F.struct(F.lit("\x00").alias("prev"), zero.alias("run"),
                    zero.alias("best_run"), F.lit("").alias("best_gram"),
                    zero.alias("dup_chars"))

    def step(acc, g):
        run = (F.when(acc["prev"] == g, acc["run"] + 1)
                .otherwise(F.lit(1).cast("long")))
        glen = F.length(g).cast("long")
        dup = (acc["dup_chars"]
               + F.when(run == 2, glen * 2)
                  .when(run > 2, glen).otherwise(zero))
        better = run > acc["best_run"]
        return F.struct(
            g.alias("prev"), run.alias("run"),
            F.when(better, run).otherwise(acc["best_run"])
             .alias("best_run"),
            F.when(better, g).otherwise(acc["best_gram"])
             .alias("best_gram"),
            dup.alias("dup_chars"))

    return F.aggregate(
        grams_sorted, init, step,
        lambda acc: F.struct(acc["best_run"].alias("best_run"),
                             acc["best_gram"].alias("best_gram"),
                             acc["dup_chars"].alias("dup_chars")))


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", *, top_n: int = 2,
                       dup_n: int = 3) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al.
    2021 §A.1.1, re-expressed over token n-grams since this corpus has
    no line structure):

    - ``top_gram`` / ``top_gram_count`` — the most frequent ``top_n``-gram
      (ties → lexicographically smallest) and its occurrence count;
    - ``top_ngram_char_frac`` — chars covered by that gram
      (count × length) over total ``top_n``-gram chars;
    - ``dup_ngram_char_frac`` — chars in ``dup_n``-grams occurring more
      than once (Σ count×length) over total ``dup_n``-gram chars.

    Both fractions are integer÷integer in IEEE double — bit-identical
    across engines, no rounding needed. Implementation is two per-row
    folds over sort_array'd shingles (equal grams adjacent ⇒ one linear
    run-counting pass): zero shuffle, zero Python, linear in doc
    length — the whole operator scales embarrassingly with partitions."""
    toks = tokens_col(text_col)
    top_grams = F.sort_array(shingles_col(toks, top_n))
    dup_grams = F.sort_array(shingles_col(toks, dup_n))
    gram_chars = (lambda grams: F.aggregate(
        grams, F.lit(0).cast("long"),
        lambda acc, g: acc + F.length(g).cast("long")))
    top = _run_fold(top_grams)
    dup = _run_fold(dup_grams)
    # empty/whitespace docs have zero gram chars; their fraction is
    # NULL, not an ANSI DIVIDE_BY_ZERO job abort (Spark 4 default)
    gc_top = gram_chars(top_grams)
    gc_dup = gram_chars(dup_grams)
    return df.select(
        F.col(id_col),
        top["best_gram"].alias("top_gram"),
        top["best_run"].alias("top_gram_count"),
        F.when(gc_top > 0,
               (top["best_run"] * F.length(top["best_gram"])
                .cast("long")).cast("double") / gc_top.cast("double"))
        .alias("top_ngram_char_frac"),
        F.when(gc_dup > 0,
               dup["dup_chars"].cast("double") / gc_dup.cast("double"))
        .alias("dup_ngram_char_frac"),
    )


def inverted_index(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", *, max_df: int | None = None,
                   cap: int | None = None) -> DataFrame:
    """Inverted index: ``(token, df, postings)`` with postings the
    ascending list of doc ids containing the token.

    Scale contract: the naive plan (groupBy(token).collect_list) builds
    a stopword's ENTIRE posting list in one aggregation buffer — at
    10^12 docs that's a multi-TB row. This plan bounds it up front:
    doc frequencies are computed first (map-side-combined counts — tiny
    rows), tokens with df > ``max_df`` are dropped BEFORE any list is
    materialized, and ``cap`` truncates postings to the first ``cap``
    doc ids via a token-partitioned window (safe: the window only ever
    sees tokens that already passed ``max_df``). With ``max_df`` set,
    every posting list is ≤ max_df entries by construction. The
    pairs⇢filter join and the final collect share the token hash
    partitioning, so AQE reuses one exchange for both."""
    pairs = (df.select(F.col(id_col).alias("doc_id"),
                       F.explode(F.array_distinct(tokens_col(text_col)))
                        .alias("token")))
    dfreq = pairs.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        dfreq = dfreq.where(F.col("df") <= max_df)
    kept = pairs.join(dfreq, "token")
    if cap is not None:
        from pyspark.sql.window import Window
        w = Window.partitionBy("token").orderBy(F.asc("doc_id"))
        kept = (kept.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") <= cap).drop("_rn"))
    return (kept.groupBy("token", "df")
                .agg(F.sort_array(F.collect_list("doc_id"))
                      .alias("postings"))
                .select("token", "df", "postings"))


def build_vocab(df: DataFrame, text_col: str = "text", *,
                min_count: int = 1,
                max_size: int | None = None) -> DataFrame:
    """Frequency-ranked vocabulary: ``(token, token_id, count)`` with
    ``token_id`` assigned by (count desc, token asc) — id 0 is the most
    frequent token, deterministic across runs and engines.

    Scale shape: token counts are a map-side-combined groupBy (shuffle
    rows = #distinct tokens, never occurrences); ``min_count`` prunes
    the hapax tail BEFORE ranking. The final id assignment is a global
    window — a single-task sort BY CONSTRUCTION of the problem: a
    vocabulary is small (≤ ``max_size``, typically 10^4-10^6 rows)
    because that is what makes it a vocabulary; the 10^12-token corpus
    never passes through this stage."""
    counts = (df.select(F.explode(tokens_col(text_col)).alias("token"))
                .groupBy("token")
                .agg(F.count(F.lit(1)).alias("count"))
                .where(F.col("count") >= min_count))
    w = Window.orderBy(F.desc("count"), F.asc("token"))
    vocab = counts.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("long"))
    if max_size is not None:
        vocab = vocab.where(F.col("token_id") < max_size)
    return vocab.select("token", "token_id", "count")


def encode_col(vocab: DataFrame, text_col: Column | str = "text", *,
               oov_id: int = -1) -> Column:
    """Token-id encoding as a COLUMN — ``struct<ids, n_oov>`` over
    ``text_col``: order preserved, out-of-vocabulary tokens mapped to
    ``oov_id``, ``n_oov`` their count; NULL text encodes to NULL.
    Attach it with ``withColumn`` (zero shuffle, no join back on the
    id); :func:`encode_documents` is a select over it.

    Scale shape: ZERO shuffle. The vocab is driver-collected (small BY
    CONSTRUCTION — ``build_vocab`` caps it at ``max_size``) and shipped
    to executors as a broadcast dict inside ONE Arrow-batched pandas
    UDF, so each doc's tokens map to ids in one per-row pass and the
    corpus never leaves its scan partitions. ``n_oov`` is exact because
    vocab ids are non-negative ranks and ``oov_id`` is negative —
    asserted here so a custom vocab can't silently alias into OOV."""
    rows = vocab.select("token", "token_id").collect()
    mapping = {r["token"]: r["token_id"] for r in rows}
    assert all(tid != oov_id for tid in mapping.values()), \
        "vocab token_id collides with oov_id"
    bc = vocab.sparkSession.sparkContext.broadcast(mapping)

    @F.pandas_udf("struct<ids:array<long>, n_oov:long>")
    def encode(toks: pd.Series) -> pd.DataFrame:
        m = bc.value
        ids = [None if ts is None else [m.get(t, oov_id) for t in ts]
               for ts in toks]
        n_oov = [None if i is None else i.count(oov_id) for i in ids]
        return pd.DataFrame({"ids": ids,
                             "n_oov": pd.array(n_oov, dtype="Int64")})

    return encode(tokens_col(text_col))


def encode_documents(df: DataFrame, vocab: DataFrame,
                     text_col: str = "text",
                     id_col: str = "doc_id", *,
                     oov_id: int = -1) -> DataFrame:
    """Encode each document as its token-id sequence: ``(id, ids,
    n_oov)`` — :func:`encode_col` as a frame."""
    enc = encode_col(vocab, text_col, oov_id=oov_id)
    return df.select(F.col(id_col), enc.getField("ids").alias("ids"),
                     enc.getField("n_oov").alias("n_oov"))


# Gopher-style hard filter rules (Rae et al. 2021 §A.1.1, adapted to
# this corpus' token structure). Each rule is (name, keep-predicate
# builder over the token array / text column).
def quality_cols(text_col: str = "text", *,
                 min_tokens: int = 10, max_tokens: int = 100_000,
                 min_avg_token_len: float = 2.0,
                 max_avg_token_len: float = 12.0,
                 max_stopword_ratio: float = 0.5,
                 min_distinct_ratio: float = 0.1
                 ) -> tuple[Column, Column]:
    """The quality filter as a pure ``(keep, reasons)`` EXPRESSION
    pair over ``text_col`` — for callers that want the verdict as
    columns ON the corpus frame (``withColumn`` + ``where``) with zero
    shuffle and no join back, the same in-place pattern as
    ``scrub.redact_cols``. :func:`quality_filter` wraps this into the
    standalone verdict frame."""
    toks = tokens_col(text_col)
    n_tok = F.size(toks).cast("double")
    avg_len = (F.aggregate(toks, F.lit(0).cast("long"),
                           lambda a, t: a + F.length(t)).cast("double")
               / n_tok)
    stop_ratio = (F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
                  .cast("double") / n_tok)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    rules = [
        ("too_few_tokens", F.size(toks) >= min_tokens),
        ("too_many_tokens", F.size(toks) <= max_tokens),
        ("avg_token_too_short", avg_len >= min_avg_token_len),
        ("avg_token_too_long", avg_len <= max_avg_token_len),
        ("stopword_heavy", stop_ratio <= max_stopword_ratio),
        ("low_lexical_diversity", distinct_ratio >= min_distinct_ratio),
    ]
    reasons = F.array_compact(F.array(
        *[F.when(~pred, F.lit(name)) for name, pred in rules]))
    return (F.size(reasons) == 0), reasons


def quality_filter(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", *,
                   min_tokens: int = 10, max_tokens: int = 100_000,
                   min_avg_token_len: float = 2.0,
                   max_avg_token_len: float = 12.0,
                   max_stopword_ratio: float = 0.5,
                   min_distinct_ratio: float = 0.1) -> DataFrame:
    """Rule-based document filter with per-rule audit reasons:
    ``(id, keep, reasons)`` where ``reasons`` lists every failed rule
    (empty ⇒ keep). The standard hard-filter stage of an LLM data
    pipeline (Gopher / C4 style), kept fully expression-side: one pass,
    zero shuffle, zero Python — at 10^12 docs this runs at scan speed.
    Use ``.where(F.col("keep"))`` to materialize the survivors;
    aggregate ``reasons`` for the drop report. To keep the verdict ON
    the corpus frame (no join back), use :func:`quality_cols`."""
    keep, reasons = quality_cols(
        text_col, min_tokens=min_tokens, max_tokens=max_tokens,
        min_avg_token_len=min_avg_token_len,
        max_avg_token_len=max_avg_token_len,
        max_stopword_ratio=max_stopword_ratio,
        min_distinct_ratio=min_distinct_ratio)
    return df.select(
        F.col(id_col),
        keep.alias("keep"),
        reasons.alias("reasons"))


def fingerprints(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", prefix_tokens: int = 3) -> DataFrame:
    """Document fingerprints: full-content md5, a normalized prefix key
    (first ``prefix_tokens`` tokens — a cheap rolling-hash stand-in for
    boilerplate clustering), and the distinct-shingle count."""
    toks = tokens_col(text_col)
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("content_md5"),
        F.md5(F.array_join(F.slice(toks, 1, prefix_tokens), " "))
         .alias("prefix_md5"),
        F.size(F.array_distinct(shingles_col(toks))).alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# n-gram language-model quality scoring (CCNet-style perplexity filter)
# ---------------------------------------------------------------------------

def ngram_lm_train(df: DataFrame, text_col: str = "text", *,
                   max_vocab: int = 50_000,
                   min_count: int = 2,
                   max_bigrams: int = 2_000_000) -> dict:
    """Train a bigram language model over the corpus: unigram and
    bigram counts restricted to the top-``max_vocab`` unigrams (by
    count, token-asc tiebreak) with ``min_count`` pruning, and bigrams
    further capped to the top-``max_bigrams`` (count desc, pair-asc
    tiebreak). Returns a plain dict model (``{"total", "uni": {tok: n},
    "bi": {(a,b): n}}``) sized ≤ ``max_vocab + max_bigrams`` entries —
    broadcast-safe BY CONSTRUCTION, the same bound contract as
    ``encode_documents``'s vocab.

    This is the quality-filter LM of CCNet/KenLM pipelines in its
    simplest deterministic form: corpus-derived counts, no RNG, no
    external model file. Scale shape: one explode + two
    map-side-combined groupBys (shuffle = distinct unigrams + distinct
    bigrams, never token occurrences unreduced); the in-vocab
    restriction is two BROADCAST semi-joins against the ≤``max_vocab``
    kept-unigram set applied IN SPARK, and the top-k cap is a
    TakeOrdered — nothing unbounded ever reaches the driver (at web
    scale the distinct-bigram count is O(10^9-10^10); collecting it,
    as this function did before the cap, is a guaranteed driver OOM)."""
    spark = df.sparkSession
    toks = tokens_col(text_col)
    uni = (df.select(F.explode(toks).alias("tok"))
             .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    kept = (uni.orderBy(F.desc("n"), F.asc("tok")).limit(max_vocab)
               .where(F.col("n") >= min_count))
    vocab = {r["tok"]: r["n"] for r in kept.collect()}
    total = int(df.select(
        F.sum(F.size(toks)).alias("t")).collect()[0]["t"] or 0)
    # bigrams over adjacent tokens, kept only when BOTH sides are in
    # the pruned vocab (the standard open-vocab backoff restriction) —
    # the vocab is ≤ max_vocab by construction, so it broadcasts; the
    # semi-joins run map-side BEFORE any driver materialization
    vdf = spark.createDataFrame([(t,) for t in sorted(vocab)],
                                "tok string")
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
         .alias("a"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
         .alias("b"))
    bi = (df.select(F.explode(pairs).alias("pr"))
            .select(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
            .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= min_count)
            .join(F.broadcast(vdf.withColumnRenamed("tok", "a")),
                  "a", "semi")
            .join(F.broadcast(vdf.withColumnRenamed("tok", "b")),
                  "b", "semi")
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(max_bigrams))
    bigrams = {(r["a"], r["b"]): r["n"] for r in bi.collect()}
    return {"total": total, "uni": vocab, "bi": bigrams}


def lm_score_col(model: dict, text_col: Column | str = "text", *,
                 alpha: float = 0.1) -> Column:
    """The LM score as a pure COLUMN expression —
    ``struct<logprob, ppl, oov_rate>`` over ``text_col`` — for callers
    that want the score attached to the corpus frame (``withColumn``,
    zero shuffle, no join back). :func:`ngram_lm_score` wraps this
    into the standalone score frame; semantics documented there."""
    import math

    import pandas as pd

    uni, bi, total = model["uni"], model["bi"], model["total"]
    V = max(len(uni), 1)

    @F.pandas_udf("struct<logprob:double, ppl:double, oov_rate:double>")
    def score(texts: pd.Series) -> pd.DataFrame:
        lp_out, ppl_out, oov_out = [], [], []
        for t in texts:
            toks = [w for w in (t or "").split(" ") if w]
            if not toks:
                lp_out.append(None)
                ppl_out.append(None)
                oov_out.append(None)
                continue
            n_oov = sum(1 for w in toks if w not in uni)
            lps = []
            for i, w in enumerate(toks):
                prev = toks[i - 1] if i else None
                if prev is not None and prev in uni:
                    p = ((bi.get((prev, w), 0) + alpha)
                         / (uni[prev] + alpha * V))
                else:
                    p = (uni.get(w, 0) + alpha) / (total + alpha * V)
                lps.append(math.log2(p))
            mean_lp = sum(lps) / len(lps)
            lp_out.append(round(mean_lp, 6))
            ppl_out.append(round(2 ** (-mean_lp), 6))
            oov_out.append(round(n_oov / len(toks), 6))
        return pd.DataFrame(
            {"logprob": pd.array(lp_out, dtype="Float64"),
             "ppl": pd.array(ppl_out, dtype="Float64"),
             "oov_rate": pd.array(oov_out, dtype="Float64")})

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return score(c)


def ngram_lm_score(df: DataFrame, model: dict,
                   text_col: str = "text",
                   id_col: str = "doc_id", *,
                   alpha: float = 0.1) -> DataFrame:
    """Per-document LM quality score: mean log2 probability per token
    under the bigram model with add-``alpha`` smoothed backoff
    (``P(b|a) = (bi[a,b] + alpha) / (uni[a] + alpha·V)`` when ``a`` is
    in vocab, else the smoothed unigram ``(uni[b] + alpha) /
    (total + alpha·V)``), plus ``ppl = 2^(-mean)`` and the OOV rate.
    Lower perplexity = more natural under the corpus LM; the CCNet
    head/middle/tail split is a quantile cut over ``ppl`` downstream.

    Zero shuffle: the pruned model rides inside an Arrow-batched
    pandas UDF closure — scoring is a pure map over the corpus, the
    exact pattern (and size bound) of ``encode_documents``. To keep
    the score ON the corpus frame (no join back), use
    :func:`lm_score_col`.

    Empty/whitespace-only documents have NO tokens to score: they get
    NULL logprob/ppl/oov_rate (a sentinel the caller must handle, not
    an arbitrary smoothed-unigram constant — an empty doc is not
    "natural", it is unscorable)."""
    s = lm_score_col(model, text_col, alpha=alpha)
    return df.select(F.col(id_col),
                     s.getField("logprob").alias("lm_logprob"),
                     s.getField("ppl").alias("lm_ppl"),
                     s.getField("oov_rate").alias("oov_rate"))


# ---------------------------------------------------------------------------
# BPE tokenizer training + encoding
# ---------------------------------------------------------------------------

def bpe_train(df: DataFrame, text_col: str = "text", *,
              n_merges: int = 200, min_count: int = 2,
              max_word_types: int = 1_000_000) -> dict:
    """Train a byte-pair-encoding tokenizer (Sennrich et al. 2016) the
    scalable way: ONE distributed pass reduces the corpus to a word-
    frequency table (shuffle = distinct word types, map-side combined,
    pruned to the top ``max_word_types`` by count then word-asc), and
    the merge loop runs over that bounded table — the standard
    approach (BPE statistics depend only on word types × counts, so
    merging over the type table is EXACT, not an approximation, while
    touching ~10^6 rows instead of 10^12 documents).

    Words are split into characters with a ``</w>`` end-of-word marker;
    each merge joins the most frequent adjacent symbol pair
    (count desc, pair lexicographic asc as the deterministic tiebreak).
    Returns ``{"merges": [(a, b), ...], "vocab": {symbol: id}}`` with
    ids assigned in (merge order after the sorted character alphabet)
    — fully deterministic for a fixed corpus.

    The merge loop uses INCREMENTAL pair statistics (Sennrich's
    learn_bpe): a pair→words inverted index finds the words containing
    the merged pair, only those words are rewritten and only their
    pair counts adjusted, and the argmax is a lazy-deletion heap —
    per-merge cost is O(affected words + log #pairs), not O(all word
    types × word length), so 32k-merge production vocabs are tractable
    where the naive full-recount loop is driver-infeasible."""
    import heapq

    toks = tokens_col(text_col)
    wc = (df.select(F.explode(toks).alias("w"))
            .groupBy("w").agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= min_count)
            .orderBy(F.desc("n"), F.asc("w")).limit(max_word_types)
            .collect())
    words = {tuple(r["w"]) + ("</w>",): r["n"] for r in wc}

    def word_pairs(sym: tuple) -> dict:
        # adjacent-pair multiset (overlapping occurrences counted,
        # matching the classic full-recount statistics)
        out: dict = {}
        for i in range(len(sym) - 1):
            p = (sym[i], sym[i + 1])
            out[p] = out.get(p, 0) + 1
        return out

    stats: dict = {}   # pair -> corpus count
    index: dict = {}   # pair -> set of word tuples containing it
    for sym, n in words.items():
        for p, c in word_pairs(sym).items():
            stats[p] = stats.get(p, 0) + c * n
            index.setdefault(p, set()).add(sym)
    heap = [(-c, p) for p, c in stats.items()]
    heapq.heapify(heap)

    def detach(sym: tuple, n: int) -> None:
        for p, c in word_pairs(sym).items():
            stats[p] -= c * n
            if stats[p] <= 0:
                del stats[p]
                index.pop(p, None)
            else:
                heapq.heappush(heap, (-stats[p], p))
                ws = index.get(p)
                if ws is not None:
                    ws.discard(sym)

    def attach(sym: tuple, n: int) -> None:
        for p, c in word_pairs(sym).items():
            stats[p] = stats.get(p, 0) + c * n
            index.setdefault(p, set()).add(sym)
            heapq.heappush(heap, (-stats[p], p))

    merges = []
    while len(merges) < n_merges and heap:
        negc, best = heapq.heappop(heap)
        if stats.get(best) != -negc:
            continue  # stale heap entry — count changed since push
        if -negc < 2:
            break
        merges.append(best)
        joined = best[0] + best[1]
        for sym in sorted(index.get(best, ())):
            n = words.pop(sym)
            detach(sym, n)
            out, i = [], 0
            while i < len(sym):
                if (i < len(sym) - 1 and sym[i] == best[0]
                        and sym[i + 1] == best[1]):
                    out.append(joined)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_sym = tuple(out)
            if new_sym in words:
                detach(new_sym, words[new_sym])
                words[new_sym] += n
                attach(new_sym, words[new_sym])
            else:
                words[new_sym] = n
                attach(new_sym, n)
        stats.pop(best, None)
        index.pop(best, None)

    # base alphabet first (chars incl. </w>), then merge products in
    # merge order — the conventional id layout
    chars = sorted({c for r in wc for c in r["w"]} | {"</w>"})
    vocab = {c: i for i, c in enumerate(chars)}
    for a, b in merges:
        s = a + b
        if s not in vocab:
            vocab[s] = len(vocab)
    return {"merges": merges, "vocab": vocab}


def _greedy_segment(word: str, ranks: dict) -> list:
    """Greedy BPE inference over one word (the exact Sennrich rule):
    start from characters + ``</w>``, repeatedly apply the
    lowest-RANK applicable merge, leftmost occurrence first on rank
    ties, until no merge applies. Shared by :func:`bpe_encode` (id
    output) and :func:`bpe_segment` (symbol output) so the two paths
    cannot drift."""
    sym = list(word) + ["</w>"]
    while len(sym) > 1:
        cand = [(ranks[(a, b)], i) for i, (a, b) in
                enumerate(zip(sym, sym[1:])) if (a, b) in ranks]
        if not cand:
            break
        _, i = min(cand)
        sym[i:i + 2] = [sym[i] + sym[i + 1]]
    return sym


def bpe_segment(df: DataFrame, merges: list,
                word_col: str = "token", *,
                out_col: str = "bpe") -> DataFrame:
    """Greedy BPE segmentation of a WORD column as space-joined
    symbols — the tokenizer-debugging view of :func:`bpe_encode`
    (what did this word split into?), and the cross-engine parity
    surface: unlike vocab ids, the symbol string is recomputable by
    any engine from the merge list alone, so a SQL twin can replay
    the greedy rule exactly (the ``txt_vocab`` oracle does, as a
    recursive CTE). Zero shuffle: merge ranks ride in an
    Arrow-batched pandas UDF closure (≤ n_merges entries);
    column-preserving via ``withColumn``."""
    import pandas as pd

    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @F.pandas_udf("string")
    def seg(words: pd.Series) -> pd.Series:
        cache: dict = {}
        out = []
        for w in words:
            if w is None:
                out.append(None)
                continue
            if w not in cache:
                cache[w] = " ".join(_greedy_segment(w, ranks))
            out.append(cache[w])
        return pd.Series(out)

    return df.withColumn(out_col, seg(F.col(word_col)))


def bpe_encode(df: DataFrame, model: dict, text_col: str = "text", *,
               out_col: str = "bpe_ids") -> DataFrame:
    """Encode documents with a trained BPE model: per word, greedy
    application of the merge list in training order (the exact
    Sennrich inference rule), then vocab-id lookup (-1 for symbols
    outside the vocab — unseen characters). Zero shuffle: the merge
    ranks and vocab ride in an Arrow-batched pandas UDF closure,
    bounded by construction (≤ alphabet + n_merges entries) — the same
    contract as ``encode_documents``. Column-preserving: ``out_col``
    is attached with ``withColumn`` (no projection, no join needed to
    keep it alongside the document)."""
    import pandas as pd

    ranks = {p: i for i, p in enumerate(model["merges"])}
    vocab = model["vocab"]

    def _word(w):
        return _greedy_segment(w, ranks)

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(texts: pd.Series) -> pd.Series:
        out = []
        cache: dict = {}
        for t in texts:
            ids = []
            for w in (t or "").split(" "):
                if w not in cache:
                    cache[w] = [vocab.get(s, -1) for s in _word(w)]
                ids.extend(cache[w])
            out.append(ids)
        return pd.Series(out)

    return df.withColumn(out_col, encode(F.col(text_col)))
