"""Physical-plan quality gates: the compiled validator must let
Catalyst prune the parquet scan to schema-referenced columns, and
filters must push down to the source. These are the properties that
keep a 100 TB scan from reading 100 TB."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sparkjesse.engine import ValidationEngine

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_validation_summary_prunes_scan(spark):
    docs = spark.read.parquet(DOCS)
    res = ValidationEngine().validate(
        docs.select("lang", "n_chars"),
        {"type": "object",
         "properties": {"lang": {"enum": ["en", "es"]},
                        "n_chars": {"minimum": 50}}})
    read = re.findall(r"ReadSchema: (\S+)", _plan(res.summary))
    assert read, "no parquet scan found"
    assert read[0] == "struct<lang:string,n_chars:bigint>"
    # text (the widest column) must NOT be read
    assert "text" not in read[0]


def test_filter_pushdown_reaches_parquet(spark):
    docs = spark.read.parquet(DOCS)
    q = docs.where(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = _plan(q)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "EqualTo(lang,en)" in pushed.group(1), plan[-800:]


def test_broadcast_in_referential_check(spark):
    from sparkjesse.dataset_checks import dangling_references
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    plan = _plan(dangling_references(li, "l_partkey", part, "p_partkey"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_key_aligned_summary_physical_shuffles_narrow_pairs_only(
        spark, tmp_path):
    """physical=True: the explicit repartition must shuffle (doc_id,
    valid, salt) — never the wide nested document rows."""
    from sparkjesse.generator import INTERLEAVED_SCHEMA, \
        interleaved_documents
    path = str(tmp_path / "docs")
    interleaved_documents(spark, 500, seed=42).write.parquet(path)
    docs = spark.read.parquet(path)
    res = ValidationEngine().validate(docs, INTERLEAVED_SCHEMA)
    summ = res.key_aligned_summary(8, physical=True)
    plan = _plan(summ)
    # the doc_id-keyed exchange (plans print top-down, so the tiny
    # final-agg exchange appears first; the keyed one is below it)
    k = plan.find("Exchange hashpartitioning(doc_id")
    assert k >= 0, plan[:800]
    # everything above the keyed exchange is post-shuffle and must not
    # touch the spans column — the wide rows never cross the wire
    assert "spans" not in plan[:k]
    # totals still correct
    row = summ.agg(F.sum("docs")).collect()[0]
    assert row[0] == 500


def test_key_aligned_summary_logical_matches_physical(spark, tmp_path):
    """Default (logical) mode: two-phase agg over pmod(hash(key, salt))
    — only aggregate buffers cross the exchange, and the summary is
    bit-identical to the physically-repartitioned one."""
    from sparkjesse.generator import INTERLEAVED_SCHEMA, \
        interleaved_documents
    from sparkjesse.partitioning import detect_hot_keys
    path = str(tmp_path / "docs")
    interleaved_documents(spark, 2000, seed=42).write.parquet(path)
    docs = spark.read.parquet(path)
    skew = detect_hot_keys(docs, "doc_id", sample_fraction=1.0)
    assert skew.hot_keys, "generator should produce hot keys"
    res = ValidationEngine().validate(docs, INTERLEAVED_SCHEMA)
    log = res.key_aligned_summary(8, skew=skew)
    phys = res.key_aligned_summary(8, skew=skew, physical=True)
    plan = _plan(log)
    # no row-carrying keyed exchange: just the partial->final agg pair
    assert "Exchange hashpartitioning(doc_id" not in plan
    assert plan.count("Exchange") <= 2, plan[:1200]
    key = lambda r: r["partition_id"]  # noqa: E731
    assert sorted(log.collect(), key=key) == \
        sorted(phys.collect(), key=key)


def test_stats_single_pass_no_shuffle_of_rows(spark):
    """column_stats is one partial+final aggregation — the only
    exchange carries aggregate buffers, not rows."""
    from sparkjesse.dataset_checks import column_stats
    docs = spark.read.parquet(DOCS)
    plan = _plan(column_stats(docs, ["lang", "n_chars"]))
    # exactly one exchange pair boundary (partial -> final agg)
    assert plan.count("Exchange") <= 2
    assert "HashAggregate" in plan or "SortAggregate" in plan \
        or "ObjectHashAggregate" in plan


def test_asof_join_single_exchange(spark):
    """asof_join: union-tag + window = exactly ONE hash exchange on the
    key — never an interval-join row expansion."""
    from sparkjesse import timeops
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .where(F.col("user_id").isNotNull())
          .select("event_id", "user_id", "ts"))
    orders = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
              .select(F.col("o_custkey").alias("user_id"),
                      "o_orderdate", "o_orderkey"))
    plan = _plan(timeops.asof_join(ev, orders, "user_id", "ts",
                                   "o_orderdate", ["o_orderkey"]))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_sessionize_single_exchange_shared_sort(spark):
    """sessionize: lag + running-sum + session agg all ride ONE
    key-hash exchange (AQE may add a post-agg coalesce, never a second
    hash exchange on different keys)."""
    from sparkjesse import timeops
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull()))
    plan = _plan(timeops.sessionize(ev, "user_id", "ts",
                                    id_col="event_id"))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_repetition_signals_zero_shuffle(spark):
    """Per-row folds: no exchange anywhere in the plan."""
    from sparkjesse import textops
    docs = spark.read.parquet(DOCS)
    plan = _plan(textops.repetition_signals(docs))
    assert "Exchange" not in plan, plan[:2000]


def test_bucket_counts_arrow_single_exchange_no_explode(spark):
    """DSIR's Arrow histogram path: partitions fold grams into dense
    histograms inside one MapInPandas — no per-gram Generate/explode
    ever materializes, and the only Exchange carries <= n_buckets rows
    per partition into the final sum."""
    from sparkjesse import selection
    docs = spark.read.parquet(DOCS)
    plan = _plan(selection.bucket_counts(docs, n_buckets=256))
    assert "Generate" not in plan, plan[:2000]
    assert plan.count("Exchange") == 1, plan[:2000]
    # the expression twin is the explode plan, zero Python
    plan_e = _plan(selection.bucket_counts(docs, n_buckets=256,
                                           impl="expr"))
    assert "Generate" in plan_e, plan_e[:2000]


def test_sampling_zero_shuffle_and_pruned_scan(spark):
    """Deterministic sampling is a pure filter: zero exchange, and the
    scan reads only the referenced columns."""
    from sparkjesse import sampling
    docs = spark.read.parquet(DOCS).select("doc_id", "lang")
    plan = _plan(sampling.stratified_sample(
        docs, "lang", "doc_id", {"en": 0.5}, default_fraction=0.1))
    assert "Exchange" not in plan, plan[:2000]
    read = re.findall(r"ReadSchema: (\S+)", plan)
    assert read and "text" not in read[0]


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark side must arrive via broadcast — corpus rows are
    never shuffled for the probe join."""
    from sparkjesse import dedup
    docs = spark.read.parquet(DOCS)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    plan = _plan(dedup.decontaminate_report(corpus, bench))
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_encode_documents_zero_shuffle(spark):
    """The encoder is a broadcast-vocab pandas UDF map: no Exchange in
    the plan (round-3 VERDICT #4 — the old posexplode→join→groupBy
    re-assembly shuffled every token occurrence of the corpus)."""
    from sparkjesse import textops
    docs = spark.read.parquet(DOCS)
    vocab = spark.createDataFrame(
        [("the", 0), ("a", 1)], ["token", "token_id"])
    plan = _plan(textops.encode_documents(docs, vocab))
    assert "Exchange" not in plan, plan[:2000]
    assert "ArrowEvalPython" in plan, plan[:2000]  # Arrow batch, not row


def test_host_cap_keeper_minq_only_over_cap_hosts(spark):
    """Keeper arrays (the cap-sized per-host payload) must exist only
    for over-cap hosts: the min-k aggregation's input is LeftSemi-
    restricted to the over-cap host set, and the count side carries a
    `host_docs > cap` filter under a BroadcastExchange (round-3
    VERDICT #5 — the old plan broadcast keep_ids for EVERY host)."""
    from sparkjesse import urlops
    rows = [(i, f"https://h{i % 7}.ex.com/p/{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    plan = _plan(urlops.host_cap_filter(df, max_per_host=5))
    assert "LeftSemi" in plan, plan[:3000]
    assert re.search(r"host_docs#\d+L? > 5", plan), plan[:3000]


def test_winnowed_windows_zero_shuffle(spark):
    """Winnowing selection is per-row array expressions only: no
    Exchange, no Python eval node, and the scan reads just the two
    referenced columns."""
    from sparkjesse import dedup
    docs = spark.read.parquet(DOCS)
    plan = _plan(dedup.winnowed_windows(docs, span_tokens=8, winnow=4))
    assert "Exchange" not in plan, plan[:2000]
    assert "Python" not in plan, plan[:2000]
    read = re.findall(r"ReadSchema: (\S+)", plan)
    assert read and "doc_id" in read[0] and "lang" not in read[0]


def test_duplicate_spans_single_groupby_no_join(spark):
    """Substring dedup is windows -> one md5 groupBy: map-side partial
    aggregation (the distinct-count rewrite may add a second exchange
    over already-reduced partials, never over raw window occurrences),
    and no join anywhere."""
    from sparkjesse import dedup
    docs = spark.read.parquet(DOCS)
    plan = _plan(dedup.duplicate_spans(docs, span_tokens=8))
    assert "Join" not in plan, plan[:2000]
    assert plan.count("Exchange") <= 2, plan[:2000]
    # map-side combine exists: a partial aggregate sits between the
    # window Generate and the first exchange (top-down plan text, so
    # the deeper Generate prints AFTER the partial aggregate)
    first_exchange = plan.index("Exchange")
    assert "partial_count" in plan[first_exchange:], plan[:2000]
    assert plan.index("Generate") > first_exchange, plan[:2000]


def test_pipeline_filter_stages_no_corpus_shuffle(spark):
    """round-4 VERDICT "What's wrong #2": the pipeline job's quality
    filter and LM cut are verdict/score COLUMNS on the corpus frame
    (withColumn + where — zero Exchange, no join back), and host-cap
    survivors pass through a BroadcastHashJoin LeftAnti against the
    small over-cap drop set — the corpus is never shuffled for any of
    the three filter stages. These are exactly the stage shapes
    tools/pipeline_job.py builds."""
    from sparkjesse import textops, urlops
    docs = spark.read.parquet(DOCS)

    # stage 2: quality filter as columns
    _, reasons_c = textops.quality_cols()
    staged = (docs.withColumn("__reasons__", reasons_c)
                  .where(F.size("__reasons__") == 0).drop("__reasons__"))
    plan = _plan(staged)
    assert "Exchange" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]

    # stage 5.5: LM cut as a score column
    model = {"total": 10, "uni": {"the": 5}, "bi": {("the", "the"): 2}}
    ppl = textops.lm_score_col(model).getField("ppl")
    staged = (docs.withColumn("__lm_ppl__", ppl)
                  .where(F.col("__lm_ppl__") <= 100.0)
                  .drop("__lm_ppl__"))
    plan = _plan(staged)
    assert "Exchange" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]

    # stage 1.5: host-cap drop set broadcast into a left-anti join
    urls = docs.withColumn("url", F.concat(
        F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".ex.com/p/"), F.col("doc_id").cast("string")))
    capped = urlops.host_cap_filter(urls, max_per_host=5)
    drops = capped.where(~F.col("keep")).select("doc_id")
    staged = urls.join(F.broadcast(drops), "doc_id", "left_anti")
    plan = _plan(staged)
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "LeftAnti" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "ShuffledHashJoin" not in plan, plan[:3000]


def test_lm_score_and_bpe_encode_zero_shuffle(spark):
    """Both model-in-closure encoders are pure Arrow maps: no Exchange
    anywhere, Arrow (not row-at-a-time) Python eval."""
    from sparkjesse import textops
    docs = spark.read.parquet(DOCS)
    model = {"total": 10, "uni": {"the": 5}, "bi": {("the", "the"): 2}}
    plan = _plan(textops.ngram_lm_score(docs, model))
    assert "Exchange" not in plan, plan[:2000]
    assert "ArrowEvalPython" in plan, plan[:2000]
    bpe = {"merges": [("t", "h")], "vocab": {"t": 0, "h": 1, "th": 2,
                                             "</w>": 3}}
    plan = _plan(textops.bpe_encode(docs, bpe))
    assert "Exchange" not in plan, plan[:2000]
    assert "ArrowEvalPython" in plan, plan[:2000]


def test_doc_stats_zero_shuffle_single_scan(spark):
    """The composed txt_docstats operator (token + quality + lang-ID
    features on one frame) is a pure projection: no Exchange, no
    Python eval, and exactly ONE parquet scan — the fold's whole
    point (three per-doc feature families for one corpus read)."""
    from sparkjesse import textops
    docs = spark.read.parquet(DOCS)
    plan = _plan(textops.doc_stats(docs))
    assert "Exchange" not in plan, plan[:2000]
    assert "Python" not in plan, plan[:2000]
    assert plan.count("Scan parquet") == 1, plan[:2000]


def test_doc_stats_equals_component_operators(spark):
    """doc_stats must stay column-for-column identical to the three
    standalone operators it composes (they share expression builders;
    this pins the contract if either side drifts)."""
    from sparkjesse import textops
    docs = spark.read.parquet(DOCS).limit(80)
    composed = {r["doc_id"]: r.asDict()
                for r in textops.doc_stats(docs).collect()}
    for part in (textops.token_stats(docs),
                 textops.quality_features(docs),
                 textops.language_id(docs)):
        for r in part.collect():
            d = r.asDict()
            comp = composed[d.pop("doc_id")]
            for k, v in d.items():
                assert comp[k] == v, (k, v, comp[k])


@pytest.fixture(scope="module")
def flagship_docs(spark, tmp_path_factory):
    from sparkjesse.generator import interleaved_documents
    path = str(tmp_path_factory.mktemp("flagship") / "docs")
    interleaved_documents(spark, 2000, seed=42).write.parquet(path)
    return spark.read.parquet(path)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_flagship_gate_has_no_type_tautologies(flagship_docs):
    """A ``type`` the column's dtype satisfies statically compiles to
    nothing: the optimized row gate (interpreted once per span inside
    the ``forall``) carries no ``isnull(v) OR isnotnull(v)`` pair."""
    from sparkjesse.compiler import compile_plan
    from sparkjesse.generator import INTERLEAVED_SCHEMA
    plan = compile_plan(INTERLEAVED_SCHEMA, flagship_docs.schema)
    text = _optimized(flagship_docs.select(plan.row_gate.alias("ok")))
    assert "forall(spans" in text, text[:2000]
    pairs = re.findall(r"isnull\(([^()]+)\) OR isnotnull\(\1\)", text)
    assert not pairs, pairs


def test_max_length_compiles_byte_guarded(flagship_docs):
    """``maxLength`` is ``octet_length(v) <= n OR length(v) <= n`` on
    both the row gate and the violation path: the O(1) byte count
    decides first, and the character walk runs only when it fails."""
    from sparkjesse.compiler import compile_plan
    from sparkjesse.generator import INTERLEAVED_SCHEMA
    plan = compile_plan(INTERLEAVED_SCHEMA, flagship_docs.schema)
    for col in (plan.row_gate, plan.violations_column()):
        text = _optimized(flagship_docs.select(col.alias("c")))
        for n in (24, 4096):  # doc_id, spans[].text
            guarded = re.findall(
                r"\(octet_length\(([^()]+)\) <= %d\) OR "
                r"\(length\(\1\) <= %d\)" % (n, n), text)
            bare = re.findall(r"(?<!octet_)length\(([^()]+)\) <= %d" % n,
                              text)
            assert guarded and len(bare) == len(guarded), (n, text[:3000])


def test_detect_hot_keys_one_collect_same_report(flagship_docs,
                                                 monkeypatch):
    """Hot-key detection is one collect (top keys; the sampled total
    rides an observation on the same scan) and reports exactly what the
    two-query form — a total, then a thresholded top 100 — reports."""
    from sparkjesse.partitioning import SkewReport, detect_hot_keys

    # the two-query computation, with sample_fraction=1.0 (no sampling)
    counts = flagship_docs.select("doc_id").groupBy("doc_id").count()
    rows = counts.agg(F.sum("count")).collect()[0][0]
    thresh = max(2.0, rows * 0.002)
    hot = (counts.where(F.col("count") >= thresh)
                 .orderBy(F.desc("count"), "doc_id").limit(100).collect())
    expected = SkewReport(rows, [(r["doc_id"], r["count"]) for r in hot],
                          0.002)

    collects = []
    frame_cls = type(flagship_docs)  # the classic DataFrame in Spark 4
    real = frame_cls.collect

    def counting(self):
        collects.append(self)
        return real(self)

    monkeypatch.setattr(frame_cls, "collect", counting)
    got = detect_hot_keys(flagship_docs, "doc_id", sample_fraction=1.0)
    assert len(collects) == 1
    assert got.hot_keys, "generator should produce hot keys"
    # equal counts may come back in either order
    got.hot_keys.sort(key=lambda kv: (-kv[1], kv[0]))
    assert got == expected
