"""Structured Streaming: the compiled plan validates micro-batches."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from sparkjesse import streaming
from sparkjesse.engine import ValidationEngine

SCHEMA = {
    "$schema": "http://json-schema.org/draft-04/schema#",
    "type": "object",
    "properties": {
        "doc_id": {"type": "string", "pattern": "^d[0-9]+$"},
        "n": {"type": "integer", "minimum": 0, "maximum": 3},
    },
}


def _drain(query, timeout=60):
    deadline = time.time() + timeout
    while query.status["isDataAvailable"] and time.time() < deadline:
        time.sleep(0.5)
    query.processAllAvailable()


def test_stream_validation_memory_sink(spark, tmp_path):
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [("d1", 2), ("d2", 9), ("bogus", 1)],
        "doc_id string, n long").write.mode("overwrite").json(src)
    stream = spark.readStream.schema("doc_id string, n long").json(src)
    assert stream.isStreaming
    engine = ValidationEngine()
    annotated = streaming.validate_stream(engine, stream, SCHEMA)
    sink = streaming.violations_sink(annotated)
    q = (sink.writeStream.format("memory").queryName("viol_t")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .start())
    try:
        _drain(q)
        rows = spark.sql("SELECT * FROM viol_t").collect()
    finally:
        q.stop()
    got = sorted((r["doc_id"], r["error_type"], r["path"]) for r in rows)
    assert got == [("bogus", "no_match", "/doc_id"),
                   ("d2", "not_in_range", "/n")]


def test_windowed_summary_with_watermark(spark, tmp_path):
    src = str(tmp_path / "in2")
    spark.createDataFrame(
        [("d1", 2, "2026-01-01 00:00:10"),
         ("d2", 9, "2026-01-01 00:00:20"),
         ("d3", 1, "2026-01-01 00:02:05")],
        "doc_id string, n long, ts_s string") \
        .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s") \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "doc_id string, n long, ts timestamp").parquet(src)
    annotated = streaming.validate_stream(
        ValidationEngine(), stream, SCHEMA)
    summ = streaming.windowed_summary(annotated, time_col="ts",
                                      window="1 minute",
                                      watermark="10 minutes")
    q = (summ.writeStream.format("memory").queryName("summ_t")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .start())
    try:
        _drain(q)
        rows = spark.sql("SELECT * FROM summ_t").collect()
    finally:
        q.stop()
    by_start = {str(r["window"]["start"]): (r["docs"], r["pass"], r["fail"])
                for r in rows}
    assert by_start["2026-01-01 00:00:00"] == (2, 1, 1)
    assert by_start["2026-01-01 00:02:00"] == (1, 1, 0)


def test_max_violations_budget(spark):
    df = spark.createDataFrame([("bogus", 99)], "doc_id string, n long")
    res = ValidationEngine().validate(df, SCHEMA,
                                      max_violations_per_doc=1)
    row = res.annotated.collect()[0]
    assert row["valid"] is False
    assert len(row["violations"]) == 1  # budget truncates, valid intact


def test_stateful_key_budget_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState custom operator: per-key cumulative
    failure counts survive micro-batch boundaries and flip the
    quarantine flag once the budget is crossed."""
    src = str(tmp_path / "in3")
    # batch 1: src0 fails twice, src1 fails once
    spark.createDataFrame(
        [("d1", 9, "src0"), ("d2", 9, "src0"), ("d3", 9, "src1"),
         ("d4", 1, "src1")],
        "doc_id string, n long, source string") \
        .coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "doc_id string, n long, source string").parquet(src)
    annotated = streaming.validate_stream(ValidationEngine(), stream,
                                          SCHEMA)
    budgeted = streaming.stateful_key_budget(annotated, key_col="source",
                                             budget=2)
    q = (budgeted.writeStream.format("memory").queryName("budget_t")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .start())
    try:
        _drain(q)
        # batch 2: two more src0 failures -> crosses budget=2; one
        # file per batch, so the stream can never pick up a half-
        # committed append as two micro-batches
        spark.createDataFrame(
            [("d5", 9, "src0"), ("d6", 9, "src0"), ("d7", 2, "src1")],
            "doc_id string, n long, source string") \
            .coalesce(1).write.mode("append").parquet(src)
        _drain(q)
        rows = spark.sql(
            "SELECT * FROM budget_t ORDER BY key, total_fail").collect()
    finally:
        q.stop()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["key"], []).append(
            (r["batch_docs"], r["batch_fail"], r["total_fail"],
             r["quarantined"]))
    assert by_key["src0"] == [(2, 2, 2, False), (2, 2, 4, True)]
    assert by_key["src1"] == [(2, 1, 1, False), (1, 0, 1, False)]


def test_dedup_stream_drops_replayed_ids(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps the first arrival per
    doc_id; replayed duplicates within the horizon never reach the
    validator."""
    src = str(tmp_path / "in4")
    spark.createDataFrame(
        [("d1", 1, "2026-01-01 00:00:01"),
         ("d1", 9, "2026-01-01 00:00:02"),   # replay of d1
         ("d2", 2, "2026-01-01 00:00:03"),
         ("d2", 2, "2026-01-01 00:00:04"),   # exact replay of d2
         ("d3", 3, "2026-01-01 00:00:05")],
        "doc_id string, n long, ts_s string") \
        .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s") \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "doc_id string, n long, ts timestamp").parquet(src)
    deduped = streaming.dedup_stream(stream, time_col="ts",
                                     watermark="1 hour")
    annotated = streaming.validate_stream(ValidationEngine(), deduped,
                                          SCHEMA)
    q = (annotated.select("doc_id", "n", "valid")
         .writeStream.format("memory").queryName("dedup_t")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck4"))
         .start())
    try:
        _drain(q)
        rows = spark.sql("SELECT * FROM dedup_t ORDER BY doc_id").collect()
    finally:
        q.stop()
    assert [r["doc_id"] for r in rows] == ["d1", "d2", "d3"]
    # exactly one d1 survived (which duplicate wins is
    # processing-order); d2's exact replay collapsed to its one value
    assert rows[1]["n"] == 2 and rows[1]["valid"] is True


def test_sessionize_stream_groups_by_gap(spark, tmp_path):
    """session_window closes a session after `gap` of key silence; a
    30-min gap splits user 1's events into two sessions."""
    src = str(tmp_path / "in5")
    spark.createDataFrame(
        [(1, "2026-01-01 00:00:00", 1.0),
         (1, "2026-01-01 00:10:00", 2.0),   # +10min -> same session
         (1, "2026-01-01 01:00:00", 4.0),   # +50min -> new session
         (2, "2026-01-01 00:00:00", 8.0)],
        "uid long, ts_s string, v double") \
        .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s") \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "uid long, v double, ts timestamp").parquet(src)
    sess = streaming.sessionize_stream(stream, key_col="uid",
                                       time_col="ts", gap="30 minutes",
                                       value_col="v")
    q = (sess.writeStream.format("memory").queryName("sess_t")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck5"))
         .start())
    try:
        _drain(q)
        rows = spark.sql(
            "SELECT uid, session.start AS s, n_events, total_value "
            "FROM sess_t ORDER BY uid, s").collect()
    finally:
        q.stop()
    got = [(r["uid"], r["n_events"], r["total_value"]) for r in rows]
    assert got == [(1, 2, 3.0), (1, 1, 4.0), (2, 1, 8.0)]


def test_stream_selection_verdict_columns(spark, tmp_path):
    """The zero-shuffle corpus verdicts (quality filter, LM score,
    Bloom probe, DSIR weight) are pure column maps, so they run
    UNCHANGED on a stream — the payoff of the no-join-back design:
    the same curation expressions serve batch backfills and live
    ingestion. Batch results on the same rows are the oracle."""
    from sparkjesse import selection, textops

    rows = [(i, ("the quick brown fox jumps over the lazy dog num"
                 f" word{i} " * 3).strip()) for i in range(30)]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "sel_in")
    batch.write.mode("overwrite").json(src)

    model = textops.ngram_lm_train(batch, min_count=1)
    dsir = selection.dsir_model(
        batch.where(F.col("doc_id") % 2 == 0), batch, n_buckets=64)
    bloom = selection.bloom_build(
        batch.where(F.col("doc_id") == 0).select("text"),
        ngram=3, n_bits=1 << 12, n_hashes=2)

    def verdicts(df):
        keep_c, reasons_c = textops.quality_cols()
        return df.select(
            "doc_id",
            F.size(reasons_c).alias("n_reasons"),
            textops.lm_score_col(model).getField("ppl").alias("ppl"),
            selection.bloom_probe_col(bloom).getField("n_hits")
            .alias("bloom_hits"),
            selection.dsir_weight_col(dsir).getField("weight")
            .alias("dsir_w"))

    stream = (spark.readStream.schema("doc_id long, text string")
              .json(src))
    q = (verdicts(stream).writeStream.format("memory")
         .queryName("sel_stream_t").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sel_ck"))
         .start())
    try:
        _drain(q)
        got = {r["doc_id"]: r for r in
               spark.sql("SELECT * FROM sel_stream_t").collect()}
    finally:
        q.stop()
    want = {r["doc_id"]: r for r in verdicts(batch).collect()}
    assert set(got) == set(want)
    for k in want:
        for c in ("n_reasons", "ppl", "bloom_hits", "dsir_w"):
            assert got[k][c] == want[k][c], (k, c)
