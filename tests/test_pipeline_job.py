"""End-to-end training-data pipeline job: sample -> filter -> dedup ->
decontaminate -> encode -> range-sorted write, over the sf0.001 table."""
from __future__ import annotations

import json
import os
import sys

import pytest

from pyspark.sql import functions as F

TOOLS = os.path.abspath(os.path.join(__file__, "../../tools"))


def test_pipeline_job_end_to_end(spark, tmp_path, monkeypatch):
    sys.path.insert(0, TOOLS)
    import pipeline_job

    out = str(tmp_path / "out")
    bench = str(tmp_path / "bench")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.where(F.col("doc_id") % 97 == 0).write.parquet(bench)

    monkeypatch.setattr(sys, "argv", [
        "pipeline_job.py",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out, "--benchmark", bench,
        "--vocab-size", "16", "--partitions", "4",
    ])
    pipeline_job.main()

    with open(out + "_stats.json", encoding="utf-8") as fh:
        stats = json.load(fh)
    # monotone funnel: every stage can only shrink the corpus
    order = ["input", "after_filter", "after_exact_dedup",
             "after_near_dedup", "after_decontaminate", "written"]
    vals = [stats[k] for k in order]
    assert vals == sorted(vals, reverse=True), stats
    assert stats["written"] > 0

    final = spark.read.parquet(out + "/docs")
    assert final.count() == stats["written"]
    # encoded ids present, within the capped vocab or OOV
    r = final.select(F.explode("ids").alias("i")).agg(
        F.min("i"), F.max("i")).collect()[0]
    assert r[0] >= -1 and r[1] < 16
    # drop report exists with counted reasons
    rep = spark.read.parquet(out + "/drop_report")
    assert rep.columns == ["reason", "docs"]
    # vocab ids are dense from 0
    vocab = spark.read.parquet(out + "/vocab")
    ids = sorted(r["token_id"] for r in vocab.collect())
    assert ids == list(range(len(ids)))


def test_pipeline_job_duplicate_ids_keep_own_encoding(
        spark, tmp_path, monkeypatch):
    """Two docs that share a doc_id but differ in text come out as two
    rows, each carrying the token ids of its own text, and the funnel
    stays monotone: the encoding rides on the row, never re-attached
    by a join on the id (which pairs every text with every encoding of
    that id)."""
    sys.path.insert(0, TOOLS)
    import pipeline_job
    from sparkjesse import textops

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    keep_c, _ = textops.quality_cols()
    # the two smallest ids the quality filter keeps: no smaller doc can
    # be an exact copy, and the shared id is its near-dup cluster's
    # canonical id, so both rows survive every dedup stage
    x, y = [r["doc_id"] for r in docs.where(keep_c).select("doc_id")
            .orderBy("doc_id").limit(2).collect()]
    (docs.withColumn("doc_id", F.when(F.col("doc_id") == y, F.lit(x))
                     .otherwise(F.col("doc_id")))
         .write.parquet(src))

    monkeypatch.setattr(sys, "argv", [
        "pipeline_job.py", "--input", src, "--output", out,
        "--vocab-size", "4096", "--partitions", "4", "--no-redact",
    ])
    pipeline_job.main()
    with open(out + "_stats.json", encoding="utf-8") as fh:
        stats = json.load(fh)
    order = ["input", "after_filter", "after_exact_dedup",
             "after_near_dedup", "written"]
    vals = [stats[k] for k in order]
    assert vals == sorted(vals, reverse=True), stats

    texts = {r["doc_id"]: r["text"] for r in
             docs.where(F.col("doc_id").isin(x, y)).collect()}
    vocab = {r["token"]: r["token_id"] for r in
             spark.read.parquet(out + "/vocab").collect()}
    rows = spark.read.parquet(out + "/docs") \
        .where(F.col("doc_id") == x).collect()
    assert sorted(r["text"] for r in rows) == sorted(texts.values())
    for r in rows:
        assert r["ids"] == [vocab.get(t, -1) for t in r["text"].split(" ")]


def test_pipeline_job_host_cap_and_redaction(spark, tmp_path, monkeypatch):
    """--url-col adds the host-cap stage; PII injected into two docs is
    redacted in the written output and counted in the stats ledger."""
    sys.path.insert(0, TOOLS)
    import pipeline_job

    src = str(tmp_path / "src")
    out = str(tmp_path / "out2")
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .withColumn("url", F.concat(
                F.lit("https://h"), (F.col("doc_id") % 3).cast("string"),
                F.lit(".ex.com/p/"), F.col("doc_id").cast("string")))
            .withColumn("text", F.when(
                F.col("doc_id") < 2,
                F.concat(F.col("text"), F.lit(" mail a@b.co now")))
                .otherwise(F.col("text"))))
    docs.write.parquet(src)

    monkeypatch.setattr(sys, "argv", [
        "pipeline_job.py", "--input", src, "--output", out,
        "--vocab-size", "16", "--partitions", "2",
        "--url-col", "url", "--max-per-host", "10",
    ])
    pipeline_job.main()
    with open(out + "_stats.json", encoding="utf-8") as fh:
        stats = json.load(fh)
    assert stats["after_host_cap"] <= 30  # 3 hosts x cap 10
    final = spark.read.parquet(out + "/docs")
    assert final.where(F.col("text").contains("a@b.co")).count() == 0
    n_kept_pii = final.where(F.col("text").contains("[EMAIL]")).count()
    assert stats["pii_redactions"] >= n_kept_pii


def test_pipeline_job_epoch_order(spark, tmp_path, monkeypatch):
    """--order epoch:N writes the corpus in the deterministic per-epoch
    training order: shard files concatenate to a rank-sorted stream."""
    sys.path.insert(0, TOOLS)
    import pipeline_job

    out = str(tmp_path / "out")
    monkeypatch.setattr(sys, "argv", [
        "pipeline_job.py",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out, "--vocab-size", "16", "--partitions", "4",
        "--order", "epoch:2", "--no-redact",
    ])
    pipeline_job.main()
    final = spark.read.parquet(out + "/docs")
    assert "shuffle_rank" in final.columns
    # the global-order contract: each shard file is a sorted run, and
    # file k's rank range precedes file k+1's (reading shards in part-
    # file name order reproduces the exact global order; a bare
    # collect() is NOT ordered — Spark schedules splits by size)
    per_file = (final
                .select(F.input_file_name().alias("f"), "shuffle_rank")
                .groupBy("f")
                .agg(F.min("shuffle_rank").alias("lo"),
                     F.max("shuffle_rank").alias("hi"),
                     F.count("*").alias("n"))
                .orderBy("f").collect())
    assert sum(r["n"] for r in per_file) > 0
    for prev, cur in zip(per_file, per_file[1:]):
        assert prev["hi"] <= cur["lo"], (prev, cur)
    in_file = [r["shuffle_rank"] for r in
               final.where(F.input_file_name()
                           == per_file[0]["f"])
               .select("shuffle_rank").collect()]
    assert in_file == sorted(in_file)


def test_pipeline_job_span_dedup_stage(spark, tmp_path, monkeypatch):
    """--span-dedup N strips repeated N-token spans after whole-doc
    dedup; the removal count lands in stats and the funnel holds."""
    sys.path.insert(0, TOOLS)
    import pipeline_job

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(200)
    boiler = ("subscribe to our newsletter today for all the very "
              "latest updates")
    (docs.withColumn(
        "text", F.concat(F.lit(boiler + " "), F.col("text")))
         .write.parquet(src))

    monkeypatch.setattr(sys, "argv", [
        "pipeline_job.py", "--input", src, "--output", out,
        "--vocab-size", "16", "--partitions", "4",
        "--span-dedup", "8", "--no-redact",
    ])
    pipeline_job.main()
    with open(out + "_stats.json", encoding="utf-8") as fh:
        stats = json.load(fh)
    # every surviving doc except the keeper lost the injected prefix
    assert stats["span_tokens_removed"] > 0
    final = spark.read.parquet(out + "/docs")
    n_with_boiler = final.where(
        F.col("text").contains(boiler)).count()
    assert n_with_boiler <= 1
    assert final.count() == stats["written"]


def test_pipeline_job_lm_cut_stage(spark, tmp_path, monkeypatch):
    """--lm-keep Q trains a corpus LM and drops the worst-perplexity
    tail; the funnel shrinks and the cut value lands in stats."""
    sys.path.insert(0, TOOLS)
    import pipeline_job

    out = str(tmp_path / "out")
    monkeypatch.setattr(sys, "argv", [
        "pipeline_job.py",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out, "--vocab-size", "16", "--partitions", "4",
        "--lm-keep", "0.8", "--no-redact",
    ])
    pipeline_job.main()
    with open(out + "_stats.json", encoding="utf-8") as fh:
        stats = json.load(fh)
    assert stats["lm_ppl_cut"] > 0
    assert stats["after_lm_cut"] <= stats["after_near_dedup"]
    # the cut is a real cut on this corpus (ppl spread exists)
    assert stats["after_lm_cut"] < stats["after_near_dedup"] * 0.95
    assert stats["written"] == stats["after_lm_cut"]


def test_pipeline_job_bpe_stage(spark, tmp_path, monkeypatch):
    """--bpe N trains the tokenizer on the pipeline output corpus,
    attaches bpe_ids alongside the vocab ids, and persists merges."""
    sys.path.insert(0, TOOLS)
    import pipeline_job

    out = str(tmp_path / "out")
    monkeypatch.setattr(sys, "argv", [
        "pipeline_job.py",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out, "--vocab-size", "16", "--partitions", "4",
        "--bpe", "50", "--no-redact",
    ])
    pipeline_job.main()
    with open(out + "_stats.json", encoding="utf-8") as fh:
        stats = json.load(fh)
    assert 0 < stats["bpe_merges"] <= 50
    final = spark.read.parquet(out + "/docs")
    assert "bpe_ids" in final.columns and "ids" in final.columns
    assert final.where(F.size("bpe_ids") > 0).count() == stats["written"]
    merges = spark.read.parquet(out + "/bpe_merges")
    assert merges.count() == stats["bpe_merges"]


def test_pipeline_job_selection_stages(spark, tmp_path, monkeypatch):
    """--decontaminate-mode bloom + --dsir-target/--dsir-keep +
    --semdedup: the bloom verdict is a superset-drop of the exact one
    (no false negatives), DSIR shrinks the corpus to ~the requested
    fraction, and SemDeDup prunes embedding near-dups when the input
    carries an embedding column."""
    sys.path.insert(0, TOOLS)
    import pipeline_job

    src = str(tmp_path / "src")
    out = str(tmp_path / "out_sel")
    bench = str(tmp_path / "bench_sel")
    tgt = str(tmp_path / "tgt_sel")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    embs = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    # join an embedding column on (doc ids and vec ids align 0..N)
    (docs.join(embs.select(F.col("vec_id").alias("doc_id"),
                           "embedding"), "doc_id")
         .write.parquet(src))
    docs.where(F.col("doc_id") % 97 == 0).select("text") \
        .write.parquet(bench)
    docs.where(F.col("lang") == "en").write.parquet(tgt)

    monkeypatch.setattr(sys, "argv", [
        "pipeline_job.py", "--input", src, "--output", out,
        "--benchmark", bench, "--decontaminate-mode", "bloom",
        "--dsir-target", tgt, "--dsir-keep", "0.6",
        "--semdedup", "4", "--semdedup-threshold", "0.3",
        "--vocab-size", "16", "--partitions", "4", "--no-redact",
    ])
    pipeline_job.main()

    with open(out + "_stats.json", encoding="utf-8") as fh:
        stats = json.load(fh)
    assert stats["after_decontaminate"] <= stats["after_near_dedup"]
    assert stats["after_dsir"] <= stats["after_decontaminate"]
    # DSIR keeps roughly the requested fraction (approx percentile cut)
    assert (0.4 * stats["after_decontaminate"]
            <= stats["after_dsir"]
            <= 0.8 * stats["after_decontaminate"] + 2)
    assert stats["after_semdedup"] <= stats["after_dsir"]
    # threshold 0.3 at 4 clusters prunes something on this fixture
    assert stats["after_semdedup"] < stats["after_dsir"]
    assert stats["written"] == stats["after_semdedup"]
    assert spark.read.parquet(out + "/docs").count() == stats["written"]


@pytest.mark.parametrize("flags,message", [
    (["--dsir-keep", "0.5"], "--dsir-keep requires --dsir-target"),
    (["--dsir-target", "TGT"], "--dsir-keep in (0, 1)"),
    (["--dsir-target", "TGT", "--dsir-keep", "1.0"], "--dsir-keep in (0, 1)"),
    (["--dsir-target", "TGT", "--dsir-keep", "0"], "--dsir-keep in (0, 1)"),
    (["--semdedup", "4"], "'embedding' column"),
], ids=["keep-no-target", "target-no-keep", "keep-1", "keep-0",
        "semdedup-no-embedding"])
def test_pipeline_job_requested_stage_fails_loudly(
        spark, tmp_path, monkeypatch, capsys, flags, message):
    """A requested selection stage that cannot run stops the job with a
    usage error before anything is written — it is never skipped
    silently."""
    sys.path.insert(0, TOOLS)
    import pipeline_job

    tgt = str(tmp_path / "tgt")
    spark.range(4).select(F.col("id").alias("doc_id"),
                          F.lit("a b c").alias("text")).write.parquet(tgt)
    out = tmp_path / "out"
    monkeypatch.setattr(sys, "argv", [
        "pipeline_job.py", "--input", tgt, "--output", str(out)]
        + [tgt if f == "TGT" else f for f in flags])
    with pytest.raises(SystemExit) as exc:
        pipeline_job.main()
    assert exc.value.code == 2
    assert message in capsys.readouterr().err
    assert not out.exists()
    assert not (tmp_path / "out_stats.json").exists()
