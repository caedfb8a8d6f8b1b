"""spark-submit entry point: end-to-end training-data preparation.

    spark-submit --py-files dist/sparkjesse.zip tools/pipeline_job.py \
        --input /path/to/documents_parquet --output /path/to/out \
        [--benchmark /path/to/benchmark_parquet] [--vocab-size 65536] \
        [--sample 1.0] [--partitions 256]

The standard LLM data-prep chain, every stage a sparkjesse operator:

  1. deterministic hash sample (``sampling.deterministic_sample``) —
     reproducible across cluster sizes and retries;
  2. Gopher-style hard quality filter (``textops.quality_filter``) —
     zero-shuffle expression pass, per-rule drop report written out;
  3. exact dedup on content fingerprint (first arrival by doc_id wins);
  4. SimHash near-dup removal (``dedup.simhash_near_pairs`` pigeonhole
     banding + ``duplicate_clusters`` canonical-keep);
  4.5. (opt-in, ``--span-dedup N``) substring-level dedup
     (``dedup.remove_duplicate_spans``) — repeated N-token spans are
     removed keeping one canonical copy;
  5. benchmark decontamination when ``--benchmark`` is given: exact
     broadcast n-gram overlap (``dedup.decontaminate_report``) or,
     with ``--decontaminate-mode bloom``, a fixed-memory Bloom-bitmap
     verdict column (``selection.bloom_build``/``bloom_probe_col``)
     for benchmark suites too large to broadcast;
  5.2. (opt-in, ``--dsir-target PATH --dsir-keep F``) DSIR importance
     resampling toward a trusted target corpus
     (``selection.dsir_model``/``dsir_resample``) — zero-shuffle
     scoring, Gumbel-top-k cut;
  5.5. (opt-in, ``--lm-keep Q``) CCNet-style perplexity head cut
     (``textops.ngram_lm_train``/``ngram_lm_score``) — keep the
     most-natural Q quantile under a corpus-trained bigram LM;
  5.7. (opt-in, ``--semdedup K``) SemDeDup semantic near-dup pruning
     (``selection.semantic_dedup`` over a
     ``similarity.kmeans_codebook``); the input must carry an
     ``embedding`` column;
  6. in-place PII redaction (``scrub.redact_cols``), counted in the
     stats ledger — after dedup (identical PII spans must not be
     hidden from the dedup keys), before anything is written;
  7. vocabulary build + encoding column (``textops.build_vocab`` /
     ``encode_col``);
  8. ``ids``/``n_oov`` attached to each row in place, then
     range-sorted parquet output (``sources.write_range_sorted``) so
     downstream consumers get zone-map-prunable, merge-ready files.

A requested stage that cannot run (``--dsir-keep`` without
``--dsir-target`` or outside (0, 1), ``--semdedup`` without an
``embedding`` input column) fails before anything is written.

With ``--url-col`` (a URL column present in the input), stage 2 also
applies the host-cap filter (``urlops.host_cap_filter`` — anti-SEO-farm
cap, bounded two-stage min-k) before quality filtering.

Shuffle ledger for the whole job: sample, quality filter (verdict
columns via ``textops.quality_cols``), the LM cut (score column via
``textops.lm_score_col``), redaction and encoding are pure maps over
the corpus — no join back, no exchange; the host-cap survivors
stream through a BROADCAST left-anti join against the small over-cap
drop set; exact dedup shuffles once on doc-sized rows; SimHash
pair-finding shuffles fingerprint bands (bands × 8 B per doc), never
text; decontamination broadcasts the benchmark side. Nothing shuffles
the corpus twice in a row on different keys.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--benchmark", default=None)
    ap.add_argument("--sample", type=float, default=1.0)
    ap.add_argument("--vocab-size", type=int, default=65536)
    ap.add_argument("--partitions", type=int, default=256)
    ap.add_argument("--max-hamming", type=int, default=3)
    ap.add_argument("--url-col", default=None)
    ap.add_argument("--max-per-host", type=int, default=10000)
    ap.add_argument("--no-redact", action="store_true")
    ap.add_argument("--span-dedup", type=int, default=0, metavar="N",
                    help="if N > 0, remove duplicated N-token spans "
                         "(keep one canonical copy) after whole-doc "
                         "dedup — dedup.remove_duplicate_spans")
    ap.add_argument("--bpe", type=int, default=0, metavar="N",
                    help="if N > 0, train an N-merge BPE tokenizer on "
                         "the final corpus and attach bpe_ids next to "
                         "the vocab ids; merges written to "
                         "OUTPUT/bpe_merges")
    ap.add_argument("--lm-keep", type=float, default=0.0, metavar="Q",
                    help="if 0 < Q < 1, train a corpus bigram LM and "
                         "keep only docs whose perplexity is within "
                         "the Q quantile (CCNet-style head cut) — "
                         "textops.ngram_lm_train/ngram_lm_score")
    ap.add_argument("--decontaminate-mode", default="exact",
                    choices=["exact", "bloom"],
                    help="'exact' broadcasts the benchmark n-gram set "
                         "(dedup.decontaminate_report); 'bloom' folds "
                         "it into a fixed-size bitmap "
                         "(selection.bloom_build) — for benchmark "
                         "suites too large to broadcast exactly; "
                         "false positives drop extra docs, never the "
                         "other way")
    ap.add_argument("--dsir-target", default=None, metavar="PATH",
                    help="parquet path of a trusted target corpus; "
                         "with --dsir-keep, importance-resample the "
                         "corpus toward it (selection.dsir_*)")
    ap.add_argument("--dsir-keep", type=float, default=None, metavar="F",
                    help="fraction in (0, 1) kept by DSIR Gumbel top-k "
                         "resampling (requires --dsir-target)")
    ap.add_argument("--semdedup", type=int, default=0, metavar="K",
                    help="opt-in SemDeDup with a K-cluster k-means "
                         "codebook (requires an 'embedding' column "
                         "in the input)")
    ap.add_argument("--semdedup-threshold", type=float, default=0.95)
    ap.add_argument("--order", default="range",
                    help="'range' (default: doc_id-sorted, zone-map-"
                         "prunable) or 'epoch:N' (deterministic "
                         "training order for epoch N via "
                         "sampling.epoch_shuffle)")
    args = ap.parse_args()
    # a requested stage either runs or fails here, before any write
    if args.dsir_keep is not None and not args.dsir_target:
        ap.error("--dsir-keep requires --dsir-target")
    if args.dsir_target and not (args.dsir_keep is not None
                                 and 0.0 < args.dsir_keep < 1.0):
        ap.error("--dsir-target requires --dsir-keep in (0, 1)")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from sparkjesse import (dedup, sampling, scrub, selection, sources,
                            textops, urlops)

    spark = SparkSession.builder.appName("sparkjesse-pipeline") \
        .getOrCreate()
    docs = spark.read.parquet(args.input)
    if args.semdedup > 0 and "embedding" not in docs.columns:
        ap.error("--semdedup requires an 'embedding' column in --input")
    stats: dict = {"input": docs.count()}

    # 1. reproducible sample
    if args.sample < 1.0:
        docs = sampling.deterministic_sample(docs, "doc_id", args.sample)
        stats["sampled"] = docs.count()

    # 1.5 host-cap (only when the input carries a URL column).
    # The corpus is never shuffled: the DROP set — over-cap hosts'
    # overflow, small by the power-law head argument that sizes the
    # cap — is broadcast into a left-anti join, so survivors stream
    # straight through map-side.
    if args.url_col:
        capped = urlops.host_cap_filter(docs, url_col=args.url_col,
                                        max_per_host=args.max_per_host)
        drops = capped.where(~F.col("keep")).select("doc_id")
        docs = docs.join(F.broadcast(drops), "doc_id", "left_anti")
        stats["after_host_cap"] = docs.count()

    # 2. quality filter + drop report — the verdict is a pure per-row
    # expression, so it lives ON the corpus as columns (withColumn +
    # where, zero shuffle, no join back); the drop report aggregates
    # the same expression (its groupBy shuffles only tiny per-rule
    # counts, never documents)
    keep_c, reasons_c = textops.quality_cols()
    docs = docs.withColumn("__reasons__", reasons_c)
    (docs.where(F.size("__reasons__") > 0)
         .select(F.explode("__reasons__").alias("reason"))
         .groupBy("reason").agg(F.count(F.lit(1)).alias("docs"))
         .write.mode("overwrite")
         .parquet(f"{args.output}/drop_report"))
    docs = docs.where(F.size("__reasons__") == 0).drop("__reasons__")
    docs.persist()
    stats["after_filter"] = docs.count()

    # 3. exact dedup: keep the smallest doc_id per content hash
    keyed = docs.withColumn("_fp", F.md5(F.col("text")))
    keep = keyed.groupBy("_fp").agg(F.min("doc_id").alias("doc_id"))
    docs = keyed.join(keep, ["_fp", "doc_id"]).drop("_fp")
    stats["after_exact_dedup"] = docs.count()

    # 4. near-dup removal: pair graph -> clusters -> keep canonical
    pairs = dedup.simhash_near_pairs(docs, bits=64,
                                     max_hamming=args.max_hamming)
    clusters = dedup.duplicate_clusters(pairs)
    drop = (clusters.where(F.col("doc_id") != F.col("cluster_id"))
                    .select("doc_id"))
    docs = docs.join(drop, "doc_id", "left_anti")
    stats["after_near_dedup"] = docs.count()

    # 4.5 substring-level dedup: strip repeated spans that survive
    # whole-doc and near-dup removal (boilerplate, quoted chunks)
    if args.span_dedup > 0:
        docs = dedup.remove_duplicate_spans(
            docs, span_tokens=args.span_dedup)
        stats["span_tokens_removed"] = int(docs.agg(
            F.sum("n_tokens_removed")).collect()[0][0] or 0)
        docs = docs.drop("n_tokens_removed")

    # 5. decontamination against the benchmark/eval set: exact
    # broadcast n-gram overlap, or (for benchmark suites too large to
    # broadcast) a fixed-size Bloom bitmap whose verdict is a pure
    # column — withColumn + where, zero corpus shuffle, no false
    # negatives (extra Bloom drops are the documented FP cost)
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        if args.decontaminate_mode == "bloom":
            bloom = selection.bloom_build(bench, ngram=3)
            hits = selection.bloom_probe_col(bloom).getField("n_hits")
            docs = (docs.withColumn("__bloom_hits__", hits)
                        .where(F.col("__bloom_hits__") == 0)
                        .drop("__bloom_hits__"))
        else:
            contaminated = dedup.decontaminate_report(docs, bench) \
                .select("doc_id")
            docs = docs.join(contaminated, "doc_id", "left_anti")
        stats["after_decontaminate"] = docs.count()

    # 5.2 DSIR importance resampling toward a trusted target corpus:
    # both corpora reduce to n_buckets hashed-gram histograms (tiny
    # map-side-combined aggregations), scoring is a zero-shuffle
    # Arrow-UDF map, and the Gumbel-top-k cut is one approx-percentile
    # aggregate + a filter — the corpus never joins or shuffles
    if args.dsir_target:
        target = spark.read.parquet(args.dsir_target)
        dsir = selection.dsir_model(target, docs)
        docs = selection.dsir_resample(docs, dsir, args.dsir_keep,
                                       exact=False)
        stats["after_dsir"] = docs.count()

    # 5.5 LM perplexity cut (CCNet head): train on the deduped corpus
    # itself, score zero-shuffle, keep the most-natural Q quantile.
    # The score is a pure Arrow-UDF map, so it rides ON the corpus as
    # a column — one aggregate pass finds the cut, one filtered pass
    # keeps the head; no join, no corpus shuffle. Zero-token docs
    # score NULL and are dropped with the tail (they carry no LM
    # evidence; the quality filter normally removes them earlier).
    if 0.0 < args.lm_keep < 1.0:
        model = textops.ngram_lm_train(docs)
        ppl = textops.lm_score_col(model).getField("ppl")
        docs = docs.withColumn("__lm_ppl__", ppl)
        cut = docs.agg(F.expr(
            f"percentile_approx(__lm_ppl__, {args.lm_keep})")
        ).collect()[0][0]
        docs = (docs.where(F.col("__lm_ppl__") <= cut)
                    .drop("__lm_ppl__"))
        stats["lm_ppl_cut"] = float(cut)
        stats["after_lm_cut"] = docs.count()

    # 5.7 (opt-in) SemDeDup: semantic near-dup pruning over a trained
    # k-means codebook — assignment is a zero-shuffle broadcast-
    # codebook map, the pairwise check shuffles once on the cluster
    # id, and survivors anti-join the dup-id set (same shape as the
    # SimHash stage-4 drop; AQE broadcasts it when small)
    if args.semdedup > 0:
        from sparkjesse import similarity
        cb = similarity.kmeans_codebook(
            docs, id_col="doc_id", n_centroids=args.semdedup)
        verdict = selection.semantic_dedup(
            docs, cb, id_col="doc_id",
            threshold=args.semdedup_threshold)
        sem_drop = verdict.where(F.col("is_dup")).select("doc_id")
        docs = docs.join(sem_drop, "doc_id", "left_anti")
        stats["after_semdedup"] = docs.count()

    # 6. PII redaction — after dedup (identical spans stay visible to
    # the dedup keys), before anything leaves the pipeline
    if not args.no_redact:
        # zero-shuffle in-place scrub: redaction is per-row, so it is
        # a withColumn, never a join back to the corpus (which would
        # shuffle 10^12 rows, drop null ids, and multiply dup ids)
        redacted, n_red = scrub.redact_cols(F.col("text"))
        # count BEFORE replacing: both expressions read the
        # original text column
        docs = (docs.withColumn("__n_red__", n_red)
                    .withColumn("text", redacted))
        stats["pii_redactions"] = int(docs.agg(
            F.sum("__n_red__")).collect()[0][0] or 0)
        docs = docs.drop("__n_red__")

    # 7. vocabulary + encoding
    vocab = textops.build_vocab(docs, min_count=2,
                                max_size=args.vocab_size)
    vocab.write.mode("overwrite").parquet(f"{args.output}/vocab")
    enc = textops.encode_col(vocab)

    # 7.5 (opt-in) BPE tokenizer: train on the final corpus, attach
    # subword ids column-preserving (zero shuffle), persist the merges
    if args.bpe > 0:
        bm = textops.bpe_train(docs, n_merges=args.bpe)
        spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(bm["merges"])],
            ["rank", "left", "right"]) \
            .write.mode("overwrite").parquet(f"{args.output}/bpe_merges")
        docs = textops.bpe_encode(docs, bm)
        stats["bpe_merges"] = len(bm["merges"])
        stats["bpe_vocab"] = len(bm["vocab"])

    # 8. final write: analytics order (range-sorted by doc_id, zone-map
    # prunable) or training order (deterministic per-epoch shuffle —
    # shard files concatenate to the exact global pseudorandom order)
    # the encoding rides on each row as columns: no join back on the
    # id, so every row keeps the ids of its own text
    final = docs.withColumns({"ids": enc.getField("ids"),
                              "n_oov": enc.getField("n_oov")})
    if args.order.startswith("epoch"):
        epoch = int(args.order.split(":")[1]) if ":" in args.order else 0
        (sampling.epoch_shuffle(final, "doc_id", epoch=epoch,
                                shards=args.partitions)
         .write.mode("overwrite").parquet(f"{args.output}/docs"))
    else:
        sources.write_range_sorted(
            final, f"{args.output}/docs",
            sort_col="doc_id", partitions=args.partitions)
    stats["written"] = spark.read.parquet(f"{args.output}/docs").count()

    docs.unpersist()
    with open(f"{args.output.rstrip('/')}_stats.json", "w",
              encoding="utf-8") as fh:
        json.dump(stats, fh)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
