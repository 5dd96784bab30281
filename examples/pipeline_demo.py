#!/usr/bin/env python
"""Training-data pipeline walkthrough — the LLM-data-prep surface of
this engine, end to end on one SparkSession.

Stages (each is a registered, oracle-checked operator — see
`fiat2_spark/workloads/pipeline.py` for the gate entries):

1. profile   — per-document quality signals: composite score
               (`text.quality_score`) and Gopher-style repetition stats
               (`text.repetition_stats`);
2. gate      — drop low-quality / repetitive documents;
3. dedup     — exact fingerprint dedup, then MinHash+LSH near-dup pair
               generation and connected-components clustering (keep the
               lowest doc id per cluster);
4. decontaminate — drop documents overlapping a held-out benchmark
               slice on 3-grams;
5. mix+pack  — domain-mixture rebalancing (`sample_mixture` shape) and
               sequence packing into fixed context windows
               (`grouped_running_sum` prefix sums).

Every decision is deterministic (md5-derived, no RNG state), so the
same corpus always yields the same training set — re-runs, retries,
and cluster-layout changes cannot change the output.

Run: python examples/pipeline_demo.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from fiat2_spark.operators import dedup as D
from fiat2_spark.operators import text as TX
from fiat2_spark.operators.relational import grouped_running_sum
from fiat2_spark.session import get_spark
from fiat2_spark.workloads.util import tbl


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="fiat2-pipeline-demo")
    docs = tbl(spark, sf_dir, "documents")
    n0 = docs.count()

    # 0. redact: rule-based PII scrub (emails / IPv4 / digit runs) --------
    red, red_counts = TX.redact_pii(F.col("text"))
    docs = docs.select(
        "doc_id", "lang", "source",
        red.alias("text"),
        sum(red_counts.values()).alias("n_redactions"),
    )

    # 1. profile: quality composite + repetition signals ------------------
    toks = TX.tokens(F.col("text"))
    base = docs.select(
        "doc_id", "lang", "source", "text",
        toks.alias("toks"),
        TX.quality_score(F.col("text")).alias("quality"),
        TX.token_count(toks).alias("n_tok"),
    )
    rep = TX.repetition_stats(base.select("doc_id", "toks"), "toks", "doc_id")
    profiled = base.join(rep, "doc_id")

    # 2. gate: quality floor, length floor, repetition ceilings -----------
    gated = profiled.filter(
        (F.col("quality") >= 0.5)
        & (F.col("n_tok") >= 20)
        & (F.col("top_bigram_frac") <= 0.2)
        & (F.col("dup_trigram_frac") <= 0.9)
    )
    n_gate = gated.count()

    # 3. dedup: exact fingerprint, then MinHash+LSH near-dup clusters -----
    fp = gated.withColumn("fp", TX.fingerprint_md5(F.col("text")))
    exact = (
        fp.join(fp.groupBy("fp").agg(F.min("doc_id").alias("keeper")), "fp")
        .filter(F.col("doc_id") == F.col("keeper"))
        .drop("keeper")
    )
    # 3-gram shingles: unigram sets over this corpus's tiny synthetic
    # vocabulary would mark nearly everything a near-dup
    pairs = D.minhash_dedup_pairs(exact, "doc_id", "text", shingle_n=3, threshold=0.9)
    clusters = D.dup_clusters(pairs)
    near = exact.join(
        clusters.filter(F.col("doc") != F.col("cluster")).select(
            F.col("doc").alias("doc_id")
        ),
        "doc_id",
        "left_anti",
    )
    n_dedup = near.count()

    # 3b. span-level gate: drop docs that are mostly recycled spans -------
    spans = D.span_dedup_stats(near, "doc_id", "text", seg_len=8)
    fresh_enough = spans.filter(
        F.col("n_kept") * 2 >= F.col("n_segs")
    ).select(F.col("doc").alias("doc_id"))
    near = near.join(fresh_enough, "doc_id")

    # 3c. arbitrary-offset substring removal: scrub verbatim passages the
    # fixed segments miss (Lee et al. 2022; `substring_dedup_apply` in
    # the gate) — the surviving docs continue with their CLEANED text
    cleaned = D.substring_dedup_apply(near, "doc_id", "text", k=8)
    near = (
        near.drop("text")
        .join(
            cleaned.select(
                F.col("doc").alias("doc_id"), F.col("kept_text").alias("text")
            ),
            "doc_id",
        )
        .filter(F.length("text") > 0)
    )
    # materialize once (checkpoint blocks, swept below): every later
    # stage re-derives from `near`, and without this each downstream
    # action would re-run the whole substring pass
    near = near.localCheckpoint()
    n_span = near.count()

    # 4. decontaminate: 3-gram overlap vs a held-out slice ----------------
    bench = near.filter(F.col("doc_id") % 97 == 0).select(
        F.explode(TX.word_ngrams(F.col("toks"), 3)).alias("g")
    ).distinct()
    train = near.filter(F.col("doc_id") % 97 != 0)
    contaminated = (
        train.select("doc_id", F.explode(TX.word_ngrams(F.col("toks"), 3)).alias("g"))
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
    )
    clean = train.join(contaminated, "doc_id", "left_anti")
    n_clean = clean.count()

    # 5. mix + pack: rebalance sources, pack 2048-token contexts ----------
    counts = clean.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    tot = clean.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("source").alias("s")
    )
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit("mix#"), F.col("doc_id").cast("string"))), 1, 13),
        16, 10,
    ).cast("long") / F.lit(float(1 << 52))
    frac = F.round(
        F.least(F.lit(1.0), F.lit(0.8) * F.col("n") / (F.col("s") * F.col("n_s"))), 12
    )
    mixed = (
        clean.join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(tot))
        .filter(u < frac)
        .select("doc_id", "lang", "n_tok")
    )
    packed = grouped_running_sum(
        mixed, ["lang"], "doc_id", F.col("n_tok").cast("long"), out_name="cum"
    ).select(
        "doc_id", "lang", "n_tok",
        F.floor((F.col("cum") - F.col("n_tok")) / 2048.0).cast("long").alias("pack_id"),
    )
    n_packed = packed.count()
    n_packs = packed.select("lang", "pack_id").distinct().count()

    # 6. split: deterministic 80/10/10 train/val/test ---------------------
    from fiat2_spark.workloads.pipeline import _THR_TRAIN, _THR_VAL

    h = F.md5(F.concat(F.lit("split#"), F.col("doc_id").cast("string")))
    split = F.when(h < _THR_TRAIN, "train").when(h < _THR_VAL, "val").otherwise("test")
    split_counts = dict(
        packed.select(split.alias("split")).groupBy("split").count().collect()
    )

    print(f"corpus                 : {n0}")
    print(f"after quality gate     : {n_gate}")
    print(f"after exact+near dedup : {n_dedup}")
    print(f"after span-dedup gate  : {n_span}")
    print(f"after decontamination  : {n_clean}")
    print(f"training docs (mixed)  : {n_packed}")
    print(f"context windows packed : {n_packs}")
    print(f"split sizes            : {split_counts}")

    # demo owns its session: reclaim the checkpoint blocks it made
    from fiat2_spark.session import release_checkpoint_blocks

    release_checkpoint_blocks(spark)


if __name__ == "__main__":
    main()
