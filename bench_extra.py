#!/usr/bin/env python
"""Extra benchmarks (guide §1.4): per-sub-stage noop-sink isolation of the
bench.py segments, plus .explain("formatted") capture for plan auditing.

NOT part of the driver contract — bench.py stays the frozen measurement; this
file exists so OPTIMIZATION_r06.md can cite stage-level numbers and plan
shapes. Usage:

    python bench_extra.py [stage ...]        # default: all stages
    SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... same as bench.py

Stages: blocking, namefeats, feats_sparse, labels, train,
score_count, cc, minhash, minhash_cand, simhash, extract, corpus.
Each prints "STAGE <name> <sec>" lines; plans go to plans/r06/_probe_<name>.txt.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F

from minimel_spark.operators.blocking import surface_blocked_pairs
from minimel_spark.operators.cluster import connected_components
from minimel_spark.operators.count import anchor_counts
from minimel_spark.operators.dedup import minhash_dups, simhash_dups
from minimel_spark.operators.extract import extract_paragraphs
from minimel_spark.operators.mentions import detect_mentions
from minimel_spark.operators.pairs import pair_features
from minimel_spark.operators.scoring import match_edges, score_pairs, train_pair_matcher
from minimel_spark.pipeline import weak_pair_labels
from minimel_spark.session import get_spark
from minimel_spark.sources.synth import doc_title_index, pages_from_documents

MAX_PAIRS_PER_BLOCK = 5000
PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def save_plan(df, name):
    os.makedirs(PLAN_DIR, exist_ok=True)
    with open(os.path.join(PLAN_DIR, f"_probe_{name}.txt"), "w") as f:
        f.write(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))


def timed(name, fn):
    t0 = time.time()
    out = fn()
    sec = time.time() - t0
    print(f"STAGE {name} {sec:.2f}", flush=True)
    return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    want = set(sys.argv[1:])

    def on(s):
        return not want or s in want

    spark = get_spark("bench_extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    er_stages = {"blocking", "namefeats", "feats_sparse",
                 "labels", "train", "score_count", "cc"}
    if not want or want & er_stages:
        sc.setJobDescription("build records")
        pars = extract_paragraphs(pages_from_documents(docs), doc_title_index(docs))
        pars = pars.persist()
        pars.count()
        counts = anchor_counts(pars, min_count=1).persist()
        counts.count()
        mentions = detect_mentions(pars, counts.select("anchor").distinct())
        records = (
            mentions.join(pars.select("url", "par_id", "text"), ["url", "par_id"])
            .select(
                F.xxhash64("url", "par_id", "start").alias("rec_id"),
                F.col("surface").alias("name"),
                "text",
            )
            .persist()
        )
        records.count()

        if on("blocking"):
            sc.setJobDescription("blocking only")
            caches = []
            pairs = surface_blocked_pairs(
                records, key_col="name", num_hashes=12, bands=6,
                max_pairs_per_block=MAX_PAIRS_PER_BLOCK, persisted_out=caches)
            save_plan(pairs, "blocking")
            timed("blocking", lambda: noop(pairs))
            for c in caches:
                c.unpersist()

        if on("namefeats"):
            sc.setJobDescription("blocking + name feats (no bow)")
            caches = []
            pairs = surface_blocked_pairs(
                records, key_col="name", num_hashes=12, bands=6,
                max_pairs_per_block=MAX_PAIRS_PER_BLOCK, persisted_out=caches)
            nf = pair_features(pairs, records, name_col="name", text_col=None,
                               persisted_out=caches)
            timed("namefeats", lambda: noop(nf))
            for c in caches:
                c.unpersist()

        if on("feats_sparse"):
            sc.setJobDescription("full feats sparse")
            caches = []
            pairs = surface_blocked_pairs(
                records, key_col="name", num_hashes=12, bands=6,
                max_pairs_per_block=MAX_PAIRS_PER_BLOCK, persisted_out=caches)
            fs = pair_features(pairs, records, name_col="name",
                               persisted_out=caches)
            save_plan(fs, "feats_sparse")
            timed("feats_sparse", lambda: noop(fs))
            for c in caches:
                c.unpersist()

        if want & {"labels", "train", "score_count", "cc"} or not want:
            sc.setJobDescription("feats materialize (cached)")
            caches = []
            pairs = surface_blocked_pairs(
                records, key_col="name", num_hashes=12, bands=6,
                max_pairs_per_block=MAX_PAIRS_PER_BLOCK, persisted_out=caches)
            feats = pair_features(pairs, records, name_col="name",
                                  persisted_out=caches).persist()
            timed("feats_materialize", lambda: feats.count())
            cands = counts.withColumn(
                "weight", (F.col("cnt") + 1).cast("long")
            ).select("anchor", "qid", "weight")
            labeled = weak_pair_labels(feats, cands)
            if on("labels"):
                sc.setJobDescription("weak labels over cached feats")
                timed("labels", lambda: noop(labeled))
            train = labeled.where(F.col("is_match").isNotNull())
            train = train.where(
                F.pmod(F.xxhash64("rec_id_a", "rec_id_b"), F.lit(10)) == 0)
            model = None
            if on("train") or on("score_count") or on("cc") or not want:
                sc.setJobDescription("LR fit")
                model = timed("train_fit", lambda: train_pair_matcher(train))
            if model is not None:
                scored = score_pairs(model, feats).persist()
                sc.setJobDescription("score + count over cached feats")
                timed("score_count", lambda: scored.count())
                if on("cc"):
                    sc.setJobDescription("match_edges + CC")
                    edges = match_edges(scored, 0.5)

                    def run_cc():
                        cc = connected_components(edges)
                        return cc.select("component").distinct().count()

                    timed("cc", run_cc)
                scored.unpersist()
            feats.unpersist()
            for c in caches:
                c.unpersist()

        records.unpersist()
        counts.unpersist()
        pars.unpersist()

    if on("extract"):
        sc.setJobDescription("extract only")
        pars2 = extract_paragraphs(pages_from_documents(docs), doc_title_index(docs))
        timed("extract", lambda: noop(pars2))
        sc.setJobDescription("extract + count")
        pars3 = extract_paragraphs(
            pages_from_documents(docs), doc_title_index(docs)).persist()
        t0 = time.time()
        pars3.count()
        c2 = anchor_counts(pars3, min_count=1)
        noop(c2)
        print(f"STAGE extract_count_full {time.time()-t0:.2f}", flush=True)
        pars3.unpersist()

    if on("minhash") or on("minhash_cand"):
        from minimel_spark.operators.dedup import _shingled, _band_keys
        from minimel_spark.operators.blocking import minhash_signature

        if on("minhash_cand"):
            sc.setJobDescription("minhash candidates only")
            sh = _shingled(docs, "text", "doc_id", 1).persist()
            sh.count()
            sig = sh.withColumn("sig", minhash_signature(F.col("shingles"), 16, "xx64"))
            bk = _band_keys(16, 8, "xx64")
            blocked = sig.select("doc_id", "n_sh", F.explode(bk).alias("bk"))
            a = blocked.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"), "bk")
            b = blocked.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"), "bk")
            cand = (
                a.join(b, "bk")
                .where(F.col("id_a") < F.col("id_b"))
                .where(F.least("n_a", "n_b") >= 0.9 * F.greatest("n_a", "n_b"))
                .select("id_a", "id_b")
                .distinct()
            )
            timed("minhash_cand", lambda: noop(cand))
            sh.unpersist()
        if on("minhash"):
            sc.setJobDescription("minhash full")
            caches = []
            mh = minhash_dups(docs, threshold=0.9, n=1, num_hashes=16, bands=8,
                              persisted_out=caches)
            save_plan(mh, "minhash")
            timed("minhash", lambda: noop(mh))
            for c in caches:
                c.unpersist()

    if on("simhash"):
        sc.setJobDescription("simhash full")
        sh = simhash_dups(docs, max_hamming=8)
        save_plan(sh, "simhash")
        timed("simhash", lambda: noop(sh))

    if on("corpus"):
        from minimel_spark.operators.corpus import (
            ngram_decontaminate,
            repetition_stats,
            top_ngrams,
        )
        sc.setJobDescription("corpus repetition")
        timed("corpus_repetition", lambda: noop(repetition_stats(docs)))
        sc.setJobDescription("corpus decontaminate")
        timed("corpus_decontaminate", lambda: noop(ngram_decontaminate(
            docs.where(F.col("doc_id") % 17 != 0),
            docs.where(F.col("doc_id") % 17 == 0), n=5)))
        sc.setJobDescription("corpus top_ngrams")
        timed("corpus_top_ngrams", lambda: noop(top_ngrams(docs, n=2, k=25)))

    spark.stop()


if __name__ == "__main__":
    main()
