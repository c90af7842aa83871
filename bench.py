#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline jobs at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

  {"metric": "candidate_pairs_scored_per_sec", "value": N, "unit": "pairs/sec",
   "queries": {name: seconds, ...}, "sf": ..., ...}

The headline metric is the north rule's candidate-pairs-scored/sec: the wall
time of blocking -> capped pair generation -> feature UDFs -> LR training ->
scoring, measured from materialized mention records to the scored-pair count.

Scaling evidence (north rule: throughput efficiency >= 0.8 from N to 4N):
SPARK_GRAFT_SCALING=1 re-runs the scoring segment at local[8] and local[32]
on the same input and reports both throughputs + efficiency
( (T8/T32) / 4 — i.e. speedup over the 4x core ratio ).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F

from minimel_spark.operators.ann import brute_force_topk
from minimel_spark.operators.blocking import surface_blocked_pairs
from minimel_spark.operators.cluster import connected_components
from minimel_spark.operators.count import anchor_counts
from minimel_spark.operators.dedup import minhash_dups
from minimel_spark.operators.extract import extract_paragraphs
from minimel_spark.operators.mentions import detect_mentions
from minimel_spark.operators.pairs import pair_features
from minimel_spark.operators.scoring import match_edges, score_pairs, train_pair_matcher
from minimel_spark.pipeline import weak_pair_labels
from minimel_spark.session import get_spark
from minimel_spark.sources.synth import doc_title_index, pages_from_documents

MAX_PAIRS_PER_BLOCK = 5000


def build_records(spark, sf_dir):
    """pages -> paragraphs -> mentions -> ER records (rec_id, name, text),
    plus the anchor count table. Returns (records, counts, timings)."""
    t = {}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.time()
    pars = extract_paragraphs(pages_from_documents(docs), doc_title_index(docs))
    pars = pars.persist()
    n_pars = pars.count()
    counts = anchor_counts(pars, min_count=1).persist()
    counts.count()
    t["extract_count"] = time.time() - t0

    t0 = time.time()
    mentions = detect_mentions(pars, counts.select("anchor").distinct())
    # rec_id = 8-byte deterministic surrogate of the natural key: join/shuffle
    # volume in pair generation is dominated by key bytes, and xxhash64 is
    # partition-invariant (collision odds ~n^2/2^64 — nil at any realistic n).
    records = (
        mentions.join(pars.select("url", "par_id", "text"), ["url", "par_id"])
        .select(
            F.xxhash64("url", "par_id", "start").alias("rec_id"),
            F.col("surface").alias("name"),
            "text",
        )
        .persist()
    )
    n_rec = records.count()
    t["mentions"] = time.time() - t0
    return records, counts, pars, n_pars, n_rec, t


def score_segment(spark, records, counts):
    """The north-metric segment: records -> blocks -> pairs -> features ->
    train -> scored pairs. Returns (scored, n_pairs, seconds)."""
    t0 = time.time()
    # Block keys are functions of the surface form, so blocking runs at NAME
    # level (dictionary-sized) with bounded expansion to record pairs — see
    # surface_blocked_pairs. Produces the same pair set as the generic
    # cap_blocks + candidate_pairs path, without the multi-band duplicated
    # self-join shuffle over all records.
    stage_caches: list = []
    pairs = surface_blocked_pairs(
        records, key_col="name", num_hashes=12, bands=6,
        max_pairs_per_block=MAX_PAIRS_PER_BLOCK, persisted_out=stage_caches,
    )
    feats = pair_features(
        pairs, records, name_col="name", persisted_out=stage_caches,
    ).persist()
    cands = counts.withColumn("weight", (F.col("cnt") + 1).cast("long")).select(
        "anchor", "qid", "weight"
    )
    labeled = weak_pair_labels(feats, cands)
    train = labeled.where(F.col("is_match").isNotNull())
    # deterministic 1/10 training sample. NB in THIS synthetic world every
    # blocked pair is same-name, so the argmax weak labels are single-class
    # and LBFGS converges immediately (measured: 0 iterations, constant
    # scorer — which is also why every scored pair becomes a match edge
    # below); the train stage here prices the fixed ML machinery (label
    # joins, assembler, instance materialization, summary), not iteration
    # compute. Real multi-class training with planted negatives is pinned
    # by the er_matcher_planted oracle gate.
    train = train.where(F.pmod(F.xxhash64("rec_id_a", "rec_id_b"), F.lit(10)) == 0)
    model = train_pair_matcher(train)
    scored = score_pairs(model, feats).persist()
    n_pairs = scored.count()
    sec = time.time() - t0
    # drop the intermediate caches: a repeated segment run must recompute the
    # whole plan (Spark's CacheManager matches canonicalized plans, so a
    # leftover feats/name-table cache would short-circuit a rerun and fake
    # the timing)
    feats.unpersist()
    for df in stage_caches:
        df.unpersist()
    return scored, n_pairs, sec


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    # Best-of-N protocol (explicit, not prose): this box's wall-time noise on
    # single runs is up to ~2x; exogenous load only ever SLOWS a run, so the
    # per-segment minimum over SPARK_GRAFT_REPS repetitions is the
    # noise-robust estimator. Headline `queries`/`value` carry the min;
    # `queries_median` is reported alongside for honesty about spread.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))

    spark = get_spark("bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    times: dict[str, list[float]] = {}

    def rec(name, sec):
        times.setdefault(name, []).append(sec)

    total0 = time.time()

    for _ in range(reps):
        records, counts, pars, n_pars, n_rec, t_build = build_records(spark, sf_dir)
        for k, v in t_build.items():
            rec(k, v)
        scored, n_pairs, sec = score_segment(spark, records, counts)
        rec("pairs_scored", sec)

        t0 = time.time()
        edges = match_edges(scored, 0.5)
        cc = connected_components(edges)
        n_clusters = cc.select("component").distinct().count()
        rec("cluster_cc", time.time() - t0)
        # drop every cache between reps: CacheManager matches canonicalized
        # plans, so a leftover cache would short-circuit the next rep's
        # recompute and fake the timing
        # unconditional (ADVICE r3): the last rep's ER caches must not stay
        # resident while the dedup/embed/ann segments below are timed —
        # residual cache memory pressure would skew a cold-path measurement
        scored.unpersist()
        records.unpersist()
        counts.unpersist()
        pars.unpersist()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from minimel_spark.operators.corpus import (
        ngram_decontaminate,
        repetition_stats,
        top_ngrams,
    )
    from minimel_spark.operators.dedup import simhash_dups
    from minimel_spark.operators.embed import embed_hashed

    for _ in range(reps):
        t0 = time.time()
        mh_caches: list = []
        n_dups = minhash_dups(
            docs, threshold=0.9, n=1, num_hashes=16, bands=8, persisted_out=mh_caches
        ).count()
        rec("dedup_minhash", time.time() - t0)
        for c in mh_caches:
            c.unpersist()

        t0 = time.time()
        n_simdups = simhash_dups(docs, max_hamming=8).count()
        rec("dedup_simhash", time.time() - t0)

        t0 = time.time()
        n_emb = embed_hashed(docs, dim=64).count()
        rec("embed", time.time() - t0)

        t0 = time.time()
        n_ann = brute_force_topk(emb, emb.where(F.col("vec_id") < 64), k=10).count()
        rec("ann_topk", time.time() - t0)

        # corpus-curation family (operators/corpus.py, new r5): same split
        # as the gates — doc_id % 17 == 0 is the held-out benchmark slice
        t0 = time.time()
        n_contam = (
            ngram_decontaminate(
                docs.where(F.col("doc_id") % 17 != 0),
                docs.where(F.col("doc_id") % 17 == 0),
                n=5,
            )
            .where("contaminated")
            .count()
        )
        rec("corpus_decontaminate", time.time() - t0)

        t0 = time.time()
        n_repetitive = repetition_stats(docs).where("repetitive").count()
        rec("corpus_repetition", time.time() - t0)

        t0 = time.time()
        n_top = top_ngrams(docs, n=2, k=25).count()
        rec("corpus_top_ngrams", time.time() - t0)

    q = {k: round(min(v), 2) for k, v in times.items()}
    q_median = {
        k: round(sorted(v)[len(v) // 2], 2) for k, v in times.items()
    }
    best_score_sec = min(times["pairs_scored"])
    pairs_per_sec = n_pairs / best_score_sec if best_score_sec else 0.0

    total = time.time() - total0
    out = {
        "metric": "candidate_pairs_scored_per_sec",
        "value": round(pairs_per_sec, 1),
        "unit": "pairs/sec",
        "queries": q,
        "queries_median": q_median,
        "reps": reps,
        "sf": sf,
        "cpus": cpus,
        "total_sec": round(total, 2),
        "n_paragraphs": n_pars,
        "n_records": n_rec,
        "n_pairs_scored": n_pairs,
        "n_clusters": n_clusters,
        "n_dup_pairs": n_dups,
        "n_simhash_pairs": n_simdups,
        "n_embedded": n_emb,
        "n_ann_rows": n_ann,
        "n_contaminated_docs": n_contam,
        "n_repetitive_docs": n_repetitive,
        "n_top_ngrams": n_top,
    }
    spark.stop()

    if os.environ.get("SPARK_GRAFT_SCALING") == "1":
        scale_cpus = [
            int(x)
            for x in os.environ.get("SPARK_GRAFT_SCALE_CPUS", "8,32").split(",")
        ]
        reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))
        # optional input multiplier: replicate records with distinct ids so
        # the scaling measurement runs at a production-like work/core ratio
        # (fixed driver/JIT overheads amortize with input size)
        mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "1"))
        scaling = {}
        for ncpu in scale_cpus:
            s = get_spark("bench-scale", master=f"local[{ncpu}]")
            s.sparkContext.setLogLevel("ERROR")
            recs, cnts, _, _, _, _ = build_records(s, sf_dir)
            if mult > 1:
                base = recs
                copies = [base] + [
                    base.withColumn("rec_id", F.xxhash64("rec_id", F.lit(i)))
                    for i in range(1, mult)
                ]
                recs = copies[0]
                for c in copies[1:]:
                    recs = recs.unionByName(c)
                recs = recs.persist()
                recs.count()
                base.unpersist()
            # best-of-N: exogenous machine load only ever SLOWS a run, so the
            # per-level minimum wall time is the noise-robust estimator
            best, n_p = None, 0
            for _ in range(reps):
                scored, n_p, sec = score_segment(s, recs, cnts)
                scored.unpersist()
                best = sec if best is None else min(best, sec)
            scaling[f"local{ncpu}"] = {
                "pairs_per_sec": round(n_p / best, 1),
                "sec": round(best, 2),
                "n_pairs": n_p,
            }
            s.stop()
        lo, hi = scale_cpus[0], scale_cpus[-1]
        eff = (
            scaling[f"local{hi}"]["pairs_per_sec"]
            / scaling[f"local{lo}"]["pairs_per_sec"]
            / (hi / lo)
        )
        scaling[f"efficiency_{lo}_to_{hi}"] = round(eff, 3)
        out["scaling"] = scaling

    print(json.dumps(out))


if __name__ == "__main__":
    main()
