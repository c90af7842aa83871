#!/usr/bin/env python
"""Capture .explain("formatted") for every query path touched in round 6.

Usage: python scripts/capture_plans_r06.py <suffix> [outdir]
  suffix: "before" (run from the r5-HEAD worktree) or "after" (current tree)
Writes plans/r06/<query>_<suffix>.txt relative to the repo this script's
library resolves to (pass outdir to redirect, e.g. when running the r5
worktree copy but writing into the main repo's plans/r06).
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import pyspark.sql.functions as F

from minimel_spark.session import get_spark


def explain_str(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main():
    suffix = sys.argv[1]
    outdir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(HERE, "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    spark = get_spark("plans_r06", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    def put(name, df):
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(explain_str(df))
        print("captured", name, flush=True)

    from minimel_spark.operators.blocking import surface_blocked_pairs
    from minimel_spark.operators.count import anchor_counts
    from minimel_spark.operators.dedup import minhash_dups, simhash_dups
    from minimel_spark.operators.extract import extract_paragraphs
    from minimel_spark.operators.mentions import detect_mentions
    from minimel_spark.operators.pairs import pair_features
    from minimel_spark.operators.scoring import match_edges, score_pairs, train_pair_matcher
    from minimel_spark.pipeline import weak_pair_labels
    from minimel_spark.sources.synth import doc_title_index, pages_from_documents

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pars = extract_paragraphs(pages_from_documents(docs), doc_title_index(docs)).persist()
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

    caches: list = []
    pairs = surface_blocked_pairs(
        records, key_col="name", num_hashes=12, bands=6,
        max_pairs_per_block=5000, persisted_out=caches,
    )
    feats = pair_features(pairs, records, name_col="name", persisted_out=caches)
    put("pairs_scored_sparse_feats", feats)

    # full scored plan (train on the feats, like bench.py)
    feats = feats.persist()
    cands = counts.withColumn("weight", (F.col("cnt") + 1).cast("long")).select(
        "anchor", "qid", "weight"
    )
    labeled = weak_pair_labels(feats, cands)
    train = labeled.where(F.col("is_match").isNotNull()).where(
        F.pmod(F.xxhash64("rec_id_a", "rec_id_b"), F.lit(10)) == 0
    )
    model = train_pair_matcher(train)
    scored = score_pairs(model, feats)
    put("pairs_scored_score", scored)

    # cluster_cc: the iterative CC runs eagerly; capture the edge prep and
    # the final expand plan it returns
    from minimel_spark.operators.cluster import connected_components

    scored_p = scored.persist()
    scored_p.count()
    edges = match_edges(scored_p, 0.5)
    cc = connected_components(edges)
    put("cluster_cc_expand", cc)
    scored_p.unpersist()
    feats.unpersist()
    for c in caches:
        c.unpersist()
    records.unpersist()
    counts.unpersist()
    pars.unpersist()

    mh_caches: list = []
    mh = minhash_dups(docs, threshold=0.9, n=1, num_hashes=16, bands=8,
                      persisted_out=mh_caches)
    put("dedup_minhash", mh)
    for c in mh_caches:
        c.unpersist()

    put("dedup_simhash", simhash_dups(docs, max_hamming=8))

    # er_date_standardize (codegen-fallback fix)
    import __spark_entry__ as entrymod

    put("er_date_standardize", entrymod.queries()["er_date_standardize"](spark, sf))

    spark.stop()


if __name__ == "__main__":
    main()
