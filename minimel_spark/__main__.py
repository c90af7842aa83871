"""spark-submit entry point (north rule: "runs via spark-submit --py-files").

Usage (cluster):
    zip -r minimel_spark.zip minimel_spark
    spark-submit --py-files minimel_spark.zip -m minimel_spark \\
        pipeline --pages s3://…/pages --index s3://…/title_index \\
        --workdir s3://…/run1 [--min-count 2] [--cluster-threshold 0.5] …

Usage (sandbox):
    python -m minimel_spark pipeline --pages /tmp/pages.parquet \\
        --index /tmp/index.parquet --workdir /tmp/run1
    python -m minimel_spark report --workdir /tmp/run1   # no Spark session

Subcommands mirror the reference CLI surface (minimel/__main__.py:24-75 maps
subcommands to the experiment DAG); here each subcommand is one Spark job and
``pipeline`` is the whole DAG with checkpoint/resume (rerunning with the same
--workdir resumes from the last committed stage).
"""

from __future__ import annotations

import argparse
import sys


def _spark(args):
    from .session import get_spark

    return get_spark("minimel_spark", master=args.master)


def cmd_pipeline(args) -> int:
    from .pipeline import PipelineConfig, run_pipeline

    spark = _spark(args)
    pages = spark.read.parquet(args.pages)
    index = spark.read.parquet(args.index)
    cfg = PipelineConfig(
        language=args.language,
        min_count=args.min_count,
        cluster_threshold=args.cluster_threshold,
        match_threshold=args.match_threshold,
        max_pairs_per_block=args.max_pairs_per_block,
        cluster_method=args.cluster_method,
    )
    out = run_pipeline(spark, pages, index, workdir=args.workdir, config=cfg)
    n = out["er_clusters"].count()
    k = out["er_clusters"].select("cluster_id").distinct().count()
    print(f"er_clusters: {n} records in {k} clusters -> {args.workdir}/er_clusters")
    return 0


def cmd_count(args) -> int:
    from .operators.count import anchor_counts
    from .operators.extract import extract_paragraphs

    spark = _spark(args)
    pages = spark.read.parquet(args.pages)
    index = spark.read.parquet(args.index)
    counts = anchor_counts(
        extract_paragraphs(pages, index), args.language, min_count=args.min_count
    )
    counts.write.mode("overwrite").parquet(args.out)
    print(f"anchor_counts -> {args.out}")
    return 0


def cmd_dedup(args) -> int:
    from .operators.dedup import minhash_dups

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    dups = minhash_dups(docs, threshold=args.threshold)
    dups.write.mode("overwrite").parquet(args.out)
    print(f"minhash dup pairs -> {args.out}")
    return 0


def cmd_clean(args) -> int:
    """Reference `minimel clean` (clean.py:130-262) as one Spark job."""
    from .operators.clean import clean

    spark = _spark(args)
    counts = spark.read.parquet(args.counts)
    index = spark.read.parquet(args.index)
    out = clean(
        counts,
        index,
        language=args.language,
        min_count=args.min_count,
        freqnorm=args.freqnorm,
        tokenscore_threshold=args.tokenscore_threshold,
        entropy_threshold=args.entropy_threshold,
        countratio_threshold=args.countratio_threshold,
        quantile_top_shadowed_q=args.quantile or None,
    )
    out.write.mode("overwrite").parquet(args.out)
    print(f"candidates -> {args.out}")
    return 0


def cmd_predict(args) -> int:
    """Reference `minimel run` (run.py:141-300): arity-sniffed TSV in, mention
    detection over the candidate dictionary, predict cascade, reference-format
    predictions TSV out."""
    import pyspark.sql.functions as F

    from .operators.mentions import detect_mentions
    from .operators.scoring import predict_cascade
    from .sources.tsv import read_run_tsv, write_predictions_tsv

    spark = _spark(args)
    texts = read_run_tsv(spark, args.texts)
    counts = spark.read.parquet(args.counts)
    index = spark.read.parquet(args.index) if args.index else None
    pars = texts.select(
        F.col("doc_id").alias("url"), F.lit(0).alias("par_id"), "text"
    )
    mentions = detect_mentions(pars, counts.select("anchor").distinct())
    m = (
        mentions.select(F.col("url").alias("doc_id"), F.col("surface").alias("name"))
        .distinct()
        .withColumn("anchor", F.col("name"))
    )
    pred = predict_cascade(m, counts=counts, title_index=index)
    write_predictions_tsv(
        pred.where(F.col("pred_qid").isNotNull()).select("doc_id", "name", "pred_qid"),
        args.out,
        # reference run.py:291-300 emits an 'id\t{}' line for EVERY input
        # text, including those with zero resolved mentions
        all_doc_ids=texts,
    )
    print(f"predictions tsv -> {args.out}")
    return 0


def cmd_evaluate(args) -> int:
    """Reference `minimel eval` (run.py:59-76): gold TSV vs predictions TSV ->
    micro/macro scores as one JSON line."""
    import json

    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from .operators.evaluate import align_gold_pred, macro_scores, micro_scores
    from .sources.tsv import read_run_tsv

    spark = _spark(args)
    gold = (
        read_run_tsv(spark, args.gold)
        .select("doc_id", F.explode("gold").alias("name", "gold_qid"))
    )
    map_t = T.MapType(T.StringType(), T.LongType())
    pred = (
        spark.read.text(args.pred)
        .select(F.split("value", "\t").alias("p"))
        .select(
            F.col("p")[0].alias("doc_id"),
            F.explode(F.from_json(F.col("p")[1], map_t)).alias("name", "pred_qid"),
        )
    )
    aligned = align_gold_pred(gold, pred)
    mi = micro_scores(aligned).first().asDict()
    ma = macro_scores(aligned).first().asDict()
    print(json.dumps({**mi, **ma}))
    return 0


def cmd_ent_feats(args) -> int:
    """Reference `minimel ent-feats` (ent_feats.py) as one Spark job."""
    from .operators.ent_feats import entity_features

    spark = _spark(args)
    spo = spark.read.parquet(args.triples)
    ents = spark.read.parquet(args.entities)
    out = entity_features(spo, ents, part=args.part)
    out.write.mode("overwrite").parquet(args.out)
    print(f"entity features -> {args.out}")
    return 0


def cmd_embed(args) -> int:
    """M6 transform: documents -> L2-normalized hashed-BoW embeddings."""
    from .operators.embed import embed_hashed

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    embed_hashed(docs, dim=args.dim).write.mode("overwrite").parquet(args.out)
    print(f"embeddings(dim={args.dim}) -> {args.out}")
    return 0


def cmd_disambig(args) -> int:
    """Reference `minimel get-disambig` (get_disambig.py:65-111): list links
    of disambiguation pages -> (title, qid) dimension."""
    from .operators.disambig import disambig_from_pages

    spark = _spark(args)
    pages = spark.read.parquet(args.pages)
    index = spark.read.parquet(args.index)
    out = disambig_from_pages(pages, index, disambig_template=args.template)
    out.write.mode("overwrite").parquet(args.out)
    print(f"disambig links -> {args.out}")
    return 0


def cmd_report(args) -> int:
    """One line per committed stage of ``--workdir``, read from its lineage
    and part-file footers without a Spark session."""
    from .sources.checkpoint import stage_report

    for r in stage_report(args.workdir):
        print(
            f"{r['stage']}: rows={r['rows']} parts={r['parts']} "
            f"bytes={r['bytes']} codec={r['codec']} wall_secs={r['wall_secs']:.3f}"
        )
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="minimel_spark")
    p.add_argument("--master", default=None, help="override spark master")
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("pipeline", help="full ER pipeline with checkpoint/resume")
    pp.add_argument("--pages", required=True)
    pp.add_argument("--index", required=True)
    pp.add_argument("--workdir", required=True)
    pp.add_argument("--language", default=None)
    pp.add_argument("--min-count", type=int, default=2)
    pp.add_argument("--cluster-threshold", type=float, default=0.5)
    pp.add_argument("--match-threshold", type=float, default=0.5)
    pp.add_argument("--max-pairs-per-block", type=int, default=10_000)
    pp.add_argument(
        "--cluster-method",
        choices=["transitive", "pivot"],
        default="transitive",
        help="entity formation: transitive closure or pivot (KwikCluster) stars",
    )
    pp.set_defaults(fn=cmd_pipeline)

    prp = sub.add_parser("report", help="committed stages of a workdir (no Spark)")
    prp.add_argument("--workdir", required=True)
    prp.set_defaults(fn=cmd_report)

    pc = sub.add_parser("count", help="extraction + anchor statistics only")
    pc.add_argument("--pages", required=True)
    pc.add_argument("--index", required=True)
    pc.add_argument("--out", required=True)
    pc.add_argument("--language", default=None)
    pc.add_argument("--min-count", type=int, default=2)
    pc.set_defaults(fn=cmd_count)

    pd = sub.add_parser("dedup", help="MinHash-LSH near-duplicate detection")
    pd.add_argument("--docs", required=True)
    pd.add_argument("--out", required=True)
    pd.add_argument("--threshold", type=float, default=0.8)
    pd.set_defaults(fn=cmd_dedup)

    pcl = sub.add_parser("clean", help="anchor counts -> cleaned candidates")
    pcl.add_argument("--counts", required=True)
    pcl.add_argument("--index", required=True)
    pcl.add_argument("--out", required=True)
    pcl.add_argument("--language", default=None)
    pcl.add_argument("--min-count", type=int, default=2)
    pcl.add_argument("--freqnorm", action="store_true")
    pcl.add_argument("--tokenscore-threshold", type=float, default=0.1)
    pcl.add_argument("--entropy-threshold", type=float, default=1.0)
    pcl.add_argument("--countratio-threshold", type=float, default=0.5)
    pcl.add_argument("--quantile", type=float, default=0.0)
    pcl.set_defaults(fn=cmd_clean)

    pr = sub.add_parser(
        "predict", help="run TSV texts through mention detection + cascade"
    )
    pr.add_argument("--texts", required=True, help="1/2/3-column run TSV (arity-sniffed)")
    pr.add_argument("--counts", required=True)
    pr.add_argument("--index", default=None)
    pr.add_argument("--out", required=True)
    pr.set_defaults(fn=cmd_predict)

    pe = sub.add_parser("evaluate", help="gold TSV vs predictions TSV -> scores")
    pe.add_argument("--gold", required=True, help="3-column run TSV with gold json")
    pe.add_argument("--pred", required=True, help="predictions TSV (predict output)")
    pe.set_defaults(fn=cmd_evaluate)

    pf = sub.add_parser("ent-feats", help="per-entity discriminative features")
    pf.add_argument("--triples", required=True, help="parquet with (s, p, o)")
    pf.add_argument("--entities", required=True, help="parquet with (s)")
    pf.add_argument("--out", required=True)
    pf.add_argument("--part", type=float, default=0.5)
    pf.set_defaults(fn=cmd_ent_feats)

    pm = sub.add_parser("embed", help="hashed-BoW embedding transform")
    pm.add_argument("--docs", required=True)
    pm.add_argument("--out", required=True)
    pm.add_argument("--dim", type=int, default=64)
    pm.set_defaults(fn=cmd_embed)

    pg = sub.add_parser("disambig", help="disambiguation pages -> (title, qid)")
    pg.add_argument("--pages", required=True)
    pg.add_argument("--index", required=True)
    pg.add_argument("--out", required=True)
    pg.add_argument("--template", default=None)
    pg.set_defaults(fn=cmd_disambig)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
