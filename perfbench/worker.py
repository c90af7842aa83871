"""One benchmark pass in a fresh JVM: start a session, warm it up, run
``pipeline.run_pipeline`` from pages to committed ``er_clusters`` (timed),
then check the output and, on a traced pass, read the event log.

Started by ``run.py`` with the environment it sets up; writes one JSON
object to ``--out``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _warm_batches(batches):
    import minimel_spark  # noqa: F401  (imports the program in each Python worker)

    yield from batches


def start_session(args):
    from minimel_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(args.tmp, "warehouse")}
    if args.events:
        os.makedirs(args.events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + args.events,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", master=f"local[{args.cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_checks(spark, out, data_dir, cfg) -> tuple[dict, list[str]]:
    """Counts, quality metrics and failed check descriptions."""
    import pyspark.sql.functions as F

    from checks import canonical, pairwise_f1, reference_name_clusters, union_find

    failures = []
    # name clusters vs the reference cluster() closure
    name_scores: dict = {}
    for r in out["candidates"].select("anchor", "qid", "weight").collect():
        name_scores.setdefault(r["anchor"], {})[r["qid"]] = r["weight"]
    ref = reference_name_clusters(name_scores, cfg.cluster_threshold)
    got = {r["anchor"]: r["cluster_id"] for r in out["name_clusters"].collect()}
    name_f1 = pairwise_f1(got, ref)
    if set(got) != set(ref):
        failures.append("name_clusters anchors differ from candidates anchors")
    if name_f1 < 0.99:
        failures.append(f"name_f1_vs_ref {name_f1:.4f} < 0.99")

    # er_clusters == union-find over the committed match edges
    recs = out["records"].select("rec_id").toPandas()["rec_id"].tolist()
    edges = (
        out["scored_pairs"].where(F.col("score") > cfg.match_threshold)
        .select("rec_id_a", "rec_id_b").toPandas()
    )
    n_pairs = out["scored_pairs"].count()
    expect = union_find(recs, zip(edges["rec_id_a"].tolist(), edges["rec_id_b"].tolist()))
    er = out["er_clusters"].toPandas()
    if len(er) != len(recs) or er["rec_id"].nunique() != len(er) or set(er["rec_id"]) != set(recs):
        failures.append("er_clusters does not hold every record exactly once")
    er_assign = dict(zip(er["rec_id"].tolist(), er["cluster_id"].tolist()))
    if canonical(er_assign) != expect:
        failures.append("er_clusters differs from union-find over match edges")

    # er_clusters vs the generator's gold entities
    gold = spark.read.parquet(os.path.join(data_dir, "gold"))
    lineage = out["mentions"].select(
        F.xxhash64("url", "par_id", "start").alias("rec_id"), "url"
    )
    rec_gold = (
        out["records"].select("rec_id", "name").join(lineage, "rec_id")
        .join(gold, ["url", "name"], "left").select("rec_id", "qid").toPandas()
    )
    if rec_gold["qid"].isna().any() or len(rec_gold) != len(recs):
        failures.append("records without a gold entity")
    gold_assign = dict(zip(rec_gold["rec_id"].tolist(), rec_gold["qid"].tolist()))
    er_f1 = pairwise_f1(er_assign, gold_assign)

    counts = {
        "records": len(recs),
        "mentions": out["mentions"].count(),
        "pairs": n_pairs,
        "match_edges": len(edges),
        "er_clusters": len(set(er_assign.values())),
        "name_clusters": len(set(got.values())),
    }
    return {"counts": counts, "name_f1_vs_ref": name_f1, "er_f1_vs_gold": er_f1}, failures


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--checks", type=int, default=1)
    ap.add_argument("--events", default="")
    ap.add_argument("--spans", default="")
    args = ap.parse_args(argv)

    t0 = time.perf_counter()
    spark = start_session(args)
    from minimel_spark.pipeline import PipelineConfig, run_pipeline

    pages = spark.read.parquet(os.path.join(args.data, "pages"))
    index = spark.read.parquet(os.path.join(args.data, "title_index"))
    # warm-up: start Spark's Python workers and import the program in them
    spark.range(64, numPartitions=args.cores).mapInPandas(_warm_batches, "id long").count()
    session_s = time.perf_counter() - t0

    tracer, root_span, undo = None, contextlib.nullcontext(), None
    if args.events:
        from spans import ROOT, Tracer

        tracer = Tracer(spark.sparkContext)
        root_span, undo = tracer.span(ROOT), tracer.install()
    cfg = PipelineConfig()
    t1 = time.perf_counter()
    with root_span:
        out = run_pipeline(spark, pages, index, workdir=args.workdir, config=cfg)
    e2e_s = time.perf_counter() - t1
    if undo:
        undo()

    result = {"session_s": session_s, "e2e_s": e2e_s, "ckpt_bytes": _dir_bytes(args.workdir)}
    failures: list[str] = []
    if args.checks:
        checked, failures = run_checks(spark, out, args.data, cfg)
        result.update(checked)
    if tracer:
        result["train_rows"] = sum(df.count() for df in tracer.train_inputs)
        result["self_s"] = tracer.self_times()
        if args.spans:
            tracer.dump(args.spans)
    spark.stop()
    if tracer:
        from spans import event_log_metrics

        result["groups"] = event_log_metrics(args.events)
    result["failures"] = failures
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
