"""Experiment harness: hyperparameter sweep + evaluation table (SURVEY §2 X1,
X2, X6; reference minimel/experiment.py:42-69, 305-318).

The reference encodes parameter combos in directory names and appends rows to
``evaluation.csv``; here each combo gets a workdir (checkpoint/resume per
combo — an interrupted sweep restarts only unfinished combos) and the results
land in one tidy DataFrame/parquet table keyed by the combo id.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
from dataclasses import replace

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .operators.evaluate import align_gold_pred, macro_scores, micro_scores
from .operators.scoring import predict_cascade
from .pipeline import PipelineConfig, run_pipeline


def grid(**axes) -> list[dict]:
    """X1 (experiment.py:42-44): cartesian product of hyperparameter axes as a
    list of dicts, in deterministic (sorted-key) order."""
    keys = sorted(axes)
    return [dict(zip(keys, combo)) for combo in itertools.product(*(axes[k] for k in keys))]


def combo_id(params: dict) -> str:
    """X2 analogue: stable short id for a parameter combo (replaces the
    reference's params-in-dirname encoding)."""
    blob = json.dumps(params, sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:12]


def sweep(
    spark: SparkSession,
    pages: DataFrame,
    title_index: DataFrame,
    base_config: PipelineConfig,
    param_grid: list[dict],
    workdir: str,
    gold: DataFrame | None = None,
) -> DataFrame:
    """Run the pipeline once per combo; return one evaluation row per combo:
    (combo_id, params_json, n_records, n_clusters [, support, micro_f1,
    macro_f1 when gold given]).

    Each combo commits its stages under ``<workdir>/<combo_id>`` (so an
    interrupted sweep resumes), and the evaluation table is written to
    ``<workdir>/evaluation``.

    gold: optional (doc_id, name, gold_qid) mention labels; predictions come
    from the count-argmax cascade over each combo's anchor statistics.
    """
    rows = []
    for params in param_grid:
        cid = combo_id(params)
        cfg = replace(base_config, **params)
        out = run_pipeline(
            spark, pages, title_index, workdir=os.path.join(workdir, cid), config=cfg
        )
        clusters = out["er_clusters"]
        row = {
            "combo_id": cid,
            "params_json": json.dumps(params, sort_keys=True, default=str),
            "n_records": clusters.count(),
            "n_clusters": clusters.select("cluster_id").distinct().count(),
        }
        if gold is not None:
            counts = out["anchor_counts"]
            mentions = gold.select("doc_id", "name").distinct().withColumn(
                "anchor", F.lower("name")
            )
            pred = predict_cascade(mentions, counts=counts).select(
                "doc_id", "name", "pred_qid"
            )
            aligned = align_gold_pred(gold, pred)
            mi = micro_scores(aligned).first()
            ma = macro_scores(aligned).first()
            row.update(
                support=mi["support"],
                micro_f1=float(mi["micro_f1"]),
                macro_f1=float(ma["macro_f1"]),
            )
        rows.append(row)
    df = spark.createDataFrame(rows)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(workdir, "evaluation"))
    return df
