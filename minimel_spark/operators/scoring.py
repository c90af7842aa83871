"""Pair scoring + entity-linking predict cascade (SURVEY §2 L1, L2, L3, A12).

L1 — the matcher. The reference trains VW ``csoaa_ldf`` cost-sensitive LR over
per-(mention,candidate) example blocks (minimel/train.py:42-56) with cost 0 for
gold and ``int(log(1+count))`` (balanced) or 1 for negatives
(minimel/vectorize.py:89-100). The pairwise reduction of that objective is a
weighted binary logistic regression over (mention, candidate) rows with
label=is_gold and weightCol=cost — ``pyspark.ml.classification.LogisticRegression``
trains it distributed (the reference trainer is single-process).

L2 — the cascade (minimel/run.py:141-184): per (text, name) mention,
  1. model-scored argmax over the candidate set   (if a model is given)
  2. most-common-sense argmax over raw counts     (A12, run.py:172-174)
  3. deterministic title-index lookup             (run.py:175-176)
expressed as left joins + ``max_by`` aggregates + ``coalesce`` — one DataFrame
plan, no driver loop.

L3 — the recall upper bound (run.py:157-164).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

FEATURE_COLS = ["lev_sim", "jacc3", "jw", "cos_bow"]


def train_pair_matcher(
    labeled_features: DataFrame,
    feature_cols: list[str] | None = None,
    label_col: str = "is_match",
    weight_col: str | None = None,
    max_iter: int = 50,
    reg_param: float = 0.0,
):
    """Train the logistic-regression matcher on labeled pair features.

    Returns a fitted PipelineModel (assembler + LR). ``weight_col`` implements
    the reference's balanced-cost scheme when provided.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feature_cols = feature_cols or FEATURE_COLS
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    lr = LogisticRegression(
        featuresCol="features",
        labelCol=label_col,
        maxIter=max_iter,
        regParam=reg_param,
    )
    if weight_col:
        lr = lr.setWeightCol(weight_col)
    df = labeled_features.withColumn(label_col, F.col(label_col).cast("double"))
    return Pipeline(stages=[assembler, lr]).fit(df)


def logistic_score(
    features: DataFrame,
    coefficients,
    intercept: float,
    feature_cols: list[str] | None = None,
) -> DataFrame:
    """Add ``score`` = sigmoid(Σ coef_i·x_i + intercept) over ``feature_cols``
    (default ``FEATURE_COLS``), the exact binomial ``raw2probability``
    arithmetic of a fitted LR, accumulated in coefficient order as one
    codegen'd column expression (guide §4.1: built-ins over opaque ML
    transforms on the hot path)."""
    margin = F.lit(0.0)
    for c, w in zip(feature_cols or FEATURE_COLS, coefficients):
        margin = margin + F.col(c).cast("double") * F.lit(float(w))
    margin = margin + F.lit(float(intercept))
    return features.withColumn("score", F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)))


def score_pairs(model, features: DataFrame) -> DataFrame:
    """Apply the matcher ``train_pair_matcher`` fits (assembler + binary LR);
    adds ``score`` = P(match).

    This is ``logistic_score`` over the model's coefficients (r6), which
    skips materializing four ML vector columns (features, rawPrediction,
    probability, prediction) per pair row.
    """
    assembler, lr = model.stages
    return logistic_score(
        features, lr.coefficients, lr.intercept, assembler.getInputCols()
    )


def match_edges(scored: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Thresholded match decisions -> CC-ready edge list."""
    return scored.where(F.col("score") > threshold).select(
        F.col("rec_id_a").alias("src"), F.col("rec_id_b").alias("dst"), "score"
    )


def audit_matcher(model, feature_cols: list[str] | None = None):
    """L4 (minimel/audit.py:5-43): inspect the trained matcher — one row per
    feature with its LR coefficient, plus the intercept under feature
    '(intercept)'. Returns a list of (feature, coefficient) tuples."""
    feature_cols = feature_cols or FEATURE_COLS
    lr = model.stages[-1]
    coefs = list(zip(feature_cols, [float(c) for c in lr.coefficients]))
    coefs.append(("(intercept)", float(lr.intercept)))
    return coefs


# ---------------- entity-linking predict cascade (L2/L3/A12) ----------------


def most_common_sense(counts: DataFrame) -> DataFrame:
    """A12: anchor -> argmax-count qid (deterministic tie-break on smaller qid:
    ``max_by`` over (cnt, -qid))."""
    return counts.groupBy("anchor").agg(
        F.expr("max_by(qid, struct(cnt, -qid))").alias("count_qid")
    )


def predict_cascade(
    mentions: DataFrame,
    counts: DataFrame | None = None,
    scored_candidates: DataFrame | None = None,
    title_index: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, name, anchor) -> (doc_id, name, pred_qid, tier).

    ``mentions``: one row per mention with the raw surface ``name`` and the
    normalized ``anchor``.
    ``scored_candidates``: optional (doc_id, name, qid, score) from the model.
    ``counts``: (anchor, qid, cnt) for the most-common-sense fallback.
    ``title_index``: (title, qid) for the deterministic lookup fallback
    (reference looks up ``name.replace(' ', '_')``, run.py:175-176).
    """
    out = mentions
    if scored_candidates is not None:
        best_model = scored_candidates.groupBy("doc_id", "name").agg(
            F.expr("max_by(qid, struct(score, -qid))").alias("model_qid")
        )
        out = out.join(best_model, ["doc_id", "name"], "left")
    else:
        out = out.withColumn("model_qid", F.lit(None).cast("long"))
    if counts is not None:
        out = out.join(most_common_sense(counts), "anchor", "left")
    else:
        out = out.withColumn("count_qid", F.lit(None).cast("long"))
    if title_index is not None:
        lookup = title_index.select(
            F.col("title"), F.col("qid").alias("index_qid")
        )
        out = out.join(
            lookup,
            F.regexp_replace(out["name"], " ", "_") == lookup["title"],
            "left",
        ).drop("title")
    else:
        out = out.withColumn("index_qid", F.lit(None).cast("long"))
    return out.withColumn(
        "pred_qid", F.coalesce("model_qid", "count_qid", "index_qid")
    ).withColumn(
        "tier",
        F.when(F.col("model_qid").isNotNull(), "model")
        .when(F.col("count_qid").isNotNull(), "count")
        .when(F.col("index_qid").isNotNull(), "index")
        .otherwise("nil"),
    )


def upperbound_predict(
    mentions_with_gold: DataFrame,
    counts: DataFrame,
    title_index: DataFrame,
) -> DataFrame:
    """L3 (run.py:157-164): predict gold iff gold is reachable via candidates or
    the title index — the recall ceiling of candidate generation."""
    m = mentions_with_gold
    in_counts = counts.select("anchor", "qid").distinct()
    via_count = (
        m.join(
            in_counts,
            (m["anchor"] == in_counts["anchor"]) & (m["gold_qid"] == in_counts["qid"]),
            "left_semi",
        )
        .select("doc_id", "name", "gold_qid")
        .withColumn("ub_qid", F.col("gold_qid"))
    )
    lookup = title_index.select("title", F.col("qid").alias("idx_qid"))
    via_index = (
        m.join(lookup, F.regexp_replace(m["name"], " ", "_") == lookup["title"])
        .where(F.col("idx_qid") == F.col("gold_qid"))
        .select("doc_id", "name", "gold_qid")
        .withColumn("ub_qid", F.col("gold_qid"))
    )
    hits = via_count.unionByName(via_index).dropDuplicates(["doc_id", "name"])
    return m.join(hits.select("doc_id", "name", "ub_qid"), ["doc_id", "name"], "left")


def reciprocal_best_pairs(
    scored: DataFrame,
    id_a: str = "rec_id_a",
    id_b: str = "rec_id_b",
    score_col: str = "score",
) -> DataFrame:
    """One-to-one match selection: keep a scored pair only if each side is
    the other's best partner — the classic reciprocal-best-match rule for
    ER problems with a one-entity-per-source constraint (each record may
    match at most one partner), used as the deterministic, distributable
    stand-in for globally-optimal bipartite assignment (Hungarian doesn't
    shard; reciprocal-best is its standard large-scale surrogate and is
    provably a subset of any maximum-weight matching's mutual-best edges).

    Ties break by (score desc, partner id asc), so the selection is exact
    and partition-invariant. Output: the surviving ``(id_a, id_b,
    score_col)`` rows.

    Distributed: symmetrize the edge list, one groupBy per node for the
    argmax partner, one join back — never materializes anything bigger
    than the edge list.
    """
    e = scored.select(id_a, id_b, score_col)
    sym = e.select(
        F.col(id_a).alias("_n"), F.col(id_b).alias("_p"), F.col(score_col).alias("_s")
    ).unionByName(
        e.select(
            F.col(id_b).alias("_n"), F.col(id_a).alias("_p"),
            F.col(score_col).alias("_s"),
        )
    )
    best = sym.groupBy("_n").agg(
        F.min(F.struct((-F.col("_s")).alias("_ns"), F.col("_p")))["_p"].alias("_bp")
    )
    return (
        e.join(
            best.select(F.col("_n").alias(id_a), F.col("_bp").alias("_ba")), id_a
        )
        .join(best.select(F.col("_n").alias(id_b), F.col("_bp").alias("_bb")), id_b)
        .where((F.col("_ba") == F.col(id_b)) & (F.col("_bb") == F.col(id_a)))
        .select(id_a, id_b, score_col)
    )


def review_queue(
    scored: DataFrame,
    k: int,
    score_col: str = "score",
    key_cols: tuple = ("rec_id_a", "rec_id_b"),
    band: tuple | None = None,
) -> DataFrame:
    """Uncertainty sampling for the human-review loop: the k scored pairs
    the matcher is LEAST sure about (|score - 0.5| ascending, key columns
    as the deterministic tie-break) — the pairs whose labels buy the most
    constraint value per review (Settles 2009 §3.1), feeding
    must_link/cannot_link into constrained_pivot_clusters. ``band``
    (lo, hi) optionally pre-filters to a score window so reviewers never
    see confident pairs at all.

    Scale: a global ORDER BY ... LIMIT k compiles to
    TakeOrderedAndProject — per-partition top-k heaps merged at the
    driver, k rows of driver memory, no global sort — so this is safe to
    point at the full scored-pair table. Deterministic: (uncertainty,
    *keys) is a total order because key pairs are unique.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    out = scored
    if band is not None:
        lo, hi = band
        out = out.where((F.col(score_col) >= lo) & (F.col(score_col) <= hi))
    out = out.withColumn("uncertainty", F.abs(F.col(score_col) - F.lit(0.5)))
    return out.orderBy("uncertainty", *key_cols).limit(k)


def committee_disagreement(
    scored: DataFrame,
    score_cols: list[str],
    k: int,
    threshold: float = 0.5,
    key_cols: tuple = ("rec_id_a", "rec_id_b"),
) -> DataFrame:
    """Query-by-committee review sampling (Seung, Opper & Sompolinsky,
    COLT 1992): where :func:`review_queue` asks ONE matcher what it is
    unsure about (|score − 0.5|), QBC asks a COMMITTEE of matchers where
    they DISAGREE — the pairs whose labels falsify the most hypotheses
    per review. Each ``score_cols`` member votes match/nonmatch at
    ``threshold``; the disagreement statistic is ``n_yes × n_no``
    (maximal on an even split, zero on consensus) — an INTEGER, so the
    ranking is engine-exact with no float-margin tie hazards, and the
    margin sum breaks disagreement ties toward pairs the committee is
    collectively least sure about.

    Returns the top-k by (disagreement desc, margin_sum asc, *keys) —
    compiled to TakeOrderedAndProject exactly like review_queue: per-
    partition heaps, k rows of driver memory, no global sort. Pairs the
    committee unanimously agrees on never reach a reviewer.

    Output: the input plus ``n_yes``, ``disagreement``, ``margin_sum``.
    """
    if not score_cols or len(score_cols) < 2:
        raise ValueError("committee needs at least two score columns")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    n_yes = None
    margin = None
    for c in score_cols:
        v = F.when(F.col(c) >= threshold, 1).otherwise(0)
        m = F.abs(F.col(c) - F.lit(threshold))
        n_yes = v if n_yes is None else n_yes + v
        margin = m if margin is None else margin + m
    n = len(score_cols)
    out = (
        scored.withColumn("n_yes", n_yes.cast("long"))
        .withColumn(
            "disagreement",
            (F.col("n_yes") * (F.lit(n) - F.col("n_yes"))).cast("long"),
        )
        .withColumn("margin_sum", margin)
    )
    return out.orderBy(
        F.desc("disagreement"), F.asc("margin_sum"), *key_cols
    ).limit(k)
