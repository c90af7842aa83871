"""End-to-end record-linkage pipeline (SURVEY §7): pages -> extraction ->
anchor stats -> cleaning -> mention detection -> blocking + pair features ->
matcher -> transitive clustering -> predictions, with checkpoint/resume and
metrics at every committed stage.

The committed stages are paragraphs, anchor_counts, candidates,
name_clusters, mentions, pair_features, matcher and er_clusters. ``records``
is a view: one row per committed mention, its ``rec_id`` hashed from the
mention's key and its text joined from committed paragraphs, so each
paragraph's text is stored once. The pair stream is committed once, as
pair_features, sorted by name pair within each part file: ``pairs`` is its
5-column projection and ``scored_pairs`` adds the logistic score of the
committed matcher row (four coefficients and the intercept), so neither is
stored.

Mirrors the reference experiment DAG (minimel/experiment.py:72-318, §3 E2) but
every stage is a distributed DataFrame job — the reference's driver-local
stages (clean, train, run) are the single-node cliffs this removes.

Matcher supervision is self-contained (no external gold): a candidate pair is
a weak positive when both surface forms share the same argmax entity in the
cleaned candidate table, negative otherwise — the pairwise reduction of the
reference's cost scheme (gold cost 0, negatives cost int(log(1+count)),
minimel/vectorize.py:89-100), with the balanced weight carried as weightCol.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .operators.blocking import surface_blocked_pairs
from .operators.clean import clean
from .operators.cluster import (
    cluster_candidates,
    connected_components,
    pivot_clusters,
)
from .operators.count import anchor_counts
from .operators.extract import extract_paragraphs
from .operators.mentions import detect_mentions
from .operators.pairs import pair_features
from .operators.scoring import (
    FEATURE_COLS,
    logistic_score,
    match_edges,
    most_common_sense,
    train_pair_matcher,
)
from .sources.checkpoint import Checkpointer

# Row budget of the three gates that guard what Spark does not size for us:
# the title dict extract_paragraphs pulls to the driver, the anchor automaton
# detect_mentions builds on the driver, and pair_features' broadcast hint on
# the name-pair features (uncached, as library callers leave that table, its
# static size estimate grows through the pair join and Spark would shuffle
# it). Every other join is left to Catalyst, which broadcasts a side under
# spark.sql.autoBroadcastJoinThreshold from the size it measured; for the
# blocking name table that is the counted cache.
MAX_BROADCAST_ROWS = 5_000_000


@dataclass
class PipelineConfig:
    language: str | None = None
    min_count: int = 2
    cluster_threshold: float = 0.5
    match_threshold: float = 0.5
    num_hashes: int = 12
    bands: int = 6
    max_pairs_per_block: int = 10_000
    max_anchors_per_entity: int | None = None
    balanced: bool = True
    skip_prefixes: tuple = ()
    # final entity-formation semantics over the match edges:
    # "transitive" (default, the reference's closure semantics — chains
    # A~B~C into one entity) or "pivot" (KwikCluster correlation
    # clustering — radius-1 stars, so one noisy edge admits a record but
    # never chains two entities; see operators/cluster.pivot_clusters).
    # The pivot stage checkpoints under a method-suffixed name so a resume
    # with a different method never silently replays the other semantics;
    # that is why it is the one field left out of the workdir's manifest.
    cluster_method: str = "transitive"


def weak_pair_labels(feats: DataFrame, candidates: DataFrame) -> DataFrame:
    """Label candidate pairs by shared argmax entity; weight = the reference's
    balanced cost int(log(1+count)) on the negative side, 1 on positives."""
    top = most_common_sense(
        candidates.select("anchor", "qid", F.col("weight").alias("cnt"))
    )
    tot = candidates.groupBy("anchor").agg(F.sum("weight").alias("a_cnt"))
    side = top.join(tot, "anchor")
    a = side.select(
        F.col("anchor").alias("name_a"),
        F.col("count_qid").alias("top_a"),
        F.col("a_cnt").alias("cnt_a"),
    )
    b = side.select(
        F.col("anchor").alias("name_b"),
        F.col("count_qid").alias("top_b"),
        F.col("a_cnt").alias("cnt_b"),
    )
    return (
        feats.join(a, "name_a", "left")
        .join(b, "name_b", "left")
        .withColumn(
            "is_match",
            (F.col("top_a").isNotNull() & (F.col("top_a") == F.col("top_b"))).cast("int"),
        )
        .withColumn(
            "cost_weight",
            F.when(F.col("is_match") == 1, F.lit(1.0)).otherwise(
                F.floor(F.log(1 + F.coalesce(F.least("cnt_a", "cnt_b"), F.lit(1)))) + 1.0
            ),
        )
        .drop("top_a", "top_b", "cnt_a", "cnt_b")
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    title_index: DataFrame,
    workdir: str,
    config: PipelineConfig | None = None,
    disambig: DataFrame | None = None,
    badents: DataFrame | None = None,
) -> dict:
    """Run (or resume) the full pipeline; returns the stage tables.

    Every stage (paragraphs, anchor_counts, candidates, name_clusters,
    mentions, pair_features, matcher and er_clusters) is committed as
    parquet under ``workdir`` (required), and a rerun on the same workdir
    resumes the committed stages; the returned tables read the committed
    files. ``records`` is a view over committed ``mentions`` joined to
    committed ``paragraphs``, and ``pairs`` and ``scored_pairs`` are views
    over committed ``pair_features``. The pair stage's internal caches (the
    blocking name table, the blocked pair stream, the distinct name-pair
    table and, over its byte budget, the ``cos_bow`` vector table) are
    unpersisted as soon as ``pair_features`` is committed, because every
    later stage reads parquet."""
    cfg = config or PipelineConfig()
    if cfg.cluster_method not in ("transitive", "pivot"):
        raise ValueError(
            f"cluster_method must be 'transitive' or 'pivot', got "
            f"{cfg.cluster_method!r}"
        )
    ckpt = Checkpointer(spark, workdir)
    # a workdir resumes only the config that committed it
    ckpt.write_manifest({k: v for k, v in vars(cfg).items() if k != "cluster_method"})
    # the pair stage's internal caches, dropped once pair_features is committed
    persisted: list = []

    paragraphs = ckpt.stage(
        "paragraphs",
        lambda: extract_paragraphs(
            pages,
            title_index,
            cfg.skip_prefixes,
            max_broadcast_titles=MAX_BROADCAST_ROWS,
        ),
    )
    counts = ckpt.stage(
        "anchor_counts",
        lambda: anchor_counts(paragraphs, cfg.language, min_count=1),
    )
    candidates = ckpt.stage(
        "candidates",
        lambda: clean(
            counts.where(F.col("cnt") >= cfg.min_count),
            title_index,
            disambig=disambig,
            badents=badents,
            language=cfg.language,
            min_count=cfg.min_count,
        ),
    )

    def _clusters():
        membership, _ = cluster_candidates(
            candidates, cfg.cluster_threshold, cfg.max_anchors_per_entity
        )
        return membership

    name_clusters = ckpt.stage("name_clusters", _clusters)

    mentions = ckpt.stage(
        "mentions",
        lambda: detect_mentions(
            paragraphs,
            candidates.select("anchor").distinct(),
            max_broadcast_names=MAX_BROADCAST_ROWS,
        ),
    )

    # ER records: one per detected mention surface. rec_id is an 8-byte
    # deterministic surrogate of the natural key (url, par_id, start):
    # pair-generation shuffle volume is dominated by key bytes, and xxhash64
    # is partition-invariant. Lineage columns stay joinable via the same hash.
    # Records are not committed: blocking and the er_clusters join read the
    # join-free projection of committed mentions, and the context text (the
    # returned table and cos_bow's vector table) is joined from committed
    # paragraphs, so each paragraph's text is stored once.
    rec_cols = [
        F.xxhash64("url", "par_id", "start").alias("rec_id"),
        F.col("surface").alias("name"),
    ]
    rec_names = mentions.select(*rec_cols)
    records = mentions.join(
        paragraphs.select("url", "par_id", "text"), ["url", "par_id"]
    ).select(*rec_cols, "text")

    def _pair_features():
        # Block keys (anchor dictionary ∪ LSH bands) are functions of the
        # surface form, so blocking runs at name level with bounded expansion
        # to record pairs — same pair set as the generic capped path, without
        # the multi-band duplicated record self-join (surface_blocked_pairs).
        # The pair stream is committed once, with its features: a crash
        # inside this stage redoes blocking too.
        pairs = surface_blocked_pairs(
            rec_names,
            key_col="name",
            num_hashes=cfg.num_hashes,
            bands=cfg.bands,
            max_pairs_per_block=cfg.max_pairs_per_block,
            persisted_out=persisted,
        )
        # The blocking output is the union of two post-shuffle streams
        # (same-name and cross-name pairs), so it has up to twice
        # spark.sql.shuffle.partitions partitions, and each becomes a Python
        # UDF task below and a committed part file. The narrow coalesce
        # merges them back to one exchange's width: never more than two of
        # AQE's post-shuffle partitions per task, so at web scale a partition
        # stays within twice the size AQE chose (a one-per-core target would
        # instead grow with the pair volume).
        # Sorting each part file by name pair adds no exchange and no job;
        # it makes the name-level columns (names and their three string
        # similarities) parquet runs, and the row order inside a part file a
        # function of its rows, which the matcher's LBFGS sums follow.
        return pair_features(
            pairs.coalesce(int(spark.conf.get("spark.sql.shuffle.partitions"))),
            records,
            name_col="name",
            max_broadcast_name_pairs=MAX_BROADCAST_ROWS,
            persisted_out=persisted,
        ).sortWithinPartitions("name_a", "name_b", "rec_id_a", "rec_id_b")

    feats = ckpt.stage("pair_features", _pair_features)
    for df in persisted:
        df.unpersist()

    def _matcher():
        # The persisted matcher is one row: the LR coefficients in
        # FEATURE_COLS order and the intercept (SURVEY D10), built in the JVM
        # so committing it starts no Python task. With no candidate pair
        # (e.g. clean() left no ambiguous anchor) there is nothing to train
        # on, as the LR refuses an empty training set: commit no row.
        n_rows, coefs, intercept = 0, [0.0] * len(FEATURE_COLS), 0.0
        if ckpt.committed_rows("pair_features") > 0:
            labeled = weak_pair_labels(feats, candidates)
            lr = train_pair_matcher(
                labeled.where(F.col("is_match").isNotNull()),
                weight_col="cost_weight" if cfg.balanced else None,
            ).stages[-1]
            n_rows, coefs, intercept = 1, lr.coefficients, lr.intercept
        return spark.range(n_rows).select(
            F.array(*[F.lit(float(w)) for w in coefs]).alias("coefficients"),
            F.lit(float(intercept)).alias("intercept"),
        )

    matcher = ckpt.stage("matcher", _matcher).first()
    # the two uncommitted views over the committed pair stream
    pairs = feats.select("rec_id_a", "rec_id_b", "n_blocks", "name_a", "name_b")
    scored = (
        logistic_score(feats, matcher["coefficients"], matcher["intercept"])
        if matcher
        else feats.withColumn("score", F.lit(None).cast("double"))
    )

    def _er():
        edges = match_edges(scored, cfg.match_threshold)
        if cfg.cluster_method == "pivot":
            pc = pivot_clusters(
                edges, nodes=rec_names.select(F.col("rec_id").alias("node"))
            )
            return pc.select(
                F.col("node").alias("rec_id"), F.col("cluster").alias("cluster_id")
            )
        cc = connected_components(edges)
        return (
            rec_names.select("rec_id")
            .join(cc.withColumnRenamed("node", "rec_id"), "rec_id", "left")
            .select("rec_id", F.coalesce("component", "rec_id").alias("cluster_id"))
        )

    er_stage = (
        "er_clusters"
        if cfg.cluster_method == "transitive"
        else f"er_clusters_{cfg.cluster_method}"
    )
    er_clusters = ckpt.stage(er_stage, _er)

    return {
        "paragraphs": paragraphs,
        "anchor_counts": counts,
        "candidates": candidates,
        "name_clusters": name_clusters,
        "mentions": mentions,
        "records": records,
        "pairs": pairs,
        "pair_features": feats,
        "scored_pairs": scored,
        "er_clusters": er_clusters,
        "metrics": ckpt.metrics(),
    }
