"""End-to-end pipeline tests: full DAG on the synthetic fixture, checkpoint
resume, scoring, evaluation metrics."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from minimel_spark.operators.evaluate import (
    align_gold_pred,
    macro_scores,
    micro_scores,
    pairwise_f1,
)
from minimel_spark.operators.scoring import (
    predict_cascade,
    score_pairs,
    train_pair_matcher,
)
from minimel_spark.pipeline import PipelineConfig, run_pipeline
from minimel_spark.sources.synth import synth_pages, synth_title_index

from conftest import ref_cos_bow


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("ckpt"))
    pages = synth_pages(spark, n_pages=300, seed=42, n_bases=10, homonyms=3)
    index = synth_title_index(spark, n_bases=10, homonyms=3)
    cfg = PipelineConfig(min_count=2, bands=6, num_hashes=12)
    out = run_pipeline(spark, pages, index, workdir=workdir, config=cfg)
    return out, workdir, pages, index, cfg


# the stages a checkpointed run commits, and the tables run_pipeline returns
# (``records`` is a view over committed ``mentions`` and ``paragraphs``,
# ``pairs`` and ``scored_pairs`` are views over committed ``pair_features``)
COMMITTED = [
    "paragraphs", "anchor_counts", "candidates", "name_clusters",
    "mentions", "pair_features", "matcher", "er_clusters",
]
TABLES = [
    "paragraphs", "anchor_counts", "candidates", "name_clusters",
    "mentions", "records", "pairs", "pair_features", "scored_pairs",
    "er_clusters",
]


def committed_tables(spark, out, workdir):
    """The returned tables plus the committed ``matcher`` row."""
    import os

    return dict(out, matcher=spark.read.parquet(os.path.join(workdir, "matcher")))


def test_pipeline_all_stages_produce_rows(pipeline_result):
    out, *_ = pipeline_result
    for stage in TABLES:
        assert out[stage].count() > 0, f"stage {stage} empty"
    # committed cos_bow is the exact hashed-BoW cosine of the two records' texts
    text = dict(out["records"].select("rec_id", "text").collect())
    f = out["pair_features"].select("rec_id_a", "rec_id_b", "cos_bow").toPandas()
    want = ref_cos_bow(f["rec_id_a"].map(text), f["rec_id_b"].map(text))
    assert np.abs(f["cos_bow"].to_numpy() - want).max() <= 1e-12


def test_pipeline_pair_views_over_committed_features(spark, pipeline_result):
    """The pair stream is committed once: ``pairs`` is a projection of
    committed ``pair_features``, and ``scored_pairs`` adds the logistic score
    of the committed ``matcher`` row."""
    import os

    from minimel_spark.operators.scoring import FEATURE_COLS

    out, workdir, *_ = pipeline_result
    assert sorted(os.listdir(workdir)) == sorted(COMMITTED + ["_metrics", "manifest.json"])
    feats = spark.read.parquet(os.path.join(workdir, "pair_features"))
    cols = ["rec_id_a", "rec_id_b", "n_blocks", "name_a", "name_b"]
    assert out["pairs"].columns == cols
    assert sorted(map(tuple, out["pairs"].collect())) == sorted(
        map(tuple, feats.select(*cols).collect())
    )
    (m,) = spark.read.parquet(os.path.join(workdir, "matcher")).collect()
    assert len(m["coefficients"]) == len(FEATURE_COLS)
    s = out["scored_pairs"].select(*FEATURE_COLS, "score").toPandas()
    margin = s[FEATURE_COLS].to_numpy() @ np.array(m["coefficients"]) + m["intercept"]
    want = 1.0 / (1.0 + np.exp(-margin))
    assert len(s) == feats.count()
    assert np.abs(s["score"].to_numpy() - want).max() <= 1e-12


def test_pipeline_records_view_over_committed_mentions(spark, pipeline_result):
    """``records`` is not committed: it holds one row per committed mention,
    ``rec_id`` = xxhash64(url, par_id, start), ``name`` = the surface and
    ``text`` = the committed paragraph's text, which is stored once."""
    import os

    out, workdir, *_ = pipeline_result
    assert "records" not in os.listdir(workdir)
    ments = (
        spark.read.parquet(os.path.join(workdir, "mentions"))
        .select("url", "par_id", F.xxhash64("url", "par_id", "start").alias("rec_id"),
                F.col("surface").alias("name"))
        .toPandas()
    )
    pars = spark.read.parquet(os.path.join(workdir, "paragraphs")).select(
        "url", "par_id", "text"
    ).toPandas()
    assert not pars.duplicated(["url", "par_id"]).any()
    want = ments.merge(pars, on=["url", "par_id"])[["rec_id", "name", "text"]]
    assert len(want) == len(ments)
    assert out["records"].columns == ["rec_id", "name", "text"]
    assert sorted(map(tuple, out["records"].collect())) == sorted(
        map(tuple, want.itertuples(index=False))
    )


def test_pipeline_pair_features_sorted_by_name_pair(pipeline_result):
    """Each committed ``pair_features`` part file is sorted by
    (name_a, name_b, rec_id_a, rec_id_b)."""
    import glob
    import os

    import pyarrow.parquet as pq

    _, workdir, *_ = pipeline_result
    keys = ["name_a", "name_b", "rec_id_a", "rec_id_b"]
    parts = glob.glob(os.path.join(workdir, "pair_features", "part-*.parquet"))
    assert parts
    for f in parts:
        rows = list(zip(*(pq.read_table(f, columns=keys).column(k).to_pylist() for k in keys)))
        assert rows == sorted(rows), f


def test_checkpoint_stages_written_with_zstd(pipeline_result):
    """Every column chunk of every committed part file is zstd-compressed."""
    import glob
    import os

    import pyarrow.parquet as pq

    _, workdir, *_ = pipeline_result
    for stage in COMMITTED:
        parts = glob.glob(os.path.join(workdir, stage, "part-*.parquet"))
        assert parts, stage
        for f in parts:
            meta = pq.read_metadata(f)
            codecs = {
                meta.row_group(g).column(c).compression
                for g in range(meta.num_row_groups)
                for c in range(meta.num_columns)
            }
            assert codecs <= {"ZSTD"}, (stage, f, codecs)


def test_checkpoint_lineage_describes_committed_files(spark, pipeline_result):
    """Per stage: the lineage rows sum to the committed row count, their
    partition ids are the part-file ids, and the job-free read-back schema
    is the one Spark infers from the files."""
    import os

    out, workdir, *_ = pipeline_result
    tables = committed_tables(spark, out, workdir)
    assert tables["matcher"].schema.simpleString() == (
        "struct<coefficients:array<double>,intercept:double>"
    )
    lineage: dict = {}
    for r in out["metrics"].collect():
        lineage.setdefault(r["stage"], []).append((r["partition_id"], r["rows"]))
    for stage in COMMITTED:
        path = os.path.join(workdir, stage)
        part_ids = {
            int(f.split("-")[1]) for f in os.listdir(path) if f.startswith("part-")
        }
        ids = [p for p, _ in lineage[stage]]
        assert sorted(ids) == sorted(part_ids), stage
        assert sum(n for _, n in lineage[stage]) == tables[stage].count(), stage
        assert tables[stage].schema == spark.read.parquet(path).schema, stage


def test_checkpoint_resume_reads_every_stage_without_recompute(spark, pipeline_result):
    """Resuming a committed stage recomputes nothing and starts no Spark
    job: its schema comes from a part-file footer and equals the one Spark
    infers from the files."""
    import os
    import time

    from minimel_spark.sources.checkpoint import Checkpointer

    out, workdir, *_ = pipeline_result
    tables = committed_tables(spark, out, workdir)

    def recompute():
        raise AssertionError("resume recomputed a committed stage")

    ckpt = Checkpointer(spark, workdir)
    n_lineage = ckpt.metrics().count()
    sc = spark.sparkContext
    group = "resume-starts-no-job"
    sc.setJobGroup(group, group)
    try:
        got = {stage: ckpt.stage(stage, recompute) for stage in COMMITTED}
        # a one-job sentinel: once it is listed, any earlier job of the group is
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert len(tracker.getJobIdsForGroup(group)) == 1
    for stage in COMMITTED:
        path = os.path.join(workdir, stage)
        assert got[stage].schema == spark.read.parquet(path).schema, stage
        assert got[stage].schema == tables[stage].schema, stage
        assert got[stage].count() == tables[stage].count(), stage
        assert ckpt.committed_rows(stage) == tables[stage].count(), stage
    # a resumed stage adds no lineage rows
    assert ckpt.metrics().count() == n_lineage


def test_pipeline_metrics_lineage(pipeline_result):
    out, *_ = pipeline_result
    m = out["metrics"]
    assert m is not None
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert "paragraphs" in stages and "er_clusters" in stages
    cols = set(m.columns)
    assert {"stage", "partition_id", "rows", "wall_secs"} <= cols


def test_pipeline_resume_uses_checkpoints(spark, pipeline_result):
    from minimel_spark.operators.scoring import match_edges

    out, workdir, pages, index, cfg = pipeline_result
    # second run must read committed stages, not recompute: feed EMPTY pages —
    # if any stage recomputed, row counts would change
    empty = pages.where(F.lit(False))
    out2 = run_pipeline(spark, empty, index, workdir=workdir, config=cfg)
    assert out2["er_clusters"].count() == out["er_clusters"].count()

    def edges(o):
        return sorted(map(tuple, match_edges(o["scored_pairs"], cfg.match_threshold).collect()))

    assert edges(out2) == edges(out)


def test_pipeline_resume_refuses_changed_config(spark, pipeline_result, tmp_path):
    """A workdir resumes only the config that committed it: a rerun with
    another ``min_count`` raises naming the field and leaves the manifest
    as it was."""
    import os
    import shutil

    _, workdir, pages, index, _ = pipeline_result
    copy = str(tmp_path / "ck")
    shutil.copytree(workdir, copy)
    manifest = os.path.join(copy, "manifest.json")
    with open(manifest, "rb") as f:
        before = f.read()
    changed = PipelineConfig(min_count=5, bands=6, num_hashes=12)
    with pytest.raises(ValueError, match="min_count"):
        run_pipeline(spark, pages, index, workdir=copy, config=changed)
    with open(manifest, "rb") as f:
        assert f.read() == before


def _sorted_rows(df):
    """Rows as sorted, comparable tuples (maps by their sorted items)."""

    def norm(v):
        if isinstance(v, dict):
            return tuple(sorted(v.items()))
        if isinstance(v, list):
            return tuple(map(norm, v))
        return v

    return sorted(tuple(map(norm, r)) for r in df.collect())


def test_pipeline_tiny_budgets_identical_clusters(
    spark, pipeline_result, tmp_path, monkeypatch
):
    """A run where every size gate takes its over-budget path (the joined
    title index, the chunked anchor automaton, the unhinted name-pair join)
    and Spark may broadcast no join commits exactly the stages of the
    default run. The pair stage's internal caches are released before the
    matcher stage starts, since every later stage reads committed parquet."""
    from pyspark import StorageLevel

    from minimel_spark import pipeline

    out, workdir, pages, index, cfg = pipeline_result
    monkeypatch.setattr(pipeline, "MAX_BROADCAST_ROWS", 1)
    # the persisted_out lists the pair operators receive, and the storage
    # level of every cache in them when the matcher stage starts
    received, levels = [], []

    def receiving(fn):
        def spy(*args, persisted_out, **kwargs):
            received.append(persisted_out)
            return fn(*args, persisted_out=persisted_out, **kwargs)

        return spy

    def labels(*args, **kwargs):
        levels.extend(df.storageLevel for caches in received for df in caches)
        return weak_pair_labels(*args, **kwargs)

    weak_pair_labels = pipeline.weak_pair_labels
    for name in ("surface_blocked_pairs", "pair_features"):
        monkeypatch.setattr(pipeline, name, receiving(getattr(pipeline, name)))
    monkeypatch.setattr(pipeline, "weak_pair_labels", labels)
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out2 = run_pipeline(
            spark, pages, index, workdir=str(tmp_path / "ck2"), config=cfg
        )
        got = committed_tables(spark, out2, str(tmp_path / "ck2"))
        want = committed_tables(spark, out, workdir)
        for stage in COMMITTED:
            if stage != "matcher":
                assert _sorted_rows(got[stage]) == _sorted_rows(want[stage]), stage
    finally:
        spark.conf.set(key, threshold)
    assert len(received) == 2 and levels
    assert all(level == StorageLevel.NONE for level in levels), levels


def test_pipeline_resume_ignores_size_budget(spark, pipeline_result, tmp_path, monkeypatch):
    """The size budget is not part of a workdir's manifest: a copy of the
    fixture workdir resumed under another budget does not raise and returns
    the committed er_clusters."""
    import shutil

    from minimel_spark import pipeline

    out, workdir, pages, index, cfg = pipeline_result
    copy = str(tmp_path / "ckb")
    shutil.copytree(workdir, copy)
    monkeypatch.setattr(pipeline, "MAX_BROADCAST_ROWS", 1)
    out2 = run_pipeline(spark, pages, index, workdir=copy, config=cfg)
    assert _sorted_rows(out2["er_clusters"]) == _sorted_rows(out["er_clusters"])


def test_checkpointer_stage_needs_its_own_lineage_file(spark, tmp_path):
    """A stage counts as committed only with ``_SUCCESS`` and its own
    lineage file: a hidden temporary lineage name and the lineage of a
    stage whose name extends this one do not count."""
    import uuid

    from minimel_spark.sources.checkpoint import Checkpointer

    ckpt = Checkpointer(spark, str(tmp_path))
    (tmp_path / "er_clusters").mkdir()
    (tmp_path / "er_clusters" / "_SUCCESS").touch()
    metrics = tmp_path / "_metrics"
    metrics.mkdir()
    name = f"part-er_clusters-{uuid.uuid4().hex}.parquet"
    (metrics / f".{name}.tmp").touch()
    (metrics / f"part-er_clusters_pivot-{uuid.uuid4().hex}.parquet").touch()
    assert not ckpt.has("er_clusters")
    (metrics / name).touch()
    assert ckpt.has("er_clusters")
    assert not ckpt.has("er_clusters_pivot")


def test_pipeline_rebuilds_stage_without_lineage(spark, pipeline_result, tmp_path):
    """A stage whose parquet commit has no lineage rows (a crash between
    the write and the lineage write) is rebuilt on resume: the same rows,
    its lineage is back and sums to the committed rows, and no other stage
    gains a lineage row."""
    import glob
    import os
    import shutil
    from collections import Counter

    from minimel_spark.sources.checkpoint import Checkpointer

    out, workdir, pages, index, cfg = pipeline_result
    copy = str(tmp_path / "ckl")
    shutil.copytree(workdir, copy)
    (lineage,) = glob.glob(os.path.join(copy, "_metrics", "part-er_clusters-*.parquet"))
    os.remove(lineage)
    before = Counter(r["stage"] for r in Checkpointer(spark, copy).metrics().collect())
    assert "er_clusters" not in before
    out2 = run_pipeline(spark, pages.where(F.lit(False)), index, workdir=copy, config=cfg)
    assert _sorted_rows(out2["er_clusters"]) == _sorted_rows(out["er_clusters"])
    rows = out2["metrics"].collect()
    after = Counter(r["stage"] for r in rows)
    assert after.pop("er_clusters") >= 1
    assert after == before
    assert sum(r["rows"] for r in rows if r["stage"] == "er_clusters") == (
        out2["er_clusters"].count()
    )


def test_pipeline_pivot_cluster_method(spark, pipeline_result, tmp_path):
    """cluster_method='pivot' swaps transitive closure for KwikCluster
    stars over the SAME match edges: every record is assigned exactly once,
    and every non-pivot member is DIRECTLY adjacent to its pivot in the
    thresholded match-edge graph (the radius-1 guarantee transitive
    closure deliberately does not give). It resumes a copy of the
    transitive run's workdir: the method is the one field a resume may
    change, because the pivot stage commits under its own name."""
    import shutil

    from minimel_spark.pipeline import match_edges

    _, workdir, pages, index, cfg = pipeline_result
    copy = str(tmp_path / "ckp")
    shutil.copytree(workdir, copy)
    piv_cfg = PipelineConfig(min_count=2, bands=6, num_hashes=12, cluster_method="pivot")
    out2 = run_pipeline(spark, pages, index, workdir=copy, config=piv_cfg)
    memb = {r["rec_id"]: r["cluster_id"] for r in out2["er_clusters"].collect()}
    recs = {r["rec_id"] for r in out2["records"].select("rec_id").collect()}
    assert set(memb) == recs
    adj = {}
    for r in match_edges(out2["scored_pairs"], piv_cfg.match_threshold).collect():
        adj.setdefault(r["src"], set()).add(r["dst"])
        adj.setdefault(r["dst"], set()).add(r["src"])
    for rec, cl in memb.items():
        assert rec == cl or cl in adj.get(rec, ()), f"{rec} not adjacent to pivot {cl}"
    # pivots label their own cluster, so every cluster id is a member of it
    assert all(memb.get(cl) == cl for cl in set(memb.values()))
    with pytest.raises(ValueError, match="cluster_method"):
        run_pipeline(
            spark, pages, index, workdir=str(tmp_path / "ckx"),
            config=PipelineConfig(cluster_method="bogus"),
        )
    assert not (tmp_path / "ckx").exists()


def test_pipeline_no_ambiguous_anchor_commits_empty_tail(spark, pipeline_result, tmp_path):
    """A world where every anchor links one entity: clean() keeps no
    ambiguous anchor, so there are no mentions, records or pairs. Training is
    skipped, matcher commits no row, and scored_pairs / er_clusters come out
    empty, with the schemas of a normal run."""
    import datetime

    out, *_ = pipeline_result
    names = ["alpha", "bravo", "charlie", "delta"]
    index = spark.createDataFrame(
        [(n.capitalize(), 500 + i) for i, n in enumerate(names)],
        "title string, qid long",
    )
    text = "\n\n".join(f"[[{n.capitalize()}|{n}]] plain words here" for n in names)
    pages = spark.createDataFrame(
        [
            (f"https://example.org/p{p}", datetime.datetime(2024, 1, 1),
             text.encode(), text, "en")
            for p in range(12)
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = run_pipeline(
        spark, pages, index, workdir=str(tmp_path / "ck"),
        config=PipelineConfig(min_count=2, bands=6, num_hashes=12),
    )
    assert got["anchor_counts"].count() > 0
    assert got["candidates"].count() == 0
    assert spark.read.parquet(str(tmp_path / "ck" / "matcher")).count() == 0
    for stage in ("pair_features", "scored_pairs", "er_clusters"):
        assert got[stage].count() == 0, stage
    for stage in ("scored_pairs", "er_clusters"):
        assert got[stage].schema == out[stage].schema, stage


def test_er_clusters_group_same_entity_mentions(pipeline_result):
    out, *_ = pipeline_result
    clusters = out["er_clusters"]
    n = clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    assert n_clusters < n, "no merging happened at all"


def test_scored_pairs_probability_range(pipeline_result):
    out, *_ = pipeline_result
    row = out["scored_pairs"].agg(
        F.min("score").alias("lo"), F.max("score").alias("hi")
    ).first()
    assert 0.0 <= row["lo"] <= row["hi"] <= 1.0


# ---------- cascade + evaluation ----------

def test_predict_cascade_tiers(spark):
    mentions = spark.createDataFrame(
        [
            ("d1", "Acme", "acme"),       # via counts
            ("d2", "Globex", "globex"),   # via index only
            ("d3", "Unknown", "unknown"), # nil
        ],
        "doc_id string, name string, anchor string",
    )
    counts = spark.createDataFrame(
        [("acme", 7, 10), ("acme", 8, 3)], "anchor string, qid long, cnt long"
    )
    index = spark.createDataFrame([("Globex", 9)], "title string, qid long")
    got = {
        r["doc_id"]: (r["pred_qid"], r["tier"])
        for r in predict_cascade(mentions, counts=counts, title_index=index).collect()
    }
    assert got == {"d1": (7, "count"), "d2": (9, "index"), "d3": (None, "nil")}


def test_predict_cascade_model_tier_wins(spark):
    mentions = spark.createDataFrame(
        [("d1", "Acme", "acme")], "doc_id string, name string, anchor string"
    )
    counts = spark.createDataFrame([("acme", 7, 10)], "anchor string, qid long, cnt long")
    scored = spark.createDataFrame(
        [("d1", "Acme", 8, 0.9), ("d1", "Acme", 7, 0.2)],
        "doc_id string, name string, qid long, score double",
    )
    got = predict_cascade(mentions, counts=counts, scored_candidates=scored).first()
    assert got["pred_qid"] == 8 and got["tier"] == "model"


def test_micro_macro_scores(spark):
    gold = spark.createDataFrame(
        [("d1", "a", 1), ("d1", "b", 2), ("d2", "a", 1)],
        "doc_id string, name string, gold_qid long",
    )
    pred = spark.createDataFrame(
        [("d1", "a", 1), ("d1", "b", 3), ("d2", "c", 4)],
        "doc_id string, name string, pred_qid long",
    )
    aligned = align_gold_pred(gold, pred)
    # slots: (d1,a)=1/1 hit, (d1,b)=2/3 miss, (d2,a)=1/-1 miss, (d2,c)=-1/4 miss
    micro = micro_scores(aligned).first()
    assert micro["support"] == 4
    assert micro["micro_f1"] == pytest.approx(0.25)
    macro = macro_scores(aligned).first()
    assert 0 <= macro["macro_f1"] <= 1


def test_pairwise_f1_identical_and_split(spark):
    gold = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1), ("d", 2)], "rec_id string, cluster_id long"
    )
    same = pairwise_f1(gold, gold)
    assert same["f1"] == 1.0
    pred = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 3), ("d", 2)], "rec_id string, cluster_id long"
    )
    split = pairwise_f1(pred, gold)
    # gold pairs {ab,ac,bc}, pred pairs {ab} -> P=1, R=1/3
    assert split["precision"] == 1.0
    assert split["recall"] == pytest.approx(1 / 3)


def test_matcher_learns_separable_labels(spark):
    import random

    rng = random.Random(0)
    rows = []
    for i in range(200):
        match = i % 2 == 0
        base = rng.random() * 0.3
        f = (0.7 + base, 0.6 + base, 0.8 + base, 0.5 + base) if match else (
            base, base, base, base
        )
        rows.append((f"a{i}", f"b{i}", 1, *f, int(match), 1.0))
    df = spark.createDataFrame(
        rows,
        "rec_id_a string, rec_id_b string, n_blocks int, lev_sim double, "
        "jacc3 double, jw double, cos_bow double, is_match int, w double",
    )
    model = train_pair_matcher(df, weight_col="w")
    scored = score_pairs(model, df)
    acc = scored.withColumn(
        "hit", ((F.col("score") > 0.5).cast("int") == F.col("is_match")).cast("double")
    ).agg(F.avg("hit")).first()[0]
    assert acc > 0.95


def test_matcher_planted_recovery_fails_under_constant_scorer(spark, tmp_path):
    """The er_matcher_planted gate genuinely depends on the TRAINED matcher:
    on the variant world the real pipeline recovers every entity exactly,
    while a constant-1 scorer merges entities through LSH-blocked cross pairs
    (purity fails) and a constant-0 scorer splits every record (completeness
    fails)."""
    from minimel_spark.operators.cluster import connected_components
    from minimel_spark.operators.scoring import match_edges
    from minimel_spark.sources.synth import variant_world

    pages, index, vdim = variant_world(spark, n_entities=12, copies=2)
    # checkpointed, so the three scorings below read committed stages
    # instead of each recomputing the pipeline from pages
    out = run_pipeline(
        spark, pages, index, workdir=str(tmp_path / "ck"),
        config=PipelineConfig(min_count=1, bands=12, num_hashes=12),
    )
    records = out["records"].select("rec_id", "name").cache()

    def recovered_fraction(scored):
        edges = match_edges(scored, 0.5)
        cc = connected_components(edges)
        clusters = (
            records.select("rec_id")
            .join(cc.withColumnRenamed("node", "rec_id"), "rec_id", "left")
            .select("rec_id", F.coalesce("component", "rec_id").alias("cluster_id"))
        )
        j = records.join(clusters, "rec_id").join(vdim, "name")
        per = j.groupBy("entity_id", "cluster_id").agg(F.count(F.lit(1)).alias("n"))
        cs = j.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cs"))
        tot = j.groupBy("entity_id").agg(F.count(F.lit(1)).alias("nr"))
        ok = (
            per.join(cs, "cluster_id").join(tot, "entity_id")
            .withColumn("ok", (F.col("n") == F.col("cs")) & (F.col("n") == F.col("nr")))
            .groupBy("entity_id").agg(F.max("ok").alias("recovered"))
        )
        rows = ok.collect()
        return sum(r["recovered"] for r in rows) / len(rows)

    assert recovered_fraction(out["scored_pairs"]) == 1.0
    feats = out["pair_features"]
    assert recovered_fraction(feats.withColumn("score", F.lit(1.0))) < 1.0
    assert recovered_fraction(feats.withColumn("score", F.lit(0.0))) < 1.0


def test_gold_distribution_counts(spark):
    from minimel_spark.operators.evaluate import gold_distribution

    aligned = spark.createDataFrame(
        [("d1", "a", 1, 1), ("d2", "a", 1, 2), ("d3", "b", 2, 2)],
        "doc_id string, name string, gold_qid long, pred_qid long",
    )
    got = {r["gold_qid"]: r["support"] for r in gold_distribution(aligned).collect()}
    assert got == {1: 2, 2: 1}


def test_audit_matcher_exposes_coefficients(spark):
    from minimel_spark.operators.scoring import audit_matcher

    rows = [
        (f"a{i}", f"b{i}", 1, float(i % 2), float(i % 2), float(i % 2), float(i % 2), i % 2, 1.0)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "rec_id_a string, rec_id_b string, n_blocks int, lev_sim double, "
        "jacc3 double, jw double, cos_bow double, is_match int, w double",
    )
    model = train_pair_matcher(df, weight_col="w")
    coefs = dict(audit_matcher(model))
    assert set(coefs) == {"lev_sim", "jacc3", "jw", "cos_bow", "(intercept)"}
    # perfectly correlated features: every feature coefficient pushes positive
    assert all(c > 0 for k, c in coefs.items() if k != "(intercept)")


def test_detect_mentions_autoroutes_to_chunked(spark):
    from minimel_spark.operators.mentions import detect_mentions

    pars = spark.createDataFrame(
        [("u", 0, "alpha beta gamma")], "url string, par_id int, text string"
    )
    names = spark.createDataFrame([("alpha",), ("beta",), ("gamma",)], "anchor string")
    want = {tuple(r) for r in detect_mentions(pars, names).collect()}
    got = {tuple(r) for r in detect_mentions(pars, names, max_broadcast_names=1).collect()}
    assert got == want and len(want) == 3


def test_render_diff_tp_fp_fn_and_overlap():
    from minimel_spark.functions.render import render_diff

    text = "acme bought globex today"
    # exact agreement -> tp
    out = render_diff(
        text, {(0, 4): ("acme", 1)}, {(0, 4): ("acme", 1)}
    )
    assert '<a class="tp" href="https://www.wikidata.org/wiki/Q1">acme</a>' in out
    assert out.endswith(" bought globex today")
    # prediction only -> fp; gold only -> fn
    out = render_diff(text, {(12, 18): ("globex", 2)}, {(0, 4): ("acme", 1)})
    assert 'class="fp"' in out and 'class="fn"' in out
    # overlapping disagreement -> bracketed [preds / golds]
    out = render_diff(
        text,
        {(0, 11): ("acme bought", 3)},
        {(0, 4): ("acme", 1)},
    )
    assert out.startswith("[")
    assert " / " in out and 'class="fp"' in out and 'class="fn"' in out
    # deterministic: same call twice
    assert out == render_diff(
        text, {(0, 11): ("acme bought", 3)}, {(0, 4): ("acme", 1)}
    )


def test_spotlight_predict_against_fake_endpoint(spark):
    """L5 client end to end against an in-process fake Spotlight service:
    XML built like the reference, URIs mapped to qids via the title index,
    timeouts degrading to empty predictions."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from minimel_spark.operators.spotlight import annotation_xml, spotlight_predict

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"])).decode()
            resources = []
            if "Acme" in body:
                resources.append(
                    {"@URI": "http://dbpedia.org/resource/Acme_Corp", "@surfaceForm": "Acme"}
                )
            if "Globex" in body:
                resources.append(
                    {"@URI": "http://dbpedia.org/resource/Unknown_Page", "@surfaceForm": "Globex"}
                )
            payload = _json.dumps({"Resources": resources}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        endpoint = f"http://127.0.0.1:{srv.server_port}/rest/disambiguate"
        docs = spark.createDataFrame(
            [("d1", ["Acme", "Globex"], "Acme met Globex"), ("d2", [], "nothing")],
            "doc_id string, names array<string>, text string",
        )
        # the duplicated title pins min-qid resolution (no row fan-out)
        index = spark.createDataFrame(
            [("Acme_Corp", 42), ("Acme_Corp", 77)], "title string, qid long"
        )
        got = {
            (r["doc_id"], r["name"], r["pred_qid"])
            for r in spotlight_predict(docs, endpoint, index).collect()
        }
        # Acme resolves through the index; Globex's URI is not in the index
        assert got == {("d1", "Acme", 42)}
        # over-budget twin (VERDICT r3 #3): past max_broadcast_titles the
        # index join degrades to a shuffle join with identical predictions —
        # and there is no driver-side index collect on either path
        got2 = {
            (r["doc_id"], r["name"], r["pred_qid"])
            for r in spotlight_predict(
                docs, endpoint, index, max_broadcast_titles=0
            ).collect()
        }
        assert got2 == got
    finally:
        srv.shutdown()

    # XML construction mirrors run_spotlight.py:52-62
    xml = annotation_xml("Acme met Globex", ["Acme", "(bad[regex"])
    assert '<surfaceForm name="Acme"    offset="0" />' in xml
    assert "bad" not in xml


def test_pipeline_mega_block_cap_does_not_fragment_clusters(spark, tmp_path):
    """VERDICT r3 #1 'done' criterion: a world with a same-name block FAR
    above the pair cap (the 'megaword' anchor appears in all 120 docs ->
    C(120,2) = 7140 >> cap 500) must still cluster at pairwise F1 >= 0.99
    vs surface-identity gold — the salt-bucket representative chain repairs
    the connectivity that the cap's salting splits (r3 measured recall ~0.20
    here without it)."""
    import random

    from minimel_spark.operators.evaluate import pairwise_f1
    from minimel_spark.sources.synth import doc_title_index, pages_from_documents

    rng = random.Random(7)
    words = sorted({f"w{rng.randrange(10**8):08d}" for _ in range(60)})
    docs = []
    for d in range(120):
        ws = rng.sample(words, 6) + ["megaword"]
        rng.shuffle(ws)
        docs.append((d, " ".join(ws), "en"))
    docs_df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    out = run_pipeline(
        spark,
        pages_from_documents(docs_df),
        doc_title_index(docs_df),
        workdir=str(tmp_path / "ck"),
        config=PipelineConfig(min_count=1, max_pairs_per_block=500),
    )
    pred = out["er_clusters"]
    gold = out["records"].select("rec_id", F.xxhash64("name").alias("cluster_id"))
    m = pairwise_f1(pred, gold)
    assert m["f1"] >= 0.99, m


def test_doc_vocab_rank_dense_alphabetical_no_global_window(spark):
    """doc_vocab's two-level rank (per-prefix window + broadcast offsets,
    r5) must equal the dense alphabetical rank of the distinct vocabulary
    AND keep the plan free of single-partition exchanges (the old global
    Window.orderBy funneled the whole vocabulary through one task)."""
    import pyspark.sql.functions as F

    from minimel_spark.sources.synth import doc_vocab

    texts = [
        (0, "zebra apple banana apple xylophone", "en"),
        (1, "banana cherry zebra quince", "en"),
        (2, "apple cherry dates quince zebra", "en"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string, lang string")
    out = doc_vocab(docs)
    got = {r["word"]: r["base_qid"] for r in out.collect()}
    vocab = sorted(
        {w for _, t, _ in texts for w in t.split() if len(w) > 3}
    )
    assert got == {w: i + 1 for i, w in enumerate(vocab)}
    # the default (truncated) result must be a single RDD-scan leaf — the
    # r5 plan-blowup guard: consumers inline ONE leaf, not the whole
    # explode+window+triangle-join subtree
    plan_outer = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan_outer or "LogicalRDD" in plan_outer, plan_outer
    # the raw (untruncated) computation must stay free of single-partition
    # exchanges (the old global Window.orderBy funneled the vocabulary
    # through one task)
    raw = doc_vocab(docs, truncate=False)
    plan = raw._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


# --------------------------------------------------------------------------
# blocking_metrics
# --------------------------------------------------------------------------


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "rec_id_a long, rec_id_b long")


def test_blocking_metrics_values(spark):
    from minimel_spark.operators.evaluate import blocking_metrics

    cand = _pairs_df(spark, [(1, 2), (2, 3), (4, 5), (5, 6)])
    gold = _pairs_df(spark, [(1, 2), (4, 5), (7, 8)])
    row = blocking_metrics(cand, gold, n_records=10).first()
    assert row["n_cand"] == 4 and row["n_gold"] == 3 and row["n_hit"] == 2
    assert row["reduction_ratio"] == pytest.approx(1 - 4 / 45)
    assert row["pairs_completeness"] == pytest.approx(2 / 3)
    assert row["pairs_quality"] == pytest.approx(0.5)


def test_blocking_metrics_empty_sides_and_guard(spark):
    from minimel_spark.operators.evaluate import blocking_metrics

    empty = _pairs_df(spark, []).where(F.lit(False))
    cand = _pairs_df(spark, [(1, 2)])
    r = blocking_metrics(cand, empty, n_records=5).first()
    assert r["pairs_completeness"] == 1.0 and r["pairs_quality"] == 0.0
    r2 = blocking_metrics(empty, cand, n_records=5).first()
    assert r2["pairs_quality"] == 1.0 and r2["pairs_completeness"] == 0.0
    assert r2["reduction_ratio"] == 1.0
    with pytest.raises(ValueError):
        blocking_metrics(cand, cand, n_records=1)


def test_blocking_metrics_single_plan_single_action(spark):
    from minimel_spark.operators.evaluate import blocking_metrics

    cand = _pairs_df(spark, [(1, 2), (3, 4)])
    gold = _pairs_df(spark, [(1, 2)])
    out = blocking_metrics(cand, gold, n_records=6)
    # one row, assembled via crossJoins of 1-row aggregates — no collect
    # inside the operator
    assert out.count() == 1


# --------------------------------------------------------------------------
# golden_records (survivorship)
# --------------------------------------------------------------------------


def test_golden_records_rules_and_ties(spark):
    from minimel_spark.operators.golden import golden_records

    recs = spark.createDataFrame(
        [
            (1, "bb", "x", 5.0),
            (2, "aa", "ww", 3.0),
            (3, "bb", "yy", None),
            (4, "aa", None, 1.0),
            (10, "zz", "q", 9.0),
        ],
        "rec_id long, seg string, nm string, bal double",
    )
    mem = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 100), (10, 200)],
        "rec_id long, cluster_id long",
    )
    out = {
        r["cluster_id"]: r.asDict()
        for r in golden_records(
            recs,
            mem,
            rules={"seg": "mode", "nm": "longest", "bal": "max"},
        ).collect()
    }
    # mode tie (aa x2 vs bb x2) -> smallest value "aa"
    assert out[100]["seg"] == "aa"
    # longest tie (ww, yy both len 2) -> smallest value "ww"
    assert out[100]["nm"] == "ww"
    assert out[100]["bal"] == 5.0
    assert out[100]["n_members"] == 4
    assert out[200] == {
        "cluster_id": 200, "n_members": 1, "seg": "zz", "nm": "q", "bal": 9.0
    }


def test_golden_records_first_and_all_null(spark):
    from minimel_spark.operators.golden import golden_records

    recs = spark.createDataFrame(
        [(7, None), (8, "late"), (9, None)], "rec_id long, v string"
    )
    mem = spark.createDataFrame(
        [(7, 1), (8, 1), (9, 2)], "rec_id long, cluster_id long"
    )
    out = {
        r["cluster_id"]: (r["v"], r["n_members"])
        for r in golden_records(recs, mem, rules={"v": "first"}).collect()
    }
    # first non-null by smallest rec_id; all-null cluster survives as NULL
    assert out == {1: ("late", 2), 2: (None, 1)}


def test_golden_records_guards(spark):
    from minimel_spark.operators.golden import golden_records

    recs = spark.createDataFrame([(1, "a")], "rec_id long, v string")
    mem = spark.createDataFrame([(1, 1)], "rec_id long, cluster_id long")
    with pytest.raises(ValueError):
        golden_records(recs, mem, rules={"v": "vote"})
    with pytest.raises(ValueError):
        golden_records(recs, mem, rules={"missing": "mode"})


# --------------------------------------------------------------------------
# blocking_attribution (per-generator recall / uniqueness)
# --------------------------------------------------------------------------


def _blocked_df(spark, rows):
    return spark.createDataFrame(rows, "block_key string, rec_id long")


def test_blocking_attribution_values(spark):
    from minimel_spark.operators.evaluate import blocking_attribution

    blocked = _blocked_df(
        spark,
        [
            ("d:x", 1), ("d:x", 2), ("d:y", 2), ("d:y", 3),
            ("m:1:a", 1), ("m:1:a", 2), ("m:1:a", 4),
        ],
    )
    gold = _pairs_df(spark, [(1, 2), (2, 3), (1, 4), (5, 6)])
    out = {
        r["generator"]: r.asDict()
        for r in blocking_attribution(blocked, gold).collect()
    }
    # d proposes {12, 23}; both gold; (2,3) found by d alone
    assert out["d"]["n_pairs"] == 2 and out["d"]["n_gold_hit"] == 2
    assert out["d"]["n_unique_hits"] == 1
    assert out["d"]["completeness"] == pytest.approx(0.5)
    # m proposes {12, 14, 24}; hits {12, 14}; (1,4) unique to m
    assert out["m"]["n_pairs"] == 3 and out["m"]["n_gold_hit"] == 2
    assert out["m"]["n_unique_hits"] == 1
    assert out["m"]["completeness"] == pytest.approx(0.5)


def test_blocking_attribution_dedups_within_generator(spark):
    from minimel_spark.operators.evaluate import blocking_attribution

    # two d-blocks propose the SAME pair -> counted once; a generator whose
    # pairs hit no gold reports zeros, not NULLs
    blocked = _blocked_df(
        spark, [("d:x", 1), ("d:x", 2), ("d:y", 1), ("d:y", 2), ("p:z", 8), ("p:z", 9)]
    )
    gold = _pairs_df(spark, [(1, 2)])
    out = {
        r["generator"]: r.asDict()
        for r in blocking_attribution(blocked, gold).collect()
    }
    assert out["d"]["n_pairs"] == 1 and out["d"]["n_gold_hit"] == 1
    assert out["d"]["n_unique_hits"] == 1 and out["d"]["completeness"] == 1.0
    assert out["p"]["n_pairs"] == 1 and out["p"]["n_gold_hit"] == 0
    assert out["p"]["n_unique_hits"] == 0 and out["p"]["completeness"] == 0.0


def test_blocking_attribution_generator_col_and_empty_gold(spark):
    from minimel_spark.operators.evaluate import blocking_attribution

    blocked = spark.createDataFrame(
        [("k1", 1, "lsh"), ("k1", 2, "lsh")],
        "block_key string, rec_id long, gen string",
    )
    gold = _pairs_df(spark, []).where(F.lit(False))
    (row,) = blocking_attribution(
        blocked, gold, generator_col="gen"
    ).collect()
    # empty gold: completeness degenerates to 1.0 (nothing to find)
    assert row["generator"] == "lsh" and row["n_pairs"] == 1
    assert row["n_gold_hit"] == 0 and row["completeness"] == 1.0


def test_blocking_attribution_partitioning_invariant(spark):
    from minimel_spark.operators.evaluate import blocking_attribution

    blocked = _blocked_df(
        spark,
        [(f"{g}:{i % 4}", i % 13) for g in ("d", "m", "p") for i in range(40)],
    )
    gold = _pairs_df(spark, [(i, i + 1) for i in range(0, 12, 2)])
    one = sorted(tuple(r) for r in blocking_attribution(blocked, gold).collect())
    two = sorted(
        tuple(r)
        for r in blocking_attribution(
            blocked.repartition(7), gold.repartition(3)
        ).collect()
    )
    assert one == two


# ---------- review queue (uncertainty sampling) ----------

def test_review_queue_picks_most_uncertain_with_deterministic_ties(spark):
    from minimel_spark.operators.scoring import review_queue

    rows = [("a", "b", 0.5), ("c", "d", 0.9), ("e", "f", 0.45),
            ("g", "h", 0.55), ("i", "j", 0.1), ("a", "z", 0.5)]
    df = spark.createDataFrame(rows, "rec_id_a string, rec_id_b string, score double")
    got = [(r["rec_id_a"], r["rec_id_b"]) for r in review_queue(df, k=3).collect()]
    # 0.5-ties resolve by key order: (a,b) before (a,z); then 0.45/0.55 tie
    assert got == [("a", "b"), ("a", "z"), ("e", "f")]
    banded = review_queue(df, k=10, band=(0.4, 0.6)).collect()
    assert {(r["rec_id_a"], r["rec_id_b"]) for r in banded} == {
        ("a", "b"), ("a", "z"), ("e", "f"), ("g", "h")
    }
    with pytest.raises(ValueError, match="k must be positive"):
        review_queue(df, k=0)


def test_review_queue_plan_is_take_ordered(spark):
    """The global top-k must compile to TakeOrderedAndProject (per-partition
    heaps), never a full Sort — the property that makes it safe on the
    complete scored-pair table."""
    from minimel_spark.operators.scoring import review_queue

    df = spark.range(1000).selectExpr(
        "cast(id as string) rec_id_a",
        "cast(id + 1 as string) rec_id_b",
        "id / 1000.0 score",
    )
    plan = review_queue(df, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_logical_lineage_invariant_to_layout(spark):
    import pytest

    from minimel_spark.sources.checkpoint import logical_lineage

    df = spark.range(1000).selectExpr("id AS a", "id % 7 AS b")
    base = {
        r["bucket"]: (r["n_rows"], r["xor_digest"])
        for r in logical_lineage(df, ["a", "b"], n_buckets=16).collect()
    }
    # repartitioned, coalesced, reordered inputs -> identical digest
    for variant in (df.repartition(13, "b"), df.coalesce(1), df.orderBy("b")):
        got = {
            r["bucket"]: (r["n_rows"], r["xor_digest"])
            for r in logical_lineage(variant, ["a", "b"], n_buckets=16).collect()
        }
        assert got == base
    assert sum(n for n, _ in base.values()) == 1000
    # a single-row change flips exactly that row's bucket digest
    changed = spark.range(1000).selectExpr(
        "CASE WHEN id = 5 THEN 99999 ELSE id END AS a", "id % 7 AS b"
    )
    got = {
        r["bucket"]: (r["n_rows"], r["xor_digest"])
        for r in logical_lineage(changed, ["a", "b"], n_buckets=16).collect()
    }
    assert got != base
    with pytest.raises(ValueError):
        logical_lineage(df, [], n_buckets=16)
    with pytest.raises(ValueError):
        logical_lineage(df, ["a"], n_buckets=0)
