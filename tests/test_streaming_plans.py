"""Structured Streaming ingest + physical-plan assertions."""

import os

import pyspark.sql.functions as F
import pytest

from minimel_spark.operators.count import anchor_counts
from minimel_spark.operators.extract import extract_paragraphs
from minimel_spark.plans import assert_scan_columns, count_plan_nodes
from minimel_spark.sources.synth import synth_pages, synth_title_index
from minimel_spark.streaming import (
    stream_anchor_counts,
    stream_pages,
    windowed_mention_volume,
)
from minimel_spark.streaming.ingest import run_to_sink

from conftest import SF_DIR


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_stream"))
    synth_pages(spark, n_pages=120, seed=7).write.mode("overwrite").parquet(d)
    return d


def test_stream_anchor_counts_equals_batch(spark, pages_dir, tmp_path):
    """The streaming aggregation drained with availableNow must equal the
    batch operator on the same files (same operators, same state)."""
    index = synth_title_index(spark)
    stream = stream_anchor_counts(stream_pages(spark, pages_dir), index)
    q = run_to_sink(stream, str(tmp_path / "ckpt"), output_mode="complete")
    q.awaitTermination(120)
    got = {
        (r["anchor"], r["qid"]): r["cnt"]
        for r in spark.sql("SELECT * FROM minimel_stream").collect()
    }
    batch = anchor_counts(
        extract_paragraphs(spark.read.parquet(pages_dir), index), min_count=1
    )
    want = {(r["anchor"], r["qid"]): r["cnt"] for r in batch.collect()}
    assert got == want


def test_unwatermarked_counts_to_parquet_sink(spark, pages_dir, tmp_path):
    """stream_anchor_counts is an unwatermarked aggregation — routing it to a
    parquet path must go through the foreachBatch snapshot path (a direct
    append-mode parquet sink would raise AnalysisException at query start) and
    land the same counts as the batch operator."""
    index = synth_title_index(spark)
    stream = stream_anchor_counts(stream_pages(spark, pages_dir), index)
    out = str(tmp_path / "counts_out")
    q = run_to_sink(
        stream, str(tmp_path / "ckpt3"), out_path=out, output_mode="complete"
    )
    q.awaitTermination(120)
    q.stop()
    got = {
        (r["anchor"], r["qid"]): r["cnt"] for r in spark.read.parquet(out).collect()
    }
    batch = anchor_counts(
        extract_paragraphs(spark.read.parquet(pages_dir), index), min_count=1
    )
    want = {(r["anchor"], r["qid"]): r["cnt"] for r in batch.collect()}
    assert got == want


def test_windowed_mention_volume_watermark(spark, pages_dir, tmp_path):
    """Append-mode windows flush only once the watermark passes them: the
    first drain (all events in hour 00) emits nothing; a second batch 12h
    later advances the watermark and flushes hour-00 windows — and the
    still-open 12h window stays unflushed."""
    index = synth_title_index(spark)
    src = str(tmp_path / "src")
    synth_pages(spark, n_pages=120, seed=7).write.mode("overwrite").parquet(src)

    def drain():
        stream = windowed_mention_volume(
            stream_pages(spark, src), index, window="1 hour", watermark="2 hours"
        )
        q = run_to_sink(
            stream,
            str(tmp_path / "ckpt2"),
            out_path=str(tmp_path / "out"),
            output_mode="append",
        )
        q.awaitTermination(120)
        q.stop()

    drain()
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 0, "watermark has not passed the only open window yet"

    late = synth_pages(spark, n_pages=20, seed=9).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 12 HOURS")
    )
    late.write.mode("append").parquet(src)
    drain()
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert rows, "hour-00 windows must flush once the watermark passed them"
    for r in rows:
        assert r["window_start"].minute == 0 and r["window_start"].second == 0
        assert (r["window_end"] - r["window_start"]).total_seconds() == 3600
        assert r["window_start"].hour == 0, "the 12h window is still open"
        assert r["cnt"] >= 1


def test_carry_cols_passthrough(spark):
    """Carried columns survive both title paths: the broadcast dict and,
    past the budget (``max_broadcast_titles=0``), the distributed title
    join."""
    pages = synth_pages(spark, n_pages=10, seed=3)
    index = synth_title_index(spark)
    for budget in (None, 0):
        pars = extract_paragraphs(
            pages, index, carry_cols=("warc_ts", "lang"), max_broadcast_titles=budget
        )
        assert {"url", "par_id", "links", "text", "warc_ts", "lang"} <= set(pars.columns)
        joined = pars.select("url", "lang").distinct().join(
            pages.select("url", F.col("lang").alias("lang2")), "url"
        )
        assert joined.where(F.col("lang") != F.col("lang2")).count() == 0


# ---------- plan assertions (performance regressions fail loudly) ----------


def test_anchor_counts_plan_single_udf_and_pruned_scan(spark, pages_dir):
    index = synth_title_index(spark)
    counts = anchor_counts(
        extract_paragraphs(spark.read.parquet(pages_dir), index), min_count=2
    )
    # normalize UDF must be evaluated once (regression: Catalyst duplicated it
    # into the pushed isNotNull filter)
    assert count_plan_nodes(counts, "ArrowEvalPython") == 1
    # column pruning must reach the parquet scan: url + text only
    assert_scan_columns(counts, {"url", "text"})


def test_extract_plan_joins_only_past_title_budget(spark, pages_dir):
    """Within the title budget extraction is scan -> one MapInPandas with no
    join (the benchmark's path); past it, the title join appears."""
    index = synth_title_index(spark)
    pages = spark.read.parquet(pages_dir)
    under = extract_paragraphs(pages, index, max_broadcast_titles=10**6)
    assert count_plan_nodes(under, "Join") == 0
    assert count_plan_nodes(under, "MapInPandas") == 1
    over = extract_paragraphs(pages, index, max_broadcast_titles=0)
    assert count_plan_nodes(over, "Join") >= 1


def test_pair_features_broadcasts_name_features(spark):
    from minimel_spark.operators.pairs import candidate_pairs, pair_features

    recs = spark.createDataFrame(
        [(1, "acme corp", "x y"), (2, "acme co", "y z"), (3, "acme corp", "x")],
        "rec_id long, name string, text string",
    )
    # a real (non-literal) key — a literal would constant-fold the equi-join
    # into a cartesian product in the plan
    blocked = recs.withColumn("block_key", F.substring("name", 1, 4))
    feats = pair_features(candidate_pairs(blocked), recs)
    assert count_plan_nodes(feats, "BroadcastHashJoin") >= 1
    assert count_plan_nodes(feats, "CartesianProduct") == 0


def test_stream_sessionize_stateful_equals_batch(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-user sessions
    carried ACROSS micro-batches (3 time-ranged files, one per trigger) must
    equal the batch window sessionize on the union — including a session that
    spans a file boundary and one split by the inactivity gap."""
    import pyspark.sql.functions as F

    from minimel_spark.streaming.ingest import run_to_sink, stream_sessionize

    # user 1: events at t=0m,10m (file A), 20m (file B: same session),
    #         100m (file C: new session after the 30m gap)
    # user 2: one event per file, each 40m apart -> 3 sessions
    def ev(eid, user, minutes):
        return (eid, f"2024-01-01 {minutes // 60:02d}:{minutes % 60:02d}:00", user)
    files = [
        [ev(1, 1, 0), ev(2, 1, 10), ev(10, 2, 0)],
        [ev(3, 1, 20), ev(11, 2, 40)],
        [ev(4, 1, 100), ev(12, 2, 80)],
    ]
    src = tmp_path / "sess_src"
    src.mkdir()
    schema = "event_id long, ts_s string, user_id long"
    for i, batch in enumerate(files):
        df = spark.createDataFrame(batch, schema).select(
            "event_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "user_id"
        )
        df.coalesce(1).write.parquet(str(src / f"f{i}"))

    stream = stream_sessionize(
        spark.readStream.schema("event_id long, ts timestamp_ntz, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*"),
        gap_minutes=30,
    )
    q = run_to_sink(
        stream, str(tmp_path / "sess_ckpt"), output_mode="update",
        query_name="sess_stream",
    )
    q.awaitTermination(180)
    q.stop()
    # latest row per (user, session): n_events is monotone within a session
    got = {
        (r["user_id"], r["session_idx"]): (r["n_events"], r["session_start_rel_us"])
        for r in spark.sql(
            "SELECT user_id, session_idx, max(n_events) AS n_events, "
            "min(session_start_rel_us) AS session_start_rel_us "
            "FROM sess_stream GROUP BY 1, 2"
        ).collect()
    }
    assert got == {
        (1, 1): (3, 0),                      # 0,10,20m -> one session of 3
        (1, 2): (1, 100 * 60 * 1_000_000),   # 100m, new session
        (2, 1): (1, 0),
        (2, 2): (1, 40 * 60 * 1_000_000),
        (2, 3): (1, 80 * 60 * 1_000_000),
    }


def test_stream_exact_dedup_emits_each_key_once(spark, tmp_path):
    """Two file streams over the same events slice union into a
    double-delivery stream; dropDuplicatesWithinWatermark must emit each
    event_id exactly once and match the batch distinct."""
    import pyspark.sql.functions as F

    from minimel_spark.streaming.ingest import (
        run_to_sink,
        stream_events,
        stream_exact_dedup,
    )

    src = str(tmp_path / "events_src")
    base = spark.range(0, 200).select(
        F.col("id").alias("event_id"),
        (F.timestamp_seconds(1_700_000_000 + F.col("id") * 60))
        .cast("timestamp_ntz")
        .alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        F.lit("click").alias("event_type"),
        (F.col("id") * 1.5).alias("value"),
        F.lit("{}").alias("props"),
    )
    base.write.parquet(src)
    dup = stream_events(spark, src).unionByName(stream_events(spark, src))
    out = stream_exact_dedup(dup, key_cols=("event_id",), delay="1 hour")
    sink = str(tmp_path / "dedup_out")
    q = run_to_sink(
        out.select("event_id", "user_id", "value"),
        str(tmp_path / "dedup_ckpt"),
        out_path=sink,
        output_mode="append",
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    want = sorted(map(tuple, base.select("event_id", "user_id", "value").collect()))
    assert got == want


def test_stream_latest_snapshot_merges_state_across_batches(spark, tmp_path):
    """Newest-version-wins streaming dedup: two crawl-batch files arrive in
    separate micro-batches (maxFilesPerTrigger=1); the complete-mode state
    must merge winners across batches — equal to the batch latest_snapshots
    on the union, including keys seen only in the first batch and keys whose
    first-batch row beats the second-batch one."""
    import pyspark.sql.functions as F

    from minimel_spark.operators.web import latest_snapshots
    from minimel_spark.streaming.ingest import run_to_sink, stream_latest_snapshot

    src = str(tmp_path / "snap_src")
    rows1 = [
        # key a: batch-1 row LOSES to batch 2 (older ts)
        ("https://a.org/p?x=1", "2024-01-01 00:00:00", "a1"),
        # key b: batch-1 only — must survive into the final state
        ("https://b.org/q", "2024-02-01 00:00:00", "b1"),
        # key c: batch-1 row WINS over batch 2 (newer ts)
        ("https://c.org/r", "2024-06-01 00:00:00", "c1"),
    ]
    rows2 = [
        ("http://www.a.org/p/?x=1", "2024-03-01 00:00:00", "a2"),
        ("https://c.org/r#frag", "2024-04-01 00:00:00", "c2"),
        ("https://d.org/s", "2024-05-01 00:00:00", "d2"),
    ]
    mk = lambda rows: spark.createDataFrame(
        rows, "url string, ts string, text string"
    ).select("url", F.to_timestamp("ts").alias("warc_ts"), "text")
    mk(rows1).coalesce(1).write.mode("append").parquet(src)
    mk(rows2).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("url string, warc_ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_to_sink(
        stream_latest_snapshot(stream),
        str(tmp_path / "snap_ckpt"),
        output_mode="complete",
        query_name="t_stream_latest",
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        r["canonical_url"]: (r["text"], r["n_snapshots"])
        for r in spark.table("t_stream_latest").collect()
    }
    want = {
        r["canonical_url"]: (r["text"], r["n_snapshots"])
        for r in latest_snapshots(mk(rows1).unionByName(mk(rows2))).collect()
    }
    assert got == want
    assert got["a.org/p?x=1"] == ("a2", 2)   # batch-2 winner via state merge
    assert got["b.org/q"] == ("b1", 1)       # batch-1-only key retained
    assert got["c.org/r"] == ("c1", 2)       # batch-1 winner retained


def test_stream_incremental_minhash_batch_split_invariant(spark, tmp_path):
    """Three crawl-batch files drained one micro-batch at a time: the union
    of per-batch pair outputs (within-batch + vs-accumulated-state) must
    equal the whole-corpus batch minhash_dups — no pair lost, invented, or
    duplicated by the split."""
    import pyspark.sql.functions as F

    from minimel_spark.operators.dedup import minhash_dups
    from minimel_spark.streaming.ingest import stream_incremental_minhash

    base = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely unrelated text about query optimizers"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "another unrelated doc mentioning shuffle partitions"),
        (5, "the quick brown fox jumps over a lazy dog"),
    ]
    docs = spark.createDataFrame(base, "doc_id long, text string")
    src = str(tmp_path / "src")
    for lo, hi in ((0, 2), (2, 4), (4, 6)):  # three interleaving batches
        spark.createDataFrame(base[lo:hi], "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_incremental_minhash(
        stream,
        str(tmp_path / "state"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
        threshold=0.5,
        n=2,
        num_hashes=16,
        bands=8,
    )
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    rows = spark.read.parquet(str(tmp_path / "pairs")).collect()
    got = {
        (min(r["id_new"], r["id_old"]), max(r["id_new"], r["id_old"]),
         round(r["jaccard"], 9))
        for r in rows
    }
    want = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_dups(docs, threshold=0.5, n=2).collect()
    }
    assert got == want and got  # equal AND non-trivial (>= the 0-1-3-5 clique)
    # the ROW COUNT must also match: a pair emitted by both the within-batch
    # and cross-batch paths (or a double-appended batch) would collapse in
    # the set compare but not here (r5 review)
    assert len(rows) == len(want)
    # state grew per batch: 3 appends to docs and index each
    assert spark.read.parquet(str(tmp_path / "state") + "/docs").count() == 6


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata absent")
def test_stream_incremental_minhash_gate_leaves_no_temp_dir(spark, tmp_path, monkeypatch):
    """The stream_incremental_minhash gate returns collected rows and removes
    every directory it made: its source, state, pairs and checkpoint."""
    import tempfile

    import __spark_entry__ as entry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert entry.q_stream_incremental_minhash(spark, SF_DIR).count() > 0
    assert os.listdir(tmp_path) == []


def test_stream_cms_sketch_equals_batch_and_state_bounded(spark, tmp_path):
    """cms_build run as a streaming stateful agg across two micro-batches
    must equal the batch sketch over the union (additivity), and the state
    is bounded by d*w cells regardless of stream length."""
    from minimel_spark.operators.sketch import cms_build

    d_, w_ = 3, 64
    rows = [(i, f"v{i % 37} v{(i * 7) % 23}") for i in range(300)]
    src = str(tmp_path / "cms_src")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.where(F.col("doc_id") < 150).coalesce(1).write.mode("append").parquet(src)
    df.where(F.col("doc_id") >= 150).coalesce(1).write.mode("append").parquet(src)

    from minimel_spark.operators.util import words_lower

    def grams(frame):
        return frame.select(F.explode(words_lower(F.col("text"))).alias("v"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = cms_build(grams(stream), "v", d=d_, w=w_)
    assert agg.isStreaming
    q = run_to_sink(
        agg, str(tmp_path / "cms_ckpt"), output_mode="complete",
        query_name="cms_stream_t",
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        (r["row_j"], r["bucket"]): r["cnt"]
        for r in spark.table("cms_stream_t").collect()
    }
    want = {
        (r["row_j"], r["bucket"]): r["cnt"]
        for r in cms_build(grams(df), "v", d=d_, w=w_).collect()
    }
    assert got == want
    assert len(got) <= d_ * w_


def test_stream_incremental_components_equals_batch(spark, tmp_path):
    """Three edge micro-batches folded via snapshots == one full CC run,
    including a cross-batch merge and brand-new nodes."""
    from minimel_spark.operators.cluster import connected_components
    from minimel_spark.streaming.ingest import (
        latest_membership,
        stream_incremental_components,
    )

    batches = [
        [(1, 2), (3, 4), (10, 11)],
        [(2, 3), (20, 21)],          # merges {1,2} with {3,4}
        [(11, 20), (30, 31)],        # merges {10,11} with {20,21}; new nodes
    ]
    src = str(tmp_path / "edges")
    for b in batches:
        spark.createDataFrame(b, "src long, dst long").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("src bigint, dst bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "state")
    q = stream_incremental_components(stream, state, str(tmp_path / "ckpt"))
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        (r["node"], r["component"])
        for r in latest_membership(spark, state).collect()
    }
    all_edges = spark.createDataFrame(
        [e for b in batches for e in b], "src long, dst long"
    )
    want = {
        (r["node"], r["component"])
        for r in connected_components(all_edges).collect()
    }
    assert got == want
    # canonical column order survives the parquet round-trip
    assert latest_membership(spark, state).columns == ["node", "component"]


def test_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join drained over multi-micro-batch replays of
    both sides equals the batch join — including a cross-batch match (click
    in file 1, purchase in file 2)."""
    import pyspark.sql.functions as F

    from minimel_spark.streaming.ingest import run_to_sink, stream_interval_join

    clicks = [
        (1, 10, "2024-01-01 10:00:00"),
        (2, 10, "2024-01-01 12:00:00"),
        (3, 20, "2024-01-01 10:30:00"),
    ]
    buys = [
        (101, 10, "2024-01-01 10:30:00", 5.0),   # within 1h of click 1
        (102, 10, "2024-01-01 12:59:00", 7.0),   # within 1h of click 2
        (103, 20, "2024-01-01 12:00:00", 9.0),   # outside any window
        (104, 10, "2024-01-01 09:59:00", 3.0),   # before every click
    ]
    cdf = spark.createDataFrame(
        clicks, "event_id long, user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    bdf = spark.createDataFrame(
        buys, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    csrc, bsrc = str(tmp_path / "c"), str(tmp_path / "b")
    # two files per side -> cross-micro-batch state must do the matching
    cdf.where("event_id = 1").coalesce(1).write.mode("append").parquet(csrc)
    cdf.where("event_id > 1").coalesce(1).write.mode("append").parquet(csrc)
    bdf.where("event_id <= 102").coalesce(1).write.mode("append").parquet(bsrc)
    bdf.where("event_id > 102").coalesce(1).write.mode("append").parquet(bsrc)
    cs = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp_ntz")
        .option("maxFilesPerTrigger", 1)
        .parquet(csrc)
    )
    bs = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp_ntz, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(bsrc)
    )
    joined = stream_interval_join(cs, bs, "user_id", within_seconds=3600)
    out = str(tmp_path / "out")
    q = run_to_sink(
        joined, str(tmp_path / "ckpt"), out_path=out, output_mode="append"
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        (r["l_event_id"], r["r_event_id"], r["lag_seconds"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(1, 101, 1800.0), (2, 102, 3540.0)}


def test_topk_per_hour_ranking_and_validation(spark):
    import pyspark.sql.functions as F
    import pytest as _pytest

    from minimel_spark.streaming.ingest import topk_per_hour

    snap = spark.createDataFrame(
        [
            ("h1", 1, 5), ("h1", 2, 9), ("h1", 3, 9), ("h1", 4, 1),
            ("h2", 7, 2),
        ],
        "hour string, user_id long, n long",
    )
    got = [
        (r["hour"], r["rank"], r["user_id"], r["n"])
        for r in topk_per_hour(snap, k=2).orderBy("hour", "rank").collect()
    ]
    # tie on n=9 -> smaller user_id first; k truncates
    assert got == [("h1", 1, 2, 9), ("h1", 2, 3, 9), ("h2", 1, 7, 2)]
    with _pytest.raises(ValueError):
        topk_per_hour(snap, k=0)


def test_stream_hourly_user_counts_equals_batch(spark):
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from minimel_spark.streaming.ingest import (
        run_to_sink,
        stream_events,
        stream_hourly_user_counts,
    )

    events_small = spark.createDataFrame(
        [
            (i, f"2024-01-01 {(i * 7) % 24:02d}:{(i * 13) % 60:02d}:00",
             i % 5, "click", float(i), "{}")
            for i in range(120)
        ],
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    src = tempfile.mkdtemp(prefix="minimel_topk_src_")
    events_small.write.mode("overwrite").parquet(src + "/events.parquet")
    stream = stream_events(spark, src + "/events.parquet")
    ckpt = tempfile.mkdtemp(prefix="minimel_topk_ckpt_")
    q = run_to_sink(
        stream_hourly_user_counts(stream),
        ckpt,
        output_mode="complete",
        query_name="topk_test_sink",
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("topk_test_sink").collect()))
    want = sorted(
        map(
            tuple,
            events_small.groupBy(
                F.date_format(
                    F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"
                ).alias("hour"),
                "user_id",
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect(),
        )
    )
    assert got == want and len(got) > 0
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_rich_club_threshold_panel_joins_are_broadcast(spark):
    """The per-k range joins run against the two tiny histograms — they
    must plan as broadcast nested-loop joins, never a shuffled cartesian."""
    from minimel_spark.operators.graph import rich_club

    edges = spark.createDataFrame(
        [(i % 13, (i * 5 + 2) % 13) for i in range(60)], "src long, dst long"
    )
    out = rich_club(edges, max_k=6)
    assert count_plan_nodes(out, "CartesianProduct") == 0
    assert count_plan_nodes(out, "BroadcastNestedLoopJoin") >= 1


def test_damerau_join_single_udf_eval_no_cartesian(spark):
    """The Lowrance-Wagner DP must be evaluated ONCE: the verified name
    pairs are checkpointed before the two-sided record expansion (without
    the cut, Catalyst re-evaluates the UDF subtree per consumer branch —
    observed 3x), so the outer plan carries NO ArrowEvalPython at all;
    the candidate machinery must stay hash/broadcast joins."""
    from minimel_spark.operators.pairs import damerau_distance_join

    df = spark.createDataFrame(
        [(i, f"name{i % 9}x") for i in range(30)], "rec_id long, name string"
    )
    out = damerau_distance_join(df, k=1, q=2)
    assert count_plan_nodes(out, "ArrowEvalPython") == 0
    assert count_plan_nodes(out, "CartesianProduct") == 0


def test_t_closeness_value_domain_broadcasts(spark):
    from minimel_spark.operators.profile import t_closeness_audit

    df = spark.createDataFrame(
        [(f"g{i % 4}", (i * 3) % 5) for i in range(100)], "grp string, v long"
    )
    out = t_closeness_audit(df, ["grp"], "v")
    assert count_plan_nodes(out, "CartesianProduct") == 0
    assert count_plan_nodes(out, "BroadcastNestedLoopJoin") >= 1


def test_qdigest_rank_audit_broadcasts_estimates(spark):
    from minimel_spark.operators.sketch import qdigest_quantiles

    df = spark.createDataFrame([(float(i % 40),) for i in range(300)], "v double")
    out = qdigest_quantiles(df, "v", scale=1.0, qs=[0.5, 0.9], bits=6, k=8)
    assert count_plan_nodes(out, "CartesianProduct") == 0
