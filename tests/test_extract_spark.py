"""Spark-side tests: synthetic pages -> extraction -> anchor counts, including
partition-count invariance (the sandbox evidence for the N vs 4N rule)."""

import pyspark.sql.functions as F
import pytest

from minimel_spark.operators.count import anchor_counts, counts_to_map, explode_anchors
from minimel_spark.operators.extract import extract_paragraphs
from minimel_spark.sources.synth import synth_pages, synth_title_index


@pytest.fixture(scope="module")
def fixture_world(spark):
    pages = synth_pages(spark, n_pages=300, seed=42, n_bases=12, homonyms=3)
    index = synth_title_index(spark, n_bases=12, homonyms=3)
    return pages, index


def test_pages_deterministic_across_partitioning(spark):
    a = synth_pages(spark, 100, partitions=2).orderBy("url").collect()
    b = synth_pages(spark, 100, partitions=16).orderBy("url").collect()
    assert a == b


def test_extract_schema_and_rows(spark, fixture_world):
    pages, index = fixture_world
    pars = extract_paragraphs(pages, index)
    rows = pars.collect()
    assert len(rows) > 100
    r = rows[0]
    assert set(pars.columns) == {"url", "par_id", "links", "text"}
    assert isinstance(r["links"], dict)
    # junk paragraphs must not appear
    assert all(not r["text"].startswith(("{{", "[", "|")) for r in rows)


def test_extract_matches_pure_function(spark, fixture_world):
    """The distributed extraction must equal a driver-side run of the vendored
    pure function on the same pages (byte-identical text per url)."""
    from minimel_spark.functions.wikitext import extract_page

    pages, index = fixture_world
    idx = {r["title"]: r["qid"] for r in index.collect()}
    expected = {}
    for row in pages.collect():
        name = row["url"].rsplit("/", 1)[-1].split("?")[0]
        for i, (links, text) in enumerate(extract_page(name, row["text"], idx)):
            expected[(row["url"], i)] = (links, text)
    got = {
        (r["url"], r["par_id"]): (r["links"], r["text"])
        for r in extract_paragraphs(pages, index).collect()
    }
    assert got == expected


def test_extract_joined_path_equals_broadcast(spark, fixture_world, monkeypatch):
    """The over-budget title-index path (distributed title join + per-page
    mini-dict) must be byte-identical to the broadcast-dict path — including
    the pagename self-link enrichment and nested-link targets — and must
    never collect the index to the driver."""
    pages, index = fixture_world
    key = lambda r: (r["url"], r["par_id"])
    want = {key(r): (sorted(r["links"].items()), r["text"])
            for r in extract_paragraphs(pages, index).collect()}
    got = {key(r): (sorted(r["links"].items()), r["text"])
           for r in extract_paragraphs(pages, index, max_broadcast_titles=0).collect()}
    assert got == want
    # a budget of 1 is also past the index size: same result
    via_dispatch = {key(r): (sorted(r["links"].items()), r["text"])
                    for r in extract_paragraphs(
                        pages, index, max_broadcast_titles=1).collect()}
    assert via_dispatch == want

    # spy on collect (on the CONCRETE classic subclass — patching the
    # pyspark.sql.DataFrame base never intercepts): the joined path must
    # never pull the index; the only collect is the test's own result read
    real_collect = type(pages).collect
    sizes = []

    def spy(self):
        rows = real_collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(type(pages), "collect", spy)
    spied = extract_paragraphs(pages, index, max_broadcast_titles=0).collect()
    assert {key(r): (sorted(r["links"].items()), r["text"]) for r in spied} == want
    assert sizes == [len(want)], sizes


def test_anchor_counts_min_count_and_normalization(spark, fixture_world):
    pages, index = fixture_world
    pars = extract_paragraphs(pages, index).cache()
    counts = anchor_counts(pars, min_count=2)
    rows = counts.collect()
    assert rows, "no counts produced"
    assert all(r["cnt"] >= 2 for r in rows)
    anchors = [r["anchor"] for r in rows]
    # normalization: no curly quotes / nbsp / uppercase survive
    assert all(a == a.lower() for a in anchors)
    assert all("“" not in a and "&nbsp;" not in a for a in anchors)
    # pure-number anchors are dropped by normalize
    assert "1984" not in anchors


def test_anchor_counts_partition_invariance(spark, fixture_world):
    pages, index = fixture_world
    c1 = anchor_counts(extract_paragraphs(pages.repartition(2), index)).orderBy("anchor", "qid")
    c2 = anchor_counts(extract_paragraphs(pages.repartition(13), index)).orderBy("anchor", "qid")
    assert c1.collect() == c2.collect()


def test_fold_filter_partitions_data(spark, fixture_world):
    pages, index = fixture_world
    pars = extract_paragraphs(pages, index).cache()
    ex = explode_anchors(pars)
    total = ex.count()
    from minimel_spark.operators.count import fold_filter

    kept = sum(
        fold_filter(pars, ["url", "par_id"], 5, f, keep=True).count() for f in range(5)
    )
    assert kept == pars.count()
    # train/eval split is complementary
    train = fold_filter(pars, ["url", "par_id"], 5, 0).count()
    ev = fold_filter(pars, ["url", "par_id"], 5, 0, keep=True).count()
    assert train + ev == pars.count()
    assert total > 0


def test_counts_to_map(spark, fixture_world):
    pages, index = fixture_world
    counts = anchor_counts(extract_paragraphs(pages, index))
    m = counts_to_map(counts)
    row = m.where(F.size(F.map_keys("qid_counts")) > 1).first()
    assert row is not None, "expected at least one ambiguous anchor"
    assert all(k.startswith("Q") for k in row["qid_counts"])


def test_duplicate_index_titles_resolve_min_qid_both_paths(spark):
    """A duplicated index title must resolve (not crash the joined twin's
    map_from_entries under mapKeyDedupPolicy=EXCEPTION) and resolve
    IDENTICALLY on both paths: minimum qid wins deterministically."""
    pages = spark.createDataFrame(
        [("https://x/doc/P", None, None, "see [[Acme]] here", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    index = spark.createDataFrame(
        [("Acme", 999), ("Acme", 100), ("Acme", 500)], "title string, qid long"
    )

    def links(df):
        return sorted(
            (k, v)
            for r in df.select(F.explode("links").alias("k", "v")).collect()
            for k, v in [(r["k"], r["v"])]
        )

    broadcast_path = links(extract_paragraphs(pages, index))
    joined_path = links(extract_paragraphs(pages, index, max_broadcast_titles=1))
    assert broadcast_path == [("Acme", 100)]
    assert joined_path == broadcast_path
