"""Tests for mention detection (M1), blocking keys, pair caps, and pairwise
features."""

import pyspark.sql.functions as F
import pytest

from minimel_spark.functions.matcher import TrieMatcher
from minimel_spark.functions.similarity import hashed_bow, jaro_winkler, sparse_cosine
from minimel_spark.operators.blocking import (
    cap_blocks,
    dictionary_blocks,
    minhash_blocks,
    union_blocks,
)
from minimel_spark.operators.mentions import count_names, detect_mentions, nil_mentions
from minimel_spark.operators.pairs import candidate_pairs, pair_features

from conftest import pinned_rdd_ids, ref_cos_bow


# ---------- matcher unit tests (reference mentions.py:16-31 semantics) ----------

def test_trie_matcher_leftmost_longest():
    m = TrieMatcher(["acme", "acme corp", "corp"])
    assert list(m.find_matches("the acme corp inc")) == [(4, "acme corp")]


def test_trie_matcher_word_boundaries():
    m = TrieMatcher(["acme"])
    assert list(m.find_matches("acme")) == [(0, "acme")]
    assert list(m.find_matches("xacme")) == []
    # consumed by the automaton but rejected by the boundary filter
    assert list(m.find_matches("acmes")) == []
    assert list(m.find_matches("acme, yes")) == [(0, "acme")]


def test_trie_matcher_multiple_nonoverlapping():
    m = TrieMatcher(["aa", "bb"])
    assert list(m.find_matches("aa bb aa")) == [(0, "aa"), (3, "bb"), (6, "aa")]


def test_regex_matcher_equals_trie_matcher():
    """RegexMatcher is the fast production fallback; TrieMatcher is the
    executable spec — byte-identical outputs, including consumption of
    boundary-rejected matches."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from minimel_spark.functions.matcher import RegexMatcher

    alpha = "ab ."

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(st.text(alphabet="ab", min_size=1, max_size=5), min_size=1, max_size=8),
        st.text(alphabet=alpha, max_size=40),
    )
    def check(names, text):
        assert list(RegexMatcher(names).find_matches(text)) == list(
            TrieMatcher(names).find_matches(text)
        )

    check()
    # regex metacharacters in names must be escaped
    m = RegexMatcher(["a.b", "a+b"])
    assert list(m.find_matches("a.b axb a+b")) == [(0, "a.b"), (8, "a+b")]


def test_regex_matcher_pathological_name_no_recursion_limit_bump():
    """ADVICE r2: a megabyte-scale gazetteer entry must compile via the
    iterative trie build without touching the process-wide recursion limit."""
    import sys

    from minimel_spark.functions.matcher import RegexMatcher

    before = sys.getrecursionlimit()
    long_name = "x" * 100_000
    m = RegexMatcher([long_name, "acme"])
    assert sys.getrecursionlimit() == before
    assert list(m.find_matches(f"see {long_name} and acme here")) == [
        (4, long_name),
        (4 + 100_000 + 5, "acme"),
    ]


def test_jaro_winkler_known_values():
    assert jaro_winkler("martha", "marhta") == pytest.approx(0.9611, abs=1e-3)
    assert jaro_winkler("dwayne", "duane") == pytest.approx(0.84, abs=1e-2)
    assert jaro_winkler("same", "same") == 1.0
    assert jaro_winkler("", "x") == 0.0


def test_hashed_bow_cosine():
    a = hashed_bow(["x", "y"])
    assert sparse_cosine(a, a) == pytest.approx(1.0)
    assert sparse_cosine(a, hashed_bow(["z", "w"])) == 0.0


# ---------- Spark-side ----------

@pytest.fixture(scope="module")
def paragraphs(spark):
    rows = [
        ("u1", 0, "the acme corp bought globex today"),
        ("u1", 1, "acme was founded long ago"),
        ("u2", 0, "globex and acme corp merged"),
        ("u2", 1, "nothing to see here"),
    ]
    return spark.createDataFrame(rows, "url string, par_id int, text string")


@pytest.fixture(scope="module")
def names(spark):
    return spark.createDataFrame(
        [("acme",), ("acme corp",), ("globex",)], "anchor string"
    )


def test_detect_mentions(spark, paragraphs, names):
    got = {
        (r["url"], r["par_id"], r["start"], r["surface"])
        for r in detect_mentions(paragraphs, names).collect()
    }
    assert got == {
        ("u1", 0, 4, "acme corp"),
        ("u1", 0, 21, "globex"),
        ("u1", 1, 0, "acme"),
        ("u2", 0, 0, "globex"),
        ("u2", 0, 11, "acme corp"),
    }


def test_detect_mentions_chunked_equals_broadcast(spark, paragraphs, names):
    """The over-budget dictionary path (per-chunk bounded scans + relational
    span merge + greedy sweep) must reproduce the single-automaton output
    exactly, including cross-chunk leftmost-longest resolution ('acme' and
    'acme corp' land in different chunks of a 3-way split)."""
    from minimel_spark.operators.mentions import detect_mentions_chunked

    want = {
        tuple(r) for r in detect_mentions(paragraphs, names).collect()
    }
    for n_chunks in (2, 3):
        got = {
            tuple(r)
            for r in detect_mentions_chunked(paragraphs, names, n_chunks).collect()
        }
        assert got == want, f"chunked({n_chunks}) diverged from broadcast path"


def test_chunked_driver_never_collects_full_dictionary(spark, paragraphs, monkeypatch):
    """Scale contract (VERDICT r2 #1): the chunked path must decide chunk
    membership relationally and collect at most ONE chunk of names per
    .collect() — driver memory is O(|dict| / n_chunks), never O(|dict|)."""
    from minimel_spark.operators.mentions import detect_mentions, detect_mentions_chunked

    big = spark.createDataFrame([(f"name{i:04d}",) for i in range(100)], "anchor string")
    # patch the CONCRETE class (pyspark 4 routes pyspark.sql.DataFrame to an
    # abstract parent whose collect the classic subclass overrides)
    _DF = type(big)
    collected_sizes = []
    orig = _DF.collect

    def spy(self):
        rows = orig(self)
        if "anchor" in self.columns:
            collected_sizes.append(len(rows))
        return rows

    monkeypatch.setattr(_DF, "collect", spy)
    n = detect_mentions_chunked(paragraphs, big, n_chunks=4).count()
    assert n == 0  # no name0000..0099 appears in the fixture text
    assert collected_sizes, "no dictionary collects observed"
    # 100 names over 4 hash chunks: every collect far below the full dict
    assert max(collected_sizes) < 100, collected_sizes
    assert sum(collected_sizes) == 100  # each name collected exactly once

    # auto-routing never collects the full dict either: budget forces 10 chunks
    collected_sizes.clear()
    detect_mentions(paragraphs, big, max_broadcast_names=10).count()
    assert collected_sizes and max(collected_sizes) < 100, collected_sizes

    # BYTE-budget auto-routing (the default path callers hit with no knobs):
    # ~100 names x (8 chars + 64 B overhead) ~= 7.2 KB, so a 1 KB budget must
    # chunk without any caller-provided entry count
    collected_sizes.clear()
    got = detect_mentions(paragraphs, big, max_broadcast_bytes=1024).count()
    assert got == 0
    assert collected_sizes and max(collected_sizes) < 100, collected_sizes


def test_count_names(spark, paragraphs, names):
    got = {r["name"]: r["cnt"] for r in count_names(paragraphs, names).collect()}
    assert got == {"acme corp": 2, "globex": 2, "acme": 1}


def test_nil_mentions(spark, paragraphs, names):
    links = spark.createDataFrame(
        [("u1", 0, {"acme corp": 1})],
        "url string, par_id int, links map<string,long>",
    )
    m = detect_mentions(paragraphs, names)
    nil = nil_mentions(m, links)
    surfaces = {(r["url"], r["par_id"], r["surface"]) for r in nil.collect()}
    assert ("u1", 0, "acme corp") not in surfaces
    assert ("u1", 0, "globex") in surfaces


@pytest.fixture(scope="module")
def records(spark):
    rows = [
        ("r1", "acme corp", "makers of anvils and rockets"),
        ("r2", "acme corporation", "anvil and rocket maker"),
        ("r3", "acme co", "makers of anvils"),
        ("r4", "globex", "evil energy company"),
        ("r5", "globex corp", "energy conglomerate"),
        ("r6", "initech", "software company"),
    ]
    return spark.createDataFrame(rows, "rec_id string, anchor string, text string")


def test_minhash_blocks_group_similar_names(spark, records):
    blocked = minhash_blocks(records, num_hashes=12, bands=12)
    pairs = candidate_pairs(blocked)
    got = {(r["rec_id_a"], r["rec_id_b"]) for r in pairs.collect()}
    assert ("r1", "r2") in got  # acme corp ~ acme corporation share bands
    assert not any("r6" in p for p in got)  # initech shares no shingles


def test_union_dictionary_and_minhash(spark, records):
    blocked = union_blocks(
        dictionary_blocks(records), minhash_blocks(records, num_hashes=12, bands=12)
    )
    assert blocked.where(F.col("block_key").startswith("d:")).count() == 6


def test_cap_blocks_bounds_pairs(spark):
    rows = [(f"r{i}", "hot") for i in range(100)] + [("x1", "cold"), ("x2", "cold")]
    df = spark.createDataFrame(rows, "rec_id string, block_key string")
    capped = cap_blocks(df, max_pairs_per_block=45)  # target block size ~10
    sizes = capped.groupBy("block_key").count().collect()
    assert max(r["count"] for r in sizes) <= 15
    # cold block untouched
    assert any(r["block_key"] == "cold" and r["count"] == 2 for r in sizes)
    # capping is deterministic
    c2 = cap_blocks(df.repartition(7), max_pairs_per_block=45)
    assert sorted(map(tuple, capped.collect())) == sorted(map(tuple, c2.collect()))


def test_broadcast_budget_fallbacks_match_broadcast_path(spark, records):
    """VERDICT r2 #2: past the entry budget the forced broadcast hint in
    pair_features must degrade to a shuffle join with IDENTICAL results.
    Force a 1-entry (1-byte for the cos_bow vectors) budget so every gated
    join takes the fallback, and compare against the always-hint path."""
    from minimel_spark.operators.blocking import surface_blocked_pairs

    p = surface_blocked_pairs(
        records, key_col="anchor", rec_id_col="rec_id",
        num_hashes=12, bands=6, max_pairs_per_block=10_000,
    )

    def run(bcast_pairs, **kw):
        f = pair_features(
            p, records, name_col="anchor",
            max_broadcast_name_pairs=bcast_pairs, **kw,
        )
        return {
            (r["rec_id_a"], r["rec_id_b"]): (
                round(r["lev_sim"], 9), round(r["jacc3"], 9),
                round(r["jw"], 9), round(r["cos_bow"], 9),
            )
            for r in f.collect()
        }

    want = run(None)  # always-broadcast path
    # every side table over budget -> shuffle joins
    got = run(1, max_broadcast_vec_bytes=1)
    assert want and got == want


def test_surface_blocked_pairs_leaves_join_strategy_to_spark(spark, records):
    """Plan pin: surface_blocked_pairs writes no broadcast hint into its
    plan, yet Spark still broadcasts the name-side joins, sized from the
    cached name table."""
    from minimel_spark.operators.blocking import surface_blocked_pairs

    p = surface_blocked_pairs(records, key_col="anchor", rec_id_col="rec_id")
    qe = p._jdf.queryExecution()
    assert "hint" not in qe.logical().toString().lower()
    assert "BroadcastHashJoin" in qe.executedPlan().toString()


def test_pair_features(spark, records):
    blocked = union_blocks(
        dictionary_blocks(records), minhash_blocks(records, num_hashes=12, bands=12)
    )
    pairs = candidate_pairs(blocked)
    feats = pair_features(pairs, records, name_col="anchor").cache()
    row = feats.where(
        (F.col("rec_id_a") == "r1") & (F.col("rec_id_b") == "r2")
    ).first()
    assert row is not None
    assert 0.8 < row["jw"] <= 1.0
    assert 0 < row["jacc3"] < 1.0
    assert 0 < row["lev_sim"] < 1.0
    assert 0 < row["cos_bow"] < 1.0
    cols = set(feats.columns)
    assert {"lev_sim", "jacc3", "jw", "cos_bow"} <= cols


def test_surface_blocked_pairs_under_cap_equals_generic_and_keeps_small_cross(spark):
    """Docstring invariant of surface_blocked_pairs: on under-cap data the
    produced pair SET equals the generic cap_blocks + candidate_pairs path.
    In particular a 120-record name paired with a 1-record name
    (C(121,2) << cap) must emit all 120 cross pairs — the old unconditional
    sqrt-cap silently dropped records from every cross-name pair."""
    from minimel_spark.operators.blocking import surface_blocked_pairs

    rows = (
        [(i, "alphabeta") for i in range(120)]
        + [(1000, "alphabets")]
        + [(2000 + i, "zzqx") for i in range(3)]
    )
    records = spark.createDataFrame(rows, "rec_id long, name string")
    got = surface_blocked_pairs(
        records, key_col="name", rec_id_col="rec_id",
        num_hashes=12, bands=6, max_pairs_per_block=10_000,
    )
    got_pairs = {(r["rec_id_a"], r["rec_id_b"]) for r in got.collect()}

    # the ADVICE scenario: every (alphabeta record, alphabets record) pair
    cross = {(i, 1000) for i in range(120)}
    assert cross <= got_pairs, "under-cap cross-name pairs were dropped"

    # generic record-level path with the same key generators
    blocked = union_blocks(
        dictionary_blocks(
            records.withColumn(
                "_n_sh",
                F.size(__import__("minimel_spark.functions.udfs", fromlist=["x"]).shingles_udf("name")),
            ).where(F.col("_n_sh") == 0).drop("_n_sh"),
            key_col="name",
        ),
        minhash_blocks(records, key_col="name", num_hashes=12, bands=6),
    )
    generic = candidate_pairs(cap_blocks(blocked, max_pairs_per_block=10_000))
    want_pairs = {(r["rec_id_a"], r["rec_id_b"]) for r in generic.collect()}
    assert got_pairs == want_pairs

    # over-cap name pair: caps bound the emitted pair count
    capped = surface_blocked_pairs(
        records, key_col="name", rec_id_col="rec_id",
        num_hashes=12, bands=6, max_pairs_per_block=50,
    )
    per_pair = (
        capped.where(F.col("name_a") != F.col("name_b"))
        .groupBy("name_a", "name_b")
        .count()
        .collect()
    )
    assert per_pair, "no cross-name pairs emitted"
    # the cap invariant holds EXACTLY per name pair (cap_a * cap_b <= cap),
    # even on asymmetric pairs where one side's proportional cap clamps to 1
    for r in per_pair:
        assert r["count"] <= 50, (r["name_a"], r["name_b"], r["count"])
    ab = {(r["name_a"], r["name_b"]): r["count"] for r in per_pair}
    # 120 x 1 at cap=50 -> cap_a=50, cap_b=1: exactly 50 pairs survive
    assert ab[("alphabeta", "alphabets")] == 50


def test_salted_mega_block_stays_connected_under_cap(spark):
    """VERDICT r3 #1: per-name salting bounds mega-block pair cost but used
    to FRAGMENT the block (cross-salt pairs lost -> transitive clustering
    splits it). The salt-bucket representative chain must keep every
    same-name block ONE connected component in the pair graph while the
    emitted pair count stays near the per-bucket cap bound."""
    import math

    from minimel_spark.operators.blocking import surface_blocked_pairs
    from minimel_spark.operators.cluster import connected_components

    n_mega, cap = 300, 100
    rows = [(i, "megacorp") for i in range(n_mega)] + [
        (1000 + i, f"uniq{i:03d}") for i in range(20)
    ]
    records = spark.createDataFrame(rows, "rec_id long, name string")
    pairs = surface_blocked_pairs(
        records, key_col="name", rec_id_col="rec_id",
        num_hashes=12, bands=6, max_pairs_per_block=cap,
    ).persist()
    same = pairs.where(
        (F.col("name_a") == "megacorp") & (F.col("name_b") == "megacorp")
    )
    n_same = same.count()
    # cost bound: ~nsalt buckets x <=~cap pairs each + (nsalt-1) chain edges;
    # hash-uneven buckets can exceed the per-bucket target a little, so pin
    # the ORDER (2x slack), far below the unsalted C(300,2) = 44850
    target = max(2, int(math.floor((1 + math.isqrt(1 + 8 * cap)) / 2)))
    nsalt = -(-n_mega // target)
    assert n_same <= 2 * nsalt * cap + (nsalt - 1), (n_same, nsalt)
    assert n_same < 44850 / 4
    # connectivity: the same-name edges alone must reunite the whole block
    cc = connected_components(
        same.select(F.col("rec_id_a").alias("src"), F.col("rec_id_b").alias("dst"))
    )
    comp = cc.join(
        records.where(F.col("name") == "megacorp").withColumnRenamed("rec_id", "node"),
        "node",
    )
    assert comp.count() == n_mega, "some mega-block record has no pair at all"
    assert comp.select("component").distinct().count() == 1, "block fragmented"
    # determinism across input partitioning (north rule)
    again = surface_blocked_pairs(
        records.repartition(7), key_col="name", rec_id_col="rec_id",
        num_hashes=12, bands=6, max_pairs_per_block=cap,
    )
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, pairs.collect()))
    pairs.unpersist()


def test_pair_features_no_cache_without_receiver(spark):
    """pair_features must not pin caches it cannot hand to an owner: with no
    persisted_out receiver the call may not grow the session's persistent-RDD
    set (r5 review — an ownerless persist leaks executor memory for the
    session), and the feature rows must be identical either way."""
    records = spark.createDataFrame(
        [("r%d" % i, "name%d" % (i % 3), "some text tokens %d" % i) for i in range(12)],
        "rec_id string, name string, text string",
    )
    pairs = spark.createDataFrame(
        [("r0", "r3", 1), ("r1", "r4", 1), ("r2", "r5", 2)],
        "rec_id_a string, rec_id_b string, n_blocks int",
    )

    def rows(df):
        return sorted(
            (r["rec_id_a"], r["rec_id_b"], round(r["cos_bow"], 9))
            for r in df.collect()
        )

    ids_before = pinned_rdd_ids(spark)
    plain = rows(pair_features(pairs, records, name_col="name"))
    assert pinned_rdd_ids(spark) - ids_before == set()

    caches: list = []
    cached = rows(
        pair_features(pairs, records, name_col="name", persisted_out=caches)
    )
    assert caches
    for c in caches:
        c.unpersist(blocking=True)
    assert plain == cached


# --------------------------------------------------------------------------
# sorted_neighborhood_pairs
# --------------------------------------------------------------------------

from minimel_spark.operators.blocking import sorted_neighborhood_pairs  # noqa: E402


def _snp_rows(n=60):
    # keys with heavy ties to exercise the (key, rec_id) tie-break
    return [(float(i % 7), i) for i in range(n)]


def _snp_ref(rows, window):
    ranked = sorted(rows)  # (key, id) total order
    out = set()
    for i in range(len(ranked)):
        for j in range(i + 1, min(i + window, len(ranked))):
            out.add((ranked[i][1], ranked[j][1], i + 1, j + 1))
    return out


def test_sorted_neighborhood_matches_reference(spark):
    rows = _snp_rows()
    df = spark.createDataFrame(rows, "k double, rec_id long")
    caches = []
    got = {
        (r["rec_id_a"], r["rec_id_b"], r["rank_a"], r["rank_b"])
        for r in sorted_neighborhood_pairs(
            df, "k", window=4, persisted_out=caches
        ).collect()
    }
    for c in caches:
        c.unpersist()
    assert got == _snp_ref(rows, 4)


def test_sorted_neighborhood_partitioning_invariant(spark):
    rows = _snp_rows(80)
    df = spark.createDataFrame(rows, "k double, rec_id long")
    outs = []
    for d in (df, df.repartition(13, "rec_id")):
        caches = []
        outs.append(
            sorted(
                (r["rec_id_a"], r["rec_id_b"])
                for r in sorted_neighborhood_pairs(
                    d, "k", window=5, persisted_out=caches
                ).collect()
            )
        )
        for c in caches:
            c.unpersist()
    assert outs[0] == outs[1] and len(outs[0]) > 0


def test_sorted_neighborhood_pair_budget_and_guards(spark):
    rows = _snp_rows(50)
    df = spark.createDataFrame(rows, "k double, rec_id long")
    caches = []
    n_pairs = sorted_neighborhood_pairs(df, "k", window=3, persisted_out=caches).count()
    for c in caches:
        c.unpersist()
    # hard bound: each of the n records pairs with < window successors
    assert n_pairs == 49 + 48  # distance 1 + distance 2
    import pytest as _pt

    with _pt.raises(ValueError):
        sorted_neighborhood_pairs(df, "k", window=1)


def test_sorted_neighborhood_cache_contract(spark):
    rows = _snp_rows(30)
    df = spark.createDataFrame(rows, "k double, rec_id long")
    before = pinned_rdd_ids(spark)
    caches = []
    sorted_neighborhood_pairs(df, "k", window=3, persisted_out=caches).count()
    assert len(caches) == 1
    for c in caches:
        c.unpersist()
    assert pinned_rdd_ids(spark) - before == set()


def test_jaro_winkler_boost_threshold_matches_duckdb():
    """Winkler's prefix boost applies only above jaro 0.7 (the standard
    rule and DuckDB's) — a shared first letter on a dissimilar pair must
    NOT lift the score. Fuzzed bit-for-bit against DuckDB."""
    import itertools
    import random

    import duckdb

    # a dissimilar pair sharing a prefix: jaro < 0.7 -> NO boost
    con = duckdb.connect()
    a, b = "feedfhgbaabinc", "fjgidhjgadg"
    d = con.sql("SELECT jaro_winkler_similarity(?, ?)", params=[a, b]).fetchone()[0]
    assert jaro_winkler(a, b) == pytest.approx(d, abs=1e-15)
    assert jaro_winkler(a, b) < 0.7  # and indeed unboosted
    random.seed(7)
    names = [
        "".join(random.choice("abcdefg") for _ in range(random.randint(3, 14)))
        for _ in range(35)
    ] + ["smith", "smyth", "dixon", "dicksonx", "a", "ab", "", "abcdefgh"]
    for x, y in itertools.combinations(names, 2):
        d = con.sql(
            "SELECT jaro_winkler_similarity(?, ?)", params=[x, y]
        ).fetchone()[0]
        assert jaro_winkler(x, y) == pytest.approx(d, abs=1e-12), (x, y)


def test_rare_token_canopies_argmin_and_stop_tokens(spark):
    from minimel_spark.operators.blocking import rare_token_canopies

    recs = spark.createDataFrame(
        [
            (1, "alpha beta common"),
            (2, "alpha gamma common"),
            (3, "beta gamma common"),
            (4, "common common common"),
            (5, "delta common"),
        ],
        "rec_id long, name string",
    )
    # dfs: alpha=2 beta=2 gamma=2 delta=1 common=4; max_df=3 drops 'common'
    out = {
        r["rec_id"]: (r["canopy_token"], r["token_df"])
        for r in rare_token_canopies(recs, max_df=3).collect()
    }
    # rec 4 has only stop tokens -> excluded entirely
    assert 4 not in out and len(out) == 4
    assert out[5] == ("delta", 1)  # rarest available
    # ties on df=2 break to the lexicographically smallest token
    assert out[1] == ("alpha", 2)
    assert out[2] == ("alpha", 2)
    assert out[3] == ("beta", 2)


def test_rare_token_canopies_partition_of_records(spark):
    from minimel_spark.operators.blocking import rare_token_canopies

    recs = spark.range(200).selectExpr(
        "id AS rec_id",
        "concat('w', CAST(id % 7 AS STRING), ' w', CAST(id % 13 AS STRING), 'x')"
        " AS name",
    )
    out = rare_token_canopies(recs)
    # single assignment: exactly one canopy row per record, no max_df -> all kept
    assert out.count() == 200
    assert out.select("rec_id").distinct().count() == 200


def test_suffix_blocks_prefix_corruption_recall(spark):
    import pytest

    from minimel_spark.operators.blocking import suffix_blocks

    recs = spark.createDataFrame(
        [(1, "catherine"), (2, "katherine"), (3, "xy")],
        "rec_id long, name string",
    )
    out = suffix_blocks(recs, min_len=8)
    rows = {(r["block_key"], r["rec_id"]) for r in out.collect()}
    # the shared suffix 'atherine' co-blocks the prefix-corrupted pair
    assert ("atherine", 1) in rows and ("atherine", 2) in rows
    # full names are suffixes of themselves
    assert ("catherine", 1) in rows and ("katherine", 2) in rows
    # names shorter than min_len emit NOTHING (sequence(1,0) descent guard)
    assert not any(r for (_, r) in rows if r == 3)
    with pytest.raises(ValueError):
        suffix_blocks(recs, min_len=0)


def test_suffix_blocks_df_guard_and_normalization(spark):
    from minimel_spark.operators.blocking import suffix_blocks

    recs = spark.createDataFrame(
        [(i, f"O'Brien-{i}") for i in range(5)] + [(99, "O'BRIEN-0")],
        "rec_id long, name string",
    )
    # normalization strips punctuation and lowercases: obrien0 == obrien0
    out = suffix_blocks(recs, min_len=7, max_df=2)
    rows = {(r["block_key"], r["rec_id"]) for r in out.collect()}
    assert ("obrien0", 0) in rows and ("obrien0", 99) in rows
    # the 'obrien<i>' keys have df 1-2 and survive; any key shared by all
    # six records would exceed max_df=2 — verify none remains
    from collections import Counter

    df = Counter(k for k, _ in rows)
    assert max(df.values()) <= 2


def test_adaptive_blocks_refines_only_oversized(spark):
    import pytest

    from minimel_spark.operators.blocking import adaptive_blocks

    # segment A: 3 records (fits at level 0); segment B: 5 records, which
    # refine by city — B/x has 3 (fits at level 1), B/y has 2
    rows = [
        (1, "A", "x"), (2, "A", "x"), (3, "A", "y"),
        (4, "B", "x"), (5, "B", "x"), (6, "B", "x"),
        (7, "B", "y"), (8, "B", "y"),
    ]
    recs = spark.createDataFrame(rows, "rec_id long, seg string, city string")
    out = {
        r["rec_id"]: (r["block_key"], r["level"])
        for r in adaptive_blocks(recs, ["seg", "city"], max_block=4).collect()
    }
    assert len(out) == 8  # every record blocked exactly once
    assert out[1] == ("0:A", 0)
    assert out[4] == ("1:B|x", 1)
    assert out[7] == ("1:B|y", 1)
    with pytest.raises(ValueError):
        adaptive_blocks(recs, [], max_block=4)
    with pytest.raises(ValueError):
        adaptive_blocks(recs, ["seg"], max_block=0)


def test_adaptive_blocks_last_level_emits_unconditionally_and_nulls(spark):
    from minimel_spark.operators.blocking import adaptive_blocks

    # 5 identical keys with cap 2: the single-level key list cannot split
    # them, so the last level emits the oversized block as-is
    rows = [(i, "K", None) for i in range(5)]
    recs = spark.createDataFrame(rows, "rec_id long, seg string, city string")
    out = adaptive_blocks(recs, ["seg", "city"], max_block=2).collect()
    assert len(out) == 5
    # nulls key as the sentinel, never silently drop
    assert {r["block_key"] for r in out} == {"1:K|<null>"}
    assert {r["level"] for r in out} == {1}


def test_skyline_2d_dominance_and_ties(spark):
    from minimel_spark.operators.pairs import skyline_2d

    rows = [
        ("a", 0.9, 1),   # frontier (best s1)
        ("b", 0.8, 5),   # frontier
        ("c", 0.8, 3),   # dominated by b (same s1, lower s2)
        ("d", 0.7, 5),   # dominated by b (lower s1, equal s2)
        ("e", 0.6, 9),   # frontier
        ("f", 0.5, 9),   # dominated by e
        ("g", 0.6, 9),   # exact tie with e on BOTH -> both survive
    ]
    df = spark.createDataFrame(rows, "id string, s1 double, s2 long")
    got = {r["id"] for r in skyline_2d(df, "s1", "s2").collect()}
    assert got == {"a", "b", "e", "g"}
    # schema passes through unchanged
    assert set(skyline_2d(df, "s1", "s2").columns) == {"id", "s1", "s2"}


def test_pair_features_distinct_text_build_matches_join_fallback(spark):
    """The cos_bow table has one row per DISTINCT text with the list of
    record ids carrying it. Values must be bit-identical between the
    broadcast and the join path, invariant to the records' partitioning, and
    equal to the exact driver-side cosine, whether texts repeat across
    records, every record has its own text, or contexts are long (40+
    tokens); missing-id pairs must still drop, and null text must fold into
    the empty-text group losslessly."""
    shared = ["alpha beta gamma", "beta gamma delta epsilon", None, ""]
    corpora = {
        "shared": [shared[i % 4] for i in range(40)],
        "distinct": [None, ""]
        + [f"w{i} s{i % 3} t{i % 5} s{i % 3}" for i in range(2, 40)],
        "long": [
            " ".join(f"w{(i + j) % 50} s{j % (i % 4 + 2)}" for j in range(24))
            for i in range(40)
        ],
    }
    pair_rows = [
        (a, b, 1) for a in range(40) for b in (a + 1, a + 7, a + 13) if b < 40
    ] + [(0, 999, 1)]  # 999 absent from records -> dropped on every path
    pairs = spark.createDataFrame(
        pair_rows, "rec_id_a long, rec_id_b long, n_blocks long"
    )
    want_keys = {(a, b) for a, b, _ in pair_rows if b < 40}

    for kind, texts in corpora.items():
        records = spark.createDataFrame(
            [(i, f"name{i % 4}", t) for i, t in enumerate(texts)],
            "rec_id long, name string, text string",
        )

        def run(recs, **kw):
            return {
                (r["rec_id_a"], r["rec_id_b"]): r["cos_bow"]
                for r in pair_features(
                    pairs, recs, name_col="name", **kw
                ).collect()
            }

        bcast = run(records)
        assert set(bcast) == want_keys, kind  # (0, 999) dropped
        assert run(records, max_broadcast_vec_bytes=None) == bcast, kind
        assert run(records.repartition(5)) == bcast, kind
        keys = sorted(bcast)
        want = ref_cos_bow([texts[a] for a, _ in keys], [texts[b] for _, b in keys])
        assert [bcast[k] for k in keys] == pytest.approx(want.tolist(), abs=1e-12), kind


def test_pair_features_skewed_texts_size_exactly(spark):
    """One long distinct text plus many records sharing one short text: the
    driver payload is the long text's bow, which a size estimate scaled by
    the distinct-text ratio undercounts. With the budget below the true
    payload (but above that estimate) cos_bow must take the join path and
    still equal the broadcast-disabled result."""
    long_text = " ".join(f"w{i}" for i in range(2000))
    rows = [(0, "acme", long_text)] + [(i, "acme", "acme") for i in range(1, 201)]
    records = spark.createDataFrame(rows, "rec_id long, name string, text string")
    pairs = spark.createDataFrame(
        [(0, b, 1) for b in range(1, 201)] + [(a, a + 1, 1) for a in range(1, 200)],
        "rec_id_a long, rec_id_b long, n_blocks long",
    )
    # true payload >= 16 B * (2000 long-text entries + 201 ids) > 10_000 B;
    # scaling all 2,200 tokens by the 2/201 distinct-text ratio gives < 4 KB
    def joins(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count("Join ")

    f = pair_features(pairs, records, name_col="name", max_broadcast_vec_bytes=10_000)
    no_text = pair_features(pairs, records, name_col="name", text_col=None)
    assert joins(f) == joins(no_text) + 2  # both vector joins are in the plan
    got = {(r["rec_id_a"], r["rec_id_b"]): r["cos_bow"] for r in f.collect()}
    want = {
        (r["rec_id_a"], r["rec_id_b"]): r["cos_bow"]
        for r in pair_features(
            pairs, records, name_col="name", max_broadcast_vec_bytes=None
        ).collect()
    }
    assert len(got) == 399 and got == want
