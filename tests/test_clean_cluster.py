"""Tests for the cleaning stage and transitive clustering, including the
north-rule acceptance check: pairwise F1 >= 0.99 vs the reference clustering
semantics (transitive closure of the thresholded cosine edge set,
minimel/clean.py:87-126) on the deterministic synthetic fixture."""

import math
import random

import pyspark.sql.functions as F
import pytest

from minimel_spark.operators.clean import clean, rank_candidates
from minimel_spark.operators.cluster import (
    cluster_candidates,
    connected_components,
    min_label_components,
    similarity_edges,
)
from minimel_spark.operators.count import anchor_counts
from minimel_spark.operators.extract import extract_paragraphs
from minimel_spark.plans import count_plan_nodes
from minimel_spark.sources.synth import synth_pages, synth_title_index


# ---------- connected components vs union-find oracle ----------

def _cc_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in edges:
        union(a, b)
    comps = {}
    for n in parent:
        comps.setdefault(find(n), set()).add(n)
    return {n: min(ms) for ms in comps.values() for n in ms}


def _cc_paths(df):
    """(node -> component) from the default (single-task, in budget) path and
    from the distributed loop pinned by a zero budget."""
    fast = connected_components(df)
    assert count_plan_nodes(fast, "MapInPandas") == 1
    loop = connected_components(df, max_broadcast_nodes=0)
    assert count_plan_nodes(loop, "MapInPandas") == 0
    return (
        {r["node"]: r["component"] for r in fast.collect()},
        {r["node"]: r["component"] for r in loop.collect()},
    )


# non-ASCII ids, including one outside the BMP whose UTF-16 order differs
# from Spark's UTF-8 byte order ("𝔘" sorts after "ｕ" in both Spark and Python)
_WORDS = ["ü", "über", "straße", "東京", "ｕ", "𝔘", "é", "e", "ée", "z"]


def _check_random_graph(spark, seed, ids):
    """Single-task kernel, distributed loop and union-find agree on a random
    graph with duplicate edges and self-loops (self-loops are dropped, so
    the oracle sees the graph without them)."""
    rng = random.Random(seed)
    if ids == "bigint":
        # spread over the long range, negatives included
        nodes = [rng.randrange(-(2**62), 2**62) for _ in range(60)]
    elif ids == "unicode":
        nodes = [f"{w}{i}" for i, w in enumerate(_WORDS)] + _WORDS
    else:
        nodes = [f"n{i:03d}" for i in range(60)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(rng.randint(20, 80))
    ]
    if ids == "unicode":
        edges.append(("𝔘", "ｕ"))
    edges += edges[:5] + [(n, n) for n in nodes[:3]]
    t = "bigint" if ids == "bigint" else "string"
    df = spark.createDataFrame(edges, f"src {t}, dst {t}")
    fast, loop = _cc_paths(df)
    want = _cc_oracle([(a, b) for a, b in edges if a != b])
    assert fast == loop == want


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_connected_components_random_graphs(spark, seed):
    _check_random_graph(spark, seed, "string")


@pytest.mark.parametrize("ids", ["bigint", "unicode"])
def test_connected_components_random_graph_id_types(spark, ids):
    _check_random_graph(spark, 0, ids)


def test_connected_components_empty_edge_list(spark):
    df = spark.createDataFrame([], "src bigint, dst bigint")
    # zero edges are within any budget, so both calls take the single task
    assert connected_components(df).count() == 0
    assert connected_components(df, max_broadcast_nodes=0).count() == 0
    assert connected_components(df).schema.simpleString() == (
        "struct<node:bigint,component:bigint>"
    )
    # only self-loops: nothing survives either
    loops = spark.createDataFrame([(1, 1), (2, 2)], "src bigint, dst bigint")
    assert connected_components(loops).count() == 0


def test_connected_components_long_chain(spark):
    """A 1,000-node path, listed out of order, is one component on both
    paths (the worst case for naive label propagation)."""
    rng = random.Random(5)
    edges = [(i, i + 1) for i in range(999)]
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "src int, dst int")
    fast, loop = _cc_paths(df)
    assert fast == loop == {i: 0 for i in range(1000)}


@pytest.mark.parametrize("seed", range(20))
def test_min_label_components_kernel_vs_oracle(seed):
    """The numpy kernel alone, on larger random graphs than the Spark tests
    can afford, including many small components and adversarial labels."""
    import numpy as np

    rng = random.Random(seed)
    n = rng.randint(2, 3000)
    m = rng.randint(1, 4000)
    edges = [(rng.randrange(n) * 7919 % 100_003, rng.randrange(n) * 7919 % 100_003)
             for _ in range(m)]
    edges = [(a, b) for a, b in edges if a != b]
    src = np.array([a for a, _ in edges], dtype=np.int64)
    dst = np.array([b for _, b in edges], dtype=np.int64)
    nodes, comp = min_label_components(src, dst)
    assert dict(zip(nodes.tolist(), comp.tolist())) == _cc_oracle(edges)
    empty, empty_comp = min_label_components(src[:0], dst[:0])
    assert len(empty) == len(empty_comp) == 0


@pytest.mark.parametrize("seed", [3, 4])
def test_connected_components_pre_contract_equivalence(spark, seed):
    """The pre-contracted distributed loop (VERDICT r4 #2) must equal the
    oracle — including on graphs with dense cliques (the case contraction
    accelerates) and isolated 2-node components (the fully-collapsed
    expansion edge case)."""
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(50)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(rng.randint(15, 60))
    ]
    clique = [f"q{i:02d}" for i in range(8)]
    edges += [(a, b) for a in clique for b in clique if a < b]
    edges += [("z98", "z99")]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    # a zero budget pins the run to the distributed loop
    loop = {r["node"]: r["component"] for r in connected_components(
        df, max_broadcast_nodes=0).collect()}
    assert loop == _cc_oracle(edges)


def test_connected_components_chain(spark):
    # worst case for naive propagation; large/small star handles in O(log n)
    edges = [(f"c{i:02d}", f"c{i+1:02d}") for i in range(30)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert set(got.values()) == {"c00"}
    assert len(got) == 31


# ---------- fixture pipeline through clean ----------

@pytest.fixture(scope="module")
def fixture_counts(spark):
    pages = synth_pages(spark, n_pages=400, seed=42, n_bases=12, homonyms=3)
    index = synth_title_index(spark, n_bases=12, homonyms=3)
    pars = extract_paragraphs(pages, index)
    return anchor_counts(pars, min_count=1).cache(), index


def test_log_gap_steps_prefix_cut(spark):
    """O5 (reference clean.py:31-49): the candidate list is cut at the FIRST
    relative log-gap above the cutoff — the gap row and everything after it
    drop, even if later gaps are small again."""
    from minimel_spark.operators.clean import log_gap_steps

    rows = [
        # anchor 'a': 1000, 900 (tiny gap), 2 (huge gap -> cut), 1 (after cut)
        ("a", 1, 1000), ("a", 2, 900), ("a", 3, 2), ("a", 4, 1),
        # anchor 'b': no gap above cutoff -> all kept
        ("b", 5, 50), ("b", 6, 40), ("b", 7, 30),
        # anchor 'c': singleton (step 0) kept
        ("c", 8, 7),
    ]
    df = spark.createDataFrame(rows, "anchor string, qid long, cnt long")
    got = {(r["anchor"], r["qid"]) for r in log_gap_steps(df, cutoff=0.7).collect()}
    assert got == {("a", 1), ("a", 2), ("b", 5), ("b", 6), ("b", 7), ("c", 8)}
    # count ties break by qid ascending (determinism delta, documented):
    # equal counts have step 0, so ties never cut — but order must be stable
    tie = spark.createDataFrame(
        [("t", 9, 5), ("t", 10, 5), ("t", 11, 1)], "anchor string, qid long, cnt long"
    )
    # (5 -> 1): step = (ln5+1 - ln1-1)/(ln5+1) = 0.617 < 0.7 -> kept
    assert log_gap_steps(tie, cutoff=0.7).count() == 3
    assert log_gap_steps(tie, cutoff=0.5).count() == 2  # cut fires on qid 11


def test_clean_produces_ranked_ambiguous_candidates(spark, fixture_counts):
    counts, index = fixture_counts
    out = clean(counts, index, min_count=2).cache()
    rows = out.collect()
    assert rows
    # every anchor's rank sequence starts at 1 and is dense
    import collections

    by_anchor = collections.defaultdict(list)
    for r in rows:
        by_anchor[r["anchor"]].append(r["rank"])
    for a, ranks in by_anchor.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # weights are count+1 (no freqnorm)
    assert all(r["weight"] >= 3 for r in rows)  # min_count=2 -> weight >= 3


def test_clean_badents_removed(spark, fixture_counts):
    counts, index = fixture_counts
    some_qid = counts.select("qid").first()["qid"]
    bad = spark.createDataFrame([(some_qid,)], "qid long")
    out = clean(counts, index, badents=bad, min_count=2)
    assert out.where(F.col("qid") == some_qid).count() == 0


def test_clean_disambig_names_survive_filters(spark, fixture_counts):
    counts, index = fixture_counts
    # pick an ambiguous anchor, pretend it's a disambiguation page title
    from minimel_spark.operators.clean import ambiguous_only

    a = ambiguous_only(counts).first()
    disambig = spark.createDataFrame(
        [(a["anchor"].capitalize(), a["qid"])], "title string, qid long"
    )
    out = clean(counts, index, disambig=disambig, min_count=2)
    assert out.where(F.col("anchor") == a["anchor"]).count() >= 1


def test_quantile_top_shadowed(spark, fixture_counts):
    counts, index = fixture_counts
    full = clean(counts, index, min_count=2)
    q = clean(counts, index, min_count=2, quantile_top_shadowed_q=0.5).collect()
    assert 0 < len(q) < full.count()
    # every kept anchor retains its top candidate
    kept_anchors = {r["anchor"] for r in q}
    tops = {r["anchor"] for r in q if r["rank"] == 1}
    assert kept_anchors == tops


def test_quantile_top_shadowed_no_global_sort_limit(spark, fixture_counts):
    """Scale guard: the top-quantile cut must not compile to a global
    TakeOrderedAndProject over the shadowed table — at web scale
    keep_n = quantile * n_shadowed is billions of rows funneled through one
    task. The per-weight threshold form sorts only the (tiny) distinct-weight
    table and the single boundary-weight slice."""
    from minimel_spark.operators.clean import quantile_top_shadowed, rank_candidates

    counts, _ = fixture_counts
    ranked = rank_candidates(
        counts.withColumn("weight", (F.col("cnt") + 1).cast("long")).select(
            "anchor", "qid", "weight"
        )
    )
    out = quantile_top_shadowed(ranked, quantile=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan
    # and the distinct-weight prefix sum must be the two-level partitioned
    # form, never a global single-partition window (r5: log2-bucketed
    # within-bucket cumsum + broadcast triangle-join offsets). The only
    # SinglePartition exchanges allowed are the 1-row scalar-aggregate
    # reduces (the global total) — never a Sort/Window funnel.
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            above = " ".join(lines[max(0, i - 2) : i])
            assert "Window" not in above and "Sort" not in above, plan


def test_clean_strict_world_every_filter_fires(spark, sf_dir):
    """On the strict world (synth.STRICT_WORLD_NOTE) each bad-name filter is
    LIVE: moving any one threshold changes the output — i.e. the
    er_clean_strict gate hash genuinely depends on entropy, countratio AND
    tokenscore, unlike the degenerate documents world where none ever fired."""
    from minimel_spark.sources.synth import strict_clean_world

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts, titles = strict_clean_world(docs)

    def run(**kw):
        out = clean(counts, titles, min_count=1, freqnorm=True, **kw)
        return {(r["anchor"], r["qid"]) for r in out.collect()}

    base = run()
    # entropy branch disabled -> even-length frequent anchors come back
    assert run(entropy_threshold=1e9) > base
    # countratio branch disabled -> the planted rare 'qq*' anchors come back
    no_cr = run(countratio_threshold=1e9)
    assert no_cr > base
    assert any(a.startswith("qq") for a, _ in no_cr - base)
    # tokenscore gate widened -> even perfect-title anchors face the
    # entropy test (entropy ~ ln 8 > 1 here) and get dropped
    assert run(tokenscore_threshold=2.0) < base


# ---------- M4 cluster equivalence: pairwise F1 >= 0.99 ----------

def _reference_cluster_closure(name_scores, threshold):
    """Driver-side replica of the reference cluster() edge rule
    (minimel/clean.py:87-114) with order-independent transitive closure."""
    ns = {a: {e: math.log1p(c) for e, c in ec.items()} for a, ec in name_scores.items()}
    ns = {
        a: {e: c / t for t in [sum(v**2 for v in ec.values()) ** 0.5] for e, c in ec.items()}
        for a, ec in ns.items()
    }
    id_anchors = {}
    for a, es in ns.items():
        for e in es:
            id_anchors.setdefault(e, set()).add(a)
    edges = []
    for a, es in ns.items():
        others = set.union(*[id_anchors[e] for e in es]) - {a}
        for o in others:
            shared = set(ns[o]) & set(es)
            score = sum(ns[o][v] * es[v] for v in shared)
            if score > threshold:
                edges.append((a, o))
    comp = _cc_oracle(edges)
    return {a: comp.get(a, a) for a in ns}


def _pairs(assign):
    import itertools

    by_c = {}
    for a, c in assign.items():
        by_c.setdefault(c, []).append(a)
    out = set()
    for ms in by_c.values():
        out |= {tuple(sorted(p)) for p in itertools.combinations(ms, 2)}
    return out


def test_cluster_pairwise_f1_vs_reference(spark, fixture_counts):
    counts, index = fixture_counts
    cands = rank_candidates(
        counts.where(F.col("cnt") >= 2).withColumn(
            "weight", (F.col("cnt") + 1).cast("long")
        )
    )
    # driver-side name_scores dict from the same candidates
    rows = cands.collect()
    name_scores = {}
    for r in rows:
        name_scores.setdefault(r["anchor"], {})[r["qid"]] = r["weight"]
    ref = _reference_cluster_closure(name_scores, threshold=0.5)

    membership, cluster_scores = cluster_candidates(cands, score_threshold=0.5)
    got = {r["anchor"]: r["cluster_id"] for r in membership.collect()}
    assert set(got) == set(ref)

    ref_pairs, got_pairs = _pairs(ref), _pairs(got)
    tp = len(ref_pairs & got_pairs)
    prec = tp / len(got_pairs) if got_pairs else 1.0
    rec = tp / len(ref_pairs) if ref_pairs else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    assert ref_pairs, "fixture produced no reference cluster pairs"
    assert f1 >= 0.99, f"pairwise F1 {f1} < 0.99 (p={prec}, r={rec})"

    # cluster_scores: per-cluster normalized weight sums are positive
    cs = cluster_scores.collect()
    assert cs and all(r["weight"] > 0 for r in cs)


def test_variant_world_cluster_f1_vs_reference(spark):
    """North-rule acceptance on the VARIANT corpus (synth.VARIANT_WORLD_NOTE):
    name clusters must match the reference cluster() closure at pairwise
    F1 >= 0.99, and the reference closure itself must equal the planted
    entity partition (variants of one entity share its argmax qid; entities
    only share the weak decoy qid, whose cross score 0.285 < 0.5)."""
    from minimel_spark.operators.count import anchor_counts
    from minimel_spark.operators.extract import extract_paragraphs
    from minimel_spark.sources.synth import variant_world

    pages, index, vdim = variant_world(spark, n_entities=20, copies=2)
    counts = anchor_counts(extract_paragraphs(pages, index), min_count=1)
    cands = clean(counts, index, min_count=1)
    rows = cands.collect()
    name_scores = {}
    for r in rows:
        name_scores.setdefault(r["anchor"], {})[r["qid"]] = r["weight"]
    ref = _reference_cluster_closure(name_scores, threshold=0.5)

    # the reference closure recovers the planted partition exactly
    gold = {r["name"]: r["entity_id"] for r in vdim.collect()}
    assert _pairs(ref) == _pairs({n: gold[n] for n in ref})

    membership, _ = cluster_candidates(cands, score_threshold=0.5)
    got = {r["anchor"]: r["cluster_id"] for r in membership.collect()}
    ref_pairs, got_pairs = _pairs(ref), _pairs(got)
    tp = len(ref_pairs & got_pairs)
    prec = tp / len(got_pairs) if got_pairs else 1.0
    rec = tp / len(ref_pairs) if ref_pairs else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    assert ref_pairs, "variant world produced no reference cluster pairs"
    assert f1 >= 0.99, f"pairwise F1 {f1} < 0.99 (p={prec}, r={rec})"


def test_pair_cap_limits_edges(spark, fixture_counts):
    counts, index = fixture_counts
    cands = rank_candidates(
        counts.where(F.col("cnt") >= 2).withColumn(
            "weight", (F.col("cnt") + 1).cast("long")
        )
    )
    uncapped = similarity_edges(cands, 0.0).count()
    capped = similarity_edges(cands, 0.0, max_anchors_per_entity=2).count()
    assert capped < uncapped


# --------------------------------------------------------------------------
# incremental_components (fold a new edge batch into an existing clustering)
# --------------------------------------------------------------------------

from minimel_spark.operators.cluster import incremental_components  # noqa: E402


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _cc_py(pairs):
    """Union-find reference."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_incremental_equals_full_recompute(spark):
    import random

    rng = random.Random(7)
    batch1 = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    batch1 = [(a, b) for a, b in batch1 if a != b]
    batch2 = [(rng.randrange(90), rng.randrange(90)) for _ in range(40)]
    batch2 = [(a, b) for a, b in batch2 if a != b]
    prev = connected_components(_edges(spark, batch1))
    got = {
        r["node"]: r["component"]
        for r in incremental_components(prev, _edges(spark, batch2)).collect()
    }
    assert got == _cc_py(batch1 + batch2)


def test_incremental_merges_across_old_components(spark):
    # old: {1,2}, {10,11}, {20,21}; new edge 2-10 merges the first two
    prev = connected_components(_edges(spark, [(1, 2), (10, 11), (20, 21)]))
    got = {
        r["node"]: r["component"]
        for r in incremental_components(prev, _edges(spark, [(2, 10)])).collect()
    }
    assert got == {1: 1, 2: 1, 10: 1, 11: 1, 20: 20, 21: 20}


def test_incremental_untouched_pass_through_without_cc(spark):
    # the untouched component {20,21} must NOT enter the iterative loop:
    # feed a poisoned max_iter=1 graph where re-running CC on everything
    # would still converge, so instead check the merged frame's lineage by
    # counting rows flowing through the anti-join side
    prev = connected_components(_edges(spark, [(1, 2), (20, 21)]))
    out = incremental_components(prev, _edges(spark, [(2, 3)]))
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 20: 20, 21: 20}


def test_incremental_new_nodes_only_batch(spark):
    prev = connected_components(_edges(spark, [(1, 2)]))
    got = {
        r["node"]: r["component"]
        for r in incremental_components(prev, _edges(spark, [(100, 101)])).collect()
    }
    assert got == {1: 1, 2: 1, 100: 100, 101: 100}


def test_incremental_empty_prev(spark):
    prev = connected_components(_edges(spark, [(1, 2)])).where(F.lit(False))
    got = {
        r["node"]: r["component"]
        for r in incremental_components(prev, _edges(spark, [(5, 6)])).collect()
    }
    assert got == {5: 5, 6: 5}


# --------------------------------------------------------------------------
# threshold operating curve
# --------------------------------------------------------------------------

from minimel_spark.operators.cluster import threshold_curve


def _curve_edges(spark):
    # two chains that merge as the threshold drops:
    # t=0.9: {1,2}            t=0.7: {1,2,3} {4,5}      t=0.5: {1..5} + {6,7}
    rows = [
        (1, 2, 0.95),
        (2, 3, 0.75),
        (4, 5, 0.8),
        (3, 4, 0.55),
        (6, 7, 0.5),
    ]
    return spark.createDataFrame(rows, "src long, dst long, score double")


def test_threshold_curve_values(spark):
    got = {
        r["threshold"]: (
            r["n_edges"],
            r["n_records"],
            r["n_clusters"],
            r["largest"],
            r["pairs_within"],
        )
        for r in threshold_curve(_curve_edges(spark), [0.9, 0.7, 0.5]).collect()
    }
    assert got[0.9] == (1, 2, 1, 2, 1)
    assert got[0.7] == (3, 5, 2, 3, 4)  # {1,2,3} {4,5}: C(3,2)+C(2,2)=3+1
    assert got[0.5] == (5, 7, 2, 5, 11)  # {1..5} {6,7}: 10 + 1


def test_threshold_curve_matches_full_recompute(spark):
    # incremental folding must equal an independent full CC per threshold
    edges = _curve_edges(spark)
    curve = {
        r["threshold"]: (r["n_records"], r["n_clusters"], r["largest"])
        for r in threshold_curve(edges, [0.9, 0.7, 0.55, 0.5]).collect()
    }
    from minimel_spark.operators.cluster import connected_components

    for t in (0.9, 0.7, 0.55, 0.5):
        memb = connected_components(
            edges.where(F.col("score") >= t).select("src", "dst")
        )
        sizes = [r["n"] for r in memb.groupBy("component").agg(
            F.count(F.lit(1)).alias("n")).collect()]
        assert curve[t] == (sum(sizes), len(sizes), max(sizes))


def test_threshold_curve_empty_top_bin_and_guards(spark):
    rows = threshold_curve(_curve_edges(spark), [0.99, 0.5]).collect()
    by_t = {r["threshold"]: r for r in rows}
    assert by_t[0.99]["n_edges"] == 0
    assert by_t[0.99]["n_clusters"] == 0
    assert by_t[0.99]["largest"] == 0
    assert by_t[0.5]["n_records"] == 7
    with pytest.raises(ValueError):
        threshold_curve(_curve_edges(spark), [])


def test_threshold_curve_partitioning_invariant(spark):
    edges = _curve_edges(spark)
    a = sorted(tuple(r) for r in threshold_curve(edges, [0.9, 0.6]).collect())
    b = sorted(
        tuple(r)
        for r in threshold_curve(edges.repartition(11), [0.6, 0.9, 0.9]).collect()
    )
    assert a == b


# --------------------------------------------------------------------------
# articulation records (cut-vertex audit)
# --------------------------------------------------------------------------

from minimel_spark.operators.cluster import articulation_records


def _art_frames(spark, edges, assigns):
    e = spark.createDataFrame(edges, "rec_id_a string, rec_id_b string")
    a = spark.createDataFrame(assigns, "node string, component string")
    return a, e


def test_articulation_path_star_triangle(spark):
    # path a-b-c (cut: b), triangle d-e-f (none), star g<-{h,i,j} (cut: g)
    assigns = (
        [("a", "A"), ("b", "A"), ("c", "A")]
        + [("d", "D"), ("e", "D"), ("f", "D")]
        + [("g", "G"), ("h", "G"), ("i", "G"), ("j", "G")]
    )
    edges = [
        ("a", "b"), ("b", "c"),
        ("d", "e"), ("e", "f"), ("d", "f"),
        ("g", "h"), ("g", "i"), ("g", "j"),
    ]
    a, e = _art_frames(spark, edges, assigns)
    got = {
        (r["cluster_id"], r["rec_id"]): r["n_components_after"]
        for r in articulation_records(a, e).collect()
    }
    assert got == {("A", "b"): 2, ("G", "g"): 3}


def test_articulation_shared_vertex_and_leaf_never_flagged(spark):
    # two triangles sharing vertex x: x is the only cut vertex; leaves of
    # the triangles and the pendant leaf p (attached to x) are not flagged,
    # but p makes x split into 3
    assigns = [(n, "C") for n in ["x", "a", "b", "c", "d", "p"]]
    edges = [
        ("x", "a"), ("a", "b"), ("x", "b"),
        ("x", "c"), ("c", "d"), ("x", "d"),
        ("x", "p"),
    ]
    a, e = _art_frames(spark, edges, assigns)
    got = {
        (r["cluster_id"], r["rec_id"]): r["n_components_after"]
        for r in articulation_records(a, e).collect()
    }
    assert got == {("C", "x"): 3}


def test_articulation_isolated_member_not_flagged_and_base_adjusted(spark):
    # cluster with an edgeless member z (e.g. blocking-only): base graph has
    # 2 components ({a,b,c}, {z}); removing b still splits {a,c} -> flagged;
    # removing z leaves 1 < 2 -> not flagged
    assigns = [("a", "K"), ("b", "K"), ("c", "K"), ("z", "K")]
    edges = [("a", "b"), ("b", "c")]
    a, e = _art_frames(spark, edges, assigns)
    got = {
        (r["cluster_id"], r["rec_id"]): r["n_components_after"]
        for r in articulation_records(a, e).collect()
    }
    assert got == {("K", "b"): 3}  # {a}, {c}, {z}


def test_articulation_cap_and_size_filters(spark):
    # size-2 cluster ignored; cluster over the cap skipped entirely
    assigns = [("a", "S"), ("b", "S")] + [(f"n{i}", "BIG") for i in range(5)]
    edges = [("a", "b")] + [(f"n{i}", f"n{i+1}") for i in range(4)]
    a, e = _art_frames(spark, edges, assigns)
    assert articulation_records(a, e, max_cluster_size=4).count() == 0
    # with the cap raised the chain's interior is flagged
    got = {r["rec_id"] for r in articulation_records(a, e, max_cluster_size=8).collect()}
    assert got == {"n1", "n2", "n3"}
    with pytest.raises(ValueError):
        articulation_records(a, e, max_cluster_size=2)


def test_articulation_partitioning_invariant(spark):
    assigns = [(f"r{i}", "C") for i in range(10)]
    edges = [(f"r{i}", f"r{i+1}") for i in range(9)] + [("r0", "r3")]
    a, e = _art_frames(spark, edges, assigns)
    one = sorted(tuple(r) for r in articulation_records(a, e).collect())
    other = sorted(
        tuple(r)
        for r in articulation_records(a.repartition(7), e.repartition(5)).collect()
    )
    assert one == other and len(one) > 0


# ---------- pivot (KwikCluster) correlation clustering ----------

def _pivot_oracle(edges, extra_nodes=(), salt="pivot"):
    """Round-by-round pure-Python mirror of pivot_clusters: md5-ranked
    parallel KwikCluster (Chierichetti/Dalvi/Kumar KDD'14)."""
    import hashlib

    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    rk = lambda v: hashlib.md5(f"{salt}{v}".encode()).hexdigest() + str(v)
    active = set(adj) | set(extra_nodes)
    assign = {}
    while active:
        piv = {
            u
            for u in active
            if not any(v in active for v in adj.get(u, ()))
            or rk(u) < min(rk(v) for v in adj.get(u, ()) if v in active)
        }
        settled = {u: u for u in piv}
        for u in active - piv:
            pn = [v for v in adj.get(u, ()) if v in piv]
            if pn:
                settled[u] = min(pn, key=rk)
        assign.update(settled)
        active -= set(settled)
    return assign


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_pivot_clusters_random_graphs(spark, seed):
    from minimel_spark.operators.cluster import pivot_clusters

    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(60)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(rng.randint(20, 80))
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["cluster"] for r in pivot_clusters(df).collect()}
    assert got == _pivot_oracle(edges)


def test_pivot_clusters_star_property_vs_transitive_chain(spark):
    """The semantic contrast with connected_components: every member must be
    DIRECTLY adjacent to its pivot (radius-1 star), so a 30-edge chain —
    one transitive component — must split into clusters of size <= 3
    (a path node has degree <= 2: pivot + its direct neighbours)."""
    from minimel_spark.operators.cluster import pivot_clusters

    edges = [(f"c{i:02d}", f"c{i+1:02d}") for i in range(30)]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = pivot_clusters(df).collect()
    assert len(rows) == 31
    sizes = {}
    for r in rows:
        sizes[r["cluster"]] = sizes.get(r["cluster"], 0) + 1
        # star property: member is the pivot itself or directly adjacent
        assert r["node"] == r["cluster"] or r["cluster"] in adj[r["node"]]
    assert len(sizes) > 1 and max(sizes.values()) <= 3
    # contrast: transitive closure chains the whole path into one component
    assert connected_components(df).select("component").distinct().count() == 1


def test_pivot_clusters_edge_free_nodes_and_partitioning(spark):
    from minimel_spark.operators.cluster import pivot_clusters

    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    nodes = spark.createDataFrame(
        [("a",), ("iso1",), ("iso2",)], "node string"
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["cluster"] for r in pivot_clusters(df, nodes=nodes).collect()}
    assert got == _pivot_oracle(edges, extra_nodes=["iso1", "iso2"])
    assert got["iso1"] == "iso1" and got["iso2"] == "iso2"
    other = {
        r["node"]: r["cluster"]
        for r in pivot_clusters(df.repartition(5), nodes=nodes.repartition(3)).collect()
    }
    assert got == other


# ---------- correlation-clustering disagreement objective ----------

def _disagreement_oracle(edges, assign):
    """Brute-force pair enumeration (the thing the operator must never do)."""
    import itertools

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    pos_cut = sum(1 for a, b in und if assign[a] != assign[b])
    neg_within = sum(
        1
        for a, b in itertools.combinations(sorted(assign), 2)
        if assign[a] == assign[b] and (a, b) not in und
    )
    return pos_cut, neg_within


@pytest.mark.parametrize("seed", [0, 1])
def test_clustering_disagreement_vs_bruteforce(spark, seed):
    from minimel_spark.operators.cluster import (
        clustering_disagreement,
        pivot_clusters,
    )

    rng = random.Random(seed)
    nodes = [f"n{i:02d}" for i in range(30)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(40)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    ndf = spark.createDataFrame([(n,) for n in nodes], "node string")
    for method, assign_df in (
        ("pivot", pivot_clusters(df, nodes=ndf)),
        (
            "transitive",
            ndf.join(
                connected_components(df).withColumnRenamed("component", "cl"),
                "node",
                "left",
            ).select("node", F.coalesce("cl", "node").alias("cl")),
        ),
    ):
        assign = {r[0]: r[1] for r in assign_df.collect()}
        row = clustering_disagreement(df, assign_df, method=method).first()
        pos_cut, neg_within = _disagreement_oracle(edges, assign)
        assert row["method"] == method
        assert row["n_nodes"] == 30
        assert (row["pos_cut"], row["neg_within"]) == (pos_cut, neg_within)
        assert row["disagreement"] == pos_cut + neg_within
    # transitive closure by construction never cuts a positive edge
    assert (
        clustering_disagreement(
            df,
            ndf.join(
                connected_components(df).withColumnRenamed("component", "cl"),
                "node",
                "left",
            ).select("node", F.coalesce("cl", "node").alias("cl")),
        ).first()["pos_cut"]
        == 0
    )


def test_clustering_disagreement_chain_tradeoff(spark):
    """On a 10-node path: closure pays every chained non-neighbour pair
    (C(10,2) - 9 = 36 neg_within), pivot stars pay cut edges instead —
    and the pivot objective must be strictly better on this shape."""
    from minimel_spark.operators.cluster import (
        clustering_disagreement,
        pivot_clusters,
    )

    edges = [(f"c{i}", f"c{i+1}") for i in range(9)]
    df = spark.createDataFrame(edges, "src string, dst string")
    closure = df.selectExpr("src as node").union(df.selectExpr("dst")).distinct() \
        .withColumn("cl", F.lit("c0"))
    t = clustering_disagreement(df, closure).first()
    assert (t["pos_cut"], t["neg_within"]) == (0, 45 - 9)
    p = clustering_disagreement(df, pivot_clusters(df)).first()
    assert p["disagreement"] < t["disagreement"]


def test_clustering_disagreement_empty_edges(spark):
    from minimel_spark.operators.cluster import clustering_disagreement

    df = spark.createDataFrame([], "src string, dst string")
    assign = spark.createDataFrame([("a", "x"), ("b", "x")], "node string, cl string")
    row = clustering_disagreement(df, assign).first()
    assert (row["n_pos_edges"], row["pos_cut"], row["neg_within"]) == (0, 0, 1)


# ---------- constrained pivot clustering ----------

def test_constrained_pivot_no_constraints_identical(spark):
    from minimel_spark.operators.cluster import (
        constrained_pivot_clusters,
        pivot_clusters,
    )

    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(40)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    want = sorted(map(tuple, pivot_clusters(df).collect()))
    got = sorted(map(tuple, constrained_pivot_clusters(df).collect()))
    assert got == want


def test_constrained_pivot_must_link_is_transitive(spark):
    from minimel_spark.operators.cluster import constrained_pivot_clusters

    edges = spark.createDataFrame([("a", "z")], "src string, dst string")
    ml = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    got = {r["node"]: r["cluster"] for r in
           constrained_pivot_clusters(edges, must_link=ml).collect()}
    # a, b, c confirmed-same: one cluster regardless of classifier edges
    assert got["a"] == got["b"] == got["c"]
    assert set(got) == {"a", "b", "c", "z"}


def test_constrained_pivot_cannot_link_severs_direct_edge(spark):
    from minimel_spark.operators.cluster import (
        constrained_pivot_clusters,
        pivot_clusters,
    )

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    clk = spark.createDataFrame([("b", "a")], "src string, dst string")
    base = {r["node"]: r["cluster"] for r in pivot_clusters(edges).collect()}
    assert base["a"] == base["b"]  # classifier would merge them
    got = {r["node"]: r["cluster"] for r in
           constrained_pivot_clusters(edges, cannot_link=clk).collect()}
    assert got["a"] != got["b"]


def test_constrained_pivot_residual_shared_pivot_eviction(spark):
    """x5 outranks x14 and x8 (md5 pivot order), so unconstrained both join
    pivot x5; cannot-link(x14, x8) has no direct edge to drop — the
    larger-rank member (x8) must be deterministically evicted to a
    singleton while x14 stays with the pivot."""
    from minimel_spark.operators.cluster import (
        constrained_pivot_clusters,
        pivot_clusters,
    )

    edges = spark.createDataFrame(
        [("x5", "x14"), ("x5", "x8")], "src string, dst string"
    )
    base = {r["node"]: r["cluster"] for r in pivot_clusters(edges).collect()}
    assert base == {"x5": "x5", "x14": "x5", "x8": "x5"}
    clk = spark.createDataFrame([("x14", "x8")], "src string, dst string")
    got = {r["node"]: r["cluster"] for r in
           constrained_pivot_clusters(edges, cannot_link=clk).collect()}
    assert got == {"x5": "x5", "x14": "x5", "x8": "x8"}


def test_constrained_pivot_infeasible_raises(spark):
    from minimel_spark.operators.cluster import constrained_pivot_clusters

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    ml = spark.createDataFrame([("a", "b")], "src string, dst string")
    clk = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="infeasible"):
        constrained_pivot_clusters(edges, must_link=ml, cannot_link=clk)


def test_constrained_pivot_cross_group_cannot_link_and_expand(spark):
    """Two must-groups linked by classifier edges but forbidden by a
    cannot-link between ANY pair of their members: the super-edge drops,
    groups stay separate clusters, and every record expands back."""
    from minimel_spark.operators.cluster import constrained_pivot_clusters

    edges = spark.createDataFrame(
        [("a1", "b1"), ("a2", "b2")], "src string, dst string"
    )
    ml = spark.createDataFrame(
        [("a1", "a2"), ("b1", "b2")], "src string, dst string"
    )
    clk = spark.createDataFrame([("a2", "b1")], "src string, dst string")
    got = {r["node"]: r["cluster"] for r in
           constrained_pivot_clusters(edges, must_link=ml, cannot_link=clk).collect()}
    assert set(got) == {"a1", "a2", "b1", "b2"}
    assert got["a1"] == got["a2"] and got["b1"] == got["b2"]
    assert got["a1"] != got["b1"]
    # without the constraint the same input merges all four
    merged = {r["node"]: r["cluster"] for r in
              constrained_pivot_clusters(edges, must_link=ml).collect()}
    assert len(set(merged.values())) == 1


# ---------- constraint-violation audit ----------

def test_constraint_violations_kinds_and_coalesce(spark):
    from minimel_spark.operators.cluster import constraint_violations

    assign = spark.createDataFrame(
        [("a", "k1"), ("b", "k1"), ("c", "k2")], "node string, cl string"
    )
    ml = spark.createDataFrame(
        [("a", "c"), ("a", "b"), ("b", "zz")], "src string, dst string"
    )
    clk = spark.createDataFrame(
        [("b", "a"), ("a", "c"), ("d", "d")], "src string, dst string"
    )
    rows = {
        (r["kind"], r["src"], r["dst"]): (r["cluster_src"], r["cluster_dst"])
        for r in constraint_violations(assign, must_link=ml, cannot_link=clk).collect()
    }
    # (a,c) split across k1/k2 violates must; (a,b) co-clustered is fine;
    # (b,zz): zz unassigned -> singleton 'zz' -> violated must
    # cannot (a,b) co-clustered in k1 violates; cannot (a,c) split is fine;
    # self-pair (d,d) dropped
    assert rows == {
        ("must_link", "a", "c"): ("k1", "k2"),
        ("must_link", "b", "zz"): ("k1", "zz"),
        ("cannot_link", "a", "b"): ("k1", "k1"),
    }
    with pytest.raises(ValueError, match="at least one"):
        constraint_violations(assign)


def test_constrained_output_audits_clean(spark):
    """The formation-time operator and the audit must agree: auditing
    constrained_pivot_clusters' own output against the same constraints
    finds zero violations."""
    from minimel_spark.operators.cluster import (
        constrained_pivot_clusters,
        constraint_violations,
    )

    rng = random.Random(11)
    nodes = [f"n{i:02d}" for i in range(30)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(40)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    ml = spark.createDataFrame([("n01", "n02"), ("n03", "n04")], "src string, dst string")
    clk = spark.createDataFrame(
        [(a, b) for a, b in edges[:6] if {a, b} not in ({"n01", "n02"}, {"n03", "n04"})][:4],
        "src string, dst string",
    )
    out = constrained_pivot_clusters(df, must_link=ml, cannot_link=clk)
    assert constraint_violations(out, must_link=ml, cannot_link=clk).count() == 0


def test_constraint_loop_end_to_end(spark):
    """The full human-in-the-loop arc on a controlled two-entity world:
    noisy scores -> transitive closure chains both entities through one
    bridge false-positive (pairwise F1 0.6) -> review_queue surfaces the
    bridge among the most uncertain pairs -> gold-derived labels ->
    constrained_pivot_clusters recovers the exact entities (F1 1.0) ->
    constraint_violations audits clean."""
    from minimel_spark.operators.cluster import (
        connected_components,
        constrained_pivot_clusters,
        constraint_violations,
    )
    from minimel_spark.operators.evaluate import pairwise_f1
    from minimel_spark.operators.scoring import match_edges, review_queue

    gold_entity = {f"a{i}": "A" for i in range(1, 5)}
    gold_entity.update({f"b{i}": "B" for i in range(1, 5)})
    scores = [
        # entity A: near-clique of confident matches, one uncertain miss
        ("a1", "a2", 0.9), ("a2", "a3", 0.8), ("a3", "a4", 0.85),
        ("a1", "a3", 0.75), ("a1", "a4", 0.45),
        # entity B: clique of confident matches
        ("b1", "b2", 0.9), ("b2", "b3", 0.8), ("b3", "b4", 0.85),
        ("b1", "b3", 0.7), ("b1", "b4", 0.7), ("b2", "b4", 0.75),
        # the chaining error: one barely-above-threshold bridge
        ("a1", "b1", 0.55),
        # a confident non-match for queue contrast
        ("a2", "b2", 0.05),
    ]
    scored = spark.createDataFrame(
        scores, "rec_id_a string, rec_id_b string, score double"
    )
    gold = spark.createDataFrame(
        list(gold_entity.items()), "rec_id string, cluster_id string"
    )
    edges = match_edges(scored, 0.5)

    # 1. unconstrained transitive closure: the bridge chains A and B
    cc = connected_components(edges)
    closure = gold.select("rec_id").join(
        cc.withColumnRenamed("node", "rec_id"), "rec_id", "left"
    ).select("rec_id", F.coalesce("component", "rec_id").alias("cluster_id"))
    before = pairwise_f1(closure, gold)
    assert before["precision"] < 0.5 and before["recall"] == 1.0
    assert before["f1"] == pytest.approx(0.6)

    # 2. the review queue surfaces the bridge among the top-3 uncertain
    queue = review_queue(scored, k=3).collect()
    picked = {(r["rec_id_a"], r["rec_id_b"]) for r in queue}
    assert ("a1", "b1") in picked

    # 3. simulated reviewer: label the queue from gold
    must = [(a, b) for a, b in picked if gold_entity[a] == gold_entity[b]]
    cannot = [(a, b) for a, b in picked if gold_entity[a] != gold_entity[b]]
    assert must and cannot
    ml = spark.createDataFrame(must, "src string, dst string")
    clk = spark.createDataFrame(cannot, "src string, dst string")

    # 4. constrained re-cluster recovers the exact entities
    out = constrained_pivot_clusters(edges, must_link=ml, cannot_link=clk)
    after = pairwise_f1(
        out.select(F.col("node").alias("rec_id"), F.col("cluster").alias("cluster_id")),
        gold,
    )
    assert after["f1"] == 1.0

    # 5. and audits clean against the labels that produced it
    assert constraint_violations(out, must_link=ml, cannot_link=clk).count() == 0


def test_incremental_assign_attach_mint_and_tiebreak(spark):
    from minimel_spark.operators.cluster import incremental_assign

    registry = spark.createDataFrame(
        [(10, "martha"), (20, "martin"), (30, "zoe")],
        "cluster_id long, rep_name string",
    )
    batch = spark.createDataFrame(
        [("r1", "marhta"),   # JW(marhta, martha) ~ 0.96 -> attach to 10
         ("r2", "qqqqqq"),   # no same-letter rep -> mint
         ("r3", "zye")],     # JW(zye, zoe) ~ 0.6 < 0.8 -> mint
        "rec_id string, name string",
    )
    out = {r["rec_id"]: r for r in incremental_assign(registry, batch, 0.8).collect()}
    assert out["r1"]["matched"] and out["r1"]["cluster_id"] == "10"
    assert out["r1"]["score"] > 0.9
    assert not out["r2"]["matched"] and out["r2"]["cluster_id"] == "new:r2"
    assert out["r2"]["score"] is None
    assert not out["r3"]["matched"] and out["r3"]["cluster_id"] == "new:r3"
    # every batch record appears exactly once
    assert len(out) == 3


def test_incremental_assign_prefers_higher_score_then_smaller_cluster(spark):
    import pytest

    from minimel_spark.operators.cluster import incremental_assign

    # two reps with IDENTICAL name -> identical score; tie breaks to the
    # lexicographically smaller cluster id string
    registry = spark.createDataFrame(
        [(2, "anna"), (1, "anna"), (3, "annb")],
        "cluster_id long, rep_name string",
    )
    batch = spark.createDataFrame([("x", "anna")], "rec_id string, name string")
    r = incremental_assign(registry, batch, 0.8).collect()[0]
    assert r["cluster_id"] == "1" and r["score"] == 1.0
    with pytest.raises(ValueError):
        incremental_assign(registry, batch, 0.0)


def test_cluster_depth_audit_chain_vs_star(spark):
    import pytest

    from minimel_spark.operators.cluster import cluster_depth_audit

    asg = spark.createDataFrame(
        [(i, "chain") for i in range(5)] + [(10 + i, "star") for i in range(4)],
        "rec_id long, cluster_id string",
    )
    edges = spark.createDataFrame(
        # chain 0-1-2-3-4; star 10-{11,12,13}
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13)],
        "src long, dst long",
    )
    rows = {r["cluster_id"]: r for r in cluster_depth_audit(asg, edges, max_rounds=6).collect()}
    assert rows["chain"]["ecc_root"] == 4 and rows["chain"]["n_unreached"] == 0
    assert rows["star"]["ecc_root"] == 1 and rows["star"]["n_reached"] == 4
    with pytest.raises(ValueError):
        cluster_depth_audit(asg, edges, max_rounds=0)


def test_cluster_depth_audit_budget_and_border_guard(spark):
    from minimel_spark.operators.cluster import cluster_depth_audit

    asg = spark.createDataFrame(
        [(i, "c") for i in range(5)] + [(100, "other")],
        "rec_id long, cluster_id string",
    )
    edges = spark.createDataFrame(
        # chain 0..4 plus a spurious cross-cluster edge 4-100 that the
        # walk must never follow; round budget 2 leaves 3,4 unreached
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 100)],
        "src long, dst long",
    )
    rows = {r["cluster_id"]: r for r in cluster_depth_audit(asg, edges, max_rounds=2).collect()}
    assert rows["c"]["n_reached"] == 3 and rows["c"]["n_unreached"] == 2
    assert rows["c"]["ecc_root"] == 2
    # the other cluster's node is edge-connected only across the border:
    # it is its own root (depth 0), nothing else reached
    assert rows["other"]["n_reached"] == 1 and rows["other"]["ecc_root"] == 0


def test_committee_disagreement_ranks_splits_first(spark):
    import pytest

    from minimel_spark.operators.scoring import committee_disagreement

    pairs = spark.createDataFrame(
        [
            ("a", "b", 0.9, 0.8, 0.7),   # unanimous yes: disagreement 0
            ("c", "d", 0.9, 0.1, 0.2),   # 1v2 split: disagreement 2
            ("e", "f", 0.6, 0.4, 0.55),  # 2v1 split, tighter margins
            ("g", "h", 0.1, 0.2, 0.1),   # unanimous no
        ],
        "rec_id_a string, rec_id_b string, s1 double, s2 double, s3 double",
    )
    out = committee_disagreement(pairs, ["s1", "s2", "s3"], k=2).collect()
    picked = [(r["rec_id_a"], r["disagreement"]) for r in out]
    # both splits outrank both consensus pairs; the tighter-margin split
    # ("e") wins the tie on margin_sum
    assert {p[0] for p in picked} == {"c", "e"}
    assert all(d == 2 for _, d in picked)
    assert picked[0][0] == "e"
    with pytest.raises(ValueError):
        committee_disagreement(pairs, ["s1"], k=2)
    with pytest.raises(ValueError):
        committee_disagreement(pairs, ["s1", "s2"], k=0)


def test_smoothed_priors_shrinkage_and_mass(spark):
    import pytest

    from minimel_spark.operators.clean import smoothed_priors

    counts = spark.createDataFrame(
        # anchor 'a': 3 links all to entity 1 (brittle ML prior 1.0);
        # anchor 'b': 80/20 with heavy evidence; entity 2 dominates globally
        [("a", 1, 3), ("b", 1, 20), ("b", 2, 80), ("c", 2, 97)],
        "anchor string, qid long, cnt long",
    )
    rows = {
        (r["anchor"], r["qid"]): r
        for r in smoothed_priors(counts, alpha=10.0).collect()
    }
    # N = 200, P(1) = 23/200, P(2) = 177/200
    a1 = rows[("a", 1)]
    assert a1["ml_prior"] == 1.0
    want = (3 + 10 * 23 / 200) / (3 + 10)
    assert abs(a1["prior"] - want) < 1e-12
    # shrinkage pulled the brittle 1.0 down materially
    assert a1["prior"] < 0.4
    # heavy-evidence anchor barely moves
    b2 = rows[("b", 2)]
    assert abs(b2["ml_prior"] - 0.8) < 1e-12
    assert abs(b2["prior"] - (80 + 10 * 177 / 200) / 110) < 1e-12
    assert abs(b2["prior"] - 0.8) < 0.02
    # per-anchor seen mass stays below 1 (reserved for unseen entities)
    for anchor in ("a", "b", "c"):
        mass = sum(r["prior"] for (m, _), r in rows.items() if m == anchor)
        assert mass < 1.0
    with pytest.raises(ValueError):
        smoothed_priors(counts, alpha=0)
