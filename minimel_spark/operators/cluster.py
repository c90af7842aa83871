"""Transitive clustering (SURVEY §2 M4 + §4 custom work): cosine edges over
shared-entity candidate pairs, then connected components — one vectorized
task under the size budget, iterative large-star/small-star on DataFrames
over it.

Reference: minimel/clean.py:87-126 (``cluster``) — a sequential dict walk whose
label propagation is iteration-order dependent. The order-independent semantics
is the transitive closure of the thresholded cosine edge set (SURVEY §7 risk
note), which is exactly what connected components computes; the pairwise-F1
acceptance test compares against that closure.

Scale design:
- edge generation is a self-join on ``qid`` (anchors sharing a candidate
  entity). Hot entities (a 'john smith' qid shared by m anchors) create m²
  pair blowup, so ``max_anchors_per_entity`` caps each entity's anchor list to
  its top-K by normalized weight (deterministic order) before the join — the
  per-block pair-cap pattern the north rule names. AQE skew-join splits what
  remains.
- connected components decides at run time from the edge count whether to
  partition at all. Within ``max_broadcast_nodes`` edges (integral or string
  ids) the graph is solved in ONE task by a numpy hook/pointer-jumping kernel
  — a few fixed jobs instead of two shuffles per round. Past the budget it is
  the Kiveris et al. alternating large-star/small-star algorithm: O(log n)
  rounds, each round two self-aggregating shuffles; ``localCheckpoint()``
  every round truncates lineage so plans don't grow.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

# id types the single-task kernel factorizes in C (pandas hash factorize; the
# sort of the distinct ids is numeric, or code-point order for strings, which
# is Spark's UTF-8 byte order) — anything else takes the distributed loop
_KERNEL_ID_TYPES = (ByteType, ShortType, IntegerType, LongType, StringType)
# rows per Arrow batch the kernel hands back to the JVM
_KERNEL_OUT_BATCH = 1 << 20


def similarity_edges(
    candidates: DataFrame,
    score_threshold: float = 0.5,
    max_anchors_per_entity: int | None = None,
) -> DataFrame:
    """(anchor, qid, weight) -> (src, dst, score) anchor pairs with cosine
    similarity over log1p/L2-normalized candidate weight vectors above the
    threshold (clean.py:88-113)."""
    w = Window.partitionBy("anchor")
    vec = (
        candidates.withColumn("lw", F.log1p(F.col("weight")))
        .withColumn("norm", F.sqrt(F.sum(F.col("lw") * F.col("lw")).over(w)))
        .withColumn("nw", F.col("lw") / F.col("norm"))
        .select("anchor", "qid", "nw")
    )
    if max_anchors_per_entity:
        we = Window.partitionBy("qid").orderBy(F.desc("nw"), F.asc("anchor"))
        vec = (
            vec.withColumn("r", F.row_number().over(we))
            .where(F.col("r") <= max_anchors_per_entity)
            .drop("r")
        )
    a = vec.alias("a")
    b = vec.alias("b")
    return (
        a.join(b, "qid")
        .where(F.col("a.anchor") < F.col("b.anchor"))
        .groupBy(F.col("a.anchor").alias("src"), F.col("b.anchor").alias("dst"))
        .agg(F.sum(F.col("a.nw") * F.col("b.nw")).alias("score"))
        .where(F.col("score") > score_threshold)
    )


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.select("src", "dst").union(rev).where(F.col("src") != F.col("dst")).distinct()


def _large_star(nbrs: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    m = nbrs.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
    return (
        nbrs.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high->low; for each u: connect all smaller neighbors and u
    itself to min(N⁻(u) ∪ {u})."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst")).distinct()
    m = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    pairs = (
        oriented.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(m.select(F.col("src"), F.col("m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return pairs


def _cc_iterate(sym: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star loop over an already-symmetrized,
    checkpointed edge set; converges when the oriented edge set is a stable
    star forest (checked via count + order-insensitive checksum — two cheap
    aggregates per round on a locally-checkpointed frame)."""
    cur = sym
    prev_sig = None
    for _ in range(max_iter):
        ls = _large_star(cur)
        # _small_star orients high->low itself, so feeding it the raw
        # large-star output is equivalent to symmetrizing first — one fewer
        # union+distinct shuffle per round.
        ss = _small_star(ls)
        cur = _symmetrize(ss).localCheckpoint(eager=True)
        sig_row = cur.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).first()
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # cur is symmetric star edges; component id = min(neighbor, self)
    comp = cur.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("component"))
    return comp.select(F.col("src").alias("node"), "component")


def min_label_components(
    src: np.ndarray, dst: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Connected components of the undirected edge list ``src[i] -- dst[i]``
    in numpy: returns ``(nodes, component)`` aligned arrays over every id that
    occurs in an edge, ``component`` = the minimum id of the node's component.

    Ids are factorized to dense codes in sorted order, so the minimum code of
    a component is its minimum id. Each round hooks every tree root onto the
    smallest root across its live edges (``np.minimum.at``: parent pointers
    only decrease, so ``parent[x] <= x`` and each tree's root is its minimum)
    and then pointer-jumps to a star forest. A tree with an edge to another
    tree either hooks or is hooked onto, so the number of trees per component
    at least halves each round — O(log V) rounds of O(E) vector work. Edges
    inside one tree stay inside it and are dropped as they appear, and the
    loop ends when no edge crosses two trees. No per-row Python."""
    e = len(src)
    if e == 0:
        return src[:0], src[:0]
    codes, uniq = pd.factorize(np.concatenate([src, dst]), sort=True)
    u, v = codes[:e], codes[e:]
    parent = np.arange(len(uniq))
    while True:
        pu, pv = parent[u], parent[v]
        live = pu != pv
        if not live.any():
            break
        u, v, pu, pv = u[live], v[live], pu[live], pv[live]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
    return uniq, uniq[parent]


def _checkpointed_rows(df: DataFrame) -> int:
    """Row count of an eagerly checkpointed frame in ONE narrow job over its
    materialized RDD: ``DataFrame.count()`` plans a partial/final aggregate
    that AQE runs as a shuffle map job plus a result job."""
    return df._jdf.queryExecution().toRdd().count()


def _cc_single_task(ed: DataFrame) -> DataFrame:
    """Solve an in-budget edge list in one task: ``coalesce(1)`` (no
    shuffle) + ``mapInPandas`` over :func:`min_label_components`."""
    t = ed.schema["src"].dataType
    out_schema = StructType([StructField("node", t), StructField("component", t)])

    def solve(batches):
        parts = list(batches)
        if not parts:
            return
        src = np.concatenate([b["src"].to_numpy() for b in parts])
        dst = np.concatenate([b["dst"].to_numpy() for b in parts])
        nodes, comp = min_label_components(src, dst)
        for i in range(0, len(nodes), _KERNEL_OUT_BATCH):
            j = i + _KERNEL_OUT_BATCH
            yield pd.DataFrame({"node": nodes[i:j], "component": comp[i:j]})

    return ed.coalesce(1).mapInPandas(solve, out_schema)


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    max_broadcast_nodes: int | None = 5_000_000,
) -> DataFrame:
    """(src, dst) undirected edges -> (node, component) where component is the
    minimum node id (any orderable type) in the node's component. Self-loops
    are dropped first, so a node whose only edge is a self-loop is absent.

    ``max_broadcast_nodes`` is a ROW budget sized for 8-byte ids (5M rows is
    ~40 MB per id column). It gates two decisions, and labels are identical
    on every path:

    - single-task solve: the narrow edge list is checkpointed once and
      counted; within the budget (by EDGE count, which bounds |V| <= 2|E|)
      and with integral or string ids, it is solved by
      :func:`min_label_components` in one ``mapInPandas`` task — two narrow
      jobs (checkpoint, count) plus the consumer's, instead of two shuffles
      per large-star/small-star round. String ids cost more than 8 bytes a
      row, so very long ones want a smaller budget.
    - over the budget: the distributed loop below, where the budget is the
      broadcast limit for the |V|-row representative map.

    The distributed loop first pre-contracts (VERDICT r4 #2): it collapses
    locally-known connectivity BEFORE the iterative large-star/small-star
    rounds: each node u is mapped to its representative
    m(u) = min(N(u) ∪ {u}) — a neighbor or u itself, so contracting u into
    m(u) provably preserves the component partition — and the loop then runs
    on the contracted edge set {(m(u), m(v)) : (u,v) ∈ E, m(u) ≠ m(v)}. Dense
    near-cliques (the same-name salt buckets that dominate blocked ER pair
    graphs) collapse to a single representative in this one map step, so the
    O(log n)-round loop iterates over the small representative graph instead
    of re-shuffling the full clique edge mass every round. Component ids are
    unchanged: the component's global minimum u* has no smaller neighbor, so
    m(u*) = u* — it survives contraction as its own representative and stays
    the minimum of the contracted component. One final join expands
    representatives back to members (fully-collapsed components get their
    representative id directly, which IS the component minimum: full collapse
    to r means every member picked r as its neighborhood minimum, and a
    member w < r would have m(w) ≤ w < r).

    ``max_broadcast_nodes`` on the loop (r6): the representative map is
    |V|-sized and eagerly checkpointed, which erases size statistics —
    without a hint the two contraction joins plan as sort-merge and SHUFFLE
    the full |E|-row edge list twice (AQE's late broadcast conversion still
    pays the map-side shuffle writes). While |V| (one cheap count on the
    checkpointed map) stays within the budget, the map and the final
    component table are broadcast-HINTED so the edge list is never exchanged
    after its one materialization; past the budget (billion-node graphs) the
    sort-merge plan stands. The loop runs within the budget only for ids
    the kernel does not take. ``max_broadcast_nodes=0`` forces the loop on
    any non-empty graph; ``None`` means no budget: always the single task
    for kernel id types, always the hint otherwise.
    """
    # eager checkpoint of the NARROW one-directional edge list: the size
    # decision counts it, and on the loop path three consumers below (both
    # union arms of the min-reps agg + the contraction join) would otherwise
    # re-evaluate the caller's edge plan three times
    ed = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    id_type = ed.schema["src"].dataType
    if (
        isinstance(id_type, _KERNEL_ID_TYPES)
        and id_type == ed.schema["dst"].dataType
        and (
            max_broadcast_nodes is None
            or _checkpointed_rows(ed) <= max_broadcast_nodes
        )
    ):
        return _cc_single_task(ed)
    # r6: the contraction pass no longer materializes the symmetrized,
    # deduplicated edge set at all — that cost a distinct over 2|E| rows plus
    # an eager checkpoint of them before any real work (guide §2.4: remove
    # shuffles outright). min(N(u) ∪ {u}) is duplicate- and
    # orientation-insensitive, so the representative map aggregates a plain
    # (non-distinct) union of both orientations — map-side partial min
    # reduces it to ~|V| rows before the only exchange — and the contraction
    # joins run over the raw one-directional edge list (|E| rows, not 2|E|).
    # Only the contracted graph (tiny after dense blocks collapse) is
    # symmetrized + deduplicated for the iterate loop.
    nbrs = ed.union(ed.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = nbrs.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("rep"))
    m = m.localCheckpoint(eager=True)  # 3 consumers: 2 contraction joins + expand
    use_bcast = (
        max_broadcast_nodes is None or _checkpointed_rows(m) <= max_broadcast_nodes
    )
    _b = F.broadcast if use_bcast else (lambda df: df)
    contracted = (
        ed.join(_b(m), "src")
        .select(F.col("rep").alias("_rs"), "dst")
        .join(_b(m.select(F.col("src").alias("dst"), F.col("rep").alias("_rd"))), "dst")
        .select(F.col("_rs").alias("src"), F.col("_rd").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    comp_rep = _cc_iterate(_symmetrize(contracted).localCheckpoint(eager=True), max_iter)
    return (
        m.join(_b(comp_rep.withColumnRenamed("node", "rep")), "rep", "left")
        .select(
            F.col("src").alias("node"),
            F.coalesce("component", "rep").alias("component"),
        )
    )


def incremental_components(
    prev: DataFrame, new_edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Fold a new edge batch into an existing clustering without
    recomputing it: ``prev`` is (node, component) from a previous
    ``connected_components`` run (component = min member id), ``new_edges``
    is (src, dst) and may touch both known and brand-new nodes. Returns the
    updated (node, component) table, identical to a full recompute over
    closure(E_old ∪ E_new) — because closure(E_old ∪ E_new) ==
    closure(star(CC(E_old)) ∪ E_new), and min-id component labels compose
    (the merged component's label is the min of the merged members, which
    is the min over the constituent old labels and new node ids).

    Scale: this is the arrival-batch path for continuously-crawled ER —
    only components actually TOUCHED by a new edge enter the iterative
    loop. Untouched components pass through with one anti-join (no CC
    rounds, no shuffle of their edge mass, which at web scale is ~all of
    it), and the loop input is star edges (one per affected member) plus
    the new batch, never the historical edge set.
    """
    ends = (
        new_edges.select(F.col("src").alias("node"))
        .union(new_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    touched = (
        prev.join(ends, "node", "left_semi").select("component").distinct()
    )
    affected = prev.join(touched, "component", "left_semi")
    star = affected.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    merged = connected_components(
        star.unionByName(new_edges.select("src", "dst")), max_iter=max_iter
    )
    # the anti-join hoists its key first — re-select so the output column
    # ORDER is the canonical (node, component) of connected_components
    # (consumers that round-trip through parquet + positional schemas
    # depend on it)
    untouched = prev.join(touched, "component", "left_anti")
    return untouched.unionByName(merged).select("node", "component")


def cluster_candidates(
    candidates: DataFrame,
    score_threshold: float = 0.5,
    max_anchors_per_entity: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full M4 stage (clean.py:87-126): returns (membership, cluster_scores).

    membership: (anchor, cluster_id) — cluster_id = min anchor in the component;
    singleton anchors are their own cluster.
    cluster_scores: (cluster_id, qid, weight) — per-cluster sum of the
    log1p/L2-normalized member weights (the reference's Counter-sum of
    normalized scores, clean.py:121-125), long-form instead of the reference's
    two-space-joined dict key.
    """
    w = Window.partitionBy("anchor")
    vec = (
        candidates.withColumn("lw", F.log1p(F.col("weight")))
        .withColumn("nw", F.col("lw") / F.sqrt(F.sum(F.col("lw") * F.col("lw")).over(w)))
        .select("anchor", "qid", "nw")
    )
    edges = similarity_edges(candidates, score_threshold, max_anchors_per_entity)
    cc = connected_components(edges)
    membership = (
        candidates.select("anchor").distinct()
        .join(cc.withColumnRenamed("node", "anchor"), "anchor", "left")
        .select(
            "anchor", F.coalesce("component", "anchor").alias("cluster_id")
        )
    )
    cluster_scores = (
        vec.join(membership, "anchor")
        .groupBy("cluster_id", "qid")
        .agg(F.sum("nw").alias("weight"))
    )
    return membership, cluster_scores


def threshold_curve(
    scored_edges: DataFrame,
    thresholds: list[float],
    src: str = "src",
    dst: str = "dst",
    score_col: str = "score",
    max_iter: int = 50,
) -> DataFrame:
    """Clustering operating curve over the edge-score threshold — THE
    calibration artifact for transitive ER: connected components happily
    chain everything into mega-clusters as the threshold drops, and this
    reports exactly when. For each threshold t (over edges with
    score >= t): number of qualifying edges, linked records, clusters,
    the largest cluster, and the implied within-cluster pair mass
    Σ C(size, 2) — the quantity that explodes first when t is too low
    (it is the number of record pairs the clustering ASSERTS are matches,
    whether or not they were ever scored).

    Scale design: thresholds are processed DESCENDING and each step folds
    only the DELTA edge band [t, prev_t) into the previous clustering via
    :func:`incremental_components` — one full CC run at the tightest
    threshold, then per-step work proportional to the touched components
    plus the new band, never K full closures over the full edge set. Each
    step's membership is eagerly localCheckpoint-ed so plans stay flat
    across steps; per-threshold edge counts are ONE conditional-sum pass
    over the edge stream. Records never enter: singletons (records with no
    qualifying edge) are by definition not in any multi-record cluster.

    Output: (threshold, n_edges, n_records, n_clusters, largest,
    pairs_within), one row per distinct threshold, all-zero rows for
    thresholds above the best edge score. Deterministic (min-id component
    labels; stats are label-free aggregates).
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    ts = sorted(set(float(t) for t in thresholds), reverse=True)
    edges = scored_edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(score_col).alias("_s")
    )
    # all per-threshold edge counts in one scan
    ecounts = edges.agg(
        *[
            F.coalesce(
                F.sum((F.col("_s") >= t).cast("long")), F.lit(0)
            ).alias(f"_e{i}")
            for i, t in enumerate(ts)
        ]
    ).first()
    out = None
    prev_memb = None
    prev_t = None
    for i, t in enumerate(ts):
        if prev_memb is None:
            band = edges.where(F.col("_s") >= t).select("src", "dst")
            memb = connected_components(band, max_iter=max_iter)
        else:
            band = edges.where(
                (F.col("_s") >= t) & (F.col("_s") < prev_t)
            ).select("src", "dst")
            memb = incremental_components(prev_memb, band, max_iter=max_iter)
        memb = memb.localCheckpoint(eager=True)
        sz = memb.groupBy("component").agg(F.count(F.lit(1)).alias("_n"))
        st = sz.agg(
            F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("n_clusters"),
            F.coalesce(F.sum("_n"), F.lit(0)).alias("n_records"),
            F.coalesce(F.max("_n"), F.lit(0)).alias("largest"),
            F.coalesce(
                F.sum(F.col("_n") * (F.col("_n") - 1) / 2).cast("long"), F.lit(0)
            ).alias("pairs_within"),
        ).select(
            F.lit(t).cast("double").alias("threshold"),
            F.lit(int(ecounts[f"_e{i}"])).cast("long").alias("n_edges"),
            F.col("n_records").cast("long").alias("n_records"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("largest").cast("long").alias("largest"),
            "pairs_within",
        )
        out = st if out is None else out.unionByName(st)
        prev_memb, prev_t = memb, t
    return out


def cluster_churn(prev: DataFrame, new: DataFrame) -> DataFrame:
    """Cluster-lifecycle accounting between two clusterings of overlapping
    record sets — the monitoring metric for continuously-maintained ER
    (:func:`incremental_components` / the streaming snapshot path): how many
    clusters survived an arrival batch intact, how many split, how many were
    absorbed into merges, and how much record mass moved.

    Inputs are (node, component) tables. Per PREV cluster, classified over
    the records present in BOTH clusterings:

    - ``stable``   — members map to exactly one new cluster, and that new
                     cluster contains no other surviving records;
    - ``split``    — members spread over >= 2 new clusters;
    - ``merged``   — members land in one new cluster that also absorbed
                     records from other prev clusters;
    - ``vanished`` — no member survives into ``new``.

    (A cluster that splits AND each shard merges counts as ``split`` —
    classification is by the prev cluster's own fan-out first.)

    One row out: ``(n_prev, n_new, n_stable, n_split, n_merged, n_vanished,
    moved_records)`` where ``moved_records`` counts surviving records whose
    new cluster != the majority destination of their prev cluster (ties by
    smallest new-cluster id, so the count is deterministic).

    Distributed: one alignment join builds the (prev, new) contingency
    cells; everything else is aggregation over cells — never the pair
    space, no iteration, no driver state.
    """
    p = prev.select(F.col("node").alias("rec_id"), F.col("component").alias("pc"))
    q = new.select(F.col("node").alias("rec_id"), F.col("component").alias("nc"))
    cell = (
        p.join(q, "rec_id")
        .groupBy("pc", "nc")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # new-cluster fan-in (how many prev clusters feed each new cluster)
    fanin = cell.groupBy("nc").agg(F.count(F.lit(1)).alias("_fi"))
    # per prev cluster: fan-out, total survivors, majority destination mass
    per_prev = (
        cell.join(fanin, "nc")
        .groupBy("pc")
        .agg(
            F.count(F.lit(1)).alias("_fo"),
            F.sum("n").alias("_tot"),
            # majority destination: min by (-n, nc) -> largest mass, ties to
            # the smallest new-cluster id; nc only needs to be orderable
            F.min(F.struct(-F.col("n"), F.col("nc"), F.col("n").alias("_mn")))[
                "_mn"
            ].alias("_maj"),
            F.max("_fi").alias("_max_fi"),
        )
    )
    # coalesce: with DISJOINT record sets per_prev is empty and the sums
    # would be NULL — the documented accounting is all-zero (+ n_vanished)
    surv = per_prev.agg(
        F.count(F.lit(1)).alias("n_survived"),
        F.coalesce(
            F.sum(F.when(F.col("_fo") >= 2, 1).otherwise(0)), F.lit(0)
        ).alias("n_split"),
        F.coalesce(
            F.sum(
                F.when((F.col("_fo") == 1) & (F.col("_max_fi") >= 2), 1).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_merged"),
        F.coalesce(
            F.sum(
                F.when((F.col("_fo") == 1) & (F.col("_max_fi") == 1), 1).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_stable"),
        F.coalesce(F.sum(F.col("_tot") - F.col("_maj")), F.lit(0)).alias(
            "moved_records"
        ),
    )
    n_prev = prev.agg(F.countDistinct("component").alias("n_prev"))
    n_new = new.agg(F.countDistinct("component").alias("n_new"))
    return (
        n_prev.crossJoin(n_new)
        .crossJoin(surv)
        .select(
            F.col("n_prev").cast("long").alias("n_prev"),
            F.col("n_new").cast("long").alias("n_new"),
            F.col("n_stable").cast("long").alias("n_stable"),
            F.col("n_split").cast("long").alias("n_split"),
            F.col("n_merged").cast("long").alias("n_merged"),
            (F.col("n_prev") - F.col("n_survived")).cast("long").alias("n_vanished"),
            F.col("moved_records").cast("long").alias("moved_records"),
        )
    )


def articulation_records(
    assignments: DataFrame,
    scored: DataFrame,
    max_cluster_size: int = 256,
    id_col: str = "node",
    cluster_col: str = "component",
    id_a: str = "rec_id_a",
    id_b: str = "rec_id_b",
) -> DataFrame:
    """Cut-vertex audit on transitive clusters — WHICH record glues a
    cluster together: a row per (cluster, record) whose removal increases
    the number of connected components of the cluster's within-edge graph
    (the textbook articulation point). Transitive closure merges entities
    through exactly these records (one bad mention chaining two real
    entities), so they are the review queue for suspected false merges;
    :func:`cluster_cohesion` says WHETHER a cluster is thin, this says
    WHERE it breaks.

    Only clusters with 3 <= size <= ``max_cluster_size`` are scanned:
    size-2 clusters cannot have a cut vertex, and per-cluster work is
    O(size * (size + edges)) — the naive remove-and-recount, chosen over
    Tarjan deliberately: the cap makes the cost bound explicit and the
    semantics directly re-computable by the DuckDB oracle (which re-walks
    the closure once per candidate removal). Over-cap clusters are
    SKIPPED, not sampled — at web scale giant components get the cohesion
    audit, and anything needing per-record graph surgery should first be
    brought under the cap by the upstream pair-cap/threshold knobs.

    Isolated-member accounting: a record with no qualifying edge is its
    own component; removing record r flags r only if the count of
    components among the OTHER members strictly exceeds what it was with
    r present (so removing an isolated or leaf record never flags it).

    Distributed shape: two assignment joins scope the pair stream to
    within-cluster edges, one groupBy bounds work per cluster, and the
    per-cluster graph walk runs in ``applyInPandas`` (Arrow-batched, one
    group per cluster — the per-partition imperative escape hatch Spark's
    operator set genuinely lacks). Output: (cluster_id, rec_id,
    n_components_after), deterministic and partition-invariant.
    """
    if max_cluster_size < 3:
        raise ValueError(
            f"max_cluster_size must be >= 3, got {max_cluster_size}"
        )
    dt = dict(assignments.dtypes)
    out_schema = (
        f"cluster_id {dt[cluster_col]}, rec_id {dt[id_col]}, "
        "n_components_after long"
    )
    sizes = (
        assignments.groupBy(F.col(cluster_col).alias("_c"))
        .agg(F.count(F.lit(1)).alias("_sz"))
        .where((F.col("_sz") >= 3) & (F.col("_sz") <= max_cluster_size))
    )
    memb = assignments.select(
        F.col(id_col).alias("_a"), F.col(cluster_col).alias("_c")
    ).join(sizes.select("_c"), "_c")
    a = assignments.select(
        F.col(id_col).alias(id_a), F.col(cluster_col).alias("_ca")
    )
    b = assignments.select(
        F.col(id_col).alias(id_b), F.col(cluster_col).alias("_cb")
    )
    edges = (
        scored.select(id_a, id_b)
        .join(a, id_a)
        .join(b, id_b)
        .where(F.col("_ca") == F.col("_cb"))
        .select(
            F.col("_ca").alias("_c"),
            F.col(id_a).alias("_a"),
            F.col(id_b).alias("_b"),
        )
        .join(sizes.select("_c"), "_c")
    )
    rows = memb.select(
        "_c", "_a", F.lit(None).cast(dt[id_col]).alias("_b"),
        F.lit(1).alias("_is_member"),
    ).unionByName(
        edges.select("_c", "_a", "_b", F.lit(0).alias("_is_member"))
    )

    def _find(key, pdf):
        import pandas as pd

        members = sorted(pdf.loc[pdf["_is_member"] == 1, "_a"].tolist())
        adj: dict = {m: set() for m in members}
        for r in pdf.loc[pdf["_is_member"] == 0, ["_a", "_b"]].itertuples(
            index=False
        ):
            ea, eb = r[0], r[1]
            if ea in adj and eb in adj and ea != eb:
                adj[ea].add(eb)
                adj[eb].add(ea)

        def ncomp(excl):
            seen: set = set()
            n = 0
            for m in members:
                if m == excl or m in seen:
                    continue
                n += 1
                stack = [m]
                seen.add(m)
                while stack:
                    u = stack.pop()
                    for v in adj[u]:
                        if v != excl and v not in seen:
                            seen.add(v)
                            stack.append(v)
            return n

        base = ncomp(None)
        out = []
        for rec in members:
            before = base - (0 if adj[rec] else 1)
            after = ncomp(rec)
            if after > before:
                out.append((key[0], rec, after))
        return pd.DataFrame(
            out, columns=["cluster_id", "rec_id", "n_components_after"]
        )

    return rows.groupBy("_c").applyInPandas(_find, out_schema)


def stable_cluster_alignment(prev: DataFrame, new: DataFrame) -> DataFrame:
    """Entity-id continuity across clustering runs — the alignment table a
    continuously-re-resolved corpus needs so downstream consumers keep
    stable entity ids while the clustering itself churns: per NEW cluster,
    which PREV cluster (if any) it is the rightful successor of.

    Succession is RECIPROCAL-BEST shared-record overlap: prev cluster P and
    new cluster C align iff C is P's argmax-overlap destination AND P is
    C's argmax-overlap source (ties broken by the smaller counterpart id,
    so the alignment is deterministic and — being mutual-argmax — one-to-one
    in both directions). That is the same distributable surrogate for
    max-weight bipartite matching as group_linkage/reciprocal_best_pairs:
    a split keeps the id on the shard that retained the most records; a
    merge keeps the id of the largest absorbed cluster; the leftovers are
    new entities.

    Output, one row per new cluster: (new_component, prev_component,
    overlap, new_size, prev_size, inherited) — prev_component/overlap/
    prev_size NULL and inherited false for clusters with no aligned
    predecessor. Minting policy is the CALLER's (keep the prev entity id
    where inherited, mint a namespace id otherwise — the docstring contract
    deliberately does NOT reuse min-member labels as fresh entity ids:
    member-derived ids can collide with a retired predecessor's id when
    the naming record migrates).

    Distributed: one alignment join builds (prev, new, overlap) contingency
    cells, two grouped argmaxes + one mutual filter over the CELLS (cluster
    cardinality, not records), plus two size aggregates. No iteration, no
    driver state.
    """
    p = prev.select(F.col("node").alias("rec_id"), F.col("component").alias("pc"))
    q = new.select(F.col("node").alias("rec_id"), F.col("component").alias("nc"))
    cell = p.join(q, "rec_id").groupBy("pc", "nc").agg(
        F.count(F.lit(1)).alias("overlap")
    )
    best_dst = cell.groupBy("pc").agg(
        F.min(F.struct((-F.col("overlap")).alias("_no"), F.col("nc")))["nc"].alias(
            "_bn"
        )
    )
    best_src = cell.groupBy("nc").agg(
        F.min(F.struct((-F.col("overlap")).alias("_no"), F.col("pc")))["pc"].alias(
            "_bp"
        )
    )
    aligned = (
        cell.join(best_dst, "pc")
        .where(F.col("nc") == F.col("_bn"))
        .join(best_src, "nc")
        .where(F.col("pc") == F.col("_bp"))
        .select("nc", "pc", "overlap")
    )
    nsz = new.groupBy(F.col("component").alias("nc")).agg(
        F.count(F.lit(1)).alias("new_size")
    )
    psz = prev.groupBy(F.col("component").alias("pc")).agg(
        F.count(F.lit(1)).alias("prev_size")
    )
    return (
        nsz.join(aligned, "nc", "left")
        .join(psz, "pc", "left")
        .select(
            F.col("nc").alias("new_component"),
            F.col("pc").alias("prev_component"),
            "overlap",
            "new_size",
            "prev_size",
            F.col("pc").isNotNull().alias("inherited"),
        )
    )


def cluster_cohesion(
    assignments: DataFrame,
    scored: DataFrame,
    id_col: str = "node",
    cluster_col: str = "component",
    id_a: str = "rec_id_a",
    id_b: str = "rec_id_b",
    score_col: str = "score",
) -> DataFrame:
    """Per-cluster cohesion audit — the pre-ship check on transitive
    clustering output: connected components happily chain A~B~C into one
    cluster on two strong edges, so the question before an ER result
    leaves the pipeline is "how well-supported is each cluster's interior?"

    For every cluster of size >= 2, against the scored candidate-pair
    stream:

    - ``size`` and ``n_possible`` = C(size, 2);
    - ``n_scored`` = scored pairs with BOTH endpoints in the cluster;
    - ``edge_coverage`` = n_scored / n_possible (transitive chains score
      low; near-cliques score ~1);
    - ``min_score`` / ``avg_score`` over those within-cluster edges (NULL
      when no edge was scored at all — a cluster held together purely by
      upstream blocking is exactly what this audit exists to flag).

    Distributed: two assignment joins onto the pair stream, one groupBy per
    cluster, one size aggregate — never the pair space of the whole corpus,
    no iteration.
    """
    a = assignments.select(
        F.col(id_col).alias(id_a), F.col(cluster_col).alias("_ca")
    )
    b = assignments.select(
        F.col(id_col).alias(id_b), F.col(cluster_col).alias("_cb")
    )
    within = (
        scored.join(a, id_a)
        .join(b, id_b)
        .where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.min(score_col).alias("min_score"),
            F.avg(score_col).alias("avg_score"),
        )
    )
    sizes = (
        assignments.groupBy(F.col(cluster_col).alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("size"))
        .where(F.col("size") >= 2)
    )
    return (
        sizes.join(within, "cluster_id", "left")
        .select(
            "cluster_id",
            "size",
            (F.col("size") * (F.col("size") - 1) / 2).cast("long").alias(
                "n_possible"
            ),
            F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
            (
                F.coalesce("n_scored", F.lit(0))
                / (F.col("size") * (F.col("size") - 1) / 2)
            ).alias("edge_coverage"),
            "min_score",
            "avg_score",
        )
    )


def pivot_clusters(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    salt: str = "pivot",
    max_iter: int = 60,
) -> DataFrame:
    """Parallel pivot CORRELATION clustering (KwikCluster, Ailon/Charikar/
    Newman JACM'08, parallelized per Chierichetti/Dalvi/Kumar KDD'14):
    (src, dst) similarity edges -> (node, cluster) where every cluster is a
    radius-1 star around its pivot. The deliberate semantic contrast with
    ``connected_components``: transitive closure chains A~B~C into one
    entity on two edges; pivot clustering never does — a member is in a
    cluster only if it is DIRECTLY adjacent to the pivot, which is the
    conservative choice when edges carry classifier noise (KwikCluster is a
    3-approximation to minimum-disagreement correlation clustering under a
    uniformly random pivot order).

    Determinism + oracle recomputability: the pivot order is the
    lexicographic order of ``rk = md5(salt || node) || node`` — unique per
    node (the appended node id breaks even md5 collisions), identical in
    DuckDB, and distributed like the random permutation the approximation
    guarantee wants. Rounds: every active node whose rank precedes all its
    active neighbours becomes a pivot (adjacent pivots are impossible: each
    would need the smaller rank); each active neighbour of >= 1 pivot joins
    its minimum-rank adjacent pivot (that set cannot contain a pivot, same
    argument); pivots + assigned deactivate. The globally minimum-rank
    active node is always a pivot, so every round makes progress; with
    md5-uniform ranks the active subgraph loses a constant edge fraction
    per round whp (CDK Thm 3) -> O(log n) rounds.

    Scale: per round two equi-join + grouped-min shuffles over the ACTIVE
    subgraph only (which shrinks geometrically), one anti-join, two
    semi-joins to shrink the edge set, all on locally-checkpointed frames —
    never the full graph after round 1 and no driver-side state beyond the
    per-round count.

    ``nodes`` (optional, one ``node`` column) adds edge-free records, which
    become singleton pivots in round 1.
    """
    rk = lambda c: F.concat(F.md5(F.concat(F.lit(salt), c.cast("string"))), c.cast("string"))  # noqa: E731
    sym = _symmetrize(edges)
    active = sym.select(F.col("src").alias("node"))
    if nodes is not None:
        active = active.union(nodes.select(F.col("node")))
    active = (
        active.distinct().withColumn("rk", rk(F.col("node"))).localCheckpoint(eager=True)
    )
    live = sym.localCheckpoint(eager=True)  # invariant: both endpoints active
    parts: list[DataFrame] = []
    for _ in range(max_iter):
        # min active-neighbour rank per node (live's endpoints are all
        # active, so this join is a pure rank lookup, not a liveness filter)
        minn = (
            live.join(
                active.select(F.col("node").alias("dst"), F.col("rk").alias("rk_d")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("rk_d").alias("mn"))
        )
        piv = (
            active.join(minn, active["node"] == minn["src"], "left")
            .where(F.col("mn").isNull() | (F.col("rk") < F.col("mn")))
            .select("node", "rk")
        )
        asg = (
            live.join(
                piv.select(F.col("node").alias("dst"), F.col("rk").alias("prk")), "dst"
            )
            .groupBy("src")
            .agg(F.min_by("dst", "prk").alias("cluster"))
            .select(F.col("src").alias("node"), "cluster")
        )
        settled = (
            piv.select("node", F.col("node").alias("cluster"))
            .unionByName(asg)
            .localCheckpoint(eager=True)
        )
        parts.append(settled)
        active = active.join(
            settled.select("node"), "node", "left_anti"
        ).localCheckpoint(eager=True)
        if active.isEmpty():
            out = parts[0]
            for p_ in parts[1:]:
                out = out.unionByName(p_)
            return out
        live = (
            live.join(active.select(F.col("node").alias("src")), "src", "left_semi")
            .join(active.select(F.col("node").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(f"pivot_clusters did not settle within {max_iter} rounds")


def clustering_disagreement(
    edges: DataFrame, assignment: DataFrame, method: str | None = None
) -> DataFrame:
    """Correlation-clustering objective for a clustering against the raw
    similarity-edge evidence: disagreements = positive edges CUT across
    clusters + co-clustered pairs with NO edge (Bansal/Blum/Chawla 2004).
    The unsupervised counterpart to cluster_quality/pairwise_f1 — no gold
    labels, just the edge set the clustering was built from — and the
    quantity that ranks transitive closure vs pivot clustering on noisy
    graphs: closure zeroes pos_cut but pays neg_within on every chained
    non-neighbour pair; pivot stars do the reverse trade.

    ``assignment`` must cover every edge endpoint (inner joins drop
    unassigned endpoints silently otherwise — assignments from
    connected_components + singleton coalesce or pivot_clusters with
    ``nodes=`` satisfy this by construction).

    One row out: (method?, n_nodes, n_clusters, n_pos_edges, pos_cut,
    neg_within, disagreement).

    Scale: never enumerates co-clustered pairs — neg_within is
    Σ C(size, 2) − pos_within, so the whole objective is two equi-joins
    over the edge list plus a cluster-size aggregate: O(E) + O(V), no
    quadratic term, cluster sizes only ever aggregated.
    """
    a = assignment.select(
        F.col(assignment.columns[0]).alias("node"),
        F.col(assignment.columns[1]).alias("cl"),
    )
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    ej = und.join(a.select(F.col("node").alias("a"), F.col("cl").alias("ca")), "a").join(
        a.select(F.col("node").alias("b"), F.col("cl").alias("cb")), "b"
    )
    estats = ej.agg(
        F.count(F.lit(1)).alias("n_pos_edges"),
        F.sum((F.col("ca") != F.col("cb")).cast("long")).alias("pos_cut"),
        F.sum((F.col("ca") == F.col("cb")).cast("long")).alias("pos_within"),
    )
    cstats = (
        a.groupBy("cl")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("n").alias("n_nodes"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("within_pairs"),
        )
    )
    out = (
        cstats.crossJoin(estats)
        .withColumn("n_pos_edges", F.coalesce("n_pos_edges", F.lit(0)))
        .withColumn("pos_cut", F.coalesce("pos_cut", F.lit(0)))
        .withColumn(
            "neg_within", F.col("within_pairs") - F.coalesce("pos_within", F.lit(0))
        )
        .withColumn("disagreement", F.col("pos_cut") + F.col("neg_within"))
        .select(
            "n_nodes", "n_clusters", "n_pos_edges", "pos_cut", "neg_within",
            "disagreement",
        )
    )
    if method is not None:
        out = out.select(F.lit(method).alias("method"), "*")
    return out


def constrained_pivot_clusters(
    edges: DataFrame,
    must_link: DataFrame | None = None,
    cannot_link: DataFrame | None = None,
    nodes: DataFrame | None = None,
    salt: str = "pivot",
    max_iter: int = 60,
) -> DataFrame:
    """Pivot clustering under reviewer constraints (Wagstaff & Cardie 2000
    instance-level constraints, the production-ER feedback loop): records a
    human confirmed as the same entity (``must_link``) always co-cluster,
    pairs confirmed distinct (``cannot_link``) never do. Both constraint
    frames are (src, dst) like ``edges`` and are typically tiny (human
    labels) next to the classifier edge set.

    Semantics by composition of the verified parts:
    1. must-link groups are the CONNECTED COMPONENTS of the must-link edge
       set (confirmations are transitive by definition — unlike classifier
       edges); each group contracts to its min-id super-node.
    2. a cannot-link pair inside one must-group is an infeasible labelling
       — surfaced as a ValueError naming the offending groups, never
       silently dropped.
    3. classifier edges map to super-node edges; super-edges that collide
       with a cannot-link super-pair are removed (the constraint overrides
       the classifier score), then pivot clustering runs on the contracted
       graph. Pivot stars (unlike transitive closure) also cannot leak a
       cannot-link pair back in transitively: dropping the direct
       super-edge is sufficient because membership requires DIRECT
       adjacency to the pivot... except when the two forbidden super-nodes
       are both non-pivot members adjacent to a shared pivot. That residual
       case is resolved deterministically after the fact: of the two
       members, the one with the larger pivot rank is evicted to a fresh
       singleton cluster (iterating evictions is unnecessary — singletons
       violate nothing).
    4. super-node assignments expand back to records.

    Determinism: inherits pivot_clusters' md5 ranks; eviction uses the same
    rank, so the whole operator is partition-invariant.
    """
    spark_edges = edges.select("src", "dst")
    if must_link is not None:
        ml = connected_components(must_link.select("src", "dst"))
        # rep(node) = must-group min id for grouped nodes, identity otherwise
    else:
        ml = None

    def _to_rep(df, col):
        if ml is None:
            return df.withColumn(f"_r_{col}", F.col(col))
        return df.join(
            ml.select(F.col("node").alias(col), F.col("component").alias(f"_r_{col}")),
            col,
            "left",
        ).withColumn(f"_r_{col}", F.coalesce(f"_r_{col}", F.col(col)))

    if cannot_link is not None:
        cl = _to_rep(_to_rep(cannot_link.select("src", "dst"), "src"), "dst").select(
            F.least("_r_src", "_r_dst").alias("_ca"),
            F.greatest("_r_src", "_r_dst").alias("_cb"),
        ).distinct()
        bad = cl.where(F.col("_ca") == F.col("_cb"))
        bad_rows = bad.limit(5).collect()
        if bad_rows:
            groups = ", ".join(str(r["_ca"]) for r in bad_rows)
            raise ValueError(
                f"infeasible constraints: cannot-link pair(s) inside "
                f"must-link group(s) {groups}"
            )
        cl = cl.localCheckpoint(eager=True)  # tiny; read by edge drop + eviction
    else:
        cl = None

    sup = _to_rep(_to_rep(spark_edges, "src"), "dst").select(
        F.col("_r_src").alias("src"), F.col("_r_dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    sup_nodes = None
    if cl is not None:
        # endpoints whose EVERY edge is constraint-dropped must still come
        # out (as singletons), so pin the pre-drop endpoint set as nodes
        sup_nodes = sup.select(F.col("src").alias("node")).union(
            sup.select(F.col("dst").alias("node"))
        )
        keyed = sup.withColumn("_ca", F.least("src", "dst")).withColumn(
            "_cb", F.greatest("src", "dst")
        )
        sup = keyed.join(cl, ["_ca", "_cb"], "left_anti").select("src", "dst")

    if nodes is not None:
        rep_nodes = _to_rep(nodes.select(F.col("node")), "node").select(
            F.col("_r_node").alias("node")
        )
        sup_nodes = rep_nodes if sup_nodes is None else sup_nodes.union(rep_nodes)
    if ml is not None:
        comp_nodes = ml.select(F.col("component").alias("node"))
        sup_nodes = (
            comp_nodes if sup_nodes is None else sup_nodes.union(comp_nodes)
        )
    assign = pivot_clusters(sup, nodes=sup_nodes, salt=salt, max_iter=max_iter)

    if cl is not None:
        # residual same-pivot collisions: evict the larger-rank member
        rk = lambda c: F.concat(  # noqa: E731
            F.md5(F.concat(F.lit(salt), c.cast("string"))), c.cast("string")
        )
        viol = (
            cl.join(
                assign.select(F.col("node").alias("_ca"), F.col("cluster").alias("_k1")),
                "_ca",
            )
            .join(
                assign.select(F.col("node").alias("_cb"), F.col("cluster").alias("_k2")),
                "_cb",
            )
            .where(F.col("_k1") == F.col("_k2"))
            .select(
                F.when(rk(F.col("_ca")) > rk(F.col("_cb")), F.col("_ca"))
                .otherwise(F.col("_cb"))
                .alias("node")
            )
            .distinct()
        )
        assign = assign.join(viol, "node", "left_anti").unionByName(
            viol.select("node", F.col("node").alias("cluster"))
        )

    if ml is None:
        return assign
    # expand super-nodes back to member records (non-grouped nodes pass
    # through: their rep is themselves, absent from ml)
    grouped = ml.join(
        assign.select(F.col("node").alias("component"), "cluster"), "component"
    ).select("node", "cluster")
    solo = assign.join(
        ml.select(F.col("component").alias("node")).distinct(), "node", "left_anti"
    )
    return solo.unionByName(grouped)


def constraint_violations(
    assignment: DataFrame,
    must_link: DataFrame | None = None,
    cannot_link: DataFrame | None = None,
) -> DataFrame:
    """Audit an EXISTING clustering against reviewer constraints: one row
    per violated constraint — a must-link pair split across clusters, or a
    cannot-link pair co-clustered. The monitoring counterpart to
    constrained_pivot_clusters (which PREVENTS violations at formation
    time): run it over last run's clusters when new labels arrive to
    decide whether a re-cluster is due, or over a transitive clustering —
    which cannot enforce cannot-links at all — to quantify what switching
    to the constrained path would fix.

    ``assignment`` is (node, cluster); constraint endpoints absent from it
    count as singleton clusters of themselves (the pipeline's coalesce
    convention), so a must-link to an unassigned record IS a violation.

    Output: (kind, src, dst, cluster_src, cluster_dst), src < dst
    canonical, one row per distinct violated pair. Two equi-joins per
    constraint frame against the assignment — constraint tables are
    human-label-sized, so at web scale these are broadcast joins against
    the big assignment.
    """
    a = assignment.select(
        F.col(assignment.columns[0]).alias("node"),
        F.col(assignment.columns[1]).alias("cl"),
    )

    def _audit(pairs, kind, bad_when_equal):
        canon = (
            pairs.select(
                F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        joined = (
            canon.join(a.select(F.col("node").alias("src"), F.col("cl").alias("_cs")), "src", "left")
            .join(a.select(F.col("node").alias("dst"), F.col("cl").alias("_cd")), "dst", "left")
            .select(
                "src",
                "dst",
                F.coalesce("_cs", F.col("src")).alias("cluster_src"),
                F.coalesce("_cd", F.col("dst")).alias("cluster_dst"),
            )
        )
        cond = (
            (F.col("cluster_src") == F.col("cluster_dst"))
            if bad_when_equal
            else (F.col("cluster_src") != F.col("cluster_dst"))
        )
        return joined.where(cond).select(
            F.lit(kind).alias("kind"), "src", "dst", "cluster_src", "cluster_dst"
        )

    parts = []
    if must_link is not None:
        parts.append(_audit(must_link.select("src", "dst"), "must_link", False))
    if cannot_link is not None:
        parts.append(_audit(cannot_link.select("src", "dst"), "cannot_link", True))
    if not parts:
        raise ValueError("pass at least one of must_link / cannot_link")
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def incremental_assign(
    registry: DataFrame,
    batch: DataFrame,
    threshold: float,
    rec_id_col: str = "rec_id",
    name_col: str = "name",
    cluster_col: str = "cluster_id",
    rep_col: str = "rep_name",
    block_prefix: int = 1,
) -> DataFrame:
    """Incremental ER registry upsert (Gruenheid, Dong & Srivastava,
    "Incremental Record Linkage", VLDB 2014, in its assign-or-mint form):
    match a NEW batch of records against the EXISTING cluster registry's
    representatives and either attach each record to its best cluster or
    mint a fresh singleton — the steady-state operation of a production
    entity registry, where re-clustering the full corpus per batch
    (what :func:`connected_components` does) is unaffordable.

    Per batch record: candidate representatives share the first
    ``block_prefix`` name characters (swap in any blocker upstream);
    each candidate is scored with the vectorized Jaro-Winkler pandas UDF
    (operators/pairs.py jw_udf over functions/similarity.py — DuckDB-
    parity semantics); the best
    candidate by (score desc, cluster asc) wins iff score ≥ threshold,
    else the record mints cluster ``new:<rec_id>``. Records whose
    entities are genuinely new thus stay singletons HERE; within-batch
    resolution of those singletons is the normal pipeline's job on the
    next full run (documented contract, not a silent gap).

    Scale: registry representatives are one row per cluster — orders of
    magnitude smaller than the corpus — so the block join usually
    broadcasts; the only window is per-batch-record top-1 (bounded by
    that record's candidate count). Deterministic at any parallelism.

    Output: ``(rec_id, cluster_id [string], score, matched)`` — one row
    per batch record; score is NULL for minted singletons.
    """
    from .pairs import jw_udf

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    reps = registry.select(
        F.col(cluster_col).cast("string").alias("_c"),
        F.col(rep_col).alias("_rep"),
    )
    b = batch.select(F.col(rec_id_col).alias("_id"), F.col(name_col).alias("_n"))
    cand = b.join(
        reps,
        F.substring("_n", 1, block_prefix) == F.substring("_rep", 1, block_prefix),
    ).withColumn("_s", jw_udf(F.col("_n"), F.col("_rep")))
    w = Window.partitionBy("_id").orderBy(F.desc("_s"), F.asc("_c"))
    best = (
        cand.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("_s") >= threshold))
        .select("_id", "_c", "_s")
    )
    matched = best.select(
        F.col("_id").alias(rec_id_col),
        F.col("_c").alias("cluster_id"),
        F.col("_s").alias("score"),
        F.lit(True).alias("matched"),
    )
    minted = (
        b.join(best.select("_id"), "_id", "left_anti")
        .select(
            F.col("_id").alias(rec_id_col),
            F.concat(F.lit("new:"), F.col("_id").cast("string")).alias(
                "cluster_id"
            ),
            F.lit(None).cast("double").alias("score"),
            F.lit(False).alias("matched"),
        )
    )
    return matched.unionByName(minted)


def cluster_depth_audit(
    assignments: DataFrame,
    edges: DataFrame,
    max_rounds: int = 6,
    rec_id_col: str = "rec_id",
    cluster_col: str = "cluster_id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Transitive-chain risk audit: per cluster, run a bounded BFS over
    the MATCH EDGES from a deterministic root (the cluster's minimum
    record id) and report how deep the cluster runs. Connected
    components happily glue a 40-hop chain of pairwise-plausible matches
    into one entity — each hop defensible, the endpoints absurd (the
    classic transitive-closure failure mode; Hassanzadeh & Miller,
    VLDBJ 2009 measure exactly this chain risk). A cluster whose
    root eccentricity approaches its size is a chain, not a clique —
    the first thing a reviewer should see.

    ``max_rounds`` bounds the BFS (shallow by design: a healthy cluster
    has diameter ≤ 2-3 after star-repair); records not reached within
    the budget are reported in ``n_unreached`` — nonzero either means a
    deeper chain than the budget or an assignment that was never
    edge-supported, both worth flags. Each round is one join of the
    (shrinking) frontier against the symmetrized edge list, one
    anti-join against the visited set, and a localCheckpoint so plans
    stay flat — the connected-components loop's cost model.

    Output: one row per cluster —
    ``(cluster_id, size, n_reached, ecc_root, n_unreached)``.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    asg = assignments.select(
        F.col(rec_id_col).alias("_rec"), F.col(cluster_col).alias("_c")
    )
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    sym = e.unionByName(
        e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    ).distinct()
    roots = asg.groupBy("_c").agg(F.min("_rec").alias("_rec"))
    depth = roots.select("_c", "_rec", F.lit(0).alias("_depth"))
    frontier = depth
    for r in range(1, max_rounds + 1):
        nxt = (
            frontier.join(sym, frontier["_rec"] == sym["_s"])
            .select("_c", F.col("_d").alias("_rec"))
            .join(asg, ["_rec", "_c"])  # never walk across cluster borders
            .distinct()
            .join(depth.select("_rec", "_c"), ["_rec", "_c"], "left_anti")
            .withColumn("_depth", F.lit(r))
        )
        depth = depth.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    per_cluster = depth.groupBy("_c").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.max("_depth").cast("long").alias("ecc_root"),
    )
    sizes = asg.groupBy("_c").agg(F.count(F.lit(1)).cast("long").alias("size"))
    return (
        sizes.join(per_cluster, "_c", "left")
        .select(
            F.col("_c").alias(cluster_col),
            "size",
            F.coalesce("n_reached", F.lit(0)).cast("long").alias("n_reached"),
            F.coalesce("ecc_root", F.lit(0)).cast("long").alias("ecc_root"),
            (F.col("size") - F.coalesce("n_reached", F.lit(0)))
            .cast("long")
            .alias("n_unreached"),
        )
    )
