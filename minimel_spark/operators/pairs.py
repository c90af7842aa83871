"""Candidate-pair generation + pairwise feature scoring (SURVEY §2.3 note, §7
stage 6; north star: Jaro-Winkler + Levenshtein + hashed-BoW-cosine features).

Pair generation is the within-block self-join the reference never had (its
cluster() walks a dict): ``blocked.a JOIN blocked.b ON block_key WHERE a < b``,
deduplicated across block generators with a groupBy on the pair key. The join
shuffles on ``block_key``; cap_blocks has already bounded per-key fan-out, and
AQE skew-join covers residual imbalance.

Feature computation is O(records + distinct-name-pairs), not O(pairs):

- name-level features (``lev_sim``, ``jacc3``, ``jw``) are computed ONCE per
  distinct (name_a, name_b) combination and joined back — within-block pairs
  overwhelmingly repeat the same few surface-form combinations, so this turns
  millions of per-pair UDF calls into thousands. ``lev_sim`` is the Spark
  built-in ``levenshtein`` and ``jacc3`` is array_intersect/array_union (both
  JVM whole-stage codegen); only Jaro-Winkler is a (tiny) pandas UDF.
- ``cos_bow`` (hashed bag-of-words cosine over each record's context, the
  reference hashvec cousin, minimel/vectorize.py:170-181) precomputes one
  sparse map<int,double> + L2 norm PER DISTINCT TEXT in an Arrow-batched
  pandas UDF. Under the broadcast budget the pair dot product is a
  vectorized Arrow UDF over the two id columns against that broadcast table;
  above it, a JVM fold over the two joined vectors.
"""

from __future__ import annotations

import zlib

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window

from ..functions.normalize import vw_tok
from ..functions.similarity import jaro_winkler
from ..functions.udfs import shingles_udf

BOW_DIM = 1 << 18

# cos_bow broadcast budget: when the distinct-text vector table's payload,
# measured exactly on the persisted table, fits this budget, the pair dot
# product is computed by a vectorized Arrow UDF over ONLY the two 8-byte id
# columns against a broadcast numpy table — no join of the (much larger)
# pair table at all. Past the budget the join path runs. 128 MiB is the same
# dimension-table magnitude as the session's autoBroadcastJoinThreshold.
DEFAULT_VEC_BCAST_BYTES = 128 << 20

_FEATURE_COLS = (
    "rec_id_a", "rec_id_b", "n_blocks", "name_a", "name_b",
    "lev_sim", "jacc3", "jw", "cos_bow",
)


@F.pandas_udf(T.DoubleType())
def jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([jaro_winkler(x or "", y or "") for x, y in zip(a, b)])


@F.pandas_udf(T.MapType(T.IntegerType(), T.DoubleType()))
def bow_udf(texts: pd.Series) -> pd.Series:
    """Hashed bag-of-words (crc32 % 2^18 over vw_tok tokens) as a sparse map."""
    out = []
    for t in texts:
        v: dict[int, float] = {}
        for tok in vw_tok(t or ""):
            h = zlib.crc32(tok.encode("utf-8")) % BOW_DIM
            v[h] = v.get(h, 0.0) + 1.0
        out.append(v)
    return pd.Series(out)


def candidate_pairs(blocked: DataFrame, rec_id_col: str = "rec_id") -> DataFrame:
    """(rec_id, block_key, ...) -> distinct (rec_id_a, rec_id_b, n_blocks) with
    rec_id_a < rec_id_b; n_blocks = how many blocks proposed the pair."""
    a = blocked.select(F.col(rec_id_col).alias("rec_id_a"), "block_key")
    b = blocked.select(F.col(rec_id_col).alias("rec_id_b"), "block_key")
    return (
        a.join(b, "block_key")
        .where(F.col("rec_id_a") < F.col("rec_id_b"))
        .groupBy("rec_id_a", "rec_id_b")
        .agg(F.count(F.lit(1)).alias("n_blocks"))
    )


def name_pair_features(name_pairs: DataFrame) -> DataFrame:
    """(name_a, name_b) -> + lev_sim, jacc3, jw. Input should be distinct."""
    df = name_pairs.withColumn("_sh_a", shingles_udf("name_a")).withColumn(
        "_sh_b", shingles_udf("name_b")
    )
    maxlen = F.greatest(F.length("name_a"), F.length("name_b"))
    return (
        df.withColumn(
            "lev_sim",
            F.when(maxlen == 0, F.lit(1.0)).otherwise(
                1.0 - F.levenshtein("name_a", "name_b") / maxlen
            ),
        )
        .withColumn(
            "jacc3",
            F.when(
                (F.size("_sh_a") == 0) | (F.size("_sh_b") == 0), F.lit(0.0)
            ).otherwise(
                F.size(F.array_intersect("_sh_a", "_sh_b"))
                / F.size(F.array_union("_sh_a", "_sh_b"))
            ),
        )
        .withColumn("jw", jw_udf("name_a", "name_b"))
        .drop("_sh_a", "_sh_b")
    )


def _pair_cosine(bow_a, bow_b, norm_a, norm_b):
    """JVM sparse-dot (the past-broadcast-budget fallback): left fold over
    side a's entries, look up side b. ``map_entries`` iteration (r6) reads
    each (key, value) of a directly instead of re-probing a's own map per
    key — the old ``element_at(bow_a, k)`` was an O(|a|) linear scan per
    element, making the fold O(|a|² + |a|·|b|); this is O(|a|·|b|) with
    bit-identical values (same keys, same order, same adds)."""
    dot = F.aggregate(
        F.map_entries(bow_a),
        F.lit(0.0),
        lambda acc, e: acc
        + e["value"] * F.coalesce(F.element_at(bow_b, e["key"]), F.lit(0.0)),
    )
    return F.when((norm_a == 0.0) | (norm_b == 0.0), F.lit(0.0)).otherwise(
        dot / (norm_a * norm_b)
    )


def _sparse_cos_bcast_udf(spark, ids, rows, keys, vals, counts, norms):
    """cos_bow over a broadcast sparse bow table (flattened CSR-style
    arrays, entries in each text's bow insertion order). Per batch: gather
    side a's entry ranges, look up side b via one vectorized searchsorted on
    a (record, key)-combined sorted array, multiply, and reduce per pair.
    Missing b keys contribute exactly 0.0 (as in the JVM fold, where adding
    0.0 to a non-negative running sum is an IEEE no-op), so the sum runs
    over the same effective addend sequence as the JVM path; the per-pair
    reduction is ``np.add.reduceat`` (sequential within a segment). Pairs
    with an id absent from the record table come back NaN and are dropped
    by the caller (inner-join semantics). ``rows[i]`` maps ``ids[i]`` to its
    row of the distinct-text CSR."""
    import numpy as np

    n = len(counts)
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    seg = np.repeat(np.arange(n, dtype=np.int64), counts)
    combined = (seg << 18) | keys  # keys < BOW_DIM = 2^18
    order = np.argsort(combined, kind="stable")
    sorted_combined = combined[order]
    sorted_vals = vals[order]
    bc = spark.sparkContext.broadcast(
        (ids, rows, keys, vals, off, norms, sorted_combined, sorted_vals)
    )
    state: dict = {}

    @F.pandas_udf(T.DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if "ix" not in state:  # once per worker (guide §4.5)
            v = bc.value
            state["ix"] = pd.Index(v[0])
            state["rows"] = v[1]
            state["rest"] = v[2:]
        ix = state["ix"]
        rows_ = state["rows"]
        keys, vals, off, norms, s_comb, s_vals = state["rest"]
        ia = ix.get_indexer(a)  # -1 = missing
        ib = ix.get_indexer(b)
        ok = (ia >= 0) & (ib >= 0)
        out = np.full(len(ia), np.nan)
        if not ok.any():
            return pd.Series(out)
        ia_i = rows_[ia[ok]]
        ib_i = rows_[ib[ok]]
        starts = off[ia_i]
        cnts = off[ia_i + 1] - starts
        total = int(cnts.sum())
        dots = np.zeros(len(ia_i))
        if total:
            cum = np.cumsum(cnts) - cnts  # segment starts in the gather
            pos = np.arange(total, dtype=np.int64) + np.repeat(starts - cum, cnts)
            ak = keys[pos]
            av = vals[pos]
            target = (np.repeat(ib_i, cnts) << 18) | ak
            p = np.searchsorted(s_comb, target)
            p_cl = np.minimum(p, len(s_comb) - 1)
            bv = np.where(s_comb[p_cl] == target, s_vals[p_cl], 0.0)
            prod = av * bv
            nz = cnts > 0
            dots[nz] = np.add.reduceat(prod, cum[nz])
        na = norms[ia_i]
        nb = norms[ib_i]
        res = np.where((na == 0.0) | (nb == 0.0), 0.0, dots / np.where(na * nb == 0.0, 1.0, na * nb))
        out[ok] = res
        return pd.Series(out)

    return cos


def pair_features(
    pairs: DataFrame,
    records: DataFrame,
    rec_id_col: str = "rec_id",
    name_col: str = "name",
    text_col: str | None = "text",
    max_broadcast_name_pairs: int | None = 5_000_000,
    persisted_out: list | None = None,
    max_broadcast_vec_bytes: int | None = DEFAULT_VEC_BCAST_BYTES,
) -> DataFrame:
    """Attach per-side names/contexts and compute the feature columns.

    Output: (rec_id_a, rec_id_b, n_blocks, name_a, name_b,
             lev_sim, jacc3, jw, cos_bow).

    The distinct name-pair feature table is persisted when ``persisted_out``
    is passed (its subplan contains the whole pair-generation join — never
    evaluate that twice on the hot path; without a receiver nothing is
    pinned, so repeated no-receiver calls cannot leak caches) and only
    broadcast-HINTED while it holds at most ``max_broadcast_name_pairs``
    rows, counted on the table itself; past the budget (LSH-banded
    cross-name pairs at web scale) the join back degrades to a shuffle join
    instead of a forced multi-GB broadcast. ``None`` always hints. The hint
    is kept because Spark cannot size this side itself: uncached, its
    static estimate grows through the pair join and loses the broadcast.

    ``max_broadcast_vec_bytes``: ``cos_bow`` reads ONE persisted vector
    table with a row per distinct text and the list of record ids carrying
    it. One agg over that table measures the exact driver payload (16 B per
    record id, per bow entry and per text). While it fits this budget the
    table is pulled to the driver, and ``cos_bow`` is computed by a
    vectorized Arrow UDF over ONLY the two id columns against a broadcast
    numpy table — the per-pair bow joins and the interpreted
    higher-order-function fold with its O(|a|·|b|) ``element_at`` map probes
    disappear from the plan (guide §4.2/§8: decide with small rows, keep the
    heavy payload out of the pair stream). Past the budget the same table is
    exploded to one row per record for two shuffle joins and the JVM fold.
    The broadcast path agrees with the join path to float associativity
    (same addend sequence, ``np.add.reduceat`` reduction). ``None`` disables
    the broadcast path outright; the default is ``DEFAULT_VEC_BCAST_BYTES``
    (128 MiB). Records are assumed to carry unique ``rec_id_col`` values.
    """
    if persisted_out is not None:
        # the pair stream feeds TWO subplans (the distinct name-pair branch
        # and the output rows); without a cache the whole pair-generation
        # join runs once per branch (r6 — measured one full extra pass per
        # segment at sf0.1). MEMORY_AND_DISK, caller-owned lifecycle, same
        # contract as the other caches here.
        pairs = pairs.persist()
        persisted_out.append(pairs)
    if "name_a" in pairs.columns and "name_b" in pairs.columns:
        # pair generator already carried both surface forms (the
        # surface_blocked_pairs path) — no joins back to the record table
        df = pairs
    else:
        ids = records.select(
            F.col(rec_id_col).alias("_rid"), F.col(name_col).alias("_name")
        )
        df = (
            pairs.join(
                ids.select(F.col("_rid").alias("rec_id_a"), F.col("_name").alias("name_a")),
                "rec_id_a",
            )
            .join(
                ids.select(F.col("_rid").alias("rec_id_b"), F.col("_name").alias("name_b")),
                "rec_id_b",
            )
        )
    # name-level features once per distinct surface-form pair, joined back.
    # Caches feed the returned lazy plan, so they are persisted ONLY when the
    # caller passes ``persisted_out`` to own the unpersist-after-materialize
    # lifecycle (ADVICE r3); with no receiver nothing is pinned (a persist
    # with no owner would leak executor memory for the session — the same
    # contract as minhash_dups/ngram_jaccard_dups).
    distinct_names = df.select("name_a", "name_b").distinct()
    if persisted_out is not None:
        distinct_names = distinct_names.persist()
        persisted_out.append(distinct_names)
    name_feats = name_pair_features(distinct_names)
    if max_broadcast_name_pairs is None or (
        distinct_names.count() <= max_broadcast_name_pairs
    ):
        name_feats = F.broadcast(name_feats)
    df = df.join(name_feats, ["name_a", "name_b"])
    if not text_col:
        return df.withColumn("cos_bow", F.lit(0.0)).select(*_FEATURE_COLS)
    # ONE vector table with a row per distinct text (mention-style corpora
    # attach one paragraph text to dozens of records): the UDF runs once per
    # text, and ``_rids`` lists the records that carry it. The UDFs read null
    # as "", so grouping on the coalesced text is value-preserving.
    vt = (
        records.groupBy(F.coalesce(F.col(text_col), F.lit("")).alias("_t"))
        .agg(F.collect_list(rec_id_col).alias("_rids"))
        .select("_rids", bow_udf("_t").alias("bow"))
        .withColumn(
            "bow_norm",
            F.sqrt(F.aggregate(F.map_values("bow"), F.lit(0.0), lambda acc, x: acc + x * x)),
        )
        .persist()  # feeds the size agg AND the pull (or both join sides)
    )
    if max_broadcast_vec_bytes is not None:
        # exact driver payload, measured on the persisted table: 8 B id + 8 B
        # row index per record, 8 B key + 8 B value per bow entry, 8 B norm +
        # 8 B count per text
        size = vt.agg(
            F.coalesce(
                (F.sum(F.size("_rids")) + F.sum(F.size("bow")) + F.count(F.lit(1))) * 16,
                F.lit(0),
            )
        ).first()[0]
        if size <= max_broadcast_vec_bytes:
            import numpy as np

            pdf = vt.select(
                "_rids",
                F.map_keys("bow").alias("_k"),
                F.map_values("bow").alias("_w"),
                "bow_norm",
            ).toPandas()
            vt.unpersist()

            def flat(col, dtype):  # one array from a column of per-text arrays
                return np.concatenate([np.empty(0, dtype), *pdf[col]])

            def lens(col):
                return pdf[col].map(len).to_numpy(dtype=np.int64)

            ids = flat("_rids", np.int64)
            rows = np.repeat(np.arange(len(pdf), dtype=np.int64), lens("_rids"))
            cos = _sparse_cos_bcast_udf(
                records.sparkSession,
                ids,
                rows,
                flat("_k", np.int64),
                flat("_w", np.float64),
                lens("_k"),
                pdf["bow_norm"].to_numpy(dtype=np.float64),
            )
            return (
                # nondeterministic (guide §4.4): the isnan filter must not
                # duplicate the Arrow evaluation via filter pushdown
                df.withColumn(
                    "cos_bow",
                    cos.asNondeterministic()(F.col("rec_id_a"), F.col("rec_id_b")),
                )
                .where(~F.isnan("cos_bow"))  # inner-join semantics: drop
                # pairs referencing ids absent from the record table
                .select(*_FEATURE_COLS)
            )
    # over budget (or broadcast disabled): explode the same table into the
    # per-record side of two shuffle joins and take the exact JVM fold
    if persisted_out is not None:
        persisted_out.append(vt)
    else:
        vt.unpersist()
    per_rec = vt.select(F.explode("_rids").alias("_rid"), "bow", "bow_norm")
    for side in "ab":
        df = df.join(
            per_rec.select(
                F.col("_rid").alias(f"rec_id_{side}"),
                F.col("bow").alias(f"bow_{side}"),
                F.col("bow_norm").alias(f"bow_norm_{side}"),
            ),
            f"rec_id_{side}",
        )
    cos = _pair_cosine(
        F.col("bow_a"), F.col("bow_b"), F.col("bow_norm_a"), F.col("bow_norm_b")
    )
    return df.withColumn("cos_bow", cos).select(*_FEATURE_COLS)



def edit_distance_join(
    records: DataFrame,
    k: int = 2,
    q: int = 2,
    name_col: str = "name",
    id_col: str = "rec_id",
    persisted_out: list | None = None,
) -> DataFrame:
    """Exact edit-distance similarity self-join: all pairs with
    ``levenshtein(a, b) <= k``, via the LOSSLESS q-gram count filter
    (Gravano et al., "Approximate String Joins in a Database (Almost) for
    Free", VLDB 2001) — the edit-distance sibling of
    ``dedup.prefix_jaccard_dups``'s set-similarity prefix filter.

    Candidate generation, all JVM-side:

    - **length filter**: ``| |a| - |b| | <= k`` (each edit changes length by
      at most 1);
    - **count filter**: one edit destroys at most ``q`` of a string's
      overlapping q-grams, so ``ed(a,b) <= k`` implies the pair shares at
      least ``max(|a|,|b|) - q + 1 - k*q`` q-grams counted WITH multiplicity
      (multiset intersection = Σ_g min(count_a(g), count_b(g))). Pairs are
      generated by a posting-list join on the gram, one groupBy computes the
      multiset intersection, and the bound prunes the stream;
    - **short stratum**: when ``max(|a|,|b|) < q*(k+1)`` the bound is <= 0 —
      the lemma guarantees nothing — so strings shorter than ``q*(k+1)``
      additionally do an all-pairs pass among themselves (both sides of any
      missed pair are provably in the stratum: a partner of a string shorter
      than q is itself shorter than q*(k+1)). The stratum is all-pairs over
      DISTINCT short strings — bounded by construction (|Σ|^(q(k+1)) values
      at most; in practice a sliver) and worth it for losslessness.

    Every similarity stage runs over DISTINCT names; record pairs are
    expanded from the verified name pairs at the end (plus the same-name
    record groups at distance 0, which any exact join must emit), so
    duplicate-heavy corpora pay quadratic cost only where the OUTPUT is
    quadratic. Verification is the built-in ``levenshtein`` (whole-stage
    codegen). Output: ``(rec_id_a, rec_id_b, distance)`` with
    ``rec_id_a < rec_id_b``.

    Scale notes: the posting join is the standard q-gram method — hot grams
    dominate its fan-out exactly like hot shingles in ``ngram_jaccard_dups``;
    the count filter prunes AFTER the join, so corpora with heavy gram skew
    should pre-segment (PassJoin-style positional pigeonholing is the
    documented upgrade path, same join shape with (segment, position-band)
    keys). Everything is keyed shuffles + one codegen'd verify — no UDF, no
    driver state.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    names = records.select(
        F.col(id_col).alias("rid"), F.col(name_col).alias("nm")
    )
    # ALL similarity work runs over DISTINCT names — duplicate-heavy
    # corpora (many records sharing one name) pay the quadratic cost only
    # in the final expansion, which is output-sized by definition
    dn = names.select("nm").distinct().withColumn("ln", F.length("nm"))
    short_cut = q * (k + 1)

    # posting-list join over multiset gram counts (strings with >= 1 gram);
    # the positional slice needs expr() — F.substring takes literal positions
    grams = (
        dn.where(F.col("ln") >= q)
        .select(
            "nm",
            "ln",
            F.explode(
                F.expr(f"transform(sequence(1, ln - {q} + 1), i -> substr(nm, i, {q}))")
            ).alias("gram"),
        )
        .groupBy("nm", "ln", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # both sides of the posting join scan the same gram table: persist when
    # the caller manages the lifecycle
    if persisted_out is not None:
        grams = grams.persist()
        persisted_out.append(grams)
    ga = grams.select(
        F.col("nm").alias("_na"), F.col("ln").alias("_la"),
        "gram", F.col("cnt").alias("_ca"),
    )
    gb = grams.select(
        F.col("nm").alias("_nb"), F.col("ln").alias("_lb"),
        "gram", F.col("cnt").alias("_cb"),
    )
    bound = F.greatest("_la", "_lb") - F.lit(q - 1) - F.lit(k * q)
    cand_long = (
        ga.join(gb, "gram")
        .where(
            (F.col("_na") < F.col("_nb"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= k)
        )
        .groupBy("_na", "_nb", "_la", "_lb")
        .agg(F.sum(F.least("_ca", "_cb")).alias("_common"))
        .where(F.col("_common") >= bound)
        .select("_na", "_nb")
    )

    # short stratum: all-pairs among DISTINCT strings below the lemma's
    # floor — as an EQUI join (hash, never a nested loop): side b explodes
    # its 2k+1 admissible partner lengths, side a joins on its own exact
    # length, so every |la - lb| <= k pair matches exactly once
    sh = dn.where(F.col("ln") < short_cut)
    sa = sh.select(F.col("nm").alias("_na"), F.col("ln").alias("_cl"))
    sb = sh.select(
        F.col("nm").alias("_nb"),
        F.explode(
            F.sequence(F.greatest(F.col("ln") - k, F.lit(0)), F.col("ln") + k)
        ).alias("_cl"),
    )
    cand_short = (
        sa.join(sb, "_cl")
        .where(F.col("_na") < F.col("_nb"))
        .select("_na", "_nb")
    )

    name_pairs = (
        cand_long.unionByName(cand_short)
        .distinct()
        .withColumn("distance", F.levenshtein("_na", "_nb"))
        .where(F.col("distance") <= k)
    )
    # expansion back to record pairs: cross-name pairs via two joins (each
    # record pair appears exactly once since _na < _nb), plus the same-name
    # groups at distance 0 (an exact join must emit those by definition)
    ra = names.select(F.col("rid").alias("_ra"), F.col("nm").alias("_na"))
    rb = names.select(F.col("rid").alias("_rb"), F.col("nm").alias("_nb"))
    cross = (
        name_pairs.join(ra, "_na")
        .join(rb, "_nb")
        .select(
            F.least("_ra", "_rb").alias("rec_id_a"),
            F.greatest("_ra", "_rb").alias("rec_id_b"),
            F.col("distance").cast("long").alias("distance"),
        )
    )
    same = (
        names.select(F.col("rid").alias("rec_id_a"), "nm")
        .join(names.select(F.col("rid").alias("rec_id_b"), "nm"), "nm")
        .where(F.col("rec_id_a") < F.col("rec_id_b"))
        .select("rec_id_a", "rec_id_b", F.lit(0).cast("long").alias("distance"))
    )
    return cross.unionByName(same)


def fuzzy_ratios(
    pairs: DataFrame,
    name_a: str = "name_a",
    name_b: str = "name_b",
) -> DataFrame:
    """Order-insensitive fuzzy name-match features (the fuzzywuzzy /
    RapidFuzz classics, standard in ER feature stacks next to raw
    Levenshtein/Jaro-Winkler):

    - ``ratio``: plain normalized similarity 1 - lev/max_len;
    - ``token_sort_ratio``: the same after lowercasing, tokenizing and
      sorting tokens — word-order permutations ("smith john" vs
      "john smith") score 1.0;
    - ``token_set_ratio``: computed on the sorted COMMON-token string vs
      each side's full sorted string, max of the two comparisons against
      the intersection — robust when one name extends the other
      ("acme corp" vs "acme corp holdings intl").

    Everything is JVM expression chains (split / array_sort /
    array_intersect / concat_ws / levenshtein) — no UDF — and each step
    has an exact DuckDB twin (list_sort / list_intersect /
    array_to_string / levenshtein), so the gate value-hashes all three
    features. Appends the three columns to ``pairs``.
    """

    def norm_sim(a, b):
        ml = F.greatest(F.length(a), F.length(b))
        return F.when(ml == 0, F.lit(1.0)).otherwise(
            1.0 - F.levenshtein(a, b) / ml
        )

    def toks(c):
        return F.array_sort(
            F.filter(F.split(F.lower(c), r"[^a-z0-9]+"), lambda w: w != "")
        )

    ta, tb = toks(F.col(name_a)), toks(F.col(name_b))
    sa, sb = F.concat_ws(" ", ta), F.concat_ws(" ", tb)
    common = F.concat_ws(" ", F.array_sort(F.array_intersect(ta, tb)))
    # a token-less side makes the common string trivially equal to it,
    # which would score 1.0 against ANYTHING (a punctuation-only junk name
    # must not emit a maximal containment signal) — fall back to the direct
    # token-string comparison: '' vs '' -> 1.0, '' vs non-empty -> 0.0
    token_set = F.when(
        (sa == "") | (sb == ""), norm_sim(sa, sb)
    ).otherwise(F.greatest(norm_sim(common, sa), norm_sim(common, sb)))
    return (
        pairs.withColumn("ratio", norm_sim(F.col(name_a), F.col(name_b)))
        .withColumn("token_sort_ratio", norm_sim(sa, sb))
        .withColumn("token_set_ratio", token_set)
    )


def soft_tfidf(
    pairs: DataFrame,
    records: DataFrame,
    threshold: float = 0.85,
    name_col: str = "name",
    name_a: str = "name_a",
    name_b: str = "name_b",
    persisted_out: list | None = None,
) -> DataFrame:
    """Soft-TF-IDF (Cohen, Ravikumar & Fienberg, "A Comparison of String
    Distance Metrics for Name-Matching Tasks", IIWeb 2003) — the hybrid
    metric that beat both pure-token TF-IDF cosine and pure-edit
    Jaro-Winkler in their benchmark, and remains the standard strong
    baseline for multi-token name matching:

        soft_tfidf(a, b) = Σ_{w ∈ close(a,b)} V(w, a) · V(match(w), b)
                                             · jw(w, match(w))

    where ``close`` = tokens of ``a`` with some token of ``b`` at
    Jaro-Winkler > ``threshold``, ``match(w)`` = the argmax-JW partner
    (ties broken by smallest partner token, deterministically), and
    ``V(w, s)`` = the L2-normalized corpus-IDF token weight
    ``tf(w, s) · ln(1 + N / df(w))`` over the ``records`` name corpus.

    Distributed shape (everything O(distinct) where it can be):

    - token DF and the per-name normalized weight table are corpus-side
      joins computed once (``persisted_out`` receives the weight table —
      it is consumed by both sides of every pair);
    - JW runs ONCE per DISTINCT cross-pair token combination (the same
      trick ``pair_features`` uses for whole names) — the pandas UDF
      never sees the pair stream;
    - per-pair token fan-out is |tokens(a)| × |tokens(b)|, bounded by
      name length, grouped straight back down to one row per pair.

    Asymmetric by definition (it iterates a's tokens); callers wanting a
    symmetric feature take ``max``/``mean`` of both directions. Pairs with
    no close token pair score 0.0. Appends ``soft_tfidf`` to ``pairs``.
    """
    if not 0.0 <= threshold < 1.0:
        raise ValueError(f"threshold must be in [0, 1), got {threshold}")

    def toks(c):
        return F.filter(F.split(F.lower(c), r"[^a-z0-9]+"), lambda w: w != "")

    names = records.select(F.col(name_col).alias("_nm")).distinct()
    n_names = names.agg(F.count(F.lit(1)).alias("_n"))
    tf = (
        names.select("_nm", F.explode(toks(F.col("_nm"))).alias("_tok"))
        .groupBy("_nm", "_tok")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    df_tbl = tf.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    u = (
        tf.join(df_tbl, "_tok")
        .crossJoin(n_names)
        .withColumn("_u", F.col("_tf") * F.log(1.0 + F.col("_n") / F.col("_df")))
    )
    norm = u.groupBy("_nm").agg(F.sqrt(F.sum(F.col("_u") * F.col("_u"))).alias("_z"))
    w = (
        u.join(norm, "_nm")
        .select(
            "_nm",
            "_tok",
            F.when(F.col("_z") > 0, F.col("_u") / F.col("_z"))
            .otherwise(F.lit(0.0))
            .alias("_v"),
        )
    )
    if persisted_out is not None:
        w = w.persist()
        persisted_out.append(w)

    pa = pairs.join(
        w.select(
            F.col("_nm").alias(name_a),
            F.col("_tok").alias("_ta"),
            F.col("_v").alias("_va"),
        ),
        name_a,
    )
    both = pa.join(
        w.select(
            F.col("_nm").alias(name_b),
            F.col("_tok").alias("_tb"),
            F.col("_v").alias("_vb"),
        ),
        name_b,
    )
    # JW once per DISTINCT (_ta, _tb): the UDF stream is the token-pair
    # dictionary, not the pair stream
    tok_pairs = both.select("_ta", "_tb").distinct().withColumn(
        "_jw", jw_udf("_ta", "_tb")
    )
    close = (
        both.join(tok_pairs, ["_ta", "_tb"])
        .where(F.col("_jw") > threshold)
        .groupBy(name_a, name_b, "_ta", "_va")
        # argmax by jw, ties -> smallest partner token: min(struct(-jw, tb))
        .agg(
            F.min(
                F.struct(
                    (-F.col("_jw")).alias("_njw"),
                    F.col("_tb"),
                    (F.col("_vb") * F.col("_jw")).alias("_contrib"),
                )
            )["_contrib"].alias("_c")
        )
        .groupBy(name_a, name_b)
        .agg(F.sum(F.col("_va") * F.col("_c")).alias("soft_tfidf"))
    )
    return pairs.join(close, [name_a, name_b], "left").withColumn(
        "soft_tfidf", F.coalesce("soft_tfidf", F.lit(0.0))
    )


def monge_elkan(
    pairs: DataFrame,
    threshold: float = 0.85,
    name_a: str = "name_a",
    name_b: str = "name_b",
) -> DataFrame:
    """Monge-Elkan hybrid similarity (Monge & Elkan, "The field matching
    problem", KDD 1996) with a Jaro-Winkler inner metric — the per-token
    best-match average that handles re-ordered, abbreviated, and
    partially-overlapping multi-token names where whole-string edit
    distance fails:

        me(a→b) = (1/|T(a)|) Σ_{w ∈ T(a)} max_{v ∈ T(b)} jw'(w, v)

    where ``jw'(w, v) = jw(w, v) if jw(w, v) > threshold else 0`` — the
    thresholded inner metric (the generalized-ME noise-suppression knob,
    cf. Jimenez et al., "Generalized Monge-Elkan Method", CICLing 2009):
    below-cutoff token matches contribute nothing instead of dragging the
    mean toward junk alignments. T(·) is the token MULTISET (repeated
    tokens each occupy a slot of the mean, per the original definition).
    The metric is directional; the output carries both directions plus the
    symmetric mean:

        (``me_ab``, ``me_ba``, ``me_sym`` = (me_ab + me_ba) / 2)

    appended to ``pairs``.

    Distributed shape (same discipline as :func:`soft_tfidf`):

    - the pandas-UDF Jaro-Winkler runs ONCE per DISTINCT cross-pair token
      combination, never on the pair stream;
    - per-pair fan-out is |T(a)| × |T(b)| rows (bounded by name length),
      reduced by two grouped argmax passes — one per direction — straight
      back to one row per pair;
    - no windows, no sorts, no driver state; everything downstream of the
      token-pair dictionary is JVM expression + groupBy.

    The cutoff also makes the metric oracle-exact cross-engine: jw > 0.85
    forces jaro > 0.75, inside both DuckDB's and this repo's
    boost-threshold conventions, where the two implementations are
    bit-compatible (the same argument the soft-TF-IDF gate pins).
    """
    if not 0.0 <= threshold < 1.0:
        raise ValueError(f"threshold must be in [0, 1), got {threshold}")

    def toks(c):
        return F.filter(F.split(F.lower(c), r"[^a-z0-9]+"), lambda w: w != "")

    base = pairs.select(
        name_a,
        name_b,
        toks(F.col(name_a)).alias("_tsa"),
        toks(F.col(name_b)).alias("_tsb"),
    )
    # positions keep multiset slots distinct through the grouped argmax
    crossed = base.select(
        name_a,
        name_b,
        F.size("_tsa").alias("_na"),
        F.size("_tsb").alias("_nb"),
        F.posexplode("_tsa").alias("_ia", "_ta"),
    ).select(
        name_a, name_b, "_na", "_nb", "_ia", "_ta",
        F.posexplode(toks(F.col(name_b))).alias("_ib", "_tb"),
    )
    tok_pairs = crossed.select("_ta", "_tb").distinct().withColumn(
        "_jw", jw_udf("_ta", "_tb")
    )
    sims = crossed.join(tok_pairs, ["_ta", "_tb"]).withColumn(
        "_s", F.when(F.col("_jw") > threshold, F.col("_jw")).otherwise(F.lit(0.0))
    )
    dir_a = (
        sims.groupBy(name_a, name_b, "_na", "_ia")
        .agg(F.max("_s").alias("_best"))
        .groupBy(name_a, name_b)
        .agg((F.sum("_best") / F.min("_na")).alias("me_ab"))
    )
    dir_b = (
        sims.groupBy(name_a, name_b, "_nb", "_ib")
        .agg(F.max("_s").alias("_best"))
        .groupBy(name_a, name_b)
        .agg((F.sum("_best") / F.min("_nb")).alias("me_ba"))
    )
    return (
        pairs.join(dir_a, [name_a, name_b], "left")
        .join(dir_b, [name_a, name_b], "left")
        .withColumn("me_ab", F.coalesce("me_ab", F.lit(0.0)))
        .withColumn("me_ba", F.coalesce("me_ba", F.lit(0.0)))
        .withColumn("me_sym", (F.col("me_ab") + F.col("me_ba")) / 2.0)
    )


def skyline_2d(
    scored: DataFrame,
    s1_col: str,
    s2_col: str,
) -> DataFrame:
    """2-D Pareto skyline (Börzsönyi et al., "The Skyline Operator",
    ICDE 2001) over a doubly-scored pair table: the rows NOT dominated
    on (s1, s2) — a dominates b when it is ≥ on both scores and > on at
    least one; rows tied on BOTH scores all survive (neither dominates).
    In the review loop this is the frontier worth human eyes: a pair
    beaten on both the lexical and the semantic axis by some other pair
    teaches the matcher strictly less than its dominator.

    The 2-D case needs no pairwise dominance join: reduce to one row per
    DISTINCT s1 (its max s2 — anything below is dominated within the
    column), order those by s1 descending, and keep the s1 groups whose
    max s2 strictly exceeds the running max of every greater-s1 group;
    surviving rows are the ties at their group's max. The only ordered
    pass runs over the DISTINCT-s1 frame — bounded by score resolution,
    not row count (quantize scores upstream at web scale; similarity
    scores round to fixed decimals anyway), the same
    small-by-construction window contract as pr_curve.

    Output: the surviving input rows, unchanged schema.
    """
    s1, s2 = F.col(s1_col), F.col(s2_col)
    per = scored.groupBy(s1.alias("_s1")).agg(F.max(s2).alias("_m2"))
    w = Window.orderBy(F.desc("_s1")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = (
        per.withColumn("_prev", F.max("_m2").over(w))
        .where(F.col("_prev").isNull() | (F.col("_m2") > F.col("_prev")))
        .select("_s1", "_m2")
    )
    return scored.join(
        frontier,
        (s1 == F.col("_s1")) & (s2 == F.col("_m2")),
    ).drop("_s1", "_m2")


def damerau_distance_join(
    records: DataFrame,
    k: int = 2,
    q: int = 2,
    name_col: str = "name",
    id_col: str = "rec_id",
    persisted_out: list | None = None,
) -> DataFrame:
    """Exact TRUE-Damerau-Levenshtein similarity self-join: all pairs with
    ``dl(a, b) <= k`` — the transposition-aware sibling of
    :func:`edit_distance_join`. Transposed adjacent characters are the
    dominant human typo class in names; plain Levenshtein charges a swap 2,
    so a lev-join at the same k provably MISSES swap-heavy pairs (dl <= lev
    always). Output ``(rec_id_a, rec_id_b, distance, lev_distance)`` with
    ``rec_id_a < rec_id_b`` — the lev column rides along so downstream can
    see exactly which pairs the transposition op rescued.

    Candidate generation is the same lossless Gravano q-gram count-filter
    shape as :func:`edit_distance_join`, with the constants relaxed for the
    extra operation: a unit DL op (insert / delete / substitute / adjacent
    transposition) destroys at most ``q + 1`` of a string's overlapping
    q-grams (the transposition touches the gram ending and the two grams
    spanning the swapped positions), so ``dl(a,b) <= k`` implies a multiset
    gram intersection of at least ``max(|a|,|b|) - q + 1 - k*(q+1)``; the
    length filter ``||a|-|b|| <= k`` is unchanged (a transposition is
    length-preserving). Strings below the lemma floor
    ``q + k*(q+1)`` take the all-pairs short stratum, joined on admissible
    length — identical structure, wider stratum. The gate's brute-force
    DuckDB oracle (native ``damerau_levenshtein``) is the losslessness
    proof at gate level; fuzz parity of the verifier lives in pytest.

    Verification is the only non-JVM stage: an Arrow-batched pandas UDF
    running the Lowrance-Wagner DP (functions/similarity.py
    ``damerau_levenshtein``, fuzz-checked against DuckDB's native
    implementation) over DISTINCT name pairs only — duplicate-heavy corpora
    pay the Python cost once per surface-form pair, never per record pair.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    from ..functions.similarity import damerau_levenshtein

    @F.pandas_udf(T.LongType())
    def _dl_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [damerau_levenshtein(x or "", y or "") for x, y in zip(a, b)],
            dtype="int64",
        )

    names = records.select(
        F.col(id_col).alias("rid"), F.col(name_col).alias("nm")
    )
    dn = names.select("nm").distinct().withColumn("ln", F.length("nm"))
    short_cut = q + k * (q + 1)

    grams = (
        dn.where(F.col("ln") >= q)
        .select(
            "nm",
            "ln",
            F.explode(
                F.expr(f"transform(sequence(1, ln - {q} + 1), i -> substr(nm, i, {q}))")
            ).alias("gram"),
        )
        .groupBy("nm", "ln", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if persisted_out is not None:
        grams = grams.persist()
        persisted_out.append(grams)
    ga = grams.select(
        F.col("nm").alias("_na"), F.col("ln").alias("_la"),
        "gram", F.col("cnt").alias("_ca"),
    )
    gb = grams.select(
        F.col("nm").alias("_nb"), F.col("ln").alias("_lb"),
        "gram", F.col("cnt").alias("_cb"),
    )
    bound = F.greatest("_la", "_lb") - F.lit(q - 1) - F.lit(k * (q + 1))
    cand_long = (
        ga.join(gb, "gram")
        .where(
            (F.col("_na") < F.col("_nb"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= k)
        )
        .groupBy("_na", "_nb", "_la", "_lb")
        .agg(F.sum(F.least("_ca", "_cb")).alias("_common"))
        .where(F.col("_common") >= bound)
        .select("_na", "_nb")
    )
    sh = dn.where(F.col("ln") < short_cut)
    sa = sh.select(F.col("nm").alias("_na"), F.col("ln").alias("_cl"))
    sb = sh.select(
        F.col("nm").alias("_nb"),
        F.explode(
            F.sequence(F.greatest(F.col("ln") - k, F.lit(0)), F.col("ln") + k)
        ).alias("_cl"),
    )
    cand_short = (
        sa.join(sb, "_cl")
        .where(F.col("_na") < F.col("_nb"))
        .select("_na", "_nb")
    )

    name_pairs = (
        cand_long.unionByName(cand_short)
        .distinct()
        .withColumn("distance", _dl_udf("_na", "_nb"))
        .where(F.col("distance") <= k)
        .withColumn("lev_distance", F.levenshtein("_na", "_nb").cast("long"))
        # lazy checkpoint: the verified pair table feeds the two-sided record
        # expansion, and without the plan cut Catalyst re-evaluates the DP
        # UDF subtree once per consumer branch (observed 3x in the physical
        # plan) — the checkpoint materializes the (output-sized) name pairs
        # once on first action instead
        .localCheckpoint(eager=False)
    )
    ra = names.select(F.col("rid").alias("_ra"), F.col("nm").alias("_na"))
    rb = names.select(F.col("rid").alias("_rb"), F.col("nm").alias("_nb"))
    cross = (
        name_pairs.join(ra, "_na")
        .join(rb, "_nb")
        .select(
            F.least("_ra", "_rb").alias("rec_id_a"),
            F.greatest("_ra", "_rb").alias("rec_id_b"),
            F.col("distance").cast("long").alias("distance"),
            "lev_distance",
        )
    )
    same = (
        names.select(F.col("rid").alias("rec_id_a"), "nm")
        .join(names.select(F.col("rid").alias("rec_id_b"), "nm"), "nm")
        .where(F.col("rec_id_a") < F.col("rec_id_b"))
        .select(
            "rec_id_a",
            "rec_id_b",
            F.lit(0).cast("long").alias("distance"),
            F.lit(0).cast("long").alias("lev_distance"),
        )
    )
    return cross.unionByName(same)
