"""Document deduplication operators for large-scale training-data pipelines.

All operate on a documents table ``(doc_id, text, ...)``:

- ``exact_dedup``      — sha2 content hash groupBy (one shuffle on the hash);
- ``ngram_jaccard_dups`` — EXACT n-gram Jaccard duplicates: shared-shingle
  blocking + exact verification. For threshold t > 0 any qualifying pair shares
  ≥1 shingle, so shingle-blocking + verify is *lossless* (equals the brute-force
  cross join) while scaling as Σ_shingle C(n_s,2) instead of C(N,2).
- ``minhash_dups``     — MinHash-LSH candidates (sub-linear) + exact verify;
  the scale path: recall < 1 tunable via (num_hashes, bands).
- ``simhash``/``simhash_dups`` — 64-bit SimHash fingerprints; near-dups =
  hamming distance ≤ k found via (k+1)-band exact-match blocking (pigeonhole:
  any pair with ≤k differing bits shares at least one identical band), so the
  blocked result EQUALS the brute-force hamming join at every k.
- ``embedding_dups``   — cosine near-dups over an embedding column (see ann.py).

Skew note: stop-shingle blowup (a shingle present in half the corpus) is capped
by ``max_docs_per_shingle`` — frequent shingles carry no discriminative signal,
dropping them is the standard stop-gram heuristic and keeps block sizes bounded.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window

from .util import ensure_min_parallelism, md5_long60, words_lower


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, text) -> (id, content_hash, canonical_id, is_duplicate): canonical =
    min id per identical content."""
    h = docs.select(id_col, F.sha2(F.col(text_col), 256).alias("content_hash"))
    canon = h.groupBy("content_hash").agg(F.min(id_col).alias("canonical_id"))
    return h.join(canon, "content_hash").withColumn(
        "is_duplicate", F.col(id_col) != F.col("canonical_id")
    )


def _word_shingles(text_col, n: int = 3):
    """Word n-gram shingles as sorted distinct array, pure Spark expressions:
    lowercase, split on non-word, sliding windows of n words re-joined.

    Docs shorter than n words yield an EMPTY array via the when-guard:
    without it, ``sequence(1, size - n + 1)`` DESCENDS to [1, 0] (Spark
    sequences run backwards when start > stop) and ``slice(words, 0, n)``
    throws INVALID_PARAMETER_VALUE.START — i.e. one short document in a
    crawl batch would kill the whole dedup job (same hazard
    corpus._word_ngrams guards)."""
    words = words_lower(text_col)
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    return F.array_distinct(grams)


def shingle_docs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    return docs.select(id_col, _word_shingles(F.col(text_col), n).alias("shingles"))


def _shared_shingle_verify_frame(
    docs: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    max_docs_per_shingle: int | None,
    persisted_out: list | None,
) -> DataFrame:
    """Common front half of the exact set-similarity joins: shingle, block
    on shared shingles (lossless for ANY positive-overlap measure; the
    optional stop-shingle cap is the one recall/cost knob), and re-attach
    both full shingle sets for the exact verify. Returns
    ``(id_a, id_b, sh_a, sh_b)`` with ``id_a < id_b`` — the caller applies
    its similarity expression + threshold. One definition so the Jaccard
    and overlap operators can never silently diverge in their blocking."""
    sh = shingle_docs(ensure_min_parallelism(docs, id_col), text_col, id_col, n)
    if persisted_out is not None:
        sh = sh.persist()
        persisted_out.append(sh)
    exploded = sh.select(id_col, F.explode("shingles").alias("sh"))
    if max_docs_per_shingle:
        freq = exploded.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        exploded = exploded.join(
            F.broadcast(freq.where(F.col("df") > max_docs_per_shingle)),
            "sh",
            "left_anti",
        )
    a = exploded.select(F.col(id_col).alias("id_a"), "sh")
    b = exploded.select(F.col(id_col).alias("id_b"), "sh")
    cand = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return cand.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_dups(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs_per_shingle: int | None = 1000,
    persisted_out: list | None = None,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via lossless shared-shingle blocking.

    The shingled table feeds three plan branches (blocking + both sides of
    the exact verify); pass ``persisted_out`` (a list the caller unpersists)
    to compute the shingling once instead of per branch."""
    verify = _shared_shingle_verify_frame(
        docs, n, text_col, id_col, max_docs_per_shingle, persisted_out
    )
    return (
        # |A∪B| = |A| + |B| − |A∩B| for distinct arrays — one set build per
        # pair instead of two (see minhash_dups)
        verify.withColumn("_i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("_i") / (F.size("sh_a") + F.size("sh_b") - F.col("_i")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_jaccard_dups(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    persisted_out: list | None = None,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via PREFIX FILTERING (the
    AllPairs/PPJoin candidate strategy; the symmetric prefix-token emit is
    the set-similarity-join-on-MapReduce formulation): order every doc's
    shingles by ascending document frequency (rarest first, ties by token),
    emit only the first ``|s| - ceil(t*|s|) + 1`` tokens per doc, and
    candidate pairs are docs sharing a PREFIX token — provably a superset
    of all pairs with Jaccard >= t under a shared global order. The exact
    verify then computes true Jaccard on the full sets.

    vs ``ngram_jaccard_dups`` (shared-ANY-shingle blocking): the candidate
    stream here scales with the RARE-token postings only — a token shared
    by m docs contributes m^2 candidates there but appears in prefixes
    only for docs where it ranks inside the first (1-t)|s|+1 rarest, which
    at high thresholds excludes every frequent token. At t=0.9 the prefix
    is ~10% of each doc: two orders of magnitude fewer join rows at equal
    output. No cap knob is needed — the filter is LOSSLESS (the gate pins
    hash-equality with the brute-force oracle).

    Ceil is computed with a 1e-9 downward epsilon so float rounding can
    only LENGTHEN prefixes (adding candidates, never dropping them); the
    same epsilon loosens the size filter min >= t*max. Output:
    (id_a, id_b, jaccard), id_a < id_b.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = shingle_docs(ensure_min_parallelism(docs, id_col), text_col, id_col, n)
    sh = sh.withColumn("n_tok", F.size("shingles")).where(F.col("n_tok") > 0)
    if persisted_out is not None:
        sh = sh.persist()
        persisted_out.append(sh)
    ex = sh.select(id_col, "n_tok", F.explode("shingles").alias("tok"))
    dfreq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # rarest-first per-doc order; the df table is token-dictionary-sized
    # (vastly smaller than the posting stream) but unbounded at web scale,
    # so this is a plain shuffle join — AQE broadcasts it when small
    pi = (
        F.col("n_tok")
        - F.ceil(F.lit(float(threshold)) * F.col("n_tok") - F.lit(1e-9))
        + 1
    ).cast("int")
    pref = (
        ex.join(dfreq, "tok")
        .groupBy(id_col, "n_tok")
        .agg(F.sort_array(F.collect_list(F.struct("df", "tok"))).alias("_o"))
        .select(
            id_col,
            "n_tok",
            F.explode(
                F.transform(F.slice("_o", F.lit(1), pi), lambda s: s["tok"])
            ).alias("tok"),
        )
    )
    a = pref.select(F.col(id_col).alias("id_a"), F.col("n_tok").alias("_na"), "tok")
    b = pref.select(F.col(id_col).alias("id_b"), F.col("n_tok").alias("_nb"), "tok")
    cand = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        # lossless size filter: J <= min/max, so min < t*max can't qualify
        .where(
            F.least("_na", "_nb")
            >= F.lit(float(threshold)) * F.greatest("_na", "_nb") - F.lit(1e-9)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _band_keys(num_hashes: int, bands: int, hash_family: str):
    """band-key array expression over a ``sig`` column (see minhash_dups for
    the hash_family contract)."""
    rows_per_band = num_hashes // bands
    if hash_family == "md5":
        return F.array(
            *[
                F.concat(
                    F.lit(f"{b}:"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ),
                )
                for b in range(bands)
            ]
        )
    return F.array(
        *[
            F.concat(
                F.lit(f"{b}:"),
                F.xxhash64(F.slice("sig", b * rows_per_band + 1, rows_per_band)).cast("string"),
            )
            for b in range(bands)
        ]
    )


def _shingled(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Non-empty shingle sets + their sizes (shared by the batch and
    incremental minhash paths)."""
    sh = shingle_docs(ensure_min_parallelism(docs, id_col), text_col, id_col, n)
    return sh.where(F.size("shingles") > 0).withColumn("n_sh", F.size("shingles"))


def minhash_dups(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xx64",
    persisted_out: list | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs + exact Jaccard verification (scale path).

    ``shingled``: optionally the precomputed ``_shingled(docs, ...)`` table
    (id, shingles, n_sh) — callers running several minhash stages over the
    same batch (the streaming incremental path) compute and persist it once;
    the caller owns its lifecycle, so ``persisted_out`` is not engaged.

    Before the exact verify (which joins the full shingle arrays onto every
    candidate pair), candidates are prefiltered on shingle-set SIZES alone:
    J(A,B) >= t implies t <= |A|/|B| <= 1/t, so the size-ratio filter is
    lossless and runs on two longs per pair instead of two arrays — at scale
    the array join is the expensive part of verification.

    ``hash_family``: "xx64" (xxhash64 signatures + xxhash64 band keys) or
    "md5" (md5-derived 60-bit signatures + md5 band keys over the
    comma-joined decimal slice). The md5 family exists so the ENTIRE LSH
    candidate set — not just the verified Jaccard values — is reproducible
    in ANSI SQL, turning the dedup_minhash gate into a full DuckDB value
    oracle (VERDICT r4 #3, simhash precedent); both run fully JVM-side.
    """
    from .blocking import minhash_signature

    sh = shingled if shingled is not None else _shingled(docs, text_col, id_col, n)
    if shingled is None and persisted_out is not None:
        # the shingled table feeds four branches (both sides of the band join
        # and both sides of the exact verify); persisting it computes the
        # shingling once — the caller owns the unpersist
        sh = sh.persist()
        persisted_out.append(sh)
    sig = sh.withColumn(
        "sig", minhash_signature(F.col("shingles"), num_hashes, hash_family)
    )
    band_keys = _band_keys(num_hashes, bands, hash_family)
    blocked = sig.select(id_col, "n_sh", F.explode(band_keys).alias("bk"))
    a = blocked.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"), "bk")
    b = blocked.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"), "bk")
    cand = (
        a.join(b, "bk")
        .where(F.col("id_a") < F.col("id_b"))
        # lossless size-ratio prefilter: intersection <= min size, union >=
        # max size, so J <= min/max — drop pairs that cannot reach threshold
        .where(
            F.least("n_a", "n_b") >= threshold * F.greatest("n_a", "n_b")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # r6: run the per-pair intersection on an injective LONG image of the
    # shingles when one exists. |A∩B| only needs element identity, and a
    # primitive-long hash set is several times cheaper per element than
    # variable-length UTF8 hashing/equality in the candidate-pair hot loop
    # (candidates grow superlinearly with duplication; this pre-check is one
    # linear partial-agg pass over the shingled corpus). Exactness is
    # PROVED, not assumed: xxhash64 is used only if it is collision-free on
    # this corpus's distinct shingle set (distinct counts equal), else the
    # verify falls back to the string arrays unchanged — so the operator's
    # exact-Jaccard contract is unconditional either way.
    chk = sh.select(F.explode("shingles").alias("_s")).agg(
        F.countDistinct("_s").alias("_ns"),
        F.countDistinct(F.xxhash64("_s")).alias("_nh"),
    ).first()
    use_long = chk["_ns"] == chk["_nh"]
    vsh = (
        sh.withColumn("shingles", F.transform("shingles", lambda s: F.xxhash64(s)))
        if use_long
        else sh
    )
    sa = vsh.select(
        F.col(id_col).alias("id_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_sh").alias("_nsa"),
    )
    sb = vsh.select(
        F.col(id_col).alias("id_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_sh").alias("_nsb"),
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        # |A∪B| = |A| + |B| − |A∩B| exactly (shingles are distinct arrays,
        # and the long image above is injective when used), so the verify
        # builds ONE hash set per pair instead of two — the array_union
        # materialized a merged array per pair only to take its size (r6;
        # guide §1.2 per-task work)
        .withColumn("_i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard", F.col("_i") / (F.col("_nsa") + F.col("_nsb") - F.col("_i"))
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_index(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xx64",
    shingled: DataFrame | None = None,
) -> DataFrame:
    """The persistent LSH index of a corpus: one (id, n_sh, bk) row per
    (document, band). Compute ONCE per corpus and write it out (bucket the
    stored table by ``bk`` so incremental probes co-locate without a
    corpus-side shuffle); ``incremental_minhash_dups`` then dedups each new
    crawl batch against it in O(|new| + matched buckets) — the corpus texts
    and signatures are never rescanned. ~``bands`` skinny rows per document
    (two longs + a short key), a few hundred bytes/doc at 10^12 scale."""
    from .blocking import minhash_signature

    sh = shingled if shingled is not None else _shingled(docs, text_col, id_col, n)
    sig = sh.withColumn(
        "sig", minhash_signature(F.col("shingles"), num_hashes, hash_family)
    )
    return sig.select(
        id_col, "n_sh", F.explode(_band_keys(num_hashes, bands, hash_family)).alias("bk")
    )


def incremental_minhash_dups(
    new_docs: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xx64",
    persisted_out: list | None = None,
    pre_shingled: bool = False,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """NEW-vs-CORPUS near-dup pairs without rescanning the corpus: band keys
    are computed for the new batch only and equi-joined against the stored
    ``minhash_index`` (same n/num_hashes/bands/hash_family — the caller must
    match the index build parameters); the lossless size-ratio prefilter
    runs on the indexed n_sh longs, and the exact-Jaccard verify shingles
    ONLY the corpus documents that matched a candidate (left-semi join
    before shingling). Output: (id_new, id_old, jaccard) with
    jaccard >= threshold.

    ``pre_shingled``: when True, ``corpus`` is an (id, shingles) table (e.g.
    the streaming state's docs table) instead of raw texts — the verify uses
    the stored arrays directly, so corpus TEXT is never needed after ingest.

    This is the arrival-time dedup path a growing 100-TB corpus needs: cost
    scales with the new batch + matched buckets, not the corpus. New-vs-new
    duplicates inside the batch are the plain ``minhash_dups`` on
    ``new_docs``; run both, then append the batch's index rows
    (``minhash_index(new_docs, ...)``) to the stored table."""
    from .blocking import minhash_signature

    sh_new = shingled if shingled is not None else _shingled(new_docs, text_col, id_col, n)
    if shingled is None and persisted_out is not None:
        # feeds the band probe and the verify's new side
        sh_new = sh_new.persist()
        persisted_out.append(sh_new)
    sig = sh_new.withColumn(
        "sig", minhash_signature(F.col("shingles"), num_hashes, hash_family)
    )
    probe = sig.select(
        F.col(id_col).alias("id_new"),
        F.col("n_sh").alias("n_new"),
        F.explode(_band_keys(num_hashes, bands, hash_family)).alias("bk"),
    )
    cand = (
        probe.join(
            index.select(
                F.col(id_col).alias("id_old"), F.col("n_sh").alias("n_old"), "bk"
            ),
            "bk",
        )
        # a re-crawled id present in both the batch and the index would
        # otherwise self-pair (and later fan out the verify join) — r5 review
        .where(F.col("id_new") != F.col("id_old"))
        .where(F.least("n_new", "n_old") >= threshold * F.greatest("n_new", "n_old"))
        .select("id_new", "id_old")
        .distinct()
    )
    if persisted_out is not None:
        # cand feeds the final verify join AND the left-semi that selects
        # which corpus docs to shingle — without a cache the probe-vs-index
        # LSH join (the dominant shuffle) would run twice (r5 review)
        cand = cand.persist()
        persisted_out.append(cand)
    old_ids = cand.select(F.col("id_old").alias(id_col)).distinct()
    matched = corpus.join(old_ids, id_col, "left_semi")
    sh_old = (
        matched.select(id_col, "shingles")
        if pre_shingled
        else _shingled(matched, text_col, id_col, n)
    )
    return (
        cand.join(
            sh_new.select(F.col(id_col).alias("id_new"), F.col("shingles").alias("sh_a")),
            "id_new",
        )
        .join(
            sh_old.select(F.col(id_col).alias("id_old"), F.col("shingles").alias("sh_b")),
            "id_old",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_new", "id_old", "jaccard")
    )


def lsh_tuning_curve(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    n_bins: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "md5",
    max_docs_per_shingle: int | None = 1000,
    persisted_out: list | None = None,
) -> DataFrame:
    """Measured-vs-analytic LSH S-curve — the design validator for the
    (num_hashes, bands) choice before a 100-TB dedup run: per Jaccard-
    similarity bin, the FRACTION of pairs the banding scheme actually
    proposes as candidates next to the textbook collision probability
    1 - (1 - s^r)^b (r = rows per band, b = bands; Leskovec-Rajaraman-
    Ullman, MMDS ch. 3), evaluated at each pair's exact Jaccard and
    averaged over the bin. A healthy scheme tracks the analytic curve;
    systematic shortfall means the hash family or banding is broken, and
    the curve shows directly where the recall knee sits relative to the
    dedup threshold.

    Evaluated over pairs sharing >= 1 shingle (lossless shared-shingle
    blocking, optional stop-shingle cap — the same candidate space as
    :func:`ngram_jaccard_dups`; zero-Jaccard pairs collide with
    probability (1/2^60)-ish and carry no tuning signal). Per pair the
    collision test is band-key set intersection on the two signature
    arrays — no second LSH join. Everything is JVM expressions; with
    ``hash_family="md5"`` the whole curve (signatures, band keys,
    collisions, bins) is reproducible in ANSI SQL.

    Output: (bin, sim_lo, n_pairs, n_collide, measured_rate,
    analytic_rate), one row per OCCUPIED bin; bin = min(floor(s * n_bins),
    n_bins - 1), sim_lo = bin / n_bins.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    rows_per_band = num_hashes // bands
    if bands * rows_per_band != num_hashes:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    from .blocking import minhash_signature

    sh = _shingled(docs, text_col, id_col, n)
    sig = sh.withColumn(
        "sig", minhash_signature(F.col("shingles"), num_hashes, hash_family)
    ).withColumn("bks", _band_keys(num_hashes, bands, hash_family))
    if persisted_out is not None:
        # feeds the blocking explode and both sides of the pair join
        sig = sig.persist()
        persisted_out.append(sig)
    exploded = sig.select(id_col, F.explode("shingles").alias("_sh"))
    if max_docs_per_shingle:
        oversized = (
            exploded.groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_docs_per_shingle)
        )
        exploded = exploded.join(F.broadcast(oversized), "_sh", "left_anti")
    pairs = (
        exploded.select(F.col(id_col).alias("id_a"), "_sh")
        .join(exploded.select(F.col(id_col).alias("id_b"), "_sh"), "_sh")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.select(
        F.col(id_col).alias("id_a"),
        F.col("shingles").alias("sh_a"),
        F.col("bks").alias("bk_a"),
    )
    sb = sig.select(
        F.col(id_col).alias("id_b"),
        F.col("shingles").alias("sh_b"),
        F.col("bks").alias("bk_b"),
    )
    per_pair = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("_j"),
            F.arrays_overlap("bk_a", "bk_b").cast("long").alias("_c"),
        )
        .select(
            F.least(
                F.floor(F.col("_j") * n_bins).cast("long"), F.lit(n_bins - 1)
            ).alias("bin"),
            "_j",
            "_c",
            (
                1.0
                - F.pow(1.0 - F.pow(F.col("_j"), F.lit(rows_per_band)), F.lit(bands))
            ).alias("_p"),
        )
    )
    return per_pair.groupBy("bin").agg(
        (F.min("bin") / F.lit(float(n_bins))).alias("sim_lo"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("_c").alias("n_collide"),
        (F.sum("_c") / F.count(F.lit(1))).alias("measured_rate"),
        F.avg("_p").alias("analytic_rate"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    window: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    scheme): word k-gram rolling hashes, one selected (minimum) hash per
    sliding window of ``window`` consecutive k-grams, distinct per doc.

    Guarantee: any shared word run of length >= window + k - 1 between two
    documents shares at least one selected fingerprint — so passage-level
    overlap is detectable from a tiny per-doc signature set instead of full
    text comparison. Hashes are md5-60 (DuckDB-recomputable); selection is
    min-in-window, computed as JVM array expressions over the hash array
    (no shuffle until the output explode). Docs with fewer than
    window + k - 1 words emit their global min hash when they have >= k
    words (standard winnowing degenerates gracefully), else nothing.

    Output: (id, fp) distinct — ~n_words/window rows per doc.
    """
    words = words_lower(F.col(text_col))
    gram_idx = F.when(
        F.size(words) >= k, F.sequence(F.lit(1), F.size(words) - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    hashes = F.transform(
        gram_idx, lambda i: md5_long60(F.concat_ws(" ", F.slice(words, i, k)))
    )
    win_idx = F.when(
        F.size(hashes) >= window, F.sequence(F.lit(1), F.size(hashes) - window + 1)
    ).otherwise(
        # degenerate short doc: one window over whatever k-grams exist
        F.when(F.size(hashes) >= 1, F.array(F.lit(1))).otherwise(
            F.array().cast("array<int>")
        )
    )
    n_take = F.least(F.size(hashes), F.lit(window))
    fps = F.array_distinct(
        F.transform(win_idx, lambda i: F.array_min(F.slice(hashes, i, n_take)))
    )
    return (
        ensure_min_parallelism(docs, id_col)
        .select(id_col, F.explode(fps).alias("fp"))
        .distinct()
    )


def passage_overlap_pairs(
    docs: DataFrame,
    k: int = 4,
    window: int = 5,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs_per_fp: int | None = 1000,
    persisted_out: list | None = None,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowed fingerprints — the
    passage-level contamination/plagiarism detector (near-dup operators catch
    whole-document similarity; this catches a copied PARAGRAPH inside
    otherwise-different documents).

    One self-join on the fingerprint key + one count aggregation. Stop-
    fingerprint cap (``max_docs_per_fp``): a fingerprint shared by more than
    that many docs (boilerplate: headers, licenses) is dropped BEFORE the
    self-join, bounding the per-key pair blowup exactly like the stop-shingle
    cap in ngram_jaccard_dups — pass None for the lossless variant (the gate
    does, so its DuckDB oracle needs no cap semantics).
    """
    fps = winnow_fingerprints(docs, k, window, text_col, id_col)
    if persisted_out is not None:
        # fps feeds both sides of the self-join (and the cap aggregation):
        # persisting computes the winnowing hash arrays once
        fps = fps.persist()
        persisted_out.append(fps)
    if max_docs_per_fp is not None:
        # broadcast ANTI against the tiny over-cap set (boilerplate keys are
        # few by definition) — a left_semi against the huge under-cap set
        # would shuffle every fingerprint (same shape as the stop-shingle
        # cap in ngram_jaccard_dups; r5 review)
        oversized = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_docs_per_fp)
        )
        fps = fps.join(F.broadcast(oversized), "fp", "left_anti")
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


@F.pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace word tokens (Arrow-batched).

    Token hash = first 8 bytes of md5 — chosen so the fingerprint is exactly
    reproducible in ANSI SQL (``('0x' || substr(md5(tok),1,16))::UBIGINT``),
    which is what upgrades the dedup_simhash gate from rows-only to a
    hash-checked DuckDB oracle. Token hashes are memoized per batch (tokens
    repeat heavily), so md5 runs once per distinct token, not once per
    occurrence.
    """
    import hashlib

    import numpy as np

    memo: dict[str, np.ndarray] = {}
    shifts = np.arange(64, dtype=np.uint64)
    pows = np.uint64(1) << shifts
    out = []
    for t in texts:
        toks = (t or "").lower().split()
        if not toks:
            out.append(0)
            continue
        acc = np.zeros(64, dtype=np.int64)
        for tok in toks:
            bits = memo.get(tok)
            if bits is None:
                h = np.uint64(int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:16], 16))
                bits = np.where((h >> shifts) & np.uint64(1) == 1, 1, -1).astype(np.int64)
                memo[tok] = bits
            acc += bits
        fp = int(((acc > 0).astype(np.uint64) * pows).sum())
        out.append(fp - (1 << 64) if fp >= (1 << 63) else fp)  # to signed long
    return pd.Series(out)


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    docs = ensure_min_parallelism(docs, id_col)
    return docs.select(id_col, simhash_udf(F.col(text_col)).alias("simhash"))


def simhash_dups(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via band blocking.

    Banding is pigeonhole-COMPLETE: the 64 bits are split into
    ``max_hamming + 1`` near-equal bands (any pair differing in <= max_hamming
    bits must agree on at least one whole band), so the result equals the
    brute-force hamming join for every ``max_hamming`` — not just <= 3 as the
    old fixed 4x16 layout guaranteed. ``n_bands`` can be raised beyond the
    minimum to shrink blocks (more bands = narrower bands = more candidates);
    values below ``max_hamming + 1`` are rejected rather than silently losing
    recall.
    """
    # 64 1-bit bands is the finest split: complete for max_hamming <= 63
    # (a pair differing in all 64 bits shares no band, but hamming-64 pairs
    # are maximally different — not near-duplicates under any reading).
    nb = n_bands if n_bands is not None else min(max_hamming + 1, 64)
    if nb < min(max_hamming + 1, 64):
        raise ValueError(
            f"n_bands={nb} is incomplete for max_hamming={max_hamming}; "
            f"pigeonhole requires at least max_hamming + 1 = {max_hamming + 1}"
        )
    if nb > 64:
        raise ValueError(f"n_bands={nb} exceeds the 64 fingerprint bits")
    base, rem = divmod(64, nb)
    widths = [base + 1 if i < rem else base for i in range(nb)]
    offsets = [sum(widths[:i]) for i in range(nb)]
    # lazy plan cut: the fingerprint table feeds BOTH sides of the band
    # self-join, and without it the per-doc simhash UDF evaluates twice
    # over the corpus (r6; the damerau-join precedent) — the checkpoint
    # materializes the (one-row-per-doc) fingerprints once on first action
    fp = simhash(docs, text_col, id_col).localCheckpoint(eager=False)
    bands = F.array(
        *[
            F.concat(
                F.lit(f"{i}:"),
                F.shiftrightunsigned(F.col("simhash"), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .cast("string"),
            )
            for i in range(nb)
        ]
    )
    blocked = fp.select(id_col, "simhash", F.explode(bands).alias("bk"))
    a = blocked.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"), "bk")
    b = blocked.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"), "bk")
    cand = (
        a.join(b, "bk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def transitive_dedup_keep(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    persisted_out: list | None = None,
) -> DataFrame:
    """E2E fuzzy dedup with TRANSITIVE clustering and one canonical survivor
    per cluster — the full near-dedup recipe of the large LLM-corpus
    pipelines (SlimPajama / BigCode "NearDedup": similarity pairs →
    connected components → keep one doc per component), here over the EXACT
    prefix-filtered Jaccard join so the whole thing is deterministic and
    value-oracle-able end to end.

    Pairwise dedup alone under-deletes: A~B and B~C with A≁C leaves {A,C}
    both "kept" by any per-pair rule, yet they sit in one near-dup chain.
    The transitive closure resolves exactly that — every chain collapses to
    one survivor.

    Output, one row per document that belongs to ANY duplicate cluster
    (singletons pass through a dedup filter untouched, so they are not
    listed): ``(doc_id, canonical_id, cluster_size, is_kept)`` where
    ``canonical_id = min(doc_id)`` in the component (the component label
    itself — stable under reruns, independent of partitioning) and
    ``is_kept`` marks the survivor.

    Scale: edge generation is :func:`prefix_jaccard_dups` (lossless prefix
    filtering, no quadratic blow-up); clustering is the pre-contracted
    large-star/small-star loop (operators/cluster.py) — O(log n) rounds on
    the contracted graph; the survivor pick is one groupBy on the component
    id. No driver-side state anywhere.
    """
    from .cluster import connected_components

    edges = prefix_jaccard_dups(
        docs,
        threshold=threshold,
        n=n,
        text_col=text_col,
        id_col=id_col,
        persisted_out=persisted_out,
    )
    comp = connected_components(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias(id_col),
            F.col("component").alias("canonical_id"),
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_kept"),
        )
    )


def overlap_dups(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs_per_shingle: int | None = 1000,
    persisted_out: list | None = None,
) -> DataFrame:
    """Exact OVERLAP-coefficient (Szymkiewicz–Simpson) pairs:
    |A ∩ B| / min(|A|, |B|) >= threshold — the containment-style measure
    Jaccard systematically misses: a paragraph quoted inside a much larger
    page scores near 1.0 here but near 0 on Jaccard (the union is dominated
    by the big side). That asymmetry is exactly the boilerplate-subsumption
    / quote-detection case in web-corpus dedup, where the right action is
    usually "drop the contained fragment".

    Same lossless shared-shingle blocking as :func:`ngram_jaccard_dups`
    (any pair with positive overlap shares a shingle), same optional
    stop-shingle cap (the one knob that trades recall for a hard posting
    bound — identical caveat), exact verify JVM-side. Output:
    ``(id_a, id_b, overlap)`` with ``id_a < id_b``.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    verify = _shared_shingle_verify_frame(
        docs, n, text_col, id_col, max_docs_per_shingle, persisted_out
    )
    return (
        verify.withColumn(
            "overlap",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.least(F.size("sh_a"), F.size("sh_b")),
        )
        .where(F.col("overlap") >= threshold)
        .select("id_a", "id_b", "overlap")
    )


def substring_dup_spans(
    docs: DataFrame,
    min_len: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs_per_gram: int | None = 1000,
    persisted_out: list | None = None,
) -> DataFrame:
    """EXACT shared-substring spans between document pairs — the distributed
    reframe of exact-substring training-data dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", which builds
    one giant suffix array; a suffix array is inherently a single shared
    address space, so the Spark-first shape is seed-and-merge instead):

    1. every document emits its character L-grams (L = ``min_len``) with
       their 0-based start positions — pure JVM array expressions, no UDF;
    2. one equi-join on the gram finds all seed matches (a shared substring
       of length S >= L produces exactly S - L + 1 consecutive seed matches
       along one (id_a, id_b, pos_a - pos_b) diagonal);
    3. per diagonal, consecutive runs collapse via the rank-difference
       islands trick (row_number over pos_a; pos_a - rn is constant exactly
       on a consecutive run) into MAXIMAL spans: (id_a, id_b, pos_a, pos_b,
       span_len = run + L - 1).

    The result is exact and complete: one row per maximal shared span of
    length >= L per diagonal (periodic text that matches at several offsets
    yields one row per offset, which is the correct answer, not a dup).

    Scale: the gram stream inflates the corpus ~L× (each char starts one
    gram) — that is the honest cost of exactness without a global suffix
    array, bounded by choosing L (40-50 bytes is the published sweet spot)
    and by ``max_docs_per_gram``: a gram occurring in more than that many
    documents (boilerplate, license headers) is dropped via a broadcast
    anti-join BEFORE the self-join, exactly like the stop-shingle cap in
    :func:`ngram_jaccard_dups` — a capped gram can split a span that
    crosses it into two reported spans (still exact positions, no false
    matches); pass ``None`` for the lossless variant (the gate does). At
    100 TB the join key would move to a 128-bit content hash of the gram
    (collision-free in practice) to halve shuffle payload; here the gram
    itself is the key so correctness is unconditional. The islands window
    partitions by (id_a, id_b, diag) — bounded by the longer document,
    never a global sort.
    """
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    L = int(min_len)
    grams = F.when(
        F.length(F.col(text_col)) >= L,
        F.expr(
            f"transform(sequence(0, length({text_col}) - {L}), "
            f"i -> struct(i as pos, substring({text_col}, i + 1, {L}) as g))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<pos:int,g:string>>"))
    gr = (
        ensure_min_parallelism(docs, id_col)
        .select(F.col(id_col).alias("id"), F.explode(grams).alias("u"))
        .select("id", F.col("u.pos").alias("pos"), F.col("u.g").alias("g"))
    )
    if max_docs_per_gram is not None:
        if persisted_out is not None:
            gr = gr.persist()
            persisted_out.append(gr)
        oversized = (
            gr.groupBy("g")
            .agg(F.countDistinct("id").alias("_n"))
            .where(F.col("_n") > max_docs_per_gram)
        )
        gr = gr.join(F.broadcast(oversized), "g", "left_anti")
    a = gr.select(F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "g")
    b = gr.select(F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "g")
    m = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pos_a", "pos_b")
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    return (
        m.withColumn("_grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "_grp")
        .agg(
            F.min("pos_a").alias("pos_a"),
            F.min("pos_b").alias("pos_b"),
            (F.count(F.lit(1)) + F.lit(L - 1)).alias("span_len"),
        )
        .select("id_a", "id_b", "pos_a", "pos_b", "span_len")
    )


def tfidf_cosine_dups(
    docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    persisted_out: list | None = None,
) -> DataFrame:
    """EXACT all-pairs TF-IDF cosine similarity join (Bayardo/Ma/Srikant
    WWW'07 "Scaling Up All Pairs Similarity Search", re-expressed as
    DataFrame ops): document pairs whose tf-idf unit vectors have cosine
    >= ``threshold``. Unlike the unweighted Jaccard family this weighs rare
    terms up — the standard similarity for fuzzy-duplicate web text.

    Losslessness comes from the suffix-bound prefix filter: order each
    doc's terms by descending corpus-max unit weight (mw); a term at
    position p is a PREFIX term iff the remaining bound
    Σ_{i>=p} nw_i * mw_i is still >= threshold. For any qualifying pair,
    the shared terms cannot all sit in either side's sub-threshold suffix
    (their maximum possible contribution is < t by construction), so every
    qualifying pair shares >= 1 prefix term of each side — indexing ONLY
    prefix terms (rare, high-weight, short posting lists) and probing with
    full vectors finds every such pair; an exact sparse dot verifies.

    Scale: one tf aggregation, one df aggregation + join, per-doc norm and
    prefix-bound windows (partitioned by doc), the prefix-postings join
    (the only pair-producing shuffle — bounded by prefix posting lists,
    never the full inverted index squared), and two verify joins keyed on
    (doc, term). N (the corpus size for idf) is one eager count at plan
    time. Terms with df == N carry idf 0 and are dropped up front (they
    contribute 0 to every dot product AND every norm).

    Returns (id_a, id_b, cosine), id_a < id_b.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    n_docs = docs.count()
    tok = (
        ensure_min_parallelism(docs, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode(words_lower(F.col(text_col))).alias("tok"),
        )
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfx = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    wt = (
        tok.join(dfx, "tok")
        .where(F.col("df") < F.lit(float(n_docs)))
        .withColumn("w", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")))
    )
    wd = Window.partitionBy("id")
    v = (
        wt.withColumn("nm", F.sqrt(F.sum(F.col("w") * F.col("w")).over(wd)))
        .where(F.col("nm") > 0)
        .select("id", "tok", (F.col("w") / F.col("nm")).alias("nw"))
    )
    mw = v.groupBy("tok").agg(F.max("nw").alias("mw"))
    t = v.join(mw, "tok").select("id", "tok", "nw", "mw")
    if persisted_out is not None:
        # t feeds the prefix windows, the candidate join (both sides), and
        # both verify joins — persist so tf/df/norm run once
        t = t.persist()
        persisted_out.append(t)
    wo = Window.partitionBy("id").orderBy(F.desc("mw"), F.asc("tok"))
    bound = (
        F.sum(F.col("nw") * F.col("mw")).over(wd)
        - F.coalesce(
            F.sum(F.col("nw") * F.col("mw")).over(
                wo.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0.0),
        )
    )
    prefix = t.withColumn("_rb", bound).where(F.col("_rb") >= threshold)
    cand = (
        prefix.select(F.col("id").alias("_pa"), "tok")
        .join(t.select(F.col("id").alias("_pb"), "tok"), "tok")
        .where(F.col("_pa") != F.col("_pb"))
        .select(
            F.least("_pa", "_pb").alias("id_a"),
            F.greatest("_pa", "_pb").alias("id_b"),
        )
        .distinct()
    )
    ta = t.select(F.col("id").alias("id_a"), "tok", F.col("nw").alias("_nwa"))
    tb = t.select(F.col("id").alias("id_b"), "tok", F.col("nw").alias("_nwb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("_nwa") * F.col("_nwb")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def cdc_chunks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS rolling-hash cut-point
    scheme, Muthitacharoen et al. SOSP 2001): a chunk boundary falls AFTER
    character position i whenever the hash of the k-gram ENDING at i is
    ≡ 0 (mod ``divisor``) — so boundaries are anchored to content, not
    offsets, and an insertion near the start of a document shifts only the
    chunk it lands in while every later cut point re-aligns (the property
    fixed-size blocking fundamentally lacks, and the reason storage dedup
    uses CDC). Expected chunk length ≈ ``divisor`` chars.

    This is the no-min/max-size variant: the boundary SET is a pure
    per-position predicate (stateless, exactly SQL-expressible), where the
    production min/max guards add a sequential scan. The hash is md5-60
    (DuckDB-recomputable); everything is JVM array expressions per
    document — no shuffle at all until the caller aggregates.

    Scale: per-doc cost is O(len) hash evaluations; documents are the unit
    of parallelism and the longest document bounds a task (the same
    per-doc-bounded cost model as every text operator here).

    Output: ``(id_col, chunk_idx, cstart, clen, chunk_hash)`` — chunk_idx
    1-based, cstart the 1-based char offset, chunks tile the document
    exactly. Documents shorter than ``k`` chars form a single chunk.
    """
    if k < 1 or divisor < 1:
        raise ValueError(f"k and divisor must be >= 1, got k={k}, divisor={divisor}")
    t = F.col(text_col)
    n = F.length(t)
    bounds = F.when(
        n >= k,
        F.filter(
            F.sequence(F.lit(k), n),
            lambda i: F.pmod(
                md5_long60(F.substring(t, (i - k + 1).cast("int"), k)),
                F.lit(divisor),
            )
            == 0,
        ),
    ).otherwise(F.array().cast("array<long>"))
    base = (
        docs.where(n >= 1)
        .select(
            F.col(id_col).alias("_id"),
            t.alias("_t"),
            F.array_sort(
                F.array_distinct(F.concat(bounds.cast("array<long>"), F.array(n.cast("long"))))
            ).alias("_ends"),
        )
    )
    chunks = base.select(
        "_id",
        "_t",
        "_ends",
        F.posexplode("_ends").alias("_i0", "_cend"),
    ).select(
        "_id",
        (F.col("_i0") + 1).cast("long").alias("chunk_idx"),
        F.when(F.col("_i0") == 0, F.lit(1).cast("long"))
        .otherwise(
            F.element_at(F.col("_ends"), F.greatest(F.col("_i0"), F.lit(1)).cast("int")) + 1
        )
        .alias("cstart"),
        F.col("_cend"),
        F.col("_t"),
    )
    return chunks.select(
        F.col("_id").alias(id_col),
        "chunk_idx",
        "cstart",
        (F.col("_cend") - F.col("cstart") + 1).cast("long").alias("clen"),
        md5_long60(
            F.substring(
                F.col("_t"),
                F.col("cstart").cast("int"),
                (F.col("_cend") - F.col("cstart") + 1).cast("int"),
            )
        ).alias("chunk_hash"),
    )


def cdc_dedup_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    divisor: int = 64,
) -> DataFrame:
    """Storage-style dedup accounting over :func:`cdc_chunks`: per
    document, how much of its content is made of chunks that occur at
    least twice in the corpus (keyed by (chunk_hash, clen) — identical
    content anywhere, including within the same document). This is the
    dedup-ratio estimate a chunk store would realize, and — unlike
    shingle/winnowing similarity — it measures REUSABLE SPANS, so it
    catches boilerplate blocks pasted across otherwise-unrelated pages.

    One groupBy over chunk identities + one join back: never a pair
    space. Output: ``(id_col, n_chunks, n_chars, n_dup_chunks, dup_chars,
    dup_frac)`` — all exact integers plus one exact integer division.
    """
    ch = cdc_chunks(docs, text_col=text_col, id_col=id_col, k=k, divisor=divisor)
    freq = ch.groupBy("chunk_hash", "clen").agg(F.count(F.lit(1)).alias("_cnt"))
    return (
        ch.join(freq, ["chunk_hash", "clen"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("clen").cast("long").alias("n_chars"),
            F.sum((F.col("_cnt") >= 2).cast("long")).cast("long").alias("n_dup_chunks"),
            F.sum(F.when(F.col("_cnt") >= 2, F.col("clen")).otherwise(0))
            .cast("long")
            .alias("dup_chars"),
        )
        .withColumn("dup_frac", F.col("dup_chars") / F.col("n_chars"))
    )


def weighted_jaccard_dups(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs_per_shingle: int | None = 1000,
) -> DataFrame:
    """Weighted (multiset) Jaccard ≥ threshold near-dup pairs:

        J_w(A, B) = Σ_x min(tf_A(x), tf_B(x)) / Σ_x max(tf_A(x), tf_B(x))

    with tf counting each word n-gram's OCCURRENCES. Set Jaccard scores
    'spam spam spam spam' vs 'spam' as identical; the weighted form (the
    quantity Ioffe 2010's consistent weighted sampling estimates) is the
    repetition-aware verify for boilerplate/template-heavy web text —
    J_w == J_set when every tf is 1, penalizes repetition MISMATCH
    (A = 4×spam vs B = 1×spam drops from J_set 1.0 to 1/4), and rewards
    shared repetition (matching spam runs count once per occurrence) —
    i.e. it scores the multisets people actually wrote, in both
    directions.

    Blocking: shared-shingle equi-join on DISTINCT shingles (lossless —
    J_w > 0 requires a common shingle; ``max_docs_per_shingle`` is the one
    recall/cost knob, same contract as ngram_jaccard_dups). The verify is
    pure aggregation: Σ min runs over the pair's SHARED shingles via a
    (shingle)-keyed equi-join of the two tf tables, and Σ max falls out of
    the identity Σ max = tot_A + tot_B − Σ min — full shingle arrays are
    never shipped to candidate pairs, so verify cost is O(shared shingles),
    not O(|A| + |B|) per pair.

    Returns (id_a, id_b, wjaccard) with id_a < id_b.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    words = words_lower(F.col(text_col))
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    tf = (
        ensure_min_parallelism(docs, id_col)
        .select(id_col, F.explode(grams).alias("sh"))
        .groupBy(id_col, "sh")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if max_docs_per_shingle:
        freq = tf.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        blocked = tf.join(
            F.broadcast(freq.where(F.col("df") > max_docs_per_shingle)),
            "sh",
            "left_anti",
        )
    else:
        blocked = tf
    tot = tf.groupBy(id_col).agg(F.sum("tf").alias("tot"))
    a = blocked.select(F.col(id_col).alias("id_a"), "sh", F.col("tf").alias("tf_a"))
    b = blocked.select(F.col(id_col).alias("id_b"), "sh", F.col("tf").alias("tf_b"))
    shared = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("tf_a", "tf_b")).alias("smin"))
    )
    ta = tot.select(F.col(id_col).alias("id_a"), F.col("tot").alias("tot_a"))
    tb = tot.select(F.col(id_col).alias("id_b"), F.col("tot").alias("tot_b"))
    return (
        shared.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "wjaccard",
            F.col("smin") / (F.col("tot_a") + F.col("tot_b") - F.col("smin")),
        )
        .where(F.col("wjaccard") >= threshold)
        .select("id_a", "id_b", "wjaccard")
    )
