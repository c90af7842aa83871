"""Mention detection stage: paragraphs + anchor dictionary -> mentions
(SURVEY §2 M1, A2, M3).

Reference: minimel/mentions.py:16-60 and app/app.py:58-63. The reference
scans with an Aho-Corasick automaton; here the anchor-name trie is compiled
into one regex (``functions.matcher.RegexMatcher``) with the reference's
leftmost-longest, word-boundary-filtered semantics. It is built once per
executor task from the broadcast anchor list (iterator-form pandas UDF = the
heavy-init executor-singleton pattern), scans lowercased text, and emits
(start, surface) spans.

Scale notes: the default path is shuffle-free — scan + mapInPandas with the
anchor dictionary as one broadcast list (reference anchor dicts are ~10⁶
names ≈ tens of MB; fine). Beyond broadcast budget (wiki-scale dictionaries,
10⁷-10⁸ names), ``detect_mentions_chunked`` splits the DICTIONARY into
deterministic chunks and runs one bounded-memory scan pass per chunk — each
pass broadcasts only its chunk — emitting every longest-match-per-start span;
spans are then max-merged relationally and a final per-paragraph sweep
reproduces the single-automaton leftmost-longest consumption EXACTLY (the
union trie's longest match at position i is the max over chunks of each
chunk's longest match at i). Cost: C text passes + one span shuffle — the
price of an unbounded dictionary.
"""

from __future__ import annotations

import re

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from ..functions.matcher import RegexMatcher, _trie_regex, name_trie

MENTION_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("par_id", T.IntegerType()),
    T.StructField("start", T.IntegerType()),
    T.StructField("surface", T.StringType()),
])


# estimated driver/broadcast bytes per dictionary entry beyond its characters
# (CPython str header ~49 B + list slot 8 B, rounded up)
_PER_NAME_OVERHEAD = 64
#: default broadcast budget — past this the chunked path auto-routes
DEFAULT_BROADCAST_BYTES = 128 << 20


def detect_mentions(
    paragraphs: DataFrame,
    anchor_names: DataFrame,
    max_broadcast_names: int | None = None,
    max_broadcast_bytes: int | None = DEFAULT_BROADCAST_BYTES,
) -> DataFrame:
    """(url, par_id, .., text) x names(anchor) -> (url, par_id, start, surface).

    Matches run over ``text.lower()`` (reference count_name_lines,
    mentions.py:59), so surfaces come out lowercased like the dictionary.

    The dictionary is sized relationally FIRST (one count+sum(length) agg);
    past the budget — BOTH limits apply when both are set: the chunk count is
    the max of the ``max_broadcast_names`` entry requirement and the
    ``max_broadcast_bytes`` estimate requirement (default 128 MiB), so a
    dictionary of few-but-huge names can't slip an oversized broadcast through
    the entry gate. The bounded-memory chunked path auto-routes
    (contract-identical, see ``detect_mentions_chunked``). The driver never
    materializes more than one chunk of names at a time on either path.
    """
    spark = paragraphs.sparkSession
    dn = anchor_names.select("anchor").distinct().persist()
    try:
        stats = dn.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.length("anchor")), F.lit(0)).alias("chars"),
        ).first()
        n, est_bytes = stats["n"], stats["chars"] + stats["n"] * _PER_NAME_OVERHEAD
        n_chunks = 1
        if max_broadcast_names is not None and n > max_broadcast_names:
            n_chunks = -(-n // max_broadcast_names)
        if max_broadcast_bytes is not None:
            n_chunks = max(n_chunks, -(-est_bytes // max_broadcast_bytes))
        if n_chunks > 1:
            return detect_mentions_chunked(paragraphs, dn, n_chunks)
        names = [r["anchor"] for r in dn.collect()]
    finally:
        dn.unpersist()
    bc = spark.sparkContext.broadcast(names)

    def gen(batches):
        matcher = RegexMatcher(bc.value)  # once per task
        for pdf in batches:
            url_o, pid_o, start_o, surf_o = [], [], [], []
            for url, pid, text in zip(pdf["url"], pdf["par_id"], pdf["text"]):
                for start, surface in matcher.find_matches(text.lower()):
                    url_o.append(url)
                    pid_o.append(pid)
                    start_o.append(start)
                    surf_o.append(surface)
            yield pd.DataFrame(
                {"url": url_o, "par_id": pid_o, "start": start_o, "surface": surf_o}
            )

    return paragraphs.select("url", "par_id", "text").mapInPandas(gen, MENTION_SCHEMA)


_SPAN_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("par_id", T.IntegerType()),
    T.StructField("start", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
])


def _scan_all_longest(paragraphs: DataFrame, chunk_names: list[str]) -> DataFrame:
    """One bounded pass: every (start, longest end) span this CHUNK's
    dictionary can produce, at every position (no consumption yet — the
    greedy jump must happen after merging across chunks)."""
    spark = paragraphs.sparkSession
    bc = spark.sparkContext.broadcast(chunk_names)

    def gen(batches):
        root = name_trie(bc.value)
        # lookahead wrapper: a zero-width match at EVERY position where some
        # chunk name starts; group(1) is the greedy (longest) match there
        look = re.compile("(?=(" + _trie_regex(root) + "))") if root else None
        for pdf in batches:
            url_o, pid_o, s_o, e_o = [], [], [], []
            if look is not None:
                for url, pid, text in zip(pdf["url"], pdf["par_id"], pdf["text"]):
                    low = text.lower()
                    for m in look.finditer(low):
                        if m.end(1) > m.start(1):
                            url_o.append(url)
                            pid_o.append(pid)
                            s_o.append(m.start(1))
                            e_o.append(m.end(1))
            yield pd.DataFrame(
                {"url": url_o, "par_id": pid_o, "start": s_o, "end": e_o}
            )

    return paragraphs.select("url", "par_id", "text").mapInPandas(gen, _SPAN_SCHEMA)


def detect_mentions_chunked(
    paragraphs: DataFrame, anchor_names: DataFrame, n_chunks: int
) -> DataFrame:
    """Contract-identical to ``detect_mentions`` for dictionaries beyond
    broadcast budget: deterministic DataFrame-side name chunks
    (``pmod(xxhash64(anchor), n_chunks)``), one scan pass per chunk,
    relational max-merge of spans, then the exact greedy leftmost-longest
    sweep + word-boundary filter per paragraph.

    Memory contract: BOTH executor and driver hold at most ONE chunk of the
    dictionary at a time — chunk membership is decided relationally and each
    chunk is collected separately, so driver memory is O(|dict| / n_chunks),
    not O(|dict|). The max-merge is associative, so the result is invariant
    to how names land in chunks (pinned by er_mentions_chunked's hash being
    identical to er_mentions)."""
    dn = anchor_names.select("anchor").distinct().persist()
    spans = None
    try:
        for i in range(n_chunks):
            # one chunk at a time: filter relationally, collect ONLY the chunk
            c = sorted(
                r["anchor"]
                for r in dn.where(
                    F.pmod(F.xxhash64("anchor"), F.lit(n_chunks)) == i
                ).collect()
            )
            if not c:
                continue
            s = _scan_all_longest(paragraphs, c)
            spans = s if spans is None else spans.unionByName(s)
    finally:
        dn.unpersist()
    if spans is None:
        return paragraphs.sparkSession.createDataFrame([], MENTION_SCHEMA)
    merged = (
        spans.groupBy("url", "par_id", "start")
        .agg(F.max("end").alias("end"))
        .groupBy("url", "par_id")
        .agg(F.collect_list(F.struct("start", "end")).alias("_spans"))
    )
    with_text = paragraphs.select("url", "par_id", "text").join(
        merged, ["url", "par_id"]
    )

    def sweep(batches):
        for pdf in batches:
            url_o, pid_o, s_o, surf_o = [], [], [], []
            for url, pid, text, sp in zip(
                pdf["url"], pdf["par_id"], pdf["text"], pdf["_spans"]
            ):
                low = text.lower()
                n = len(low)
                ends = {s["start"]: s["end"] for s in sp}
                i = 0
                while i < n:
                    e = ends.get(i)
                    if e is not None and e > i:
                        ok = not (i != 0 and low[i - 1].isalnum())
                        if ok and e != n and low[e].isalnum():
                            ok = False
                        if ok:
                            url_o.append(url)
                            pid_o.append(pid)
                            s_o.append(i)
                            surf_o.append(low[i:e])
                        i = e
                    else:
                        i += 1
            yield pd.DataFrame(
                {"url": url_o, "par_id": pid_o, "start": s_o, "surface": surf_o}
            )

    return with_text.mapInPandas(sweep, MENTION_SCHEMA)


def detect_mentions_ner(paragraphs: DataFrame, model: str = "en_core_web_sm") -> DataFrame:
    """M2 (reference mentions.py:28-31, 48-51): spacy NER entities as the
    alternative mention source — (start_char, ent.text) spans, same output
    schema as ``detect_mentions`` so everything downstream is source-agnostic.
    Gated behind the optional spacy dependency; the model loads once per
    executor task (iterator-form pandas UDF singleton)."""
    try:  # pragma: no cover - optional dependency
        import spacy  # type: ignore # noqa: F401
    except ImportError as e:
        raise ImportError(
            "detect_mentions_ner requires the optional spacy package "
            f"(and the {model!r} model); use detect_mentions for the "
            "gazetteer source"
        ) from e

    def gen(batches):  # pragma: no cover - needs spacy
        import spacy as sp

        nlp = sp.load(model)
        for pdf in batches:
            url_o, pid_o, start_o, surf_o = [], [], [], []
            for url, pid, text in zip(pdf["url"], pdf["par_id"], pdf["text"]):
                for e in nlp(text).ents:
                    url_o.append(url)
                    pid_o.append(pid)
                    start_o.append(e.start_char)
                    surf_o.append(e.text)
            yield pd.DataFrame(
                {"url": url_o, "par_id": pid_o, "start": start_o, "surface": surf_o}
            )

    return paragraphs.select("url", "par_id", "text").mapInPandas(gen, MENTION_SCHEMA)


def count_names(paragraphs: DataFrame, anchor_names: DataFrame) -> DataFrame:
    """A2 (minimel/mentions.py:54-60, 91-98): global occurrence counts of
    dictionary names in paragraph text. Catalyst plans the partial+final agg;
    no hand-rolled per-partition Counter needed."""
    return (
        detect_mentions(paragraphs, anchor_names)
        .groupBy(F.col("surface").alias("name"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def nil_mentions(mentions: DataFrame, paragraph_links: DataFrame) -> DataFrame:
    """M3 (minimel/vectorize.py:71-78,124-138): dictionary matches NOT covered by
    a gold link on the same paragraph — the NIL negatives. The reference scans a
    CompletionDAWG per token; the relational form is a left_anti join on
    (url, par_id, surface-in-links)."""
    gold = paragraph_links.select(
        "url", "par_id", F.explode(F.map_keys("links")).alias("gold_name")
    ).withColumn("gold_name", F.lower("gold_name"))
    return mentions.join(
        gold.withColumnRenamed("gold_name", "surface"),
        ["url", "par_id", "surface"],
        "left_anti",
    )
