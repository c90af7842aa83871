"""Extraction stage: pages -> paragraph_links (SURVEY §2 P6-P9, J1).

Reference: minimel/get_paragraphs.py:57-97 (process_line / get_anchor_paragraphs).
The reference streams XML byte-ranges through per-partition trie lookups; here the
input is already a pages table ``(url, warc_ts, html, text, lang)`` and the
title->qid index is a broadcast dict consumed inside an Arrow-batched
``mapInPandas`` (the reference's per-partition IntDAWG load,
get_paragraphs.py:88-89, is exactly Spark's broadcast-variable pattern).

Why a broadcast dict and not a broadcast hash join: the link-extraction rule is
"look up each canonicalized wikilink title while parsing" (J1) — the lookup
happens *inside* the parse of each page, interleaved with the stateful self-link
enrichment sweep (P9), so the byte-identity contract requires the dict form.
The join-shaped variants (J2 etc.) stay relational joins downstream.

Scale notes:
- one input row per page; the UDF never sees partial pages, so output is invariant
  to partitioning (required for local[8] == local[32] equivalence);
- no shuffle in this stage at all: scan -> mapInPandas -> (optional) write;
- the title index is the only driver-side structure (a dimension, ~millions of
  entries at web scale — within broadcast budget). Beyond budget
  (``max_broadcast_titles``), ``extract_paragraphs`` switches to the JOINED
  path: a cheap pre-scan lists each page's candidate link targets
  (canonicalized with the parser's own helper), a DISTRIBUTED equi-join
  resolves them against the index, and the resolved (title -> qid) entries are
  folded back onto each page as a map column — the parse UDF then receives a
  per-page mini-dict instead of the global broadcast. Byte-identity holds
  because the mini-dict contains every key the parser could look up for that
  page (candidate targets ∪ the page's own name); cost is one extra text scan
  plus the (url, title) join shuffle — the price of an unbounded index.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from ..functions.wikitext import candidate_titles, extract_page

PARAGRAPH_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("par_id", T.IntegerType()),
    T.StructField("links", T.MapType(T.StringType(), T.LongType())),
    T.StructField("text", T.StringType()),
])


def extract_paragraphs(
    pages: DataFrame,
    title_index: DataFrame,
    skip: tuple[str, ...] = (),
    carry_cols: tuple[str, ...] = (),
    max_broadcast_titles: int | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> (url, par_id, links, text
    [, carry_cols...]).

    ``title_index`` is a dimension DataFrame[title string, qid long]. By
    default it is collected once and broadcast to executors; when
    ``max_broadcast_titles`` is set and the index is larger, the distributed
    JOINED path runs instead (see module doc). ``carry_cols`` are page columns
    replicated onto every output paragraph (e.g. ``warc_ts`` for event-time
    streaming aggregations) — carried through the UDF so the stage stays a
    single scan -> mapInPandas with no join back to pages.
    """
    if max_broadcast_titles is not None and title_index.count() > max_broadcast_titles:
        return extract_paragraphs_joined(pages, title_index, skip, carry_cols)
    spark = pages.sparkSession
    # min-qid on a duplicated title: a plain dict build keeps whichever row
    # collected last (partition-order dependent); the joined twin aggregates
    # min(qid) per title, so both paths resolve collisions identically
    index: dict[str, int] = {}
    for r in title_index.collect():
        t, q = r["title"], int(r["qid"])
        if t not in index or q < index[t]:
            index[t] = q
    bc = spark.sparkContext.broadcast(index)
    skip = tuple(skip)
    carry_cols = tuple(carry_cols)
    in_fields = {f.name: f for f in pages.schema.fields}
    schema = T.StructType(
        list(PARAGRAPH_SCHEMA.fields) + [in_fields[c] for c in carry_cols]
    )

    def gen(batches):
        idx = bc.value
        for pdf in batches:
            out = {"url": [], "par_id": [], "links": [], "text": []}
            carry = {c: [] for c in carry_cols}
            for row_i, (url, mwcode) in enumerate(zip(pdf["url"], pdf["text"])):
                name = url.rsplit("/", 1)[-1].split("?")[0]
                for i, (links, text) in enumerate(extract_page(name, mwcode, idx, skip)):
                    out["url"].append(url)
                    out["par_id"].append(i)
                    out["links"].append(links)
                    out["text"].append(text)
                    for c in carry_cols:
                        carry[c].append(pdf[c].iloc[row_i])
            out.update(carry)
            yield pd.DataFrame(out)

    cols = ["url", "text", *carry_cols]
    return pages.select(*cols).mapInPandas(gen, schema=schema)


def extract_paragraphs_joined(
    pages: DataFrame,
    title_index: DataFrame,
    skip: tuple[str, ...] = (),
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Contract-identical to the broadcast path for indexes beyond broadcast
    budget: per-page candidate titles are resolved against ``title_index``
    with a distributed equi-join and handed to the parse UDF as a per-page
    mini-dict (map column) — no driver-side collect of the index at all."""
    skip = tuple(skip)
    carry_cols = tuple(carry_cols)
    in_fields = {f.name: f for f in pages.schema.fields}
    schema = T.StructType(
        list(PARAGRAPH_SCHEMA.fields) + [in_fields[c] for c in carry_cols]
    )

    cand_schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
    ])

    def scan(batches):
        for pdf in batches:
            url_o, t_o = [], []
            for url, mwcode in zip(pdf["url"], pdf["text"]):
                name = url.rsplit("/", 1)[-1].split("?")[0]
                ts = candidate_titles(mwcode)
                ts.add(name)  # the self-link enrichment looks up the pagename
                for t in ts:
                    url_o.append(url)
                    t_o.append(t)
            yield pd.DataFrame({"url": url_o, "title": t_o})

    cand = pages.select("url", "text").mapInPandas(scan, cand_schema)
    resolved = (
        cand.join(title_index.select("title", "qid"), "title")
        # min-qid per title FIRST: map_from_entries raises on duplicate keys
        # (mapKeyDedupPolicy=EXCEPTION) and array_distinct only collapses
        # identical structs — a duplicated index title must resolve, not
        # crash, and must resolve the same way the broadcast dict does
        .groupBy("url", "title")
        .agg(F.min("qid").alias("qid"))
        .groupBy("url")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("title", "qid"))).alias("_idx")
        )
    )
    pages2 = pages.select("url", "text", *carry_cols).join(resolved, "url", "left")

    def gen(batches):
        for pdf in batches:
            out = {"url": [], "par_id": [], "links": [], "text": []}
            carry = {c: [] for c in carry_cols}
            for row_i, (url, mwcode, idx) in enumerate(
                zip(pdf["url"], pdf["text"], pdf["_idx"])
            ):
                name = url.rsplit("/", 1)[-1].split("?")[0]
                d = {k: int(v) for k, v in idx.items()} if idx is not None else {}
                for i, (links, text) in enumerate(extract_page(name, mwcode, d, skip)):
                    out["url"].append(url)
                    out["par_id"].append(i)
                    out["links"].append(links)
                    out["text"].append(text)
                    for c in carry_cols:
                        carry[c].append(pdf[c].iloc[row_i])
            out.update(carry)
            yield pd.DataFrame(out)

    return pages2.mapInPandas(gen, schema=schema)
