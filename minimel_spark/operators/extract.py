"""Extraction stage: pages -> paragraph_links (SURVEY §2 P6-P9, J1).

Reference: minimel/get_paragraphs.py:57-97 (process_line / get_anchor_paragraphs).
The reference streams XML byte-ranges through per-partition trie lookups; here the
input is already a pages table ``(url, warc_ts, html, text, lang)`` and the
title->qid index is a dict consumed inside an Arrow-batched ``mapInPandas``
(the reference's per-partition IntDAWG load, get_paragraphs.py:88-89, is
exactly Spark's broadcast-variable pattern).

Why a dict lookup and not a broadcast hash join: the link-extraction rule is
"look up each canonicalized wikilink title while parsing" (J1) — the lookup
happens *inside* the parse of each page, interleaved with the stateful self-link
enrichment sweep (P9), so the byte-identity contract requires the dict form.
The join-shaped variants (J2 etc.) stay relational joins downstream.

``title_lookups`` is the one title resolver of the wikitext parsers (this
stage and ``disambig_from_pages``), taking broadcast-vs-join once from the
index's size:

- within ``max_broadcast_titles`` (or with no budget) the index is collected
  once and broadcast; the plan is scan -> mapInPandas, no shuffle;
- past it, a cheap pre-scan lists each page's candidate titles (canonicalized
  with the parser's own helper), a DISTRIBUTED equi-join resolves them, and
  each page gets a per-page mini-dict as a map column — the driver never
  collects the index. Outputs are identical because the mini-dict holds every
  key the parser can look up for that page; the cost is one extra text scan
  plus the (url, title) join shuffle — the price of an unbounded index.

A duplicated index title resolves to its MINIMUM qid on both paths (a plain
dict build would keep whichever row collected last — partition-order
dependent). One input row per page: the UDF never sees partial pages, so
output is invariant to partitioning (local[8] == local[32]).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from itertools import repeat

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from ..functions.wikitext import candidate_titles, extract_page, page_name

PARAGRAPH_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("par_id", T.IntegerType()),
    T.StructField("links", T.MapType(T.StringType(), T.LongType())),
    T.StructField("text", T.StringType()),
])

_CAND_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("title", T.StringType()),
])


def title_lookups(
    pages: DataFrame,
    title_index: DataFrame,
    page_titles: Callable[[str, str], Iterable[str]],
    max_broadcast_titles: int | None,
) -> tuple[DataFrame, Callable[[pd.DataFrame], Iterator[dict[str, int]]]]:
    """Resolve wikilink titles for a parse over ``pages(url, text, ..)``.

    Returns ``(pages, lookups)``: run ``mapInPandas`` over the returned pages,
    and ``lookups(pdf)`` yields one title -> qid dict per row of a batch.
    ``page_titles(name, text)`` lists every title the parse of that page can
    look up; only the over-budget path calls it. Within the budget the
    pages come back unchanged and every row shares the broadcast index.
    """
    if max_broadcast_titles is None or title_index.count() <= max_broadcast_titles:
        index: dict[str, int] = {}
        for r in title_index.collect():
            t, q = r["title"], int(r["qid"])
            if t not in index or q < index[t]:
                index[t] = q
        bc = pages.sparkSession.sparkContext.broadcast(index)
        return pages, lambda pdf: repeat(bc.value, len(pdf))

    def scan(batches):
        for pdf in batches:
            url_o, t_o = [], []
            for url, text in zip(pdf["url"], pdf["text"]):
                for t in page_titles(page_name(url), text):
                    url_o.append(url)
                    t_o.append(t)
            yield pd.DataFrame({"url": url_o, "title": t_o})

    resolved = (
        pages.select("url", "text").mapInPandas(scan, _CAND_SCHEMA)
        .join(title_index.select("title", "qid"), "title")
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

    def lookups(pdf):
        for idx in pdf["_idx"]:
            yield {k: int(v) for k, v in idx.items()} if idx is not None else {}

    return pages.join(resolved, "url", "left"), lookups


def extract_paragraphs(
    pages: DataFrame,
    title_index: DataFrame,
    skip: tuple[str, ...] = (),
    carry_cols: tuple[str, ...] = (),
    max_broadcast_titles: int | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> (url, par_id, links, text
    [, carry_cols...]).

    ``title_index`` is a dimension DataFrame[title string, qid long],
    resolved by ``title_lookups``: broadcast by default, the distributed
    join when ``max_broadcast_titles`` is set and the index is larger.
    ``carry_cols`` are page columns replicated onto every output paragraph
    (e.g. ``warc_ts`` for event-time streaming aggregations) — carried
    through the UDF so the stage needs no join back to pages.
    """
    skip = tuple(skip)
    carry_cols = tuple(carry_cols)
    in_fields = {f.name: f for f in pages.schema.fields}
    schema = T.StructType(
        list(PARAGRAPH_SCHEMA.fields) + [in_fields[c] for c in carry_cols]
    )
    # the parser looks up every link target and, for the self-link
    # enrichment, the pagename
    pages, lookups = title_lookups(
        pages.select("url", "text", *carry_cols),
        title_index,
        lambda name, text: candidate_titles(text) | {name},
        max_broadcast_titles,
    )

    def gen(batches):
        for pdf in batches:
            out = {"url": [], "par_id": [], "links": [], "text": []}
            carry = {c: [] for c in carry_cols}
            for row_i, (url, mwcode, idx) in enumerate(
                zip(pdf["url"], pdf["text"], lookups(pdf))
            ):
                for i, (links, text) in enumerate(
                    extract_page(page_name(url), mwcode, idx, skip)
                ):
                    out["url"].append(url)
                    out["par_id"].append(i)
                    out["links"].append(links)
                    out["text"].append(text)
                    for c in carry_cols:
                        carry[c].append(pdf[c].iloc[row_i])
            out.update(carry)
            yield pd.DataFrame(out)

    return pages.mapInPandas(gen, schema=schema)
