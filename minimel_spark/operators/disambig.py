"""P11: disambiguation pages -> (title, qid) dimension (SURVEY §2 P11).

Reference: minimel/get_disambig.py:65-111 — walks each disambiguation page's
parsed wikitext taking the wikilinks of list items (nodes after ``li`` tags),
resolves them against the title DAWG, and emits (page, qid) rows that
clean()'s disambiguation boost consumes. Round 1 only accepted a PRE-BUILT
disambig dimension; this operator builds it from raw pages, so a user with
wikitext disambiguation dumps gets the reference behavior end to end.

Plan shape: one scan -> mapInPandas over the same from-scratch wikitext
module extraction uses, with the title index resolved by extraction's
``title_lookups`` (broadcast within ``max_broadcast_titles``, a distributed
join of each page's canonical list-link titles past it). Output feeds
``clean(..., disambig=...)``.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from ..functions.wikitext import canonical_title, get_list_links, page_name
from .extract import title_lookups

DISAMBIG_SCHEMA = T.StructType([
    T.StructField("title", T.StringType()),
    T.StructField("qid", T.LongType()),
])


def disambig_from_pages(
    pages: DataFrame,
    title_index: DataFrame,
    disambig_template: str | None = None,
    max_broadcast_titles: int | None = None,
) -> DataFrame:
    """pages(url, .., text) -> (title, qid): one row per resolvable list link
    per disambiguation page; ``title`` is the disambiguation PAGE's name (the
    reference keys its output by page), ``qid`` the linked entity. A
    duplicated title in the index resolves deterministically to its MINIMUM
    qid on both ``title_lookups`` paths."""

    def list_titles(_name, text):
        return {
            c
            for t in get_list_links(text, disambig_template)
            if (c := canonical_title(t)) is not None
        }

    pages, lookups = title_lookups(
        pages.select("url", "text"), title_index, list_titles, max_broadcast_titles
    )

    def gen(batches):
        for pdf in batches:
            t_o, q_o = [], []
            for url, mwcode, idx in zip(pdf["url"], pdf["text"], lookups(pdf)):
                page = page_name(url)
                for t in get_list_links(mwcode, disambig_template):
                    c = canonical_title(t)
                    if c is not None and c in idx:
                        t_o.append(page)
                        q_o.append(idx[c])
            yield pd.DataFrame({"title": t_o, "qid": q_o})

    return pages.mapInPandas(gen, DISAMBIG_SCHEMA)
