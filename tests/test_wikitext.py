"""Golden tests for the wikitext extraction semantics (reference
minimel/get_paragraphs.py:17-78). Expectations hand-derived from the reference
get_str/get_text/get_links/process_line bodies."""

from minimel_spark.functions.wikitext import (
    extract_page,
    get_text,
    iter_wikilinks,
    parse_wikitext,
)

INDEX = {"Acme": 1, "Acme_(1)": 2, "Globex": 3, "New_york": 4}


def test_get_text_plain():
    assert get_text(parse_wikitext("hello world")) == "hello world"


def test_get_text_wikilink_display():
    assert get_text(parse_wikitext("see [[Acme|the acme corp]] now")) == "see the acme corp now"
    assert get_text(parse_wikitext("see [[Acme]] now")) == "see Acme now"


def test_get_text_template_dropped():
    assert get_text(parse_wikitext("a {{cite|x=1}} b")) == "a  b"


def test_get_text_wiki_markup_tag_unwrapped():
    assert get_text(parse_wikitext("x ''[[Acme|acme]] inc'' y")) == "x acme inc y"
    assert get_text(parse_wikitext("x '''bold''' y")) == "x bold y"


def test_get_text_html_tag_dropped():
    # html Tag nodes have no wiki_markup -> contribute nothing to text
    assert get_text(parse_wikitext("a <ref>cite [[Acme|acme]]</ref> b")) == "a  b"


def test_get_text_whitespace_collapse():
    assert get_text(parse_wikitext("a\nb\tc ")) == "a b c"


def test_links_canonicalization():
    # lowercase first char is uppercased; spaces -> underscores
    links = iter_wikilinks(parse_wikitext("[[acme]] [[new york|NYC]]"), INDEX)
    assert links == [("acme", 1), ("NYC", 4)]


def test_links_namespace_dropped():
    assert iter_wikilinks(parse_wikitext("[[File:x.png|thumb]]"), INDEX) == []


def test_links_inside_template_and_tag_counted():
    links = iter_wikilinks(parse_wikitext("{{box|[[Acme|a]]}} <ref>[[Globex]]</ref>"), INDEX)
    assert links == [("a", 1), ("Globex", 3)]


def test_links_not_in_index_dropped():
    assert iter_wikilinks(parse_wikitext("[[Unknown|u]]"), INDEX) == []


def test_extract_page_junk_paragraphs():
    mw = "{{infobox}}\n\ngood [[Acme|acme]] text\n\n| table junk [[Globex|g]]"
    out = extract_page("Acme", mw, INDEX)
    # template-only paragraph has empty text; | paragraph starts with BADSTART
    assert len(out) == 1
    links, text = out[0]
    assert text == "good acme text"
    # self-link enrichment: pagelabel "Acme" is in the page but not substring-
    # present in this text's link labels; "Acme" not in "good acme text"
    # (case-sensitive) so only the real link remains
    assert links == {"acme": 1}


def test_extract_page_redirect_and_empty():
    assert extract_page("Acme", "#REDIRECT [[Globex]]", INDEX) == []
    assert extract_page("Acme", None, INDEX) == []
    assert extract_page("Acme", "", INDEX) == []


def test_extract_page_self_link_enrichment():
    # pagelabel = "Acme" (underscores -> spaces, "_(" qualifier cut happens on
    # the *label*: "Acme_(1)" -> "Acme"); present in paragraph 2's text
    mw = "intro [[Globex|g]] here\n\nlater Acme appears again [[Globex|g2]]"
    out = extract_page("Acme_(1)", mw, INDEX)
    assert len(out) == 2
    assert out[0][0] == {"g": 3}
    # enrichment added the page's own (label, qid) pair
    assert out[1][0] == {"g2": 3, "Acme": 2}
    assert out[1][1] == "later Acme appears again g2"


def test_extract_page_enrichment_shadowed_by_link_label():
    # a label containing the candidate substring blocks enrichment
    mw = "intro [[Acme_(1)|Acme one]] x"
    out = extract_page("Acme", mw, INDEX)
    # pagelabel "Acme" is substring of link label "Acme one" -> not added
    assert out[0][0] == {"Acme one": 2}


def test_extract_page_cross_paragraph_link_memory():
    # links seen in paragraph 1 are enrichment candidates in paragraph 2
    mw = "alpha [[Globex|gx]] beta\n\ngamma gx delta"
    out = extract_page("Nopage", mw, INDEX)
    assert out[0][0] == {"gx": 3}
    assert out[1][0] == {"gx": 3}
    assert out[1][1] == "gamma gx delta"


# ---------- P11: disambiguation list links (reference get_disambig.py:65-85) ----------

def test_get_list_links_basic_and_formats():
    from minimel_spark.functions.wikitext import get_list_links

    text = (
        "Acme may refer to:\n"
        "* [[Acme_(0)]], a company\n"
        "*[[Acme_(1)|the other one]]\n"
        "# [[Other]] thing\n"
        "* ''[[Styled_Link]]'' in italics\n"
        "* plain text item, no link\n"
        "not a list [[Nope]]\n"
    )
    assert get_list_links(text) == ["Acme_(0)", "Acme_(1)", "Other", "Styled_Link"]


def test_get_list_links_template_gate():
    from minimel_spark.functions.wikitext import get_list_links

    with_tpl = "{{Disambiguation}}\n* [[A]]\n"
    without = "* [[A]]\n"
    assert get_list_links(with_tpl, disambig_template="disambiguation") == ["A"]
    assert get_list_links(without, disambig_template="disambiguation") == []
    assert get_list_links(without) == ["A"]


def test_disambig_from_pages_operator(spark):
    from minimel_spark.operators.disambig import disambig_from_pages

    pages = spark.createDataFrame(
        [
            ("https://x/wiki/Acme", "{{dab}}\n* [[Acme_(0)]]\n* [[Acme_(1)]]\n* [[Missing]]"),
            ("https://x/wiki/Plain", "no lists here [[Acme_(0)]]"),
        ],
        "url string, text string",
    )
    index = spark.createDataFrame(
        [("Acme_(0)", 100), ("Acme_(1)", 101)], "title string, qid long"
    )
    got = {(r["title"], r["qid"]) for r in disambig_from_pages(pages, index).collect()}
    assert got == {("Acme", 100), ("Acme", 101)}
    gated = disambig_from_pages(pages, index, disambig_template="dab")
    assert {(r["title"], r["qid"]) for r in gated.collect()} == {("Acme", 100), ("Acme", 101)}
    none = disambig_from_pages(pages, index, disambig_template="other")
    assert none.count() == 0


def test_disambig_joined_path_matches_broadcast(spark, monkeypatch):
    """VERDICT r3 #3: past max_broadcast_titles the joined path must produce
    the identical row MULTISET (duplicated list links stay duplicated) with
    NO driver-side collect of the title index."""
    from minimel_spark.operators.disambig import disambig_from_pages

    pages = spark.createDataFrame(
        [
            ("https://x/wiki/Acme", "* [[Acme_(0)]]\n* [[Acme_(1)]]\n* [[Acme_(0)]]\n* [[Missing]]"),
            ("https://x/wiki/Plain", "no lists here [[Acme_(0)]]"),
        ],
        "url string, text string",
    )
    index = spark.createDataFrame(
        [("Acme_(0)", 100), ("Acme_(1)", 101)], "title string, qid long"
    )
    want = sorted(
        (r["title"], r["qid"]) for r in disambig_from_pages(pages, index).collect()
    )
    assert want == [("Acme", 100), ("Acme", 100), ("Acme", 101)]

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
    got = sorted(
        (r["title"], r["qid"])
        for r in disambig_from_pages(pages, index, max_broadcast_titles=1).collect()
    )
    assert got == want
    # only the final result collect (3 rows, by the test itself) happened
    assert sizes == [3], sizes


def test_detect_mentions_ner_gated(spark):
    import pytest

    try:
        import spacy  # noqa: F401
        pytest.skip("spacy installed; gated-error path not applicable")
    except ImportError:
        pass
    from minimel_spark.operators.mentions import detect_mentions_ner

    pars = spark.createDataFrame([("u", 0, "x")], "url string, par_id int, text string")
    with pytest.raises(ImportError, match="spacy"):
        detect_mentions_ner(pars)


def test_disambig_duplicate_index_titles_resolve_min_qid_both_paths(spark):
    """A duplicated index title must resolve to its minimum qid on BOTH the
    broadcast and the joined disambig paths (the joined path previously fed
    duplicate keys to map_from_entries, which raises)."""
    from minimel_spark.operators.disambig import disambig_from_pages

    pages = spark.createDataFrame(
        [("https://x/wiki/Acme", "* [[Acme_(0)]]")], "url string, text string"
    )
    index = spark.createDataFrame(
        [("Acme_(0)", 999), ("Acme_(0)", 100)], "title string, qid long"
    )
    want = [("Acme", 100)]
    got_b = [
        (r["title"], r["qid"]) for r in disambig_from_pages(pages, index).collect()
    ]
    got_j = [
        (r["title"], r["qid"])
        for r in disambig_from_pages(pages, index, max_broadcast_titles=1).collect()
    ]
    assert got_b == want and got_j == want
