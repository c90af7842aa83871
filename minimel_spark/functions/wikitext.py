"""Wikitext paragraph extraction: plain text + anchor links.

Reimplements the reference extraction semantics (minimel/get_paragraphs.py:17-78,
which drives mwparserfromhell) as a self-contained parser + extractor, so the same
pure function runs inside an Arrow-batched pandas UDF on executors. The north rule
requires byte-identical extracted text per url, so the node taxonomy and the
text/link rules mirror the reference exactly:

- ``get_text``  — minimel/get_paragraphs.py:32-44: concatenate top-level Text nodes,
  Wikilink display text (``text or title``, dropped when it still contains ``|``),
  and the contents of wiki-markup Tag nodes (``''italic''``/``'''bold'''``) one
  level deep; collapse ``\\n``/``\\t`` to spaces; strip. Templates, headings, html
  tags, comments contribute nothing.
- ``iter_wikilinks`` — minimel/get_paragraphs.py:47-54: ALL wikilinks (recursive,
  including inside templates/tags); drop ``Namespace:`` titles; uppercase first
  char; spaces→underscores; keep only titles present in the index.
- ``extract_page`` — minimel/get_paragraphs.py:57-78 (``process_line``): split the
  page on blank lines, per-paragraph link set + text, drop junk paragraphs
  (BADSTART prefixes), then the stateful self-link enrichment sweep (shortest
  label first, substring-present, not shadowed by an existing link's label).

Determinism note: the reference materializes each paragraph's links as
``dict(set_of_pairs)`` (get_paragraphs.py:96), whose winner for duplicate labels
depends on Python's per-process string hash seed — i.e. the reference itself is
not run-deterministic there. We sort pairs by ``(label, qid)`` before dict(), so
a duplicated label deterministically resolves to its highest qid. Fixtures avoid
duplicate labels per paragraph, so this never diverges from the reference on
tested inputs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

BADSTART = ["{{", "[", "|"]  # reference minimel/get_paragraphs.py:14

_NS_RE = re.compile(r"^[A-Z][a-z]+:")
_HTML_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:\s[^<>]*?)?)(/?)>")


@dataclass
class Text:
    value: str


@dataclass
class Wikilink:
    title: str
    text: str | None  # None when the link has no |


@dataclass
class Tag:
    wiki_markup: str | None  # "''" / "'''" for wiki tags, None for html tags
    contents: list = field(default_factory=list)


@dataclass
class Template:
    raw: str
    contents: list = field(default_factory=list)  # for recursive link extraction


def parse_wikitext(s: str) -> list:
    """Parse a paragraph into a flat node list (one nesting level inside tags,
    matching how the reference's get_text consumes the tree)."""
    return _parse(s, depth=0)


def _parse(s: str, depth: int) -> list:
    nodes: list = []
    i, n = 0, len(s)
    buf: list[str] = []

    def flush():
        if buf:
            nodes.append(Text("".join(buf)))
            buf.clear()

    while i < n:
        c = s[i]
        if s.startswith("[[", i):
            end = s.find("]]", i + 2)
            if end == -1:
                buf.append(s[i:]); i = n; continue
            inner = s[i + 2 : end]
            flush()
            title, sep, text = inner.partition("|")
            nodes.append(Wikilink(title, text if sep else None))
            i = end + 2
        elif s.startswith("{{", i):
            # match nested {{ }}
            j, bal = i + 2, 1
            while j < n and bal:
                if s.startswith("{{", j):
                    bal += 1; j += 2
                elif s.startswith("}}", j):
                    bal -= 1; j += 2
                else:
                    j += 1
            if bal:
                buf.append(s[i:]); i = n; continue
            flush()
            nodes.append(Template(s[i:j], _parse(s[i + 2 : j - 2], depth + 1)))
            i = j
        elif s.startswith("''", i) and depth == 0:
            markup = "'''" if s.startswith("'''", i) else "''"
            close = s.find(markup, i + len(markup))
            if close == -1:
                buf.append(s[i:]); i = n; continue
            flush()
            inner = s[i + len(markup) : close]
            nodes.append(Tag(markup, _parse(inner, depth + 1)))
            i = close + len(markup)
        elif c == "<":
            m = _HTML_TAG_RE.match(s, i)
            if m and not m.group(1) and not m.group(4):
                name = m.group(2)
                close = re.search(rf"</{re.escape(name)}\s*>", s[m.end():])
                if close:
                    flush()
                    inner = s[m.end() : m.end() + close.start()]
                    nodes.append(Tag(None, _parse(inner, depth + 1)))
                    i = m.end() + close.end()
                    continue
            buf.append(c); i += 1
        else:
            buf.append(c); i += 1
    flush()
    return nodes


def _get_str(node) -> str:
    """Reference get_str (minimel/get_paragraphs.py:17-26)."""
    if isinstance(node, Wikilink):
        s = node.text if node.text is not None else node.title
        if "|" not in s:
            return s
        return ""
    if isinstance(node, Text):
        return node.value
    return ""


def get_text(nodes: list) -> str:
    """Reference get_text (minimel/get_paragraphs.py:32-44)."""
    text = ""
    for p in nodes:
        if isinstance(p, Tag):
            if p.wiki_markup and p.contents:
                for child in p.contents:
                    text += _get_str(child)
        elif isinstance(p, (Text, Wikilink)):
            text += _get_str(p)
    return text.replace("\n", " ").replace("\t", " ").strip()


def _walk(nodes):
    for node in nodes:
        yield node
        if isinstance(node, (Tag, Template)):
            yield from _walk(node.contents)


def page_name(url: str) -> str:
    """The page title a wiki URL names (last path segment, query dropped)."""
    return url.rsplit("/", 1)[-1].split("?")[0]


def canonical_title(t: str) -> str | None:
    """Reference title canonicalization (get_paragraphs.py:47-54): drop
    Namespace: titles, uppercase the first char, spaces -> underscores.
    Shared between the parse-time lookup and the pre-scan that feeds the
    distributed title join (extract_paragraphs' over-budget path), so both
    paths canonicalize byte-identically."""
    if not t or _NS_RE.match(t):
        return None
    t = t[0].upper() + (t[1:] if len(t) > 1 else "")
    return t.replace(" ", "_")


_TARGET_RE = re.compile(r"\[\[([^\[\]|]*)")


def candidate_titles(mwcode: str | None) -> set[str]:
    """Flat pre-scan of every possible wikilink target in a page (nested links
    keep their literal '[[Target' text in the source, so the regex sees them
    too); canonicalized with the SAME helper the parser uses. A superset of
    what the parser will look up — extra keys are harmless, missing keys would
    break byte-identity, hence the shared canonicalization."""
    out = set()
    for t in _TARGET_RE.findall(mwcode or ""):
        c = canonical_title(t)
        if c:
            out.add(c)
    return out


def iter_wikilinks(nodes: list, index) -> "list[tuple[str, int]]":
    """Reference get_links (minimel/get_paragraphs.py:47-54): canonicalize titles
    and keep those present in the title→qid index (a plain dict here, broadcast
    to executors)."""
    out = []
    for node in _walk(nodes):
        if isinstance(node, Wikilink):
            t = canonical_title(node.title)
            if t is not None and t in index:
                disp = node.text if node.text is not None else node.title
                out.append((disp, index[t]))
    return out


def get_list_links(mwcode: str | None, disambig_template: str | None = None) -> list[str]:
    """Reference get_list_links (minimel/get_disambig.py:65-85): the wikilink
    titles of LIST ITEMS — in raw wikitext, lines opening with '*' or '#'
    (mwparserfromhell's ``li`` tags). For each list line the node right after
    the marker contributes: a bare wikilink yields its title; a formatting
    node (Tag/Template) yields every wikilink inside it. When
    ``disambig_template`` is given, pages not containing that template yield
    nothing (get_disambig.py:71-74)."""
    if not mwcode:
        return []
    if disambig_template:
        want = disambig_template.lower()
        names = (
            t.raw[2:-2].partition("|")[0].strip().lower()
            for t in _walk(parse_wikitext(mwcode))
            if isinstance(t, Template)
        )
        if not any(n == want for n in names):
            return []
    out: list[str] = []
    for line in mwcode.splitlines():
        stripped = line.lstrip()
        if not stripped or stripped[0] not in "*#":
            continue
        item = stripped.lstrip("*#").lstrip()
        for node in parse_wikitext(item):
            if isinstance(node, Text):
                if node.value.strip():
                    break  # leading prose, not a link item
                continue
            if isinstance(node, Wikilink):
                out.append(node.title)
            elif isinstance(node, (Tag, Template)):
                out.extend(
                    n.title for n in _walk(node.contents) if isinstance(n, Wikilink)
                )
            break
    return out


def extract_page(
    pagename: str, mwcode: str | None, index, skip=()
) -> list[tuple[dict, str]]:
    """Reference process_line (minimel/get_paragraphs.py:57-78): returns
    ``[(links_dict, paragraph_text), ...]`` for one page. Must see the WHOLE page
    in one call — the self-link enrichment state (``all_links``) flows across
    paragraphs, so the Spark operator processes one page per input row (never
    splitting a page across partitions)."""
    skip = list(skip) or []
    if (not mwcode) or mwcode.startswith("#"):
        return []
    pagelabel = pagename.replace("_", " ").split(" (")[0]
    pageids = {index[pagename]} if pagename in index else set()
    all_links = {(pagelabel, i) for i in pageids}
    out = []
    for paragraph in mwcode.split("\n\n"):
        w = parse_wikitext(paragraph)
        links, text = set(iter_wikilinks(w, index)), get_text(w)
        if text and not any(text.startswith(b) for b in BADSTART + skip):
            # Enrich: add known page self-links, shortest label first,
            # only when present in the text and not shadowed by a real link.
            # The reference sorts by length only (get_paragraphs.py:73), which
            # leaves ties to set iteration order — i.e. the per-process string
            # hash seed; we total-order the key so driver and executors (and
            # any parallelism level) agree. Same class of determinism delta as
            # the dict(sorted(links)) note in the module docstring.
            for s, e in sorted(all_links, key=lambda x: (len(x[0]), x[0], x[1])):
                if (s in text) and not any(s in l for l, _ in links):
                    links.add((s, e))
            all_links |= links
            if links:
                out.append((dict(sorted(links)), text))
    return out
