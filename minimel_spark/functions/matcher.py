"""Gazetteer multi-pattern matcher (SURVEY §2 M1, O6).

Reference: minimel/mentions.py:16-45 — an ahocorasick_rs automaton with
``MatchKind.LeftmostLongest`` plus a word-boundary post-filter (prev/next char
non-alphanumeric). This module reproduces those semantics with one name trie
(``name_trie``) and two scanners over it, property-tested equal:

- ``RegexMatcher`` (the production scanner): the trie is compiled into a
  single regex whose greedy optional-suffix structure makes Python's ``re``
  engine (C speed) return exactly the leftmost-longest non-overlapping match
  sequence — ``finditer`` resumes after each match end, which is the same
  consumption rule as the automaton. 10-50x faster than the per-character
  Python trie scan on web-scale text passes;
- ``TrieMatcher``: the per-character pure-Python scan, kept as the
  executable spec the regex is tested against.

The scanner is built ONCE per executor task from a broadcast name list and
reused across Arrow batches (the executor-singleton pattern the reference
uses per dask partition, mentions.py:55).
"""

from __future__ import annotations

import re


def name_trie(names) -> dict:
    """Nested-dict trie of ``names``; the key ``""`` marks a terminal. Empty
    names are skipped: a zero-length match never fires in any scanner."""
    root: dict = {}
    for name in names:
        if not name:
            continue
        node = root
        for ch in name:
            node = node.setdefault(ch, {})
        node[""] = True
    return root


class TrieMatcher:
    """Leftmost-longest non-overlapping multi-pattern scanner with the
    reference's word-boundary rule."""

    __slots__ = ("root",)

    def __init__(self, names):
        self.root = name_trie(names)

    def find_matches(self, text: str):
        """Yield (start, surface) — surface is the matched slice of ``text``.
        Matches are leftmost-longest and non-overlapping (ahocorasick_rs
        LeftmostLongest), then filtered by the boundary rule
        (mentions.py:20-24)."""
        root = self.root
        n = len(text)
        i = 0
        while i < n:
            node = root
            j = i
            last_end = -1
            while j < n and text[j] in node:
                node = node[text[j]]
                j += 1
                if "" in node:
                    last_end = j
            if last_end > i:
                # boundary check: surrounded by non-alphanumeric characters
                ok = not (i != 0 and text[i - 1].isalnum())
                if ok and last_end != n and text[last_end].isalnum():
                    ok = False
                if ok:
                    yield (i, text[i:last_end])
                i = last_end
            else:
                i += 1


def _trie_regex(node: dict) -> str:
    """Compile a trie node into a regex fragment whose GREEDY descent yields
    the longest match at each position: children first (sorted for
    determinism), with ``?`` when the node is also a terminal — the engine
    prefers extending over accepting, which is exactly leftmost-longest.

    Built with an explicit post-order stack, not recursion: trie depth equals
    the longest name, and a single pathological megabyte-long entry must not
    require (and permanently leak) a multi-million process-wide recursion
    limit in the executor interpreter."""
    frags: dict[int, str] = {}
    stack: list[tuple[dict, bool]] = [(node, False)]
    while stack:
        nd, expanded = stack.pop()
        children = sorted(k for k in nd if k != "")
        if not expanded:
            stack.append((nd, True))
            for ch in children:
                stack.append((nd[ch], False))
            continue
        alts = [re.escape(ch) + frags.pop(id(nd[ch])) for ch in children]
        if not alts:
            frag = ""
        else:
            body = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
            frag = "(?:" + body + ")?" if "" in nd else body
        frags[id(nd)] = frag
    return frags[id(node)]


class RegexMatcher:
    """Trie-compiled-regex scanner: same contract as TrieMatcher at C speed.

    Matching runs in the ``re`` engine; because the trie's branches are
    prefix-disjoint and terminals are greedy-optional suffixes, the first
    (leftmost) match is also the longest at its start, and ``finditer``'s
    resume-after-end is the automaton's non-overlap consumption rule. The
    word-boundary rule is applied as a post-filter, with failed matches still
    consuming their span — identical to the reference wrapper.
    """

    __slots__ = ("pattern",)

    def __init__(self, names):
        root = name_trie(names)
        self.pattern = re.compile(_trie_regex(root)) if root else None

    def find_matches(self, text: str):
        if self.pattern is None:
            return
        n = len(text)
        for m in self.pattern.finditer(text):
            start, end = m.start(), m.end()
            if end == start:
                continue
            if start != 0 and text[start - 1].isalnum():
                continue
            if end != n and text[end].isalnum():
                continue
            yield (start, text[start:end])
