"""Seeded input generators for the end-to-end benchmark workloads.

Pure Python + pyarrow (no Spark session), so input generation is timed on
its own. Each workload writes two tables the program reads —
``pages(url, warc_ts, html, text, lang)`` and ``title_index(title, qid)`` —
plus a gold table the program never sees: ``gold(url, name, qid)``, the
entity every surface name refers to on a page (one sense per page per name
family, so a detected mention resolves by its page and surface alone).

The name dictionary of a workload is fixed; ``seed`` decides which page
mentions which entity, the senses, and the filler text. Link slots are dealt
to surfaces round-robin over a seeded permutation, so every surface gets the
same number of mentions at every seed and the blocked pair count barely
moves between seeds.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# name syllables and filler syllables are disjoint, so filler words never
# match a dictionary name
_NAME_SYL = [
    "ac", "bel", "cor", "dan", "el", "far", "gol", "hul", "in", "jor",
    "kel", "lum", "mar", "nor", "os", "pel", "quil", "ros", "sol", "tor",
]
_FILL_SYL = ["ta", "ve", "ri", "mo", "lu", "sa", "ke", "po", "ni", "da", "fe", "gu", "hi", "jo", "wa", "zu"]
# company suffixes: shared by every family, so names of different families
# share most of their character shingles and collide under name MinHash-LSH
COMPANY_SUFFIXES = ["", " corporation", " holdings", " group", " industries"]

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
INDEX_SCHEMA = pa.schema([("title", pa.string()), ("qid", pa.int64())])
GOLD_SCHEMA = pa.schema([("url", pa.string()), ("name", pa.string()), ("qid", pa.int64())])


def _name(i: int, parts: int) -> str:
    """Deterministic pseudo-word name made of ``parts`` name syllables."""
    n = len(_NAME_SYL)
    return "".join(_NAME_SYL[(i // n**p) % n] for p in range(parts))


def _fill_vocab(size: int) -> list[str]:
    n = len(_FILL_SYL)
    return [_FILL_SYL[i % n] + _FILL_SYL[(i // n) % n] + _FILL_SYL[(i // n // n) % n] for i in range(size)]


class World:
    """Entities grouped in name families; every family has ``homonyms``
    entities (qids) and a list of surface names that link to them."""

    def __init__(self, families: list[tuple[str, list[str]]], homonyms: int):
        self.families = families  # (base name, surfaces)
        self.homonyms = homonyms

    def qid(self, f: int, k: int) -> int:
        return 1_000_000 + f * 100 + k

    def title(self, f: int, k: int) -> str:
        base = self.families[f][0].replace(" ", "_").capitalize()
        return f"{base}_({k})"

    def index_rows(self) -> list[tuple[str, int]]:
        return [(self.title(f, k), self.qid(f, k))
                for f in range(len(self.families)) for k in range(self.homonyms)]


def _pages(world: World, seed: int, n_pages: int, paragraphs: int,
           link_every: int, links_per_par: int, own_links: int,
           words_per_par: int, topic_share: float):
    """Generate (pages rows, gold rows).

    Page ``p`` is about one entity. Every ``link_every``-th paragraph holds
    ``links_per_par`` links: the first ``own_links`` to surfaces of the
    page's own family (round-robin), the rest dealt round-robin over a seeded
    permutation of all surfaces. A page keeps one sense per family."""
    rng = random.Random(seed)
    nf, hom = len(world.families), world.homonyms
    vocab = _fill_vocab(4000)
    # per-entity topic words: context a matcher could use to split homonyms
    topics = {(f, k): rng.choices(vocab, k=40) for f in range(nf) for k in range(hom)}
    deck = [(f, s) for f in range(nf) for s in range(len(world.families[f][1]))]

    def dealt():
        while True:
            d = deck[:]
            rng.shuffle(d)
            yield from d

    others = dealt()
    cursor = {f: rng.randrange(len(world.families[f][1])) for f in range(nf)}
    n_topic = int(words_per_par * topic_share)
    page_rows, gold_rows = [], []
    base_ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    for p in range(n_pages):
        own_f, own_k = divmod((p * 7919 + seed) % (nf * hom), hom)
        sense = {own_f: own_k}
        pars = []
        for j in range(paragraphs):
            words = rng.choices(topics[(own_f, own_k)], k=n_topic)
            words += rng.choices(vocab, k=words_per_par - n_topic)
            if j % link_every == 0:
                step = -(-len(words) // links_per_par)
                for i in range(links_per_par):
                    if i < own_links:
                        f, s = own_f, cursor[own_f]
                        cursor[own_f] = (s + 1) % len(world.families[f][1])
                    else:
                        f, s = next(others)
                    k = sense.setdefault(f, rng.randrange(hom))
                    words.insert(i * (step + 1), f"[[{world.title(f, k)}|{world.families[f][1][s]}]]")
            pars.append(" ".join(words))
        text = "\n\n".join(pars)
        url = f"https://example.org/wiki/Page_{seed}_{p}"
        page_rows.append((url, base_ts + datetime.timedelta(seconds=p),
                          text.encode("utf-8"), text, "en"))
        for f, k in sense.items():
            base, surfaces = world.families[f]
            for name in {base, *surfaces}:
                gold_rows.append((url, name, world.qid(f, k)))
    return page_rows, gold_rows


def link_dense_world() -> World:
    """Company-name families: a two-syllable base name plus every company
    suffix, 3 homonym entities per family."""
    fams = []
    for i in range(40):
        base = _name(i * 7 + 1, 2)
        fams.append((base, [base + sfx for sfx in COMPANY_SUFFIXES]))
    return World(fams, homonyms=3)


def crawl_sparse_world() -> World:
    """A large dictionary of two-word person-style names, 3 entities each,
    one surface per name. Name letters are random, so names share almost no
    character shingles and rarely meet in an LSH band."""
    rng = random.Random(20240101)
    rare, letters = "bcqxy", "abcdefghijklmnopqrstuvwxyz"

    def token():
        # every token holds a letter no filler syllable has
        return rng.choice(rare) + "".join(rng.choice(letters) for _ in range(5)) + rng.choice(rare)

    names = set()
    while len(names) < 600:
        names.add(token() + " " + token())
    return World([(n, [n]) for n in sorted(names)], homonyms=3)


WORKLOADS = {
    # short pages, 3 links per paragraph into 200 company-style names whose
    # shared suffixes collide under name LSH: pair-bound
    "link-dense": dict(world=link_dense_world, n_pages=150, paragraphs=4,
                       link_every=1, links_per_par=3, own_links=2,
                       words_per_par=18, topic_share=0.5),
    # long prose, a link in every other paragraph into 600 unrelated
    # ambiguous names: page-bound
    "crawl-sparse": dict(world=crawl_sparse_world, n_pages=300, paragraphs=40,
                         link_every=2, links_per_par=1, own_links=0,
                         words_per_par=30, topic_share=0.3),
}


def _write(rows, schema, out_dir, files=1):
    """Write ``rows`` as ``files`` parquet files under ``out_dir``; return
    their total size in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
    step = -(-len(rows) // files) or 1
    total = 0
    for i in range(files):
        path = os.path.join(out_dir, f"part-{i}.parquet")
        pq.write_table(table.slice(i * step, step), path)
        total += os.path.getsize(path)
    return total


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write pages/, title_index/ and gold/ parquet tables under ``out_dir``
    (replacing earlier ones) and return their sizes plus a digest of the
    page texts."""
    spec = dict(WORKLOADS[workload])
    world = spec.pop("world")()
    page_rows, gold_rows = _pages(world, seed, **spec)
    index_rows = world.index_rows()
    # a crawl arrives as several files: one per core, so the scan is parallel
    sizes = {
        "pages": _write(page_rows, PAGES_SCHEMA, os.path.join(out_dir, "pages"), files=4),
        "title_index": _write(index_rows, INDEX_SCHEMA, os.path.join(out_dir, "title_index")),
        "gold": _write(gold_rows, GOLD_SCHEMA, os.path.join(out_dir, "gold")),
    }
    digest = hashlib.sha256()
    for r in page_rows:
        digest.update(r[3].encode("utf-8"))
    return {
        "pages": len(page_rows),
        "text_bytes": sum(len(r[2]) for r in page_rows),
        "distinct_names": len({s for _, ss in world.families for s in ss}),
        "input_bytes": sizes["pages"] + sizes["title_index"],
        "digest": digest.hexdigest(),
    }
