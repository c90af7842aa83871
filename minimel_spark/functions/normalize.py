"""Surface-form normalization and tokenization.

Semantics reproduce the reference exactly (the north rule requires byte-identical
normalized anchors), re-expressed for batch execution inside pandas UDFs:

- ``normalize``            — reference ``minimel/normalize.py:6-20``
- ``vw_tok``               — reference ``minimel/vectorize.py:20-28``
- ``char_shingles``        — reference ``minimel/clean.py:65-72`` (``tokens``)

Stemming (reference ``minimel/normalize.py:57-110``) mirrors the reference's
full backend matrix — snowball (26 languages), simplemma (is), PersianStemmer
(fa), MeCab (ja), spacy lemmas, ICU tokenization — each gated behind an
optional import that raises a clear ImportError naming the package when
absent (none ship in this engine's base dependency set). All pipeline
defaults use ``language=None`` (the reference's own default for its golden
runs); parity tests for the stemmed paths run only where the backends are
installed.

The whole chain deliberately stays a Python function rather than a Spark SQL
expression chain: ``html.unescape`` has no Catalyst equivalent, and byte-identity
beats expression pushdown for a per-row string function that is already
Arrow-batched.
"""

from __future__ import annotations

import html
import re

# Reference minimel/normalize.py:8
BADCHARS = "'\"〞「❜❞＂”‚〝»‟―‹›❛❮’‘〟❯„‛“❝«()"
_BADCHARS_RE = re.compile(f"[{re.escape(BADCHARS)}]")
_NUMDATE_RE = re.compile(r"^[0-9-/—]+$")


def normalize(a: str | None, language: str | None = None) -> str | None:
    """Normalize one anchor surface form; returns None when the anchor is dropped.

    Reference semantics (minimel/normalize.py:6-20), which yields 0-or-1 values;
    here None encodes "0 values" so the caller can mask dropped anchors in a batch.
    """
    if not a:
        return None
    # remove part between brackets
    a = a.split("_(")[0].replace("_", " ")
    a = _BADCHARS_RE.sub("", a.replace("&nbsp;", " "))
    a = html.unescape(a).lower().strip()
    # no numbers or dates
    if a.startswith("<") or _NUMDATE_RE.match(a):
        return None
    if a and language:
        a = stem(a, language)
    return a if a else None


# Language codes whose scripts carry no whitespace word boundaries: a
# whitespace split is NOT a degraded approximation there, it silently changes
# the semantics (one token per run of text), so an absent icu_tokenizer must
# raise like every other missing backend does. ja never reaches the tokenizer
# path (MeCab handles it first).
ICU_REQUIRED = frozenset(
    {"zh", "yue", "wuu", "lzh", "gan", "hak", "th", "lo", "km", "my", "bo", "dz"}
)


def _tokenize(code: str):
    """Reference tokenization for the stemmed paths (normalize.py:75): ICU
    word segmentation when ``icu_tokenizer`` is installed, whitespace split
    otherwise. For whitespace-delimited scripts the two are identical; for
    unsegmented scripts (``ICU_REQUIRED``) the fallback would silently change
    semantics, so a missing icu_tokenizer raises ImportError — same contract
    as every other absent backend in this module."""
    try:  # pragma: no cover - optional dependency
        from icu_tokenizer import Tokenizer  # type: ignore

        return Tokenizer(lang=code).tokenize
    except ImportError:
        if code in ICU_REQUIRED:
            _require("icu_tokenizer", code)
        return str.split


def _require(package: str, code: str):
    raise ImportError(
        f"stemming for language {code!r} requires {package}; "
        "install it or run with language=None"
    )


def stem(text: str, code: str, spacy: bool = False) -> str:
    """Per-language stemming/lemmatization, mirroring the reference backend
    dispatch exactly (minimel/normalize.py:57-110): spacy lemmas when asked,
    else snowball for the 26 mapped languages, simplemma for Icelandic,
    PersianStemmer for Farsi, MeCab for Japanese, and plain (ICU) tokenization
    for anything else. Every backend is an optional dependency; an absent one
    raises ImportError with the package name instead of silently changing
    semantics."""
    if spacy:
        global _SPACY_MODEL
        try:  # pragma: no cover - optional dependency
            import spacy as sp  # type: ignore
        except ImportError:
            _require("spacy", code)
        if _SPACY_MODEL is None:
            _SPACY_MODEL = sp.load(code)
        return " ".join(token.lemma_ for token in _SPACY_MODEL(text))

    tokenizer = _tokenize(code)
    lang = SNOWBALL_LANG.get(code)
    if lang:
        if code not in _STEMMERS:
            try:
                import snowballstemmer  # type: ignore
            except ImportError:  # pragma: no cover - env without stemmers
                _require("snowballstemmer", code)
            _STEMMERS[code] = snowballstemmer.stemmer(lang)
        return " ".join(_STEMMERS[code].stemWords(tokenizer(text)))
    if code == "is":
        if code not in _STEMMERS:
            try:  # pragma: no cover - optional dependency
                from simplemma import text_lemmatizer  # type: ignore
            except ImportError:
                _require("simplemma", code)
            _STEMMERS[code] = text_lemmatizer
        return " ".join(_STEMMERS[code](text, lang="is"))
    if code == "fa":
        if code not in _STEMMERS:
            try:  # pragma: no cover - optional dependency
                from PersianStemmer import PersianStemmer  # type: ignore
            except ImportError:
                _require("PersianStemmer", code)
            _STEMMERS[code] = PersianStemmer()
        return _STEMMERS[code].run(text)
    if code == "ja":
        if code not in _STEMMERS:
            try:  # pragma: no cover - optional dependency
                import MeCab  # type: ignore
            except ImportError:
                _require("MeCab (mecab-python3)", code)
            _STEMMERS[code] = MeCab.Tagger()
        if not text.strip():
            return ""
        analysis = _STEMMERS[code].parse(text).split("\n")[:-2]
        columns = tuple(zip(*[line.split("\t") for line in analysis]))
        try:
            return " ".join(columns[2]).strip()
        except IndexError:
            return ""
    # unmapped language: tokenize only (reference normalize.py:110)
    return " ".join(tokenizer(text))


# Reference minimel/normalize.py:23-50
SNOWBALL_LANG = {
    "ar": "arabic", "eu": "basque", "ca": "catalan", "da": "danish",
    "nl": "dutch", "en": "english", "fi": "finnish", "fr": "french",
    "de": "german", "el": "greek", "hi": "hindi", "hu": "hungarian",
    "id": "indonesian", "ga": "irish", "it": "italian", "lt": "lithuanian",
    "ne": "nepali", "no": "norwegian", "pt": "portuguese", "ro": "romanian",
    "ru": "russian", "sr": "serbian", "es": "spanish", "sv": "swedish",
    "ta": "tamil", "tr": "turkish",
}

_STEMMERS: dict[str, object] = {}  # executor-singleton cache (normalize.py:53)
_SPACY_MODEL = None  # reference keeps ONE loaded spacy model (normalize.py:55)


_TOKEN_RE = re.compile(r"(?u)\b\w+\b")


def vw_tok(text: str) -> list[str]:
    """Word tokenizer (reference minimel/vectorize.py:20-28): lowercase ``\\b\\w+\\b``
    tokens, dropping tokens containing ``|`` or ``:`` (VW namespace chars)."""
    return [
        t for t in _TOKEN_RE.findall(text.lower()) if ("|" not in t) and (":" not in t)
    ]


_NONWORD_RE = re.compile(r"\W")


def char_shingles(s: str, n: int = 3) -> set[str]:
    """Char n-gram shingles per word (reference ``tokens``, minimel/clean.py:65-72):
    lowercase, cut at ``" ("`` / ``" ,"``, split on non-word chars, emit n-char
    windows within each word."""
    s = s.lower().rsplit(" (")[0].rsplit(" ,")[0]
    return {
        w[i : i + n]
        for w in _NONWORD_RE.split(s.lower())
        if w.strip()
        for i in range(len(w) - n + 1)
    }


class TransLiterator:
    """M8 analysis helper (reference minimel/vectorize.py:147-167): replace a
    language's special characters with their snowball ``stringdef`` names so
    VW feature tokens stay ASCII. The charmap comes from the language's
    snowball ``.sbl`` source; pass it inline (``sbl_text``) or as a local file
    (``sbl_path``) — the reference's live GitHub fetch is kept but gated
    behind ``fetch=True`` + the optional requests dependency (no silent
    network access)."""

    def __init__(
        self,
        lang: str | None = None,
        sbl_text: str | None = None,
        sbl_path: str | None = None,
        fetch: bool = False,
    ):
        if sbl_path is not None:
            with open(sbl_path, encoding="utf-8") as f:
                sbl_text = f.read()
        if sbl_text is None and fetch:
            try:  # pragma: no cover - optional dependency + network
                import requests  # type: ignore
            except ImportError as e:
                raise ImportError("TransLiterator(fetch=True) requires requests") from e
            url = (
                "https://raw.githubusercontent.com/snowballstem/snowball/"
                f"master/algorithms/{lang}.sbl"
            )
            resp = requests.get(url)  # pragma: no cover
            sbl_text = resp.text if resp.ok else None  # pragma: no cover
        self.charmap: dict[str, str] = {}
        if sbl_text:
            defs = [
                line[9:].split(None, 1)
                for line in sbl_text.splitlines()
                if line.startswith("stringdef")
            ]
            # reference parse: "stringdef a'   '{U+00E1}'" -> char U+00E1 -> "a'"
            self.charmap = {
                f"\\u{code[4:-2]}".encode().decode("unicode_escape"): name
                for name, code in defs
            }

    def code(self, text: str) -> str:
        for a, b in self.charmap.items():
            text = text.replace(a, b)
        return text


# Unicode confusable homoglyphs -> Latin skeleton (a pragmatic subset of
# UTS #39's confusables.txt: the Cyrillic and Greek codepoints that are
# pixel-identical to Latin lowercase in common fonts — the characters
# web-scale spoofing actually uses). Kept as two parallel strings so the
# mapping compiles to a single JVM translate() and mirrors verbatim into
# the DuckDB oracle's translate().
CONFUSABLE_FROM = "аеорсхуіѕјο"
CONFUSABLE_TO = "aeopcxyisjo"


def confusable_skeleton_col(col):
    """Column-level confusable SKELETON (UTS #39 skeleton idea, small
    fixed table): lowercase, then fold known Cyrillic/Greek homoglyphs
    onto their Latin lookalikes. Two names with equal skeletons but
    unequal raw forms are a mixed-script spoof pair — the web-identity
    attack (paypal with a Cyrillic 'а') that byte-level normalization
    (functions/normalize.py normalize) deliberately preserves, because
    the reference's anchor semantics are byte-exact. Run this as a
    SEPARATE audit key, never as a replacement for normalize().

    Pure JVM expression (lower + translate), shuffle-free, exact in any
    engine with codepoint-wise translate semantics.
    """
    import pyspark.sql.functions as F

    return F.translate(F.lower(col), CONFUSABLE_FROM, CONFUSABLE_TO)


# USPS-style street/name abbreviation table (curated subset — the point is
# the operator shape; extend per locale). Shared with the SQL oracle.
ABBREV_TABLE = {
    "st": "street", "rd": "road", "ave": "avenue", "blvd": "boulevard",
    "dr": "drive", "ln": "lane", "ct": "court", "hwy": "highway",
    "apt": "apartment", "ste": "suite", "n": "north", "s": "south",
    "e": "east", "w": "west", "mt": "mount", "ft": "fort",
    "co": "company", "corp": "corporation", "inc": "incorporated",
    "intl": "international", "mfg": "manufacturing", "dept": "department",
}


def expand_abbreviations_col(col, table: dict[str, str] | None = None):
    """Token-wise abbreviation expansion for name/address standardization
    (the USPS-table step every address-matching pipeline runs BEFORE
    similarity scoring — 'main st' vs 'main street' is an exact match
    after expansion, a 0.87 fuzzy match before it, and fuzzy thresholds
    tuned on expanded data break on raw data). Lowercases, splits on
    whitespace, maps each whole token through the table (never substring
    rewriting — 'stone' must not become 'streetone'), rejoins.

    The table compiles to a MAP literal inside one JVM transform — no
    UDF, no join, no shuffle; suitable for curated tables (hundreds of
    entries). A gazetteer-sized mapping belongs in a broadcast JOIN on
    exploded tokens instead — at that size use the explode + join +
    re-aggregate shape, not a literal.
    """
    import pyspark.sql.functions as F

    table = ABBREV_TABLE if table is None else table
    items: list = []
    for k, v in table.items():
        items.append(F.lit(k))
        items.append(F.lit(v))
    m = F.create_map(*items)
    toks = F.split(F.lower(col), r"\s+")
    return F.array_join(
        F.transform(toks, lambda t: F.coalesce(m[t], t)), " "
    )


# Shared with the SQL oracle — extend per locale.
NAME_TITLES = ["mr", "mrs", "ms", "dr", "prof", "sir", "rev", "hon"]
NAME_SUFFIXES = ["jr", "sr", "ii", "iii", "iv", "phd", "md", "esq"]


def parse_person_name_cols(col):
    """Rule-based person-name parsing into (title, given, middle, family,
    suffix) — the structuring step BEFORE field-wise comparison: comparing
    "Dr. John A. Smith Jr." against "Smith, John" as whole strings wastes
    the high-precision evidence that the FAMILY tokens match exactly
    while a fuzzy whole-string score drowns it in the title/suffix noise.
    Rules (deterministic, whole-token, applied to the lowercased
    punctuation-stripped token list): a leading token in NAME_TITLES is
    the title; a trailing token in NAME_SUFFIXES is the suffix; of the
    remainder the first token is the given name, the last is the family
    name, everything between joins as the middle. Single-token remainders
    are a family name only (the conservative read for "Smith"). The
    "Family, Given" comma form is handled by rotating on the comma before
    tokenizing.

    Pure JVM array expressions (split / slice / array_join / CASE) — no
    UDF — returning a struct column with the five fields; mirrored
    list-op by list-op in the SQL oracle.
    """
    import pyspark.sql.functions as F

    # rotate "family, rest" -> "rest family"
    rotated = F.when(
        col.contains(","),
        F.concat_ws(
            " ",
            F.trim(F.substring_index(col, ",", -1)),
            F.trim(F.substring_index(col, ",", 1)),
        ),
    ).otherwise(col)
    cleaned = F.lower(F.regexp_replace(rotated, r"[^A-Za-z ]", ""))
    toks = F.filter(F.split(cleaned, r"\s+"), lambda t: t != "")
    titles = F.array(*[F.lit(t) for t in NAME_TITLES])
    suffixes = F.array(*[F.lit(s) for s in NAME_SUFFIXES])
    has_title = F.array_contains(titles, F.element_at(toks, 1))
    title = F.when((F.size(toks) > 0) & has_title, F.element_at(toks, 1))
    rest1 = F.when((F.size(toks) > 0) & has_title, F.slice(toks, 2, 1000)).otherwise(
        toks
    )
    has_suffix = (F.size(rest1) > 0) & F.array_contains(
        suffixes, F.element_at(rest1, -1)
    )
    suffix = F.when(has_suffix, F.element_at(rest1, -1))
    core = F.when(
        has_suffix, F.slice(rest1, 1, F.size(rest1) - F.lit(1))
    ).otherwise(rest1)
    n = F.size(core)
    given = F.when(n >= 2, F.element_at(core, 1))
    family = F.when(n >= 2, F.element_at(core, -1)).otherwise(
        F.when(n == 1, F.element_at(core, 1))
    )
    middle = F.when(
        n >= 3, F.array_join(F.slice(core, 2, n - F.lit(2)), " ")
    )
    return F.struct(
        title.alias("title"),
        given.alias("given"),
        middle.alias("middle"),
        family.alias("family"),
        suffix.alias("suffix"),
    )


# Month-name table for date standardization — a shared literal (the
# abbreviation-table convention): both engines map the first three
# lowercased letters, so "Jan", "january", "JANUARY" all resolve.
DATE_MONTHS = {
    "jan": 1, "feb": 2, "mar": 3, "apr": 4, "may": 5, "jun": 6,
    "jul": 7, "aug": 8, "sep": 9, "oct": 10, "nov": 11, "dec": 12,
}


def standardize_date_cols(col, pivot: int = 70):
    """Multi-format date standardization into ISO — the field-level
    counterpart of name parsing for ER: records carrying the same date as
    "07/04/1995", "4.7.1995", "Jul 4, 1995", "19950704", and "1995-07-04"
    must block and compare as equals. Detects, FIRST MATCH WINS:

      iso      YYYY-MM-DD            us     M/D/YYYY
      us2      M/D/YY (2-digit year; YY < ``pivot`` -> 20YY, else 19YY)
      eu       D.M.YYYY              name   Monthname D, YYYY
      compact  YYYYMMDD              unknown (anything else)

    and validates the calendar exactly (month lengths, Gregorian leap
    rule: y%4==0 and y%100!=0, or y%400==0). Returns a struct column
    ``(date_fmt, iso_date, date_valid)`` — iso_date NULL unless the
    format parsed AND the calendar accepts the day. Pure JVM
    regexp_extract/CASE chain (no UDF), mirrored branch-for-branch in
    the SQL oracle; patterns avoid lookarounds and pattern-backrefs so
    Java regex and RE2 agree.
    """
    import pyspark.sql.functions as F

    s = F.regexp_replace(col, r"^\s+|\s+$", "")
    re_iso = r"^(\d{4})-(\d{2})-(\d{2})$"
    re_us = r"^(\d{1,2})/(\d{1,2})/(\d{4})$"
    re_us2 = r"^(\d{1,2})/(\d{1,2})/(\d{2})$"
    re_eu = r"^(\d{1,2})\.(\d{1,2})\.(\d{4})$"
    re_name = r"^([A-Za-z]{3,9}) (\d{1,2}), (\d{4})$"
    re_compact = r"^(\d{4})(\d{2})(\d{2})$"

    def g(pat, i):
        return F.regexp_extract(s, pat, i).cast("long")

    mname = F.lower(F.substring(F.regexp_extract(s, re_name, 1), 1, 3))
    mnum = F.lit(None).cast("long")
    for name, num in DATE_MONTHS.items():
        mnum = F.when(mname == name, F.lit(num)).otherwise(mnum)

    fmt = (
        F.when(s.rlike(re_iso), F.lit("iso"))
        .when(s.rlike(re_us), F.lit("us"))
        .when(s.rlike(re_us2), F.lit("us2"))
        .when(s.rlike(re_eu), F.lit("eu"))
        .when(s.rlike(re_name) & mnum.isNotNull(), F.lit("name"))
        .when(s.rlike(re_compact), F.lit("compact"))
        .otherwise(F.lit("unknown"))
    )
    y2 = g(re_us2, 3)
    y = (
        F.when(fmt == "iso", g(re_iso, 1))
        .when(fmt == "us", g(re_us, 3))
        .when(fmt == "us2", F.when(y2 < pivot, y2 + 2000).otherwise(y2 + 1900))
        .when(fmt == "eu", g(re_eu, 3))
        .when(fmt == "name", g(re_name, 3))
        .when(fmt == "compact", g(re_compact, 1))
    )
    m = (
        F.when(fmt == "iso", g(re_iso, 2))
        .when(fmt == "us", g(re_us, 1))
        .when(fmt == "us2", g(re_us2, 1))
        .when(fmt == "eu", g(re_eu, 2))
        .when(fmt == "name", mnum)
        .when(fmt == "compact", g(re_compact, 2))
    )
    d = (
        F.when(fmt == "iso", g(re_iso, 3))
        .when(fmt == "us", g(re_us, 2))
        .when(fmt == "us2", g(re_us2, 2))
        .when(fmt == "eu", g(re_eu, 1))
        .when(fmt == "name", g(re_name, 2))
        .when(fmt == "compact", g(re_compact, 3))
    )
    leap = ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)
    mlen = (
        F.when(m == 2, F.when(leap, 29).otherwise(28))
        .when(m.isin(4, 6, 9, 11), F.lit(30))
        .otherwise(F.lit(31))
    )
    valid = (
        (fmt != "unknown")
        & (y >= 1)
        & (m >= 1)
        & (m <= 12)
        & (d >= 1)
        & (d <= mlen)
    )
    iso_date = F.when(
        valid,
        F.concat_ws(
            "-",
            F.lpad(y.cast("string"), 4, "0"),
            F.lpad(m.cast("string"), 2, "0"),
            F.lpad(d.cast("string"), 2, "0"),
        ),
    )
    return F.struct(
        fmt.alias("date_fmt"),
        iso_date.alias("iso_date"),
        F.coalesce(valid, F.lit(False)).alias("date_valid"),
    )


def standardize_dates_staged(df, col, out_col="_p", pivot: int = 70):
    """DataFrame-staged twin of :func:`standardize_date_cols`: identical
    output struct (same expressions, same values, gate-hash identical),
    but the trimmed string / format tag / y / m / d land in INTERMEDIATE
    projections instead of one monolithic expression tree. The
    single-expression form inlines the whole format-detection chain into
    every y/m/d/valid branch; the generated Java for that tree exceeds the
    JVM method limit, whole-stage codegen fails to compile, and Spark
    silently falls back to interpreted evaluation for the entire stage
    (VERDICT r5 #1 — `ERROR CodeGenerator` in sweep logs). Staged columns
    are non-cheap and multiply-referenced, so CollapseProject keeps the
    projections separate and each stage codegen-compiles. Drops its
    temporaries; appends ``out_col``.
    """
    import pyspark.sql.functions as F

    s = F.col("_sdc_s")
    re_iso = r"^(\d{4})-(\d{2})-(\d{2})$"
    re_us = r"^(\d{1,2})/(\d{1,2})/(\d{4})$"
    re_us2 = r"^(\d{1,2})/(\d{1,2})/(\d{2})$"
    re_eu = r"^(\d{1,2})\.(\d{1,2})\.(\d{4})$"
    re_name = r"^([A-Za-z]{3,9}) (\d{1,2}), (\d{4})$"
    re_compact = r"^(\d{4})(\d{2})(\d{2})$"

    def g(pat, i):
        return F.regexp_extract(s, pat, i).cast("long")

    mname = F.lower(F.substring(F.regexp_extract(s, re_name, 1), 1, 3))
    mnum = F.lit(None).cast("long")
    for name, num in DATE_MONTHS.items():
        mnum = F.when(mname == name, F.lit(num)).otherwise(mnum)

    df = df.withColumn("_sdc_s", F.regexp_replace(col, r"^\s+|\s+$", ""))
    df = df.withColumn("_sdc_mnum", mnum)
    df = df.withColumn(
        "_sdc_fmt",
        F.when(s.rlike(re_iso), F.lit("iso"))
        .when(s.rlike(re_us), F.lit("us"))
        .when(s.rlike(re_us2), F.lit("us2"))
        .when(s.rlike(re_eu), F.lit("eu"))
        .when(s.rlike(re_name) & F.col("_sdc_mnum").isNotNull(), F.lit("name"))
        .when(s.rlike(re_compact), F.lit("compact"))
        .otherwise(F.lit("unknown")),
    )
    fmt = F.col("_sdc_fmt")
    y2 = g(re_us2, 3)
    df = df.withColumn(
        "_sdc_y",
        F.when(fmt == "iso", g(re_iso, 1))
        .when(fmt == "us", g(re_us, 3))
        .when(fmt == "us2", F.when(y2 < pivot, y2 + 2000).otherwise(y2 + 1900))
        .when(fmt == "eu", g(re_eu, 3))
        .when(fmt == "name", g(re_name, 3))
        .when(fmt == "compact", g(re_compact, 1)),
    ).withColumn(
        "_sdc_m",
        F.when(fmt == "iso", g(re_iso, 2))
        .when(fmt == "us", g(re_us, 1))
        .when(fmt == "us2", g(re_us2, 1))
        .when(fmt == "eu", g(re_eu, 2))
        .when(fmt == "name", F.col("_sdc_mnum"))
        .when(fmt == "compact", g(re_compact, 2)),
    ).withColumn(
        "_sdc_d",
        F.when(fmt == "iso", g(re_iso, 3))
        .when(fmt == "us", g(re_us, 2))
        .when(fmt == "us2", g(re_us2, 2))
        .when(fmt == "eu", g(re_eu, 1))
        .when(fmt == "name", g(re_name, 2))
        .when(fmt == "compact", g(re_compact, 3)),
    )
    y, m, d = F.col("_sdc_y"), F.col("_sdc_m"), F.col("_sdc_d")
    leap = ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)
    mlen = (
        F.when(m == 2, F.when(leap, 29).otherwise(28))
        .when(m.isin(4, 6, 9, 11), F.lit(30))
        .otherwise(F.lit(31))
    )
    df = df.withColumn(
        "_sdc_valid",
        (fmt != "unknown")
        & (y >= 1)
        & (m >= 1)
        & (m <= 12)
        & (d >= 1)
        & (d <= mlen),
    )
    valid = F.col("_sdc_valid")
    iso_date = F.when(
        valid,
        F.concat_ws(
            "-",
            F.lpad(y.cast("string"), 4, "0"),
            F.lpad(m.cast("string"), 2, "0"),
            F.lpad(d.cast("string"), 2, "0"),
        ),
    )
    return df.withColumn(
        out_col,
        F.struct(
            fmt.alias("date_fmt"),
            iso_date.alias("iso_date"),
            F.coalesce(valid, F.lit(False)).alias("date_valid"),
        ),
    ).drop("_sdc_s", "_sdc_mnum", "_sdc_fmt", "_sdc_y", "_sdc_m", "_sdc_d", "_sdc_valid")


# Accent-fold tables — shared literals (the NYSIIS-R convention: every
# engine's implementation is GENERATED from these, so they cannot diverge).
# 1:1 codepoint folds go through translate(); multi-char expansions (ae, ss)
# through an ordered replace list.
_ACCENT_PAIRS = [
    ("àáâãäåāăą", "a"), ("çćĉčċ", "c"), ("èéêëēĕėęě", "e"),
    ("ìíîïĩīĭį", "i"), ("ñńņň", "n"), ("òóôõöøōŏő", "o"),
    ("ùúûüũūŭůű", "u"), ("ýÿŷ", "y"), ("žźż", "z"), ("šśŝş", "s"),
    ("ğĝġ", "g"), ("ťţ", "t"), ("ďđ", "d"), ("ľĺł", "l"), ("ŕř", "r"),
    ("ÀÁÂÃÄÅĀĂĄ", "A"), ("ÇĆĈČĊ", "C"), ("ÈÉÊËĒĔĖĘĚ", "E"),
    ("ÌÍÎÏĨĪĬĮ", "I"), ("ÑŃŅŇ", "N"), ("ÒÓÔÕÖØŌŎŐ", "O"),
    ("ÙÚÛÜŨŪŬŮŰ", "U"), ("ÝŸŶ", "Y"), ("ŽŹŻ", "Z"), ("ŠŚŜŞ", "S"),
    ("ĞĜĠ", "G"), ("ŤŢ", "T"), ("ĎĐ", "D"), ("ĽĹŁ", "L"), ("ŔŘ", "R"),
]
ACCENT_FROM = "".join(src for src, _ in _ACCENT_PAIRS)
ACCENT_TO = "".join(dst * len(src) for src, dst in _ACCENT_PAIRS)
assert len(ACCENT_FROM) == len(ACCENT_TO)
ACCENT_EXPAND = [
    ("æ", "ae"), ("Æ", "AE"), ("œ", "oe"), ("Œ", "OE"), ("ß", "ss"),
    ("þ", "th"), ("Þ", "Th"),
]


def fold_accents_col(col):
    """Accent folding to the ASCII skeleton — the normalization step
    BEFORE phonetic keys and byte-level blocking when sources disagree on
    diacritics ("Müller" vs "Muller" vs "MÜLLER" after casefold): 1:1
    diacritic folds via one ``translate`` call, ligature/eszett
    expansions via an ordered replace chain, both generated from the
    shared literal tables above (an approximation of Unicode NFKD + strip
    marks, deliberately table-driven instead of library-driven so the
    DuckDB oracle reproduces it verbatim — characters outside the table
    pass through unchanged, by design)."""
    import pyspark.sql.functions as F

    out = col
    for src, dst in ACCENT_EXPAND:
        out = F.replace(out, F.lit(src), F.lit(dst))
    return F.translate(out, ACCENT_FROM, ACCENT_TO)


def fold_accents_sql(expr: str) -> str:
    """The identical fold as a DuckDB SQL expression."""
    out = expr
    for src, dst in ACCENT_EXPAND:
        out = f"replace({out}, '{src}', '{dst}')"
    return f"translate({out}, '{ACCENT_FROM}', '{ACCENT_TO}')"


def fold_accents_py(s: str) -> str:
    """Pure-Python mirror (pytest parity reference)."""
    for src, dst in ACCENT_EXPAND:
        s = s.replace(src, dst)
    return s.translate(str.maketrans(ACCENT_FROM, ACCENT_TO))
