"""Scalar text/date/array functions (SURVEY.md §2.10, C-series).

Each function exists in the form the hot path needs:
- Column builders (JVM-side, whole-stage-codegen) for everything regexp/
  arithmetic expressible — C4, C5, C7, C10, C13, C14, C15, C16, A4, A6.
- Pure-Python helpers (used inside vectorized parse UDFs and tests) for the
  branchy pieces — name splitting (C8), collaboration cleanup (C9), year-range
  compaction (A5).

Reference semantics (re-derived, not copied):
  C4  whitespace collapse      hepcrawl/parsers/arxiv.py:317-319
  C5  sub/sup -> LaTeX         hepcrawl/inputs.py:31-36
  C7  initials collapse        hepcrawl/utils.py:172-176
  C8  name split               hepcrawl/utils.py:179-207
  C9  collaboration cleanup    hepcrawl/utils.py:260-282 (regex :33-37)
  C10 journal/section split    hepcrawl/utils.py:285-304
  C13 pages regex              hepcrawl/parsers/arxiv.py:44, 289-297
  C14 DOI split                hepcrawl/parsers/arxiv.py:46, 269-277
  C15 doctype classification   hepcrawl/parsers/arxiv.py:32-43, 376-386
  C16 language translate       hepcrawl/inputs.py:114-123, mappings.py:82-121
  A5  year-range compaction    hepcrawl/utils.py:232-248
"""

from __future__ import annotations

import re
from itertools import groupby

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# word lists (public domain-ish term lists mirrored from the reference's
# mappings.py:14-71 so doctype classification matches fixture expectations)
# ---------------------------------------------------------------------------

CONFERENCE_WORDS = [
    "colloquium", "colloquiums", "conf", "conference", "conferences",
    "contrib", "contributed", "contribution", "contributions", "forum",
    "lecture", "lectures", "meeting", "meetings", "pres", "presented",
    "proc", "proceeding", "proceedings", "rencontre", "rencontres",
    "school", "schools", "seminar", "seminars", "symp", "symposium",
    "symposiums", "talk", "talks", "workshop", "workshops",
]

THESIS_WORDS = [
    "diploma", "diplomarbeit", "diplome", "dissertation", "doctoraal",
    "doctoral", "doctorat", "doctorate", "doktorarbeit", "dottorato",
    "habilitationsschrift", "hochschule", "inauguraldissertation",
    "memoire", "phd", "proefschrift", "schlussbericht",
    "staatsexamensarbeit", "tesi", "thesis", "travail",
]

LANGUAGES = {
    "fr": "French", "ru": "Russian", "ge": "German", "es": "Spanish",
    "la": "Latin", "it": "Italian", "ja": "Japanese", "pt": "Portuguese",
    "cn": "Chinese", "ro": "Romanian", "pl": "Polish", "nl": "Dutch",
    "cs": "Czech", "id": "Indonesian", "no": "Norwegian", "sv": "Swedish",
    "he": "Hebrew", "hu": "Hungarian", "ko": "Korean",
    "fre": "French", "rus": "Russian", "ger": "German", "esp": "Spanish",
    "lat": "Latin", "ita": "Italian", "jap": "Japanese", "por": "Portuguese",
    "chi": "Chinese", "rom": "Romanian", "pol": "Polish", "dut": "Dutch",
    "cze": "Czech", "ind": "Indonesian", "nor": "Norwegian", "swe": "Swedish",
    "heb": "Hebrew", "hun": "Hungarian", "kor": "Korean",
}

RE_PAGES = r"(?i)(\d+)\s*pages?\b"
RE_DOI_SPLIT = r"[,;\s]+(?=\s*10[.]\d{4,})"
_THESIS_RE = r"(?i)\b(" + "|".join(re.escape(w) for w in THESIS_WORDS) + r")\b"
_CONF_RE = r"(?i)\b(" + "|".join(re.escape(w) for w in CONFERENCE_WORDS) + r")\b"
_RE_FOR_THE = re.compile(
    r"\b(?:for|on behalf of|representing)\b", re.IGNORECASE
)
_INST_PHRASES = ["institute", "university", "department", "center"]


# ---------------------------------------------------------------------------
# Column builders (JVM-side)
# ---------------------------------------------------------------------------

def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def collapse_whitespace(col: Column | str) -> Column:
    """C4: ``re.sub(r'\\s+', ' ', x).strip()``."""
    return F.trim(F.regexp_replace(_c(col), r"\s+", " "))


def html_subsup_to_latex(col: Column | str) -> Column:
    """C5: ``<sub>x</sub>`` -> ``$_{x}$``, ``<sup>x</sup>`` -> ``$^{x}$``.
    (Literal ``$`` in a Java regex replacement must be ``\\$``.)"""
    out = F.regexp_replace(_c(col), r"<sub>\s*(.*?)\s*</sub>", r"\$_{$1}\$")
    return F.regexp_replace(out, r"<sup>\s*(.*?)\s*</sup>", r"\$^{$1}\$")


def collapse_initials_col(col: Column | str) -> Column:
    """C7: ``T. A.`` -> ``T.A.`` (space/hyphen between single initials)."""
    return F.regexp_replace(_c(col), r"([A-Z]\.)[\s\-]+(?=[A-Z]\.)", r"$1")


def journal_and_section(col: Column | str) -> tuple[Column, Column]:
    """C10: trailing section letter A-E split off a journal title."""
    c = _c(col)
    section = F.regexp_extract(c, r"(?:^|[^A-Za-z])([A-E])\s*$", 1)
    # the reference keeps a trailing period on the journal ("Phys. Lett. A"
    # -> "Phys. Lett.", utils.py:285-304) — strip separators but not dots
    journal = F.when(
        section != "", F.trim(F.regexp_replace(c, r"[\s,;:]*[A-E]\s*$", ""))
    ).otherwise(F.trim(c))
    return journal, section


def page_count(col: Column | str) -> Column:
    """C13: first ``(\\d+) pages?`` match as int (null if absent)."""
    m = F.regexp_extract(_c(col), RE_PAGES, 1)
    return F.when(m != "", m.cast("int"))


def split_dois(col: Column | str) -> Column:
    """C14: split multi-DOI strings on separators followed by ``10.NNNN``."""
    return F.split(_c(col), RE_DOI_SPLIT)


def classify_doctype(col: Column | str) -> Column:
    """C15: thesis beats conference beats article (arxiv.py:376-386)."""
    c = _c(col)
    return (
        F.when(c.rlike(_THESIS_RE), F.lit("thesis"))
        .when(c.rlike(_CONF_RE), F.lit("conference paper"))
        .otherwise(F.lit("article"))
    )


def language_name(col: Column | str) -> Column:
    """C16: ISO code -> English language name via a literal map lookup."""
    pairs: list[Column] = []
    for k, v in LANGUAGES.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.element_at(F.create_map(*pairs), F.lower(_c(col)))


def page_nr_from_range(fpage: Column | str, lpage: Column | str) -> Column:
    """A6: ``lpage - fpage + 1`` (nlm.py:144-158)."""
    return (_c(lpage).cast("long") - _c(fpage).cast("long") + 1).cast("int")


# ---------------------------------------------------------------------------
# Pure-Python helpers (parse-UDF internals and tests)
# ---------------------------------------------------------------------------

MATHML_ELEMENTS = {
    "annotation", "annotation-xml", "maction", "math", "merror", "mfenced",
    "mfrac", "mi", "mmultiscripts", "mn", "mo", "mover", "mpadded",
    "mphantom", "mprescripts", "mroot", "mrow", "mspace", "msqrt", "mstyle",
    "msub", "msubsup", "msup", "mtable", "mtd", "mtext", "mtr", "munder",
    "munderover", "none", "semantics",
}

_TAG_RE = re.compile(r"</?([a-zA-Z][a-zA-Z0-9:-]*)[^>]*>")


def strip_tags_keep_mathml_py(text: str) -> str:
    """C6 (inputs.py:39-43, mappings.py:73-80): drop markup tags except the
    MathML element set; text content is kept either way."""
    def repl(m: re.Match) -> str:
        return m.group(0) if m.group(1).lower() in MATHML_ELEMENTS else ""
    return _TAG_RE.sub(repl, text).strip()


def collapse_whitespace_py(text: str) -> str:
    return re.sub(r"\s+", " ", text).strip()


def dot_single_initials_py(given: str) -> str:
    """normalize_name detail the fixtures pin: a standalone single capital
    gets a period ('T' -> 'T.'), but letters inside dotted compounds are
    left alone ('V.V' stays 'V.V')."""
    # \w is unicode-aware: 'S' in 'Sándor' must not match; an apostrophe
    # adjacent to the capital blocks too ("O'C" stays, both letters)
    return re.sub(r"(?<![\w.'])([A-Z])(?![\w.'])", r"\1.", given)


def collapse_initials_py(name: str) -> str:
    if len(name.split(".")) > 1:
        name = re.sub(r"([A-Z]\.)[\s\-]+(?=[A-Z]\.)", r"\1", name)
    return name


def split_fullname_py(author: str, surname_first_default: bool | None = None):
    """C8: 'Doe, John' -> ('Doe', 'John'); 'John Doe' -> ('Doe', 'John')."""
    if not author:
        return "", ""
    if "," in author:
        parts = [n.strip() for n in author.split(",")]
        surname = parts[0]
        given = " ".join(parts[1:])
    else:
        parts = [n.strip() for n in author.split()]
        surname = parts[-1]
        given = " ".join(parts[:-1])
    return surname, given


def coll_cleanforthe_py(coll: str):
    """C9: strip 'the … collaboration' wrapping; pull out a leading author."""
    author = None
    low = coll.lower()
    if any(p in low for p in _INST_PHRASES):
        return coll, author
    coll = coll.strip(".; ")
    if _RE_FOR_THE.search(coll):
        lead, trail = _RE_FOR_THE.split(coll, maxsplit=1)
        if re.search(r"\w", lead):
            author = lead.strip()
        if re.search(r"\w", trail):
            coll = trail
    coll = re.sub(r"(?i)^ *the ", "", coll)
    coll = re.sub(r"(?i) *collaborations? *", "", coll)
    return coll.strip(), author


def range_as_string_py(years) -> str:
    """A5: ['1981','1982','1985'] -> '1981-1982, 1985'."""
    data = [int(y) for y in years]
    out = []
    for _, grp in groupby(enumerate(data), lambda p: p[0] - p[1]):
        ys = [y for _, y in grp]
        out.append(f"{ys[0]}-{ys[-1]}" if len(ys) > 1 else str(ys[0]))
    return ", ".join(out)


# -- Unicode hygiene (beyond ref: web text arrives NFD/NFC-mixed with stray
# control bytes; normalizing before hashing is what makes exact/near dedup
# digests meaningful across crawls) ------------------------------------------

# C0 controls except \t \n \r, plus DEL — the bytes html_to_text can leak
# from malformed markup and that break downstream tokenizers.
_CONTROL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"


def strip_controls(col: Column | str) -> Column:
    """Remove C0 control characters (keeping tab/newline/CR). JVM regexp —
    stays in codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _CONTROL_RE, "")


def nfc_normalize_udf():
    """Arrow-batched NFC normalizer (unicodedata) — built lazily so the
    pandas_udf registers against the active session.

    NFC (canonical composition) is the right form for dedup digests:
    'e' + U+0301 and U+00E9 are the same text and must hash the same.
    Spark has no built-in normalizer, so this is one of the documented
    Python islands: Arrow in, ``str.normalize`` on the pandas block
    (vectorized in the interpreter), Arrow out."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _nfc(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC")

    return _nfc


def unicode_clean(col: Column | str) -> Column:
    """NFC-normalize then strip control characters: the canonical cleanup
    applied before any digest/fingerprint so byte-level encoding noise
    (decomposed accents, stray C0 bytes) cannot split a dedup cluster."""
    c = F.col(col) if isinstance(col, str) else col
    return strip_controls(nfc_normalize_udf()(c))


def fix_double_utf8_udf():
    """Arrow-batched mojibake repair (ftfy's core trick, stdlib-only):
    text that was UTF-8 bytes mis-decoded as latin-1/cp1252 shows as
    'Ã©'-style runs. Re-encode via latin-1 (exact byte inverse) and try a
    strict UTF-8 decode — if it round-trips AND actually changes the
    string, the repaired text is returned; anything else passes through
    untouched (strictness means clean text can never be corrupted)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    def fix_one(s: str) -> str:
        try:
            b = s.encode("latin-1")
        except UnicodeEncodeError:
            # cp1252 superset: curly quotes etc. land outside latin-1
            try:
                b = s.encode("cp1252")
            except UnicodeEncodeError:
                return s
        try:
            out = b.decode("utf-8")
        except UnicodeDecodeError:
            return s
        return out

    @pandas_udf(StringType())
    def _fix(s: pd.Series) -> pd.Series:
        return s.map(fix_one, na_action="ignore")

    return _fix
