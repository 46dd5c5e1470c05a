"""arXiv OAI-PMH XML -> record structs, as a vectorized pandas UDF (F5).

Semantics rebuilt from the reference parser's observable behavior
(hepcrawl/parsers/arxiv.py:99-403 + hepcrawl/utils.py:179-282) against the
golden fixtures tests/unit/responses/arxiv/*.xml — implementation is
stdlib ElementTree + re, no Scrapy/lxml.

One OAI response body may hold many ``<record>`` elements
(oaipmh_spider.py:215-232); the UDF returns ``array<struct>`` and
``parse_arxiv_pages`` makes it rows with ``explode_records`` — the UDTF-like
pattern from SURVEY.md §2.12.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from itertools import zip_longest

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType

from ..functions.latex import latex_to_unicode
from ..functions.text import (
    CONFERENCE_WORDS,
    THESIS_WORDS,
    coll_cleanforthe_py,
    collapse_initials_py,
    collapse_whitespace_py,
    split_fullname_py,
)
from . import explode_records


def _make_full_name(surname: str, given: str) -> str:
    """Name normalization the reference gets from LiteratureBuilder.make_author:
    initials collapsed (``R. W.`` -> ``R.W.``), trailing ``, `` dropped when
    there are no given names."""
    given = collapse_initials_py(given.strip())
    full = f"{surname}, {given}".strip().rstrip(",")
    return full
from ..schemas import RECORD_SCHEMA

RE_PAGES = re.compile(r"(?i)(\d+)\s*pages?\b")
RE_DOIS = re.compile(r"[,;\s]+(?=\s*10[.]\d{4,})")
RE_THESIS = re.compile(
    r"\b(%s)\b" % "|".join(re.escape(w) for w in THESIS_WORDS), re.I | re.U
)
RE_CONFERENCE = re.compile(
    r"\b(%s)\b" % "|".join(re.escape(w) for w in CONFERENCE_WORDS), re.I | re.U
)

# Obsolete arXiv categories -> modern names (public arXiv taxonomy).
OBSOLETE_CATEGORIES = {
    "acc-phys": "physics.acc-ph", "adap-org": "nlin.AO",
    "alg-geom": "math.AG", "ao-sci": "physics.ao-ph",
    "atom-ph": "physics.atom-ph", "bayes-an": "physics.data-an",
    "chao-dyn": "nlin.CD", "chem-ph": "physics.chem-ph",
    "cmp-lg": "cs.CL", "comp-gas": "nlin.CG", "dg-ga": "math.DG",
    "funct-an": "math.FA", "mtrl-th": "cond-mat.mtrl-sci",
    "patt-sol": "nlin.PS", "plasm-ph": "physics.plasm-ph",
    "q-alg": "math.QA", "solv-int": "nlin.SI", "supr-con": "cond-mat.supr-con",
}

_COLLAB_PHRASES = [
    "consortium", " collab ", "collaboration", " team", "group",
    " on behalf of ", " representing ",
]
_INST_PHRASES = ["institute", "university", "department", "center"]


def normalize_arxiv_category(cat: str) -> str:
    return OBSOLETE_CATEGORIES.get(cat, cat)


def _dedupe(seq):
    seen, out = set(), []
    for x in seq:
        if x not in seen:
            seen.add(x)
            out.append(x)
    return out


def _strip_ns(root: ET.Element) -> None:
    for el in root.iter():
        if "}" in el.tag:
            el.tag = el.tag.split("}", 1)[1]


def _text(el: ET.Element | None) -> str | None:
    if el is None or el.text is None:
        return None
    return el.text


def _all_text(el: ET.Element | None) -> str:
    """Concatenated descendant text (xpath .//text() join semantics)."""
    if el is None:
        return ""
    return "".join(el.itertext())


def _authors_and_collaborations(record: ET.Element):
    """The collaboration-detection heuristic (arxiv.py:131-231 semantics)."""
    author_nodes = record.findall(".//authors//author") or record.findall(
        ".//authors/author"
    )

    def name_parts(node):
        fore = " ".join(
            _all_text(f) for f in node.findall(".//forenames")
        ).strip()
        key = " ".join(_all_text(k) for k in node.findall(".//keyname")).strip()
        affs = [_all_text(a) for a in node.findall(".//affiliation")]
        return fore, key, affs

    parsed = [name_parts(n) for n in author_nodes]
    lookahead = parsed[1:]

    authors, collaborations, warning_tags = [], [], []
    some_aff_has_collab = False

    for (fore, key, affs), nxt in zip_longest(
        parsed, lookahead, fillvalue=("end of author-list", "", None)
    ):
        next_fore, next_key = nxt[0], nxt[1]
        name_string = " %s %s " % (fore, key)

        affs_with, affs_without = [], []
        for aff in affs:
            low = aff.lower()
            has_collab = any(p in low for p in _COLLAB_PHRASES) and not any(
                p in low for p in _INST_PHRASES
            )
            if has_collab:
                affs_with.append(aff)
                some_aff_has_collab = True
            else:
                affs_without.append(aff)
        for aff in affs_with:
            coll, _ = coll_cleanforthe_py(aff)
            if coll and coll not in collaborations:
                collaborations.append(coll)

        low_name = name_string.lower()
        if " for the " in low_name or any(p in low_name for p in _COLLAB_PHRASES):
            coll, author_name = coll_cleanforthe_py(name_string)
            if author_name:
                surname, given = split_fullname_py(author_name)
                authors.append(
                    {
                        "full_name": _make_full_name(surname, given),
                        "surname": surname,
                        "given_names": given,
                        "affiliations": [],
                    }
                )
            if coll and coll not in collaborations:
                collaborations.append(coll)
        elif name_string.strip() == ":":
            warning_tags.append(" %s %s " % (next_fore, next_key))
            if not some_aff_has_collab:
                for info in authors:
                    ns = " %s %s " % (info["given_names"], info["surname"])
                    coll, _ = coll_cleanforthe_py(ns)
                    if coll and coll not in collaborations:
                        collaborations.append(coll)
                authors = []
        else:
            authors.append(
                {
                    "full_name": _make_full_name(key, fore),
                    "surname": key,
                    "given_names": fore,
                    "affiliations": affs_without,
                }
            )

    warning = (
        "WARNING: Colon in authors before %s: Check author list for "
        "collaboration names!" % ", ".join(warning_tags)
        if warning_tags
        else ""
    )
    return authors, collaborations, warning


def parse_arxiv_record(record: ET.Element, url: str | None = None) -> dict:
    """One ``<record>`` element -> RECORD_SCHEMA dict."""
    title_raw = _text(record.find(".//title"))
    abstract_raw = _text(record.find(".//abstract"))
    comments = "; ".join(
        t for t in (_text(c) for c in record.findall(".//comments")) if t
    )

    page_nr = None
    m = RE_PAGES.search(comments)
    if m:
        page_nr = int(m.group(1))

    doctype = "article"
    if RE_THESIS.search(comments):
        doctype = "thesis"
    elif RE_CONFERENCE.search(comments):
        doctype = "conference paper"

    dois = []
    for dv in record.findall(".//doi"):
        if dv.text:
            dois.extend(s for s in RE_DOIS.split(dv.text) if s)

    report_numbers = []
    for rn in record.findall(".//report-no"):
        if rn.text:
            report_numbers.extend(rn.text.split(", "))

    cats = (_text(record.find(".//categories")) or "").split()
    categories = _dedupe([normalize_arxiv_category(c) for c in cats])

    authors, collaborations, warning = _authors_and_collaborations(record)

    return {
        "url": url,
        "source": "arXiv",
        "record_format": "hep",
        "title": latex_to_unicode(collapse_whitespace_py(title_raw))
        if title_raw
        else None,
        "abstract": latex_to_unicode(collapse_whitespace_py(abstract_raw))
        if abstract_raw
        else None,
        "authors": authors,
        "collaborations": collaborations,
        "dois": dois,
        "arxiv_eprint": _text(record.find(".//id")),
        "arxiv_categories": categories,
        "report_numbers": report_numbers,
        "license_url": _text(record.find(".//license")),
        "preprint_date": _text(record.find(".//created")),
        "pubinfo_freetext": _text(record.find(".//journal-ref")),
        "page_nr": page_nr,
        "document_type": doctype,
        "public_note": latex_to_unicode(comments) if comments else None,
        "private_note": warning or None,
        "error": None,
    }


def parse_arxiv_body(body: bytes | str, url: str | None = None) -> list[dict]:
    """Full OAI response body -> list of record dicts (error row on failure)."""
    try:
        if isinstance(body, (bytes, bytearray)):
            body = body.decode("utf-8")
        root = ET.fromstring(body)
        _strip_ns(root)
        records = root.findall(".//record")
        if not records and root.tag == "record":
            records = [root]
        if not records and root.find(".//arXiv") is not None:
            records = [root]
        return [parse_arxiv_record(r, url) for r in records]
    except Exception as exc:  # error row preserved (S13/E2 pattern)
        empty = {f.name: None for f in RECORD_SCHEMA.fields}
        empty.update({"url": url, "source": "arXiv", "error": repr(exc)})
        return [empty]


@pandas_udf(ArrayType(RECORD_SCHEMA))
def parse_arxiv_udf(urls: pd.Series, bodies: pd.Series) -> pd.Series:
    """Vectorized: (url, html bytes) -> array<record struct>."""
    return pd.Series(
        [parse_arxiv_body(b, u) if b is not None else [] for u, b in zip(urls, bodies)]
    )


def parse_arxiv_pages(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> exploded records DataFrame."""
    return explode_records(pages, parse_arxiv_udf)
