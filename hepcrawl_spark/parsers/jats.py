"""JATS (WSP / APS-style) XML -> record structs, vectorized pandas UDF (F5).

Semantics rebuilt from the reference parser's observable behavior
(hepcrawl/parsers/jats.py:49-536) against the golden fixtures
tests/unit/responses/world_scientific/*.xml — stdlib ElementTree, no lxml.

Tag policy (the byte-identical-text oracle):
- abstract: keep <sub>/<sup> tags and whole <math> trees, drop every other
  tag but keep its text, strip pub-id/issn nodes entirely
  (jats.py:93-97 remove_tags_config_abstract)
- title: keep <math> trees only (jats.py:99-101)
- affiliations: strip label/email nodes (jats.py:345-353)
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from copy import deepcopy

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.text import coll_cleanforthe_py, collapse_initials_py
from . import explode_records

JATS_AUTHOR = StructType(
    [
        StructField("full_name", StringType()),
        StructField("affiliations", ArrayType(StringType())),
        StructField("emails", ArrayType(StringType())),
        StructField("orcid", StringType()),
    ]
)

JATS_RECORD = StructType(
    [
        StructField("url", StringType()),
        StructField("source", StringType()),
        StructField("title", StringType()),
        StructField("subtitle", StringType()),
        StructField("abstract", StringType()),
        StructField("authors", ArrayType(JATS_AUTHOR)),
        StructField("collaborations", ArrayType(StringType())),
        StructField("dois", ArrayType(StringType())),
        StructField("article_type", StringType()),
        StructField("material", StringType()),
        StructField("document_type", StringType()),
        StructField("journal_title", StringType()),
        StructField("journal_volume", StringType()),
        StructField("journal_issue", StringType()),
        StructField("artid", StringType()),
        StructField("year", IntegerType()),
        StructField("page_start", StringType()),
        StructField("page_end", StringType()),
        StructField("page_count", IntegerType()),
        StructField("keywords", ArrayType(StringType())),
        StructField("license_statement", StringType()),
        StructField("license", StringType()),
        StructField("license_url", StringType()),
        StructField("copyright_holder", StringType()),
        StructField("copyright_statement", StringType()),
        StructField("copyright_year", IntegerType()),
        StructField("imprint_date", StringType()),
        StructField("publisher", StringType()),
        StructField("n_references", IntegerType()),
        StructField("error", StringType()),
    ]
)


def _strip_ns(root: ET.Element) -> None:
    for el in root.iter():
        if isinstance(el.tag, str) and "}" in el.tag:
            el.tag = el.tag.split("}", 1)[1]
        # also strip namespaced attributes (xlink:href -> href)
        for k in list(el.attrib):
            if "}" in k:
                el.attrib[k.split("}", 1)[1]] = el.attrib.pop(k)


def _serialize_subtree(el: ET.Element) -> str:
    c = deepcopy(el)
    c.tail = None
    # lxml writes self-closing tags as <x/>; ElementTree as <x /> — the
    # byte-identical-text oracle pins the lxml form
    return ET.tostring(c, encoding="unicode").replace(" />", "/>")


def remove_tags(
    el: ET.Element,
    allowed_tags: set[str] = frozenset(),
    allowed_trees: set[str] = frozenset(),
    strip: set[str] = frozenset(),
) -> str:
    """Inner content of ``el`` with non-allowed tags dropped (text kept),
    allowed_tags re-emitted as bare tags, allowed_trees serialized whole,
    and ``strip`` nodes removed entirely — the reference's
    inspire_utils.helpers.remove_tags contract."""
    parts = [el.text or ""]
    for ch in el:
        tag = ch.tag
        if tag in strip:
            parts.append(ch.tail or "")
            continue
        if tag in allowed_trees:
            parts.append(_serialize_subtree(ch))
        elif tag in allowed_tags:
            parts.append(f"<{tag}>")
            parts.append(remove_tags(ch, allowed_tags, allowed_trees, strip))
            parts.append(f"</{tag}>")
        else:
            parts.append(remove_tags(ch, allowed_tags, allowed_trees, strip))
        parts.append(ch.tail or "")
    return "".join(parts)


def _text(el: ET.Element | None) -> str | None:
    return el.text if el is not None else None


def _string(el: ET.Element | None) -> str:
    """xpath string(.) semantics."""
    return "".join(el.itertext()) if el is not None else ""


_NAME_PARTICLES = {
    "de", "van", "von", "der", "den", "del", "della", "di", "da", "le", "la",
    "ter", "ten", "af", "av", "zu", "zum", "y", "e",
}


def _normalize_name_token(tok: str) -> str:
    """The LiteratureBuilder normalize_name behavior the fixtures pin:
    ALL-CAPS parts title-case ('DONGQIN' -> 'Dongqin'), lowercase-initial
    parts capitalize ('author_name_1' -> 'Author_name_1'), particles and
    mixed-case tokens pass through."""
    if not tok or tok in _NAME_PARTICLES:
        return tok
    if tok.isupper() and len(tok) > 1:
        return re.sub(r"[A-ZÀ-Þ]+", lambda m: m.group(0).capitalize(), tok)
    if tok[0].islower():
        return tok[0].upper() + tok[1:]
    return tok


def _normalize_full_name(name: str) -> str:
    parts = [
        " ".join(_normalize_name_token(t) for t in chunk.strip().split())
        for chunk in name.split(",")
    ]
    full = ", ".join(p for p in parts)
    return collapse_initials_py(full.strip().rstrip(","))


_PARTIAL_ISO = re.compile(r"^(\d{4})(?:-(\d{2})(?:-(\d{2}))?)?$")


class PartialDate:
    def __init__(self, year: int, month: int | None = None, day: int | None = None):
        if not (1000 <= year <= 9999):
            raise ValueError(year)
        if month is not None and not (1 <= month <= 12):
            raise ValueError(month)
        if day is not None and not (1 <= day <= 31):
            raise ValueError(day)
        self.year, self.month, self.day = year, month, day

    def dumps(self) -> str:
        if self.month is None:
            return f"{self.year:04d}"
        if self.day is None:
            return f"{self.year:04d}-{self.month:02d}"
        return f"{self.year:04d}-{self.month:02d}-{self.day:02d}"

    def _key(self):
        return (self.year, self.month or 0, self.day or 0)

    def __lt__(self, other):
        return self._key() < other._key()

    def __eq__(self, other):
        return self._key() == other._key()


_MONTH_NAMES = {
    name: i
    for i, names in enumerate(
        [("january", "jan"), ("february", "feb"), ("march", "mar"),
         ("april", "apr"), ("may",), ("june", "jun"), ("july", "jul"),
         ("august", "aug"), ("september", "sep", "sept"), ("october", "oct"),
         ("november", "nov"), ("december", "dec")],
        start=1,
    )
    for name in names
}


def _part_int(p: str) -> int:
    """Numeric or month-name date part ('July' -> 7, APS fixtures)."""
    p = p.strip()
    if p.lower() in _MONTH_NAMES:
        return _MONTH_NAMES[p.lower()]
    return int(p)


def _get_date(node: ET.Element) -> PartialDate | None:
    """jats.py:449-474 waterfall: iso attr, (y,m,d) parts, (y,m), (y)."""
    iso = node.get("iso-8601-date", "")
    m = _PARTIAL_ISO.match(iso)
    if m:
        y, mo, d = m.groups()
        try:
            return PartialDate(int(y), int(mo) if mo else None, int(d) if d else None)
        except ValueError:
            pass
    year = _string(node.find("year")).strip()
    month = _string(node.find("month")).strip()
    day = _string(node.find("day")).strip()
    for parts in ((year, month, day), (year, month), (year,)):
        try:
            ints = [_part_int(p) for p in parts if p != ""]
            if len(ints) == len(parts):
                return PartialDate(*ints)
        except (ValueError, TypeError):
            continue
    return None


def _pub_date_nodes(front: ET.Element, online_ok: bool = True):
    out = []
    for node in front.iter("pub-date"):
        fmt = node.get("publication-format", "")
        not_online = not (fmt.startswith("elec") or fmt.startswith("online"))
        if node.get("pub-type") == "ppub":
            out.append(node)
        elif node.get("pub-type") == "epub" and online_ok:
            out.append(node)
        elif node.get("date-type", "").startswith("pub") and (online_ok or not_online):
            out.append(node)
    for node in front.iter("date"):
        fmt = node.get("publication-format", "")
        not_online = not (fmt.startswith("elec") or fmt.startswith("online"))
        if node.get("date-type", "").startswith("pub") and (online_ok or not_online):
            out.append(node)
    return out


JATS_REFERENCE = StructType(
    [
        StructField("label", StringType()),
        StructField("title", StringType()),
        StructField("authors", ArrayType(StringType())),
        StructField("editors", ArrayType(StringType())),
        StructField("journal_title", StringType()),
        StructField("parent_title", StringType()),
        StructField("publisher", StringType()),
        StructField("journal_volume", StringType()),
        StructField("journal_issue", StringType()),
        StructField("year", IntegerType()),
        StructField("page_start", StringType()),
        StructField("page_end", StringType()),
        StructField("artid", StringType()),
        StructField("dois", ArrayType(StringType())),
        StructField("arxiv_ids", ArrayType(StringType())),
        StructField("raw_ref", StringType()),
    ]
)


def _ref_person_names(citation: ET.Element, role: str) -> list[str]:
    """person-group string-names -> inspire 'Surname, I.N.' form."""
    out = []
    for pg in citation.findall("person-group"):
        if pg.get("person-group-type") != role:
            continue
        for sn in pg.findall("string-name"):
            name = (sn.text or "").strip()
            if not name:
                continue
            toks = name.split()
            # surname absorbs preceding particles ('M. Van Raamsdonk'
            # -> 'Van Raamsdonk, M.'), the inspire normalize_name behavior
            i = len(toks) - 1
            while i > 0 and toks[i - 1].lower() in _NAME_PARTICLES:
                i -= 1
            surname = " ".join(toks[i:])
            # collapse spaces between initials but KEEP hyphens
            # ('H.-S.' stays; 'H. S.' -> 'H.S.')
            given = re.sub(r"([A-Z]\.)\s+(?=[A-Z]\.)", r"\1", " ".join(toks[:i]))
            out.append(f"{surname}, {given}".rstrip(", ") if given else surname)
    return out


def extract_references(article: ET.Element) -> list[dict]:
    """back/ref-list/ref -> structured reference rows (jats.py:554-636
    semantics; label strips '[].', page-range splits into start/end with the
    single-page value doubling as artid, source routes to journal vs parent
    title by publication-type)."""
    refs = []
    back = article.find("back")
    if back is None:
        return refs
    for ref in back.iter("ref"):
        label_el = ref.find("label")
        label = (label_el.text or "").strip("[].") if label_el is not None else None
        for citation in ref.findall("mixed-citation"):
            pub_type = citation.get("publication-type", "")
            src = citation.find("source")
            journal_title = parent_title = None
            if src is not None:
                if pub_type in ("journal", "eprint"):
                    journal_title = _string(src)
                elif pub_type == "book":
                    parent_title = _string(src)
            dois, arxiv_ids = [], []
            for pid in citation.findall("pub-id"):
                if pid.get("pub-id-type") == "doi" and pid.text:
                    dois.append(pid.text)
                elif pid.get("pub-id-type") == "arxiv" and pid.text:
                    arxiv_ids.append(pid.text)
            year_el = citation.find("year")
            year_t = (year_el.text or "").strip() if year_el is not None else ""
            page_range = citation.find("page-range")
            page_start = page_end = artid = None
            if page_range is not None and page_range.text:
                pr = page_range.text.strip()
                if "-" in pr:
                    page_start, page_end = pr.split("-", 1)[0], pr.split("-", 1)[1]
                else:
                    page_start = artid = pr
            title_el = citation.find("article-title")
            # reference behavior pinned by fixtures: extract_first('text()')
            # takes only the FIRST direct text node — titles with inline
            # markup truncate, and a leading <math> child means the first
            # text node is its tail
            title = None
            if title_el is not None:
                for cand in [title_el.text] + [c.tail for c in title_el]:
                    if cand:
                        title = cand
                        break
            refs.append(
                {
                    "label": label,
                    "title": title or None,
                    "authors": _ref_person_names(citation, "author"),
                    "editors": _ref_person_names(citation, "editor"),
                    "journal_title": journal_title,
                    "parent_title": parent_title,
                    "publisher": _string(citation.find("publisher-name")) or None,
                    "journal_volume": _text(citation.find("volume")),
                    "journal_issue": _text(citation.find("issue")),
                    "year": int(year_t) if year_t.isdigit() else None,
                    "page_start": page_start,
                    "page_end": page_end,
                    "artid": artid,
                    "dois": dois,
                    "arxiv_ids": arxiv_ids,
                    "raw_ref": _serialize_subtree(ref).strip(),
                }
            )
    return refs


def parse_jats_article(article: ET.Element, url: str | None = None) -> dict:
    front = article.find("front")
    if front is None:
        front = article  # degenerate inputs

    article_type = article.get("article-type")
    if article_type and article_type.startswith("correc"):
        material = "erratum"
    elif article_type in ("erratum", "translation", "addendum", "reprint"):
        material = article_type
    else:
        material = "publication"

    title_el = front.find(".//article-title")
    title = (
        remove_tags(title_el, allowed_trees={"math"}) if title_el is not None else None
    )
    subtitle_el = front.find(".//subtitle")
    subtitle = _string(subtitle_el) or None

    abstract_el = front.find(".//abstract")
    abstract = (
        remove_tags(
            abstract_el,
            allowed_tags={"sup", "sub"},
            allowed_trees={"math"},
            strip={"pub-id", "issn"},
        ).strip()
        if abstract_el is not None
        else None
    )

    # affiliation/email lookup by id (J2/J6: within-document equi-join)
    aff_by_id: dict[str, str] = {}
    emails_by_id: dict[str, list[str]] = {}
    for aff in article.iter("aff"):
        aid = aff.get("id")
        if aid:
            aff_by_id[aid] = remove_tags(aff, strip={"label", "email"}).strip()
            emails_by_id[aid] = [
                e.text for e in aff.findall("email") if e.text
            ]

    authors = []
    collaborations: list[str] = []
    for contrib in front.iter("contrib"):
        ctype = contrib.get("contrib-type")
        if ctype == "collaboration":
            collaborations.append(_string(contrib).strip())
            continue
        if ctype != "author":
            continue
        surname = _text(contrib.find(".//surname"))
        given = _text(contrib.find(".//given-names"))
        suffix = _text(contrib.find(".//suffix"))
        if not surname:
            name = _string(contrib.find("string-name")).strip()
        else:
            name = ", ".join(p for p in (surname, given, suffix) if p)
        emails = [e.text for e in contrib.findall(".//email") if e.text]
        rids: list[str] = []
        for xref in contrib.findall('.//xref[@ref-type="aff"]'):
            rid = xref.get("rid", "")
            rids.extend(rid.split(" "))
        affs = []
        for rid in sorted(set(rids)):
            if aff_by_id.get(rid):
                affs.append(aff_by_id[rid])
            emails.extend(emails_by_id.get(rid, []))
        orcid_el = contrib.find('./contrib-id[@contrib-id-type="orcid"]')
        orcid = None
        if orcid_el is not None and orcid_el.text:
            orcid = re.sub(r"https?://orcid\.org/", "", orcid_el.text.strip())
        authors.append(
            {
                "full_name": _normalize_full_name(name),
                "affiliations": affs,
                "emails": emails,
                "orcid": orcid,
            }
        )

    # standalone <collab> / <on-behalf-of> nodes
    for tag in ("collab", "on-behalf-of"):
        for node in front.iter(tag):
            collaborations.append(_string(node).strip())
    # normalize 'for the X Collaboration' -> 'X' (U3 + C9)
    cleaned = []
    for coll in collaborations:
        c, _ = coll_cleanforthe_py(coll)
        if c and c not in cleaned:
            cleaned.append(c)

    dois = [
        el.text
        for el in front.findall('.//article-id[@pub-id-type="doi"]')
        if el.text
    ]

    conference = front.find(".//conference")
    document_type = "conference paper" if conference is not None else "article"

    # XPath union semantics (jats.py:206-210): first of journal-title /
    # abbrev-journal-title in DOCUMENT order
    jt = next(
        (el for el in front.iter()
         if el.tag in ("abbrev-journal-title", "journal-title")),
        None,
    )
    journal_title = _text(jt)
    if journal_title == "Physics":
        journal_title = "APS Physics"

    am = front.find(".//article-meta")
    volume = _text(am.find("volume")) if am is not None else None
    issue = _text(am.find("issue")) if am is not None else None
    artid = _text(am.find(".//elocation-id")) if am is not None else None
    fpage = _text(am.find("fpage")) if am is not None else None
    lpage = _text(am.find("lpage")) if am is not None else None
    pc = front.find(".//page-count")
    page_count = None
    if pc is not None and pc.get("count", "").isdigit():
        page_count = int(pc.get("count"))

    dates = [d for d in (_get_date(n) for n in _pub_date_nodes(front)) if d]
    imprint = min(dates).dumps() if dates else None
    year_dates = [
        d for d in (_get_date(n) for n in _pub_date_nodes(front, online_ok=False)) if d
    ]
    year = min(year_dates).year if year_dates else None

    keywords = []
    for group in front.iter("kwd-group"):
        for kwd in group.iter("kwd"):
            keywords.append(_string(kwd))

    lic = front.find(".//license")
    license_statement = _string(lic).strip() if lic is not None else None
    license_url = None
    if lic is not None:
        license_url = lic.get("href")
        if not license_url:
            ext = lic.find(".//ext-link")
            if ext is not None:
                license_url = ext.get("href")
    lic_ref = front.find(".//license_ref")
    if license_url is None and lic_ref is not None:
        license_url = lic_ref.text

    # short license name from a creativecommons url ('CC BY 4.0'), the
    # normalization the reference gets from LiteratureBuilder.add_license
    license_short = None
    if license_url:
        m = re.search(
            r"creativecommons\.org/licenses/([a-z-]+)/(\d+\.\d+)", license_url
        )
        if m:
            license_short = f"CC {m.group(1).upper().replace('-', ' ')} {m.group(2)}"

    cp_holder = _text(front.find(".//copyright-holder"))
    cp_stmt = _text(front.find(".//copyright-statement"))
    cp_year_t = _text(front.find(".//copyright-year"))
    cp_year = int(cp_year_t) if cp_year_t and cp_year_t.strip().isdigit() else None

    publisher = _text(front.find(".//publisher-name"))

    return {
        "url": url,
        "source": "WSP" if (publisher or "").startswith("World Scientific") else publisher,
        "title": title,
        "subtitle": subtitle,
        "abstract": abstract,
        "authors": authors,
        "collaborations": cleaned,
        "dois": dois,
        "article_type": article_type,
        "material": material,
        "document_type": document_type,
        "journal_title": journal_title,
        "journal_volume": volume,
        "journal_issue": issue,
        "artid": artid,
        "year": year,
        "page_start": fpage,
        "page_end": lpage,
        "page_count": page_count,
        "keywords": keywords,
        "license_statement": license_statement or None,
        "license": license_short,
        "license_url": license_url,
        "copyright_holder": cp_holder,
        "copyright_statement": cp_stmt,
        "copyright_year": cp_year,
        "imprint_date": imprint,
        "publisher": publisher,
        "n_references": len(extract_references(article)),
        "error": None,
    }


# Article-type allowlist (F1) — wsp_spider.py:82-92
WSP_ALLOWED_ARTICLE_TYPES = [
    "research-article", "corrected-article", "original-article",
    "introduction", "letter", "correction", "addendum", "review-article",
    "rapid-communications",
]


def parse_jats_body(
    body: bytes | str,
    url: str | None = None,
    allowed_article_types: list[str] | None = None,
) -> list[dict]:
    """One body may hold one <article> or a feed of several (XMLFeedSpider
    itertag='article', wsp_spider.py:79-80)."""
    try:
        if isinstance(body, (bytes, bytearray)):
            body = body.decode("utf-8")
        # stdlib ET chokes on undefined entities in DOCTYPE-ful documents;
        # drop the doctype line (it only names the DTD)
        body = re.sub(r"<!DOCTYPE[^>]*>", "", body)
        root = ET.fromstring(body)
        _strip_ns(root)
        articles = [root] if root.tag == "article" else root.findall(".//article")
        out = []
        for art in articles:
            if allowed_article_types is not None:
                if art.get("article-type") not in allowed_article_types:
                    continue
            out.append(parse_jats_article(art, url))
        return out
    except Exception as exc:
        empty = {f.name: None for f in JATS_RECORD.fields}
        empty.update({"url": url, "error": repr(exc)})
        return [empty]


@pandas_udf(ArrayType(JATS_RECORD))
def parse_jats_udf(urls: pd.Series, bodies: pd.Series) -> pd.Series:
    return pd.Series(
        [
            parse_jats_body(b, u, WSP_ALLOWED_ARTICLE_TYPES) if b is not None else []
            for u, b in zip(urls, bodies)
        ]
    )


def parse_jats_pages(pages: DataFrame) -> DataFrame:
    return explode_records(pages, parse_jats_udf)


_JATS_REF_ROW = StructType(
    [StructField("url", StringType()), StructField("record_doi", StringType())]
    + JATS_REFERENCE.fields
)


def parse_jats_references_body(body: bytes | str, url: str | None = None) -> list[dict]:
    """One body -> exploded structured reference rows (each tagged with the
    citing record's first DOI)."""
    try:
        if isinstance(body, (bytes, bytearray)):
            body = body.decode("utf-8")
        body = re.sub(r"<!DOCTYPE[^>]*>", "", body)
        root = ET.fromstring(body)
        _strip_ns(root)
        articles = [root] if root.tag == "article" else root.findall(".//article")
        out = []
        for art in articles:
            doi_el = art.find('.//article-id[@pub-id-type="doi"]')
            doi = doi_el.text if doi_el is not None else None
            for ref in extract_references(art):
                out.append({"url": url, "record_doi": doi, **ref})
        return out
    except Exception:
        return []


@pandas_udf(ArrayType(_JATS_REF_ROW))
def parse_jats_references_udf(urls: pd.Series, bodies: pd.Series) -> pd.Series:
    return pd.Series(
        [
            parse_jats_references_body(b, u) if b is not None else []
            for u, b in zip(urls, bodies)
        ]
    )


def parse_jats_references_pages(pages: DataFrame) -> DataFrame:
    return explode_records(pages, parse_jats_references_udf)
