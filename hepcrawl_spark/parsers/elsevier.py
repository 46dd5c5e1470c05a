"""Elsevier CONSYN XML -> record structs (F5/F2), vectorized pandas UDF.

Semantics rebuilt from the reference parser's observable behavior
(hepcrawl/parsers/elsevier.py:79-560) against the golden fixtures
tests/unit/responses/elsevier/*_expected.yml — stdlib ElementTree.

Notable shapes: a combined document with an <RDF><Description> metadata
block (doi, publicationName, volume, pages, coverDisplayDate, licenses)
next to the <article>/<simple-article> body; abstracts are
abstract-sec/simple-para paragraphs joined with spaces, sub/sup kept and
math trees serialized (same remove_tags contract as JATS).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

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

from ..functions.text import dot_single_initials_py
from . import explode_records
from .jats import _MONTH_NAMES, PartialDate, _strip_ns, remove_tags

DOCTYPE_MAPPING = {
    "add": "addendum", "adv": "advertisement", "ann": "announcement",
    "abs": "abstract", "boo": "book", "bkr": "book review",
    "cal": "calendar", "chp": "chapter", "cnf": "conference",
    "con": "contents list", "cor": "correspondence", "cop": "copyright",
    "crp": "case report", "dat": "data article", "dis": "discussion",
    "dup": "duplicate", "edb": "editorial board", "edi": "editorial",
    "err": "erratum", "exm": "examination", "fla": "full-length article",
    "ind": "index", "lit": "literature alert", "lst": "list",
    "mic": "micro article", "mis": "miscellaneous", "nws": "news",
    "ocn": "other contents", "osp": "original software publication",
    "pgl": "practice guideline", "pnt": "patent report",
    "prp": "personal report", "prv": "product review",
    "pub": "publisher's note", "rem": "removal",
    "req": "request for assistance", "ret": "retraction",
    "rev": "review article", "rpl": "replication studies",
    "sco": "short communication", "ssu": "short survey",
    "vid": "video article",
}

COPYRIGHT_MAPPING = {
    "crown": "Crown copyright", "free-of-copyright": "None",
    "full-transfer": "Publisher", "joint": "Publisher and scientific society",
    "limited-transfer": "Authors and publisher", "other": "Authors",
    "society": "Scientific society", "us-gov": " US government",
}

# F2 gate companion list (elsevier.py:79-89)
DOCTYPES_TO_HARVEST = [
    "full-length article", "addendum", "chapter", "erratum",
    "review article", "short communication", "short survey",
    "publisher's note", "discussion",
]

ELSEVIER_AUTHOR = StructType(
    [
        StructField("full_name", StringType()),
        StructField("affiliations", ArrayType(StringType())),
        StructField("emails", ArrayType(StringType())),
    ]
)

ELSEVIER_RECORD = StructType(
    [
        StructField("url", StringType()),
        StructField("source", StringType()),
        StructField("title", StringType()),
        StructField("subtitle", StringType()),
        StructField("abstract", StringType()),
        StructField("authors", ArrayType(ELSEVIER_AUTHOR)),
        StructField("collaborations", ArrayType(StringType())),
        StructField("dois", ArrayType(StringType())),
        StructField("article_type", StringType()),
        StructField("material", StringType()),
        StructField("document_type", StringType()),
        StructField("is_conference_paper", StringType()),
        StructField("journal_title", StringType()),
        StructField("journal_volume", StringType()),
        StructField("journal_issue", StringType()),
        StructField("artid", StringType()),
        StructField("year", IntegerType()),
        StructField("page_start", StringType()),
        StructField("page_end", StringType()),
        StructField("keywords", ArrayType(StringType())),
        StructField("license_statement", StringType()),
        StructField("license_url", StringType()),
        StructField("copyright_holder", StringType()),
        StructField("copyright_statement", StringType()),
        StructField("copyright_year", IntegerType()),
        StructField("publication_date", StringType()),
        StructField("publisher", StringType()),
        StructField("error", StringType()),
    ]
)


def _string(el: ET.Element | None) -> str:
    return "".join(el.itertext()) if el is not None else ""


def _parse_display_date(s: str) -> PartialDate | None:
    """'1 April 2020' / 'April 2020' / 'July-September 2020' / '2020'."""
    s = s.strip()
    s = re.sub(r"[A-Za-z]+-(?=[A-Za-z])", "", s)  # month ranges: keep last
    m = re.match(r"^(?:(\d{1,2})\s+)?([A-Za-z]+)\s+(\d{4})$", s)
    if m:
        day, mon, year = m.groups()
        mon_i = _MONTH_NAMES.get(mon.lower())
        if mon_i:
            try:
                # 'April 2020' stays a partial date (2020-04); only an
                # explicit day produces a full date
                return PartialDate(int(year), mon_i, int(day) if day else None)
            except ValueError:
                return None
    m = re.match(r"^(\d{4})$", s)
    if m:
        return PartialDate(int(m.group(1)))
    m = re.match(r"^(\d{4})-(\d{2})(?:-(\d{2}))?$", s)
    if m:
        y, mo, d = m.groups()
        try:
            return PartialDate(int(y), int(mo), int(d) if d else None)
        except ValueError:
            return None
    return None


def parse_elsevier_record(root: ET.Element, url: str | None = None) -> dict:
    desc = root.find("./RDF/Description")

    def rdf(tag: str) -> str | None:
        if desc is None:
            return None
        el = desc.find(tag)
        return _string(el).strip() or None if el is not None else None

    # the article body: first child that is an article variant
    body = None
    for child in root:
        if child.tag in ("article", "simple-article", "converted-article",
                         "book-review", "book", "simple-book", "book-chapter"):
            body = child
            break
    if body is None:
        body = root

    head = body.find("head")
    if head is None:
        head = body.find("simple-head")

    item_info = body.find("item-info")

    abbrv = None
    for el in body.iter():
        if "docsubtype" in el.attrib:
            abbrv = el.get("docsubtype")
            break
    if abbrv is None:
        abbrv = body.get("docsubtype")
    article_type = DOCTYPE_MAPPING.get(abbrv)

    if article_type in ("erratum", "addendum", "retraction", "removal", "duplicate"):
        material = article_type
    elif article_type in ("editorial", "publisher's note"):
        material = "editorial note"
    else:
        material = "publication"

    # title/abstract with the remove_tags contract
    title = None
    subtitle = None
    abstract = None
    if head is not None:
        t = head.find("title")
        if t is not None:
            title = remove_tags(t, allowed_trees={"math"}).strip("\n")
        st = head.find("subtitle")
        subtitle = _string(st) or None
        paras = []
        for ab in head.findall("abstract"):
            if ab.get("graphical") is not None:
                continue
            for para in ab.findall("./abstract-sec/simple-para"):
                paras.append(
                    remove_tags(
                        para,
                        allowed_tags={"sup", "sub"},
                        allowed_trees={"math"},
                        strip={"pub-id", "issn"},
                    ).strip("/ \n")
                )
        abstract = " ".join(paras) if paras else None

    # authors + collaborations from author-groups
    authors = []
    collaborations = []
    aff_by_id = {}
    for aff in body.iter("affiliation"):
        aid = aff.get("id")
        textfn = aff.find("textfn")
        if aid and textfn is not None:
            aff_by_id[aid] = _string(textfn)
    if head is not None:
        for group in head.findall("author-group"):
            group_affs = [
                _string(a.find("textfn"))
                for a in group.findall("affiliation")
                if a.find("textfn") is not None
            ]
            for author in group.findall("author"):
                surname = _string(author.find("surname")).strip()
                given = _string(author.find("given-name")).strip()
                given = dot_single_initials_py(given)
                suffix = _string(author.find(".//suffix")).strip()
                name = ", ".join(p for p in (surname, given, suffix) if p)
                ref_ids = [
                    cr.get("refid")
                    for cr in author.findall(".//cross-ref")
                    if cr.get("refid", "").find("af") != -1
                ]
                if ref_ids:
                    affs = [aff_by_id.get(r, "") for r in ref_ids]
                else:
                    affs = [a for a in group_affs if a]
                emails = [
                    _string(e)
                    for e in author.findall("e-address")
                    if e.get("type") == "email"
                ]
                authors.append(
                    {"full_name": name, "affiliations": affs, "emails": emails}
                )
            for collab in group.iter("collaboration"):
                txt = collab.find("text")
                if txt is not None:
                    collaborations.append(_string(txt))

    dois = []
    rdf_doi = rdf("doi")
    if rdf_doi:
        dois.append(rdf_doi)

    conference = body.find("conference-info") is not None or (
        root.find(".//conference-info") is not None
    )
    issue_name = rdf("issueName") or ""
    if not conference and issue_name:
        conference = bool(re.findall(r"proceedings|proc.", issue_name.lower()))
    doctype = None
    if body.tag in ("article", "simple-article", "converted-article", "book-review"):
        doctype = "article"
    elif body.tag in ("book", "simple-book"):
        doctype = "book"
    elif body.tag == "book-chapter":
        doctype = "book chapter"
    if conference:
        doctype = "conference paper"

    publication = rdf("publicationName")
    if not publication and item_info is not None:
        publication = _string(item_info.find("jid")) or None
    if publication:
        publication = re.sub(" [Ss]ection", "", publication).replace(",", "").strip()

    pub_date = None
    cdd = rdf("coverDisplayDate")
    if cdd:
        pub_date = _parse_display_date(cdd)

    cp_holder = None
    cp_stmt = rdf("copyright")
    cp_year = None
    if item_info is not None:
        cp_el = next(
            (c for c in item_info.findall("copyright") if c.get("type")), None
        )
        if cp_el is not None:
            cp_holder = _string(cp_el).strip() or COPYRIGHT_MAPPING.get(cp_el.get("type"))
            if cp_el.get("year", "").isdigit():
                cp_year = int(cp_el.get("year"))
            if not cp_stmt:
                cp_stmt = _string(cp_el).strip() or None

    keywords = []
    if head is not None:
        for kw_group in head.findall("keywords"):
            if kw_group.get("abr") is not None:
                continue
            for kw in kw_group.findall("keyword"):
                txt = kw.find("text")
                if txt is not None:
                    keywords.append(_string(txt))

    lic_url = None
    if desc is not None:
        oa = desc.find("openAccessInformation")
        if oa is not None:
            lic_url = _string(oa.find("userLicense")).strip() or None

    artid = _string(item_info.find("aid")) if item_info is not None else None

    return {
        "url": url,
        "source": rdf("publisher") or "Elsevier B.V.",
        "title": title,
        "subtitle": subtitle,
        "abstract": abstract,
        "authors": authors,
        "collaborations": collaborations,
        "dois": dois,
        "article_type": article_type,
        "material": material,
        "document_type": doctype,
        "is_conference_paper": str(bool(conference)).lower(),
        "journal_title": publication,
        "journal_volume": rdf("volume"),
        "journal_issue": _string(root.find(".//serial-issue/issue-info/issue-first")) or None,
        "artid": artid or None,
        "year": pub_date.year if pub_date else None,
        "page_start": rdf("startingPage"),
        "page_end": rdf("endingPage"),
        "keywords": keywords,
        "license_statement": rdf("licenseLine"),
        "license_url": lic_url,
        "copyright_holder": cp_holder,
        "copyright_statement": cp_stmt,
        "copyright_year": cp_year,
        "publication_date": pub_date.dumps() if pub_date else None,
        "publisher": rdf("publisher") or "Elsevier B.V.",
        "error": None,
    }


def extract_elsevier_references(root: ET.Element) -> list[dict]:
    """bib-reference -> structured rows (elsevier.py:595-686 semantics).

    Same output shape as parsers.jats.JATS_REFERENCE. Notable reference
    behaviors pinned by the expected YMLs: the contribution title is NOT
    extracted (the reference's xpath looks for a direct ./title child that
    Elsevier nests under <contribution>); suffixes drop from author names;
    editors come from <editors> blocks only.
    """
    refs = []
    for bib in root.iter("bib-reference"):
        label_el = bib.find("label")
        label = (label_el.text or "").strip("[]") if label_el is not None else None
        for citation in list(bib):
            if citation.tag not in ("reference", "other-ref"):
                continue

            def xp_string(path):
                el = citation.find(path)
                return "".join(el.itertext()).strip() if el is not None else None

            journal_title = xp_string(".//series/title/maintitle")
            parent_title = None
            for parent_tag in ("edited-book", "book"):
                for pb in citation.iter(parent_tag):
                    mt = pb.find("./title/maintitle")
                    if mt is not None:
                        parent_title = "".join(mt.itertext()).strip()
            year_t = xp_string(".//date") or ""
            fp = xp_string(".//pages/first-page")
            lp = xp_string(".//pages/last-page")
            artid = xp_string(".//article-number")
            doi = xp_string(".//doi")
            if not doi:
                # add_uid also accepts DOI-bearing urls from inter-ref
                inter = xp_string(".//inter-ref") or ""
                m = re.search(r"10\.\d{4,}/\S+", inter)
                if m:
                    doi = m.group(0)

            # authors only from ./contribution/authors/author, editors only
            # from .//editors/authors/author (reference elsevier.py:559,577 —
            # author lists under host/edited-book/book are NOT reference
            # authors). The reference joins "given surname" into one string
            # and re-splits it, so a multi-part surname's leading pieces
            # migrate into given names ("L" + "O'C Drury" -> "Drury, L. O'C")
            author_nodes = [
                (a, False)
                for a in citation.findall("./contribution/authors/author")
            ] + [
                (a, True)
                for a in citation.findall(".//editors/authors/author")
            ]
            authors, editors = [], []
            for a, is_editor in author_nodes:
                given = "".join(
                    a.find("given-name").itertext()
                ).strip() if a.find("given-name") is not None else ""
                sur = "".join(
                    a.find("surname").itertext()
                ).strip() if a.find("surname") is not None else ""
                toks = f"{given} {sur}".replace("’", "'").split()
                if not toks:
                    continue
                particles = {"de", "van", "von", "der", "del", "di", "da", "la", "le"}
                # a particle token starts the surname and it runs to the end
                # ('F. De Oliveira Santos' -> 'De Oliveira Santos, F.')
                i = next(
                    (j for j in range(1, len(toks)) if toks[j].lower() in particles),
                    len(toks) - 1,
                )
                surname = " ".join(toks[i:])
                given_part = dot_single_initials_py(" ".join(toks[:i]))
                # collapse spaces between dotted initials, case-insensitive
                # ('C.m. c.' -> 'C.m.c.')
                given_part = re.sub(r"([A-Za-z]\.)\s+(?=[A-Za-z]\.)", r"\1", given_part)
                full = f"{surname}, {given_part}".rstrip(", ")
                (editors if is_editor else authors).append(full)

            refs.append(
                {
                    "label": label,
                    "title": None,  # reference impl never matches nested titles
                    "authors": authors,
                    "editors": editors,
                    "journal_title": journal_title,
                    "parent_title": parent_title,
                    "publisher": xp_string("./publisher/name"),
                    "journal_volume": xp_string(".//volume-nr"),
                    "journal_issue": xp_string(".//issue-nr"),
                    "year": int(year_t) if year_t.isdigit() else None,
                    "page_start": fp,
                    "page_end": lp,
                    "artid": artid,
                    "dois": [doi] if doi else [],
                    "arxiv_ids": [],
                    "raw_ref": None,
                }
            )
    return refs


def parse_elsevier_body(body: bytes | str, url: str | None = None) -> list[dict]:
    try:
        if isinstance(body, (bytes, bytearray)):
            body = body.decode("utf-8")
        body = re.sub(r"<!DOCTYPE[^>]*>", "", body)
        root = ET.fromstring(body)
        _strip_ns(root)
        return [parse_elsevier_record(root, url)]
    except Exception as exc:
        empty = {f.name: None for f in ELSEVIER_RECORD.fields}
        empty.update({"url": url, "error": repr(exc)})
        return [empty]


@pandas_udf(ArrayType(ELSEVIER_RECORD))
def parse_elsevier_udf(urls: pd.Series, bodies: pd.Series) -> pd.Series:
    return pd.Series(
        [parse_elsevier_body(b, u) if b is not None else [] for u, b in zip(urls, bodies)]
    )


def parse_elsevier_pages(pages: DataFrame) -> DataFrame:
    return explode_records(pages, parse_elsevier_udf)
