"""EDP Sciences legacy 'rich' EDPSArticle XML -> record structs (F5).

Semantics rebuilt from the reference spider's rich path
(hepcrawl/spiders/edp_spider.py:221-315, 518-615) against
tests/unit/responses/edp/rich.xml. The JATS sibling format goes through
parsers/jats.py.
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

from . import explode_records

EDP_AUTHOR = StructType(
    [
        StructField("full_name", StringType()),
        StructField("surname", StringType()),
        StructField("given_names", StringType()),
        StructField("affiliations", ArrayType(StringType())),
    ]
)

EDP_RECORD = StructType(
    [
        StructField("url", StringType()),
        StructField("source", StringType()),
        StructField("title", StringType()),
        StructField("subtitle", StringType()),
        StructField("abstract", StringType()),
        StructField("authors", ArrayType(EDP_AUTHOR)),
        StructField("dois", ArrayType(StringType())),
        StructField("article_type", StringType()),
        StructField("journal_title", StringType()),
        StructField("journal_volume", StringType()),
        StructField("journal_issue", StringType()),
        StructField("journal_year", IntegerType()),
        StructField("journal_fpage", StringType()),
        StructField("journal_lpage", StringType()),
        StructField("page_nr", StringType()),
        StructField("date_published", StringType()),
        StructField("keywords", ArrayType(StringType())),
        StructField("copyright_holder", StringType()),
        StructField("error", StringType()),
    ]
)


def _t(el):
    return el.text if el is not None else None


def _string_tex(el: ET.Element | None) -> str | None:
    """Text with inline <Formula Notation="TeX"> CDATA kept verbatim
    ('II. $K$ band spectroscopy')."""
    if el is None:
        return None
    return "".join(el.itertext()).strip()


def parse_edp_rich_article(art: ET.Element, url: str | None = None) -> dict:
    # journal title: first of JournalShortTitle|JournalTitle in DOCUMENT
    # order (scrapy xpath-union semantics; fixture has JournalTitle first)
    jt = next(
        (el for el in art.iter()
         if el.tag in ("JournalShortTitle", "JournalTitle")),
        None,
    )

    year_el = _t(art.find(".//IssueID/Year")) or _t(art.find(".//Year"))
    month = _t(art.find(".//MonthNumber"))
    date_published = year_el or ""
    if date_published and month:
        date_published += "-" + month

    fpage = _t(art.find(".//FirstPage"))
    lpage = _t(art.find(".//LastPage"))
    page_nr = (
        str(int(lpage) - int(fpage) + 1)
        if fpage and lpage and fpage.isdigit() and lpage.isdigit()
        else None
    )

    aff_by_id = {}
    for aff in art.iter("Affiliation"):
        aid = aff.get("ID")
        un = aff.find("UnstructuredAffiliation")
        if aid and un is not None:
            # loader collapses whitespace in affiliations (C4)
            aff_by_id[aid] = re.sub(r"\s+", " ", _string_tex(un)).strip()

    authors = []
    for contrib in art.iter("Author"):
        surname = _t(contrib.find(".//LastName"))
        fname = _t(contrib.find(".//FirstName"))
        mname = _t(contrib.find(".//MiddleName"))
        given = fname or ""
        if fname and mname:
            given = f"{fname} {mname}"
        rid = contrib.find("AffiliationID")
        affs = []
        if rid is not None and rid.get("Label") in aff_by_id:
            affs = [aff_by_id[rid.get("Label")]]
        # full_name with initials collapsed ('J. S.' -> 'J.S.')
        given_c = re.sub(r"([A-Z]\.)[\s\-]+(?=[A-Z]\.)", r"\1", given)
        full = f"{surname}, {given_c}".rstrip(", ") if surname else given_c
        authors.append(
            {
                "full_name": full,
                "surname": surname,
                "given_names": given,
                "affiliations": affs,
            }
        )

    dois = [d.text for d in art.iter("DOI") if d.text]

    return {
        "url": url,
        "source": "EDP Sciences",
        "title": _string_tex(art.find(".//ArticleTitle/Title")),
        "subtitle": _string_tex(art.find(".//ArticleTitle/Subtitle")),
        "abstract": _string_tex(art.find(".//Abstract")),
        "authors": authors,
        "dois": dois,
        "article_type": (art.find("ArticleID").get("Type")
                         if art.find("ArticleID") is not None else None),
        "journal_title": _t(jt),
        "journal_volume": _t(art.find(".//IssueID/Volume")),
        "journal_issue": _t(art.find(".//IssueID/Issue")),
        "journal_year": int(year_el) if year_el and year_el.isdigit() else None,
        "journal_fpage": fpage,
        "journal_lpage": lpage,
        "page_nr": page_nr,
        "date_published": date_published or None,
        "keywords": [k.text.strip() for k in art.iter("Keyword") if k.text],
        "copyright_holder": _t(art.find(".//Copyright")),
        "error": None,
    }


def parse_edp_rich_body(body: bytes | str, url: str | None = None) -> list[dict]:
    try:
        if isinstance(body, (bytes, bytearray)):
            body = body.decode("utf-8")
        body = re.sub(r"<!DOCTYPE[^>]*>", "", body)
        root = ET.fromstring(body)
        arts = [root] if root.tag == "EDPSArticle" else root.findall(".//EDPSArticle")
        return [parse_edp_rich_article(a, url) for a in arts]
    except Exception as exc:
        empty = {f.name: None for f in EDP_RECORD.fields}
        empty.update({"url": url, "error": repr(exc)})
        return [empty]


@pandas_udf(ArrayType(EDP_RECORD))
def parse_edp_rich_udf(urls: pd.Series, bodies: pd.Series) -> pd.Series:
    return pd.Series(
        [parse_edp_rich_body(b, u) if b is not None else [] for u, b in zip(urls, bodies)]
    )


def parse_edp_rich_pages(pages: DataFrame) -> DataFrame:
    return explode_records(pages, parse_edp_rich_udf)
