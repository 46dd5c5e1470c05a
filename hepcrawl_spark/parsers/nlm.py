"""NLM PubMed-style XML (IOP packages) -> record structs (F5).

Semantics rebuilt from the reference extractor's observable behavior
(hepcrawl/extractors/nlm.py:19-240 + hepcrawl/spiders/iop_spider.py:150-230)
against tests/unit/responses/iop/xml/test_standard.xml.
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

from ..functions.text import collapse_whitespace_py
from . import explode_records

NLM_AUTHOR = StructType(
    [
        StructField("full_name", StringType()),
        StructField("surname", StringType()),
        StructField("given_names", StringType()),
        StructField("affiliations", ArrayType(StringType())),
    ]
)

NLM_RECORD = StructType(
    [
        StructField("url", StringType()),
        StructField("source", StringType()),
        StructField("title", StringType()),
        StructField("abstract", StringType()),
        StructField("authors", ArrayType(NLM_AUTHOR)),
        StructField("dois", ArrayType(StringType())),
        StructField("related_article_doi", StringType()),
        StructField("journal_title", StringType()),
        StructField("journal_volume", StringType()),
        StructField("journal_issue", StringType()),
        StructField("journal_issn", ArrayType(StringType())),
        StructField("journal_year", IntegerType()),
        StructField("journal_fpage", StringType()),
        StructField("journal_lpage", StringType()),
        StructField("page_nr", StringType()),
        StructField("date_published", StringType()),
        StructField("pub_status", StringType()),
        StructField("doctype", StringType()),
        StructField("language", StringType()),
        StructField("copyright_holder", StringType()),
        StructField("copyright_statement", StringType()),
        StructField("error", StringType()),
    ]
)

# F3: statuses that must not be harvested (iop_spider.py:170-172)
DROP_PUB_STATUSES = {"aheadofprint", "received"}


def _t(el: ET.Element | None) -> str | None:
    return el.text if el is not None else None


def _string(el: ET.Element | None) -> str:
    return "".join(el.itertext()) if el is not None else ""


def parse_nlm_article(art: ET.Element, url: str | None = None) -> dict:
    journal = art.find(".//Journal")

    authors = []
    for a in art.findall(".//AuthorList//Author"):
        surname = _t(a.find("LastName")) or ""
        first = _t(a.find("FirstName"))
        middle = _t(a.find("MiddleName"))
        given = f"{first} {middle}" if first and middle else (first or "")
        # the loader pipeline collapses whitespace in affiliations (C4)
        affs = [collapse_whitespace_py(_string(x)) for x in a.findall(".//Affiliation")]
        full = f"{surname}, {given}" if given else surname
        authors.append(
            {
                "full_name": full,
                "surname": surname,
                "given_names": given,
                "affiliations": affs,
            }
        )

    dois = [
        el.text
        for el in art.findall(".//ArticleIdList/ArticleId[@IdType='doi']")
        if el.text
    ]
    if not dois:
        dois = [
            el.text for el in art.findall(".//ELocationID[@EIdType='doi']") if el.text
        ]

    pd_el = journal.find("PubDate") if journal is not None else None
    y = _t(pd_el.find("Year")) if pd_el is not None else None
    mo = _t(pd_el.find("Month")) if pd_el is not None else None
    d = _t(pd_el.find("Day")) if pd_el is not None else None
    date_published = ""
    if y:
        date_published = y
    if mo:
        date_published += "-" + mo
    if d:
        date_published += "-" + d

    fpage = _t(art.find(".//FirstPage"))
    lpage = _t(art.find(".//LastPage"))
    page_nr = (
        str(int(lpage) - int(fpage) + 1)
        if fpage and lpage and fpage.isdigit() and lpage.isdigit()
        else ""
    )

    return {
        "url": url,
        "source": "IOP",
        "title": _string(art.find(".//ArticleTitle")).strip() or None,
        "abstract": _string(art.find(".//Abstract")).strip() or None,
        "authors": authors,
        "dois": dois,
        "related_article_doi": _t(art.find(".//Replaces[@IdType='doi']")),
        "journal_title": _t(journal.find("JournalTitle")) if journal is not None else None,
        "journal_volume": _t(journal.find("Volume")) if journal is not None else None,
        "journal_issue": _t(journal.find("Issue")) if journal is not None else None,
        "journal_issn": [
            e.text for e in (journal.findall("Issn") if journal is not None else []) if e.text
        ],
        "journal_year": int(y) if y and y.isdigit() else None,
        "journal_fpage": fpage,
        "journal_lpage": lpage,
        "page_nr": page_nr or None,
        "date_published": date_published or None,
        "pub_status": pd_el.get("PubStatus") if pd_el is not None else None,
        "doctype": _t(art.find(".//PublicationType")),
        "language": _t(art.find(".//Language")),
        "copyright_holder": _t(art.find(".//Journal/PublisherName")),
        "copyright_statement": _t(art.find(".//CopyrightInformation")),
        "error": None,
    }


def parse_nlm_body(
    body: bytes | str, url: str | None = None, drop_statuses: bool = True
) -> list[dict]:
    try:
        if isinstance(body, (bytes, bytearray)):
            body = body.decode("utf-8")
        body = re.sub(r"<!DOCTYPE[^>]*>", "", body)
        root = ET.fromstring(body)
        articles = [root] if root.tag == "Article" else root.findall(".//Article")
        out = []
        for art in articles:
            rec = parse_nlm_article(art, url)
            if drop_statuses and rec["pub_status"] in DROP_PUB_STATUSES:
                continue  # F3
            out.append(rec)
        return out
    except Exception as exc:
        empty = {f.name: None for f in NLM_RECORD.fields}
        empty.update({"url": url, "error": repr(exc)})
        return [empty]


@pandas_udf(ArrayType(NLM_RECORD))
def parse_nlm_udf(urls: pd.Series, bodies: pd.Series) -> pd.Series:
    return pd.Series(
        [parse_nlm_body(b, u) if b is not None else [] for u, b in zip(urls, bodies)]
    )


def parse_nlm_pages(pages: DataFrame) -> DataFrame:
    return explode_records(pages, parse_nlm_udf)
