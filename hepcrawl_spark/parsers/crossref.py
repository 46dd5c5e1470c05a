"""Crossref works-API JSON -> record structs, vectorized pandas UDF (S11/F5).

Semantics rebuilt from the reference parser's observable behavior
(hepcrawl/parsers/crossref.py:46-301) against the golden fixtures
tests/unit/responses/crossref/*_expected.yml.
"""

from __future__ import annotations

import json
import re

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

from ..functions.text import collapse_initials_py, dot_single_initials_py
from . import explode_records

# public crossref type taxonomy -> inspire document types
DOC_TYPE_MAP = {
    "book": "book", "book-part": "book chapter", "book-section": "book chapter",
    "book-series": "book", "book-set": "book", "book-track": "book chapter",
    "book-chapter": "book chapter", "dissertation": "thesis",
    "edited-book": "book", "journal-article": "article",
    "journal-volume": "article", "journal": "article", "monograph": "book",
    "proceedings": "proceedings", "proceedings-article": "conference paper",
    "other": "note", "reference-book": "book", "report": "report",
    "report-series": "report",
}

CROSSREF_AUTHOR = StructType(
    [
        StructField("full_name", StringType()),
        StructField("affiliations", ArrayType(StringType())),
        StructField("orcid", StringType()),
    ]
)

CROSSREF_RECORD = StructType(
    [
        StructField("url", StringType()),
        StructField("source", StringType()),
        StructField("doi", StringType()),
        StructField("title", StringType()),
        StructField("subtitle", StringType()),
        StructField("abstract", StringType()),
        StructField("material", StringType()),
        StructField("document_type", StringType()),
        StructField("authors", ArrayType(CROSSREF_AUTHOR)),
        StructField("journal_title", StringType()),
        StructField("journal_volume", StringType()),
        StructField("journal_issue", StringType()),
        StructField("artid", StringType()),
        StructField("page_start", StringType()),
        StructField("page_end", StringType()),
        StructField("year", IntegerType()),
        StructField("imprint_date", StringType()),
        StructField("publisher", StringType()),
        StructField("license_urls", ArrayType(StringType())),
        StructField("parent_isbn", StringType()),
        StructField("error", StringType()),
    ]
)


def _material(title: str | None, subtitle: str | None) -> str:
    t, s = title or "", subtitle or ""
    if t.startswith("Erratum") or s.startswith("Erratum"):
        return "erratum"
    if t.startswith("Addendum") or s.startswith("Addendum"):
        return "addendum"
    if t.startswith("Publisher's Note") or s.startswith("Publisher's Note"):
        return "editorial note"
    return "publication"


def _dumps_partial(date_parts: list) -> str | None:
    if not date_parts:
        return None
    pieces = [int(p) for p in date_parts if p is not None]
    if not pieces:
        return None
    fmt = ["{:04d}", "{:02d}", "{:02d}"]
    return "-".join(f.format(v) for f, v in zip(fmt, pieces))


def parse_crossref_record(payload: dict, url: str | None = None) -> dict:
    msg = payload.get("message", payload)
    title = (msg.get("title") or [None])[0]
    subtitle = (msg.get("subtitle") or [None])[0]
    material = _material(title, subtitle)

    pages = msg.get("page")
    page_start = pages.split("-")[0] if pages else None
    page_end = pages.split("-")[1] if pages and "-" in pages else None

    date_parts = ((msg.get("issued") or {}).get("date-parts") or [[]])[0]
    year = date_parts[0] if date_parts else None

    authors = []
    for a in msg.get("author") or []:
        given = a.get("given")
        if given:
            given = dot_single_initials_py(given)
        name = ", ".join(filter(None, [a.get("family"), given]))
        affs = [x.get("name") for x in a.get("affiliation") or [] if x.get("name")]
        authors.append(
            {
                "full_name": collapse_initials_py(name),
                "affiliations": affs,
                "orcid": a.get("ORCID"),
            }
        )

    doc_type = DOC_TYPE_MAP.get(msg.get("type"), "article")
    journal_title = None
    if doc_type != "book chapter":
        journal_title = (msg.get("container-title") or [None])[0]

    return {
        "url": url,
        "source": msg.get("source"),
        "doi": msg.get("DOI"),
        "title": title,
        "subtitle": subtitle,
        "abstract": msg.get("abstract"),
        "material": material,
        "document_type": doc_type,
        "authors": authors,
        "journal_title": journal_title,
        "journal_volume": msg.get("volume"),
        "journal_issue": msg.get("issue"),
        "artid": msg.get("article-number"),
        "page_start": page_start,
        "page_end": page_end,
        "year": int(year) if year is not None else None,
        "imprint_date": _dumps_partial(date_parts),
        "publisher": msg.get("publisher"),
        "license_urls": [
            l.get("URL") for l in msg.get("license") or [] if l.get("URL")
        ],
        "parent_isbn": (msg.get("ISBN") or [None])[0],
        "error": None,
    }


def parse_crossref_body(body: bytes | str, url: str | None = None) -> list[dict]:
    try:
        if isinstance(body, (bytes, bytearray)):
            body = body.decode("utf-8")
        return [parse_crossref_record(json.loads(body), url)]
    except Exception as exc:
        empty = {f.name: None for f in CROSSREF_RECORD.fields}
        empty.update({"url": url, "error": repr(exc)})
        return [empty]


@pandas_udf(ArrayType(CROSSREF_RECORD))
def parse_crossref_udf(urls: pd.Series, bodies: pd.Series) -> pd.Series:
    return pd.Series(
        [parse_crossref_body(b, u) if b is not None else [] for u, b in zip(urls, bodies)]
    )


def parse_crossref_pages(pages: DataFrame) -> DataFrame:
    return explode_records(pages, parse_crossref_udf)
