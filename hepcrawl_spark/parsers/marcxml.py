"""MARC21 XML (Hindawi / CDS OAI feeds) -> record structs (F5).

Semantics rebuilt from the reference Hindawi spider's field mapping
(hepcrawl/spiders/hindawi_spider.py:100-240) against
tests/unit/responses/hindawi/test_1.xml. A generic datafield/subfield
reader plus the HEP field mapping:

  024$a (where $2 contains DOI) -> dois        100/700$a,$u -> authors
  245$a -> title                               260$b,$c -> source, date
  300$a -> page_nr                             520$a -> abstract
  540$a,$u -> license text/url                 542$f -> copyright
  773$p,$a,$y,$n,$c -> publication info        856$u / FFT$a -> urls
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

from ..functions.text import split_fullname_py
from . import explode_records

MARC_AUTHOR = StructType(
    [
        StructField("full_name", StringType()),
        StructField("surname", StringType()),
        StructField("given_names", StringType()),
        StructField("affiliations", ArrayType(StringType())),
    ]
)

MARC_RECORD = StructType(
    [
        StructField("url", StringType()),
        StructField("source", StringType()),
        StructField("identifier", StringType()),
        StructField("title", StringType()),
        StructField("abstract", StringType()),
        StructField("authors", ArrayType(MARC_AUTHOR)),
        StructField("dois", ArrayType(StringType())),
        StructField("date_published", StringType()),
        StructField("page_nr", StringType()),
        StructField("journal_title", StringType()),
        StructField("journal_volume", StringType()),
        StructField("journal_year", IntegerType()),
        StructField("journal_issue", StringType()),
        StructField("journal_fpage", StringType()),
        StructField("journal_lpage", StringType()),
        StructField("copyright_statement", StringType()),
        StructField("copyright_year", StringType()),
        StructField("license", StringType()),
        StructField("license_url", StringType()),
        StructField("splash_urls", ArrayType(StringType())),
        StructField("pdf_urls", ArrayType(StringType())),
        StructField("xml_urls", ArrayType(StringType())),
        StructField("error", StringType()),
    ]
)


def _strip_ns(root: ET.Element) -> None:
    for el in root.iter():
        if isinstance(el.tag, str) and "}" in el.tag:
            el.tag = el.tag.split("}", 1)[1]


class Marc:
    """Minimal datafield/subfield accessor over one <record> element."""

    def __init__(self, record_el: ET.Element):
        self.fields: list[tuple[str, dict[str, list[str]]]] = []
        for df in record_el.iter("datafield"):
            subs: dict[str, list[str]] = {}
            for sf in df.findall("subfield"):
                subs.setdefault(sf.get("code", ""), []).append(sf.text or "")
            self.fields.append((df.get("tag", ""), subs))

    def values(self, tag: str, code: str) -> list[str]:
        out = []
        for t, subs in self.fields:
            if t == tag:
                out.extend(subs.get(code, []))
        return out

    def first(self, tag: str, code: str) -> str | None:
        vals = self.values(tag, code)
        return vals[0] if vals else None

    def datafields(self, tag: str):
        return [subs for t, subs in self.fields if t == tag]


def parse_marc_record(record_el: ET.Element, url: str | None = None) -> dict:
    m = Marc(record_el)

    authors = []
    for tag in ("100", "700"):  # U1: first author ∪ other authors
        for subs in m.datafields(tag):
            raw = (subs.get("a") or [None])[0]
            if not raw:
                continue
            surname, given = split_fullname_py(raw)
            authors.append(
                {
                    "full_name": raw,
                    "surname": surname,
                    "given_names": given,
                    "affiliations": [a for a in subs.get("u", []) if a],
                }
            )

    dois = []
    for subs in m.datafields("024"):
        if any("DOI" in s for s in subs.get("2", [])):
            dois.extend(a for a in subs.get("a", []) if a)

    pages = m.first("773", "c") or ""
    if "-" in pages:
        fpage, lpage = pages.split("-", 1)
    else:
        fpage, lpage = pages, ""

    cr = m.first("542", "f")
    cr_year = "".join(c for c in cr if c.isdigit()) if cr else None

    # U2: link-set union + dedup, then differentiate by kind
    links = sorted(set(m.values("856", "u") + m.values("FFT", "a")))
    pdf = [l for l in links if "pdf" in l.lower()]
    xml = [l for l in links if "pdf" not in l.lower() and "xml" in l.lower()]
    splash = [
        l for l in links
        if "pdf" not in l.lower() and "xml" not in l.lower() and "dx.doi.org" in l.lower()
    ]

    jy = m.first("773", "y")

    return {
        "url": url,
        "source": m.first("260", "b"),
        "identifier": None,
        "title": m.first("245", "a"),
        "abstract": m.first("520", "a"),
        "authors": authors,
        "dois": dois,
        "date_published": m.first("260", "c"),
        "page_nr": m.first("300", "a"),
        "journal_title": m.first("773", "p"),
        "journal_volume": m.first("773", "a"),
        "journal_year": int(jy) if jy and jy.strip().isdigit() else None,
        "journal_issue": m.first("773", "n"),
        "journal_fpage": fpage or None,
        "journal_lpage": lpage or None,
        "copyright_statement": cr,
        "copyright_year": cr_year,
        "license": m.first("540", "a"),
        "license_url": m.first("540", "u"),
        "splash_urls": splash,
        "pdf_urls": pdf,
        "xml_urls": xml,
        "error": None,
    }


def parse_marcxml_body(body: bytes | str, url: str | None = None) -> list[dict]:
    """OAI feed or bare MARCXML; one body -> N records (UDTF pattern)."""
    try:
        if isinstance(body, (bytes, bytearray)):
            body = body.decode("utf-8")
        body = re.sub(r"<!DOCTYPE[^>]*>", "", body)
        root = ET.fromstring(body)
        _strip_ns(root)
        # marc records live under metadata/record (OAI) or are the root
        marc_records = [
            el for el in root.iter("record") if el.find("datafield") is not None
        ]
        if not marc_records and root.tag == "record":
            marc_records = [root]
        out = []
        for rec in marc_records:
            out.append(parse_marc_record(rec, url))
        # attach OAI identifiers when present (header order matches records)
        headers = [
            h for h in root.iter("header") if h.find("identifier") is not None
        ]
        for row, h in zip(out, headers):
            row["identifier"] = h.find("identifier").text
        return out
    except Exception as exc:
        empty = {f.name: None for f in MARC_RECORD.fields}
        empty.update({"url": url, "error": repr(exc)})
        return [empty]


@pandas_udf(ArrayType(MARC_RECORD))
def parse_marcxml_udf(urls: pd.Series, bodies: pd.Series) -> pd.Series:
    return pd.Series(
        [parse_marcxml_body(b, u) if b is not None else [] for u, b in zip(urls, bodies)]
    )


def parse_marcxml_pages(pages: DataFrame) -> DataFrame:
    return explode_records(pages, parse_marcxml_udf)
