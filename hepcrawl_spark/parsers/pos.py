"""PoS (Proceedings of Science) OAI pex-dc XML -> record structs (F5).

Semantics rebuilt from the reference spider's observable behavior
(hepcrawl/spiders/pos_spider.py:60-352) against
tests/unit/responses/pos/sample_pos_record.xml:

- identifier ``PoS(LATTICE 2013)001`` splits into journal 'PoS',
  volume 'LATTICE 2013', artid '001'
- authors: free-form names -> (surname, given) with initials collapsed
- English is dropped from ``language`` (F6, pos_spider.py:347-352)
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

from ..functions.text import collapse_initials_py, split_fullname_py
from . import explode_records

POS_AUTHOR = StructType(
    [
        StructField("full_name", StringType()),
        StructField("affiliations", ArrayType(StringType())),
    ]
)

POS_RECORD = StructType(
    [
        StructField("url", StringType()),
        StructField("source", StringType()),
        StructField("identifier", StringType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("authors", ArrayType(POS_AUTHOR)),
        StructField("journal_title", StringType()),
        StructField("journal_volume", StringType()),
        StructField("artid", StringType()),
        StructField("year", IntegerType()),
        StructField("date_published", StringType()),
        StructField("language", StringType()),
        StructField("license_text", StringType()),
        StructField("document_type", StringType()),
        StructField("error", StringType()),
    ]
)

_ID_RE = re.compile(r"PoS\(([^)]+)\)(\S+)")


def _strip_ns(root: ET.Element) -> None:
    for el in root.iter():
        if isinstance(el.tag, str) and "}" in el.tag:
            el.tag = el.tag.split("}", 1)[1]


def _t(el):
    return el.text if el is not None else None


def parse_pos_record(record: ET.Element, url: str | None = None) -> dict:
    md = record.find(".//pex-dc")
    if md is None:
        md = record

    identifier = _t(md.find("identifier"))
    journal_title = journal_volume = artid = None
    if identifier:
        m = _ID_RE.search(identifier)
        if m:
            journal_title = "PoS"
            journal_volume = m.group(1)
            artid = m.group(2)

    date = _t(md.find("date")) or ""
    year = int(date[:4]) if len(date) >= 4 and date[:4].isdigit() else None

    authors = []
    for creator in md.findall("creator"):
        name = _t(creator.find("name"))
        if not name:
            continue
        surname, given = split_fullname_py(name)
        given = collapse_initials_py(given)
        full = f"{surname}, {given}".rstrip(", ") if given else surname
        affs = [a.text for a in creator.findall("affiliation") if a.text]
        authors.append({"full_name": full, "affiliations": affs})

    lang = _t(md.find("language"))
    if lang == "en":  # F6: English dropped
        lang = None

    return {
        "url": url,
        "source": _t(md.find("publisher")),
        "identifier": identifier,
        "title": _t(md.find("title")),
        "description": _t(md.find("description")),
        "authors": authors,
        "journal_title": journal_title,
        "journal_volume": journal_volume,
        "artid": artid,
        "year": year,
        "date_published": date[:10] if date else None,
        "language": lang,
        "license_text": _t(md.find("rights")),
        "document_type": "conference paper",
        "error": None,
    }


def parse_pos_body(body: bytes | str, url: str | None = None) -> list[dict]:
    try:
        if isinstance(body, (bytes, bytearray)):
            body = body.decode("utf-8")
        body = re.sub(r"<!DOCTYPE[^>]*>", "", body)
        root = ET.fromstring(body)
        _strip_ns(root)
        records = root.findall(".//record")
        if not records and root.find(".//pex-dc") is not None:
            records = [root]
        return [parse_pos_record(r, url) for r in records]
    except Exception as exc:
        empty = {f.name: None for f in POS_RECORD.fields}
        empty.update({"url": url, "error": repr(exc)})
        return [empty]


@pandas_udf(ArrayType(POS_RECORD))
def parse_pos_udf(urls: pd.Series, bodies: pd.Series) -> pd.Series:
    return pd.Series(
        [parse_pos_body(b, u) if b is not None else [] for u, b in zip(urls, bodies)]
    )


def parse_pos_pages(pages: DataFrame) -> DataFrame:
    return explode_records(pages, parse_pos_udf)
