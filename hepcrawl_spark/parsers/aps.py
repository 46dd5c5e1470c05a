"""APS REST-API JSON -> record structs (S10/S11 fallback path).

Semantics rebuilt from the reference's JSON fallback parser
(hepcrawl/spiders/aps_spider.py:135-213) against
tests/unit/responses/aps/aps_single_response.json. The XML path is JATS —
see parsers/jats.py (APS golden fixtures pass through it).
"""

from __future__ import annotations

import json

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

from ..functions.text import strip_tags_keep_mathml_py
from . import explode_records

APS_AUTHOR = StructType(
    [
        StructField("raw_name", StringType()),
        StructField("surname", StringType()),
        StructField("given_names", StringType()),
        StructField("affiliations", ArrayType(StringType())),
    ]
)

APS_RECORD = StructType(
    [
        StructField("url", StringType()),
        StructField("source", StringType()),
        StructField("doi", StringType()),
        StructField("title", StringType()),
        StructField("abstract", StringType()),
        StructField("page_nr", IntegerType()),
        StructField("authors", ArrayType(APS_AUTHOR)),
        StructField("collaborations", ArrayType(StringType())),
        StructField("journal_title", StringType()),
        StructField("journal_issue", StringType()),
        StructField("journal_volume", StringType()),
        StructField("journal_year", IntegerType()),
        StructField("date_published", StringType()),
        StructField("copyright_holder", StringType()),
        StructField("copyright_year", StringType()),
        StructField("copyright_statement", StringType()),
        StructField("license_url", StringType()),
        StructField("error", StringType()),
    ]
)


def parse_aps_article(article: dict, url: str | None = None) -> dict:
    # J3: affiliation id -> name lookup (build_dict, utils.py:210-217)
    affs_by_id = {a["id"]: a for a in article.get("affiliations", [])}
    authors, collaborations = [], []
    for a in article.get("authors", []):
        if a.get("type") == "Person":
            author_affs = [
                affs_by_id[i]["name"]
                for i in a.get("affiliationIds", [])
                if i in affs_by_id
            ]
            authors.append(
                {
                    "raw_name": a.get("name", ""),
                    "surname": a.get("surname", ""),
                    "given_names": a.get("firstname", ""),
                    "affiliations": author_affs,
                }
            )
        elif a.get("type") == "Collaboration":
            collaborations.append(a.get("name"))

    rights = article.get("rights", {})
    holders = rights.get("copyrightHolders") or [{}]
    licenses = rights.get("licenses") or [{}]
    date = article.get("date", "")
    num_pages = article.get("numPages", -1)

    return {
        "url": url,
        "source": "APS",
        "doi": (article.get("identifiers") or {}).get("doi", ""),
        "title": strip_tags_keep_mathml_py((article.get("title") or {}).get("value", "")),
        "abstract": strip_tags_keep_mathml_py(
            (article.get("abstract") or {}).get("value", "")
        ),
        "page_nr": num_pages if num_pages and num_pages > 0 else None,
        "authors": authors,
        "collaborations": collaborations,
        "journal_title": (article.get("journal") or {}).get("abbreviatedName", ""),
        "journal_issue": (article.get("issue") or {}).get("number", ""),
        "journal_volume": (article.get("volume") or {}).get("number", ""),
        "journal_year": int(date[:4]) if len(date) >= 4 and date[:4].isdigit() else None,
        "date_published": date,
        "copyright_holder": holders[0].get("name", "") if holders else "",
        "copyright_year": str(rights.get("copyrightYear", "")),
        "copyright_statement": rights.get("rightsStatement", ""),
        "license_url": licenses[0].get("url", "") if licenses else "",
        "error": None,
    }


def parse_aps_body(body: bytes | str, url: str | None = None) -> list[dict]:
    """One API response page holds many articles under 'data' (per_page=100,
    aps_spider.py:56) -> UDTF pattern."""
    try:
        if isinstance(body, (bytes, bytearray)):
            body = body.decode("utf-8")
        payload = json.loads(body)
        articles = payload.get("data", [payload] if "authors" in payload else [])
        return [parse_aps_article(a, url) for a in articles]
    except Exception as exc:
        empty = {f.name: None for f in APS_RECORD.fields}
        empty.update({"url": url, "error": repr(exc)})
        return [empty]


@pandas_udf(ArrayType(APS_RECORD))
def parse_aps_udf(urls: pd.Series, bodies: pd.Series) -> pd.Series:
    return pd.Series(
        [parse_aps_body(b, u) if b is not None else [] for u, b in zip(urls, bodies)]
    )


def parse_aps_pages(pages: DataFrame) -> DataFrame:
    return explode_records(pages, parse_aps_udf)
