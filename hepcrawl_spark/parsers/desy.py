"""Desy JSONL -> record rows (S13), vectorized pandas UDF.

The reference (hepcrawl/spiders/desy_spider.py:185-231) splits the body on
newlines, json.loads each line, keeps already-HEP records as-is, and emits an
error item (exception + traceback + source_data) for malformed lines —
the E2 error-row-preservation semantics this module reproduces. Spark
mapping: one body -> array<row> + explode; bad lines become rows with
``error``/``source_data`` set and everything else null.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from . import explode_records

DESY_RECORD = StructType(
    [
        StructField("url", StringType()),
        StructField("source", StringType()),
        StructField("title", StringType()),
        StructField("abstract", StringType()),
        StructField("dois", ArrayType(StringType())),
        StructField("document_type", ArrayType(StringType())),
        StructField("record_json", StringType()),   # full record, canonical JSON
        StructField("error", StringType()),
        StructField("source_data", StringType()),
    ]
)


def parse_desy_line(line: str, url: str | None = None) -> dict | None:
    line = line.strip()
    if not line:
        return None
    base = {f.name: None for f in DESY_RECORD.fields}
    base["url"] = url
    try:
        rec = json.loads(line)
        if not isinstance(rec, dict):
            raise ValueError(f"expected object, got {type(rec).__name__}")
        titles = rec.get("titles") or []
        abstracts = rec.get("abstracts") or []
        base.update(
            {
                "source": (titles[0].get("source") if titles else None),
                "title": (titles[0].get("title") if titles else None),
                "abstract": (abstracts[0].get("value") if abstracts else None),
                "dois": [d.get("value") for d in rec.get("dois") or [] if d.get("value")],
                "document_type": rec.get("document_type") or [],
                "record_json": json.dumps(rec, sort_keys=True, ensure_ascii=False),
            }
        )
        return base
    except ValueError as exc:
        # error row preserved (desy_spider.py:196-210)
        base["error"] = f"ValueError: {exc}"
        base["source_data"] = line
        return base


def parse_desy_body(body: bytes | str, url: str | None = None) -> list[dict]:
    if isinstance(body, (bytes, bytearray)):
        body = body.decode("utf-8")
    out = []
    for line in body.split("\n"):
        row = parse_desy_line(line, url)
        if row is not None:
            out.append(row)
    return out


@pandas_udf(ArrayType(DESY_RECORD))
def parse_desy_udf(urls: pd.Series, bodies: pd.Series) -> pd.Series:
    return pd.Series(
        [parse_desy_body(b, u) if b is not None else [] for u, b in zip(urls, bodies)]
    )


def parse_desy_pages(pages: DataFrame) -> DataFrame:
    return explode_records(pages, parse_desy_udf)
