"""Publisher parsers: each turns one response body into ``array<struct>``
records in an Arrow UDF, and ``explode_records`` makes them rows."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_records(pages: DataFrame, parse_udf) -> DataFrame:
    """pages(url, html, ...) -> one row per record ``parse_udf`` returns.

    The generator and the UDF must share one ``select``. Exploded from an
    aliased column of an earlier ``select``, the array gets an inferred
    ``size(recs) > 0`` filter that is pushed below the alias, and the UDF is
    planned twice: once for that filter, whose result is discarded, once
    for the explode."""
    return pages.select(F.explode(parse_udf("url", "html")).alias("r")).select("r.*")
