"""Every ``parse_*_pages`` runs its Arrow UDF once per page.

Aliasing the UDF's array in one ``select`` and exploding it in the next lets
Catalyst infer ``size(recs) > 0`` under the ``Generate``, push it through the
alias and plan a second ``ArrowEvalPython`` for that filter alone.
``parsers.explode_records`` keeps the UDF and the generator in one
``select``; these tests pin the plan shape and that the rows are the ones
the two-``select`` chain returned.

Bodies come from the committed golden pages where a source has them (the
fixture files the parser tests read) and are small inline documents
otherwise.
"""

import os
import re
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hepcrawl_spark.parsers import aps, arxiv, crossref, desy, edp_rich, elsevier
from hepcrawl_spark.parsers import jats, marcxml, nlm, pos

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")

APS_JSON = (
    b'{"data": [{"identifiers": {"doi": "10.1103/PhysRevD.1.1"},'
    b' "title": {"value": "A <i>title</i>"}, "date": "2020-01-02",'
    b' "authors": [{"type": "Person", "name": "A. Author",'
    b' "surname": "Author", "firstname": "A."}]}]}'
)
DESY_JSONL = (
    b'{"titles": [{"title": "T", "source": "S"}], "dois": [{"value": "10.1/x"}]}\n'
    b"This is not actually JSONL\n"
)
NLM_XML = (
    b"<ArticleSet><Article><Journal><JournalTitle>J</JournalTitle></Journal>"
    b"<ArticleTitle>T</ArticleTitle></Article></ArticleSet>"
)
POS_XML = b"<records><record><metadata><pex-dc><title>T</title></pex-dc></metadata></record></records>"
EDP_XML = b"<EDPSArticle><ArticleID><Article_Title>T</Article_Title></ArticleID></EDPSArticle>"

# parse_*_pages, its UDF, and where its page body comes from
CASES = {
    "arxiv": (arxiv.parse_arxiv_pages, arxiv.parse_arxiv_udf, "arxiv"),
    "elsevier": (elsevier.parse_elsevier_pages, elsevier.parse_elsevier_udf, "elsevier"),
    "crossref": (crossref.parse_crossref_pages, crossref.parse_crossref_udf, "crossref"),
    "jats": (jats.parse_jats_pages, jats.parse_jats_udf, "aps"),
    "jats_references": (
        jats.parse_jats_references_pages,
        jats.parse_jats_references_udf,
        "aps",
    ),
    "marcxml": (marcxml.parse_marcxml_pages, marcxml.parse_marcxml_udf, "hindawi"),
    "aps": (aps.parse_aps_pages, aps.parse_aps_udf, APS_JSON),
    "nlm": (nlm.parse_nlm_pages, nlm.parse_nlm_udf, NLM_XML),
    "pos": (pos.parse_pos_pages, pos.parse_pos_udf, POS_XML),
    "edp_rich": (edp_rich.parse_edp_rich_pages, edp_rich.parse_edp_rich_udf, EDP_XML),
    "desy": (desy.parse_desy_pages, desy.parse_desy_udf, DESY_JSONL),
}


def _pages(spark, body):
    """One-page frame: ``body`` itself, or the smallest page of a golden
    pages fixture when ``body`` names one."""
    if isinstance(body, str):
        rows = pq.read_table(f"{FIXTURES}/{body}_golden_pages.parquet").to_pylist()
        page = min(rows, key=lambda r: len(r["html"]))
        url, body = page["url"], page["html"]
    else:
        url = "https://example.org/page"
    return spark.createDataFrame([(url, body)], "url string, html binary")


def _plan_nodes(df) -> Counter:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return Counter(re.findall(r"^[\s:+|-]*(\w+)", plan, re.M))


@pytest.mark.parametrize("name", CASES)
def test_parser_plans_one_python_evaluation(spark, name):
    parse_pages, _, body = CASES[name]
    nodes = _plan_nodes(parse_pages(_pages(spark, body)))
    assert nodes["ArrowEvalPython"] == 1, nodes
    assert nodes["Generate"] == 1, nodes


@pytest.mark.parametrize("name", CASES)
def test_parser_rows_match_the_two_select_chain(spark, name):
    parse_pages, parse_udf, body = CASES[name]
    pages = _pages(spark, body)
    chained = (
        pages.select(parse_udf("url", "html").alias("recs"))
        .select(F.explode("recs").alias("r"))
        .select("r.*")
    )
    got = parse_pages(pages)
    assert got.schema == chained.schema
    rows = sorted(map(repr, got.collect()))
    assert rows and rows == sorted(map(repr, chained.collect()))
