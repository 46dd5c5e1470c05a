"""Whole-record tohep normalization — golden parity with the reference's
own fixtures (reference/tests/unit/responses/tohep/*.yaml, the DeepDiff
oracle of reference/tests/unit/test_tohep.py)."""

import json

import pyspark.sql.functions as F
import pytest
import yaml

from hepcrawl_spark.tohep import (
    get_license_from_url,
    hep_to_hep,
    hepcrawl_to_hep,
    normalize_collaboration,
    normalize_hepcrawl_record,
    tohep_normalize_pages,
)
from tests.conftest import FIXTURES, needs_reference

TOHEP = f"{FIXTURES}/tohep"
GENERIC = needs_reference(
    "tohep/in_generic_crawler_record.yaml", "tohep/out_generic_crawler_record.yaml"
)


def _load(name):
    with open(f"{TOHEP}/{name}") as f:
        return yaml.safe_load(f)


@GENERIC
def test_generic_crawler_record_golden():
    produced = hepcrawl_to_hep(_load("in_generic_crawler_record.yaml"))
    assert produced == _load("out_generic_crawler_record.yaml")


@needs_reference("tohep/in_no_document_type.yaml", "tohep/out_no_document_type.yaml")
def test_no_document_type_golden():
    produced = hepcrawl_to_hep(_load("in_no_document_type.yaml"))
    assert produced == _load("out_no_document_type.yaml")


def test_license_from_url():
    assert get_license_from_url("http://creativecommons.org/licenses/by/3.0/") == "CC BY 3.0"
    assert get_license_from_url("https://creativecommons.org/licenses/by-nc-sa/4.0") == "CC BY-NC-SA 4.0"
    assert (
        get_license_from_url("http://arxiv.org/licenses/nonexclusive-distrib/1.0/")
        == "arXiv nonexclusive-distrib 1.0"
    )
    assert get_license_from_url("https://creativecommons.org/publicdomain/zero/1.0/") == "CC0 zero 1.0"
    assert get_license_from_url(None) is None
    with pytest.raises(ValueError):
        get_license_from_url("https://example.org/license")


def test_normalize_collaboration():
    assert normalize_collaboration("OSQAR Collaboration") == ["OSQAR"]
    assert normalize_collaboration("The ATLAS Collaboration") == ["ATLAS"]
    assert normalize_collaboration("CMS and LHCb Collaborations") == ["CMS", "LHCb"]
    assert normalize_collaboration("(D0)") == ["D0"]
    assert normalize_collaboration(None) == []


def test_normalize_hepcrawl_record_flat_to_nested():
    item = {
        "title": "T",
        "abstract": "A",
        "date_published": "2020-01-02",
        "copyright_holder": "H",
        "journal_title": "JHEP",
        "journal_year": "2020",
        "journal_fpage": "1",
        "related_article_doi": [{"value": "10.1/x"}],
        "dois": [{"value": "10.1/y"}],
    }
    out = normalize_hepcrawl_record(item, source="WSP")
    assert out["titles"] == [{"title": "T", "subtitle": "", "source": "WSP"}]
    assert out["abstracts"] == [{"value": "A", "source": "WSP"}]
    assert out["imprints"] == [{"date": "2020-01-02"}]
    assert out["copyright"][0]["holder"] == "H"
    pub = out["publication_info"][0]
    assert pub["journal_title"] == "JHEP" and pub["year"] == 2020
    assert pub["page_start"] == "1"
    assert [d["value"] for d in out["dois"]] == ["10.1/y", "10.1/x"]
    assert "journal_title" not in out and "title" not in out


def test_normalize_without_pubinfo_sets_no_publication_info():
    out = normalize_hepcrawl_record({"title": "T"}, source="S")
    assert "publication_info" not in out


def test_hep_to_hep_documents_patch_matches_j4_semantics():
    rec = {
        "documents": [
            {"url": "https://pub/a.pdf", "key": "a.pdf"},
            {"url": "https://pub/miss.pdf", "old_url": "https://orig/miss.pdf"},
        ]
    }
    files = [{"name": "dir/a.pdf", "path": "/store/a.pdf"}]
    out = hep_to_hep(rec, files)
    assert out["documents"][0]["url"] == "/store/a.pdf"
    assert out["documents"][0]["old_url"] == "https://pub/a.pdf"
    # unmatched nonempty lookup restores old_url
    assert out["documents"][1]["url"] == "https://orig/miss.pdf"
    # no files -> untouched
    assert hep_to_hep({"documents": [{"url": "u"}]}, []) == {"documents": [{"url": "u"}]}
    # unmatched doc with url but NO old_url keeps its url (never nulled)
    out2 = hep_to_hep(
        {"documents": [{"url": "https://pub/only.pdf"}]},
        [{"name": "other.pdf", "path": "/store/other.pdf"}],
    )
    assert out2["documents"][0]["url"] == "https://pub/only.pdf"
    # old_url key present but None behaves the same as absent
    out3 = hep_to_hep(
        {"documents": [{"url": "https://pub/o2.pdf", "old_url": None}]},
        [{"name": "other.pdf", "path": "/store/other.pdf"}],
    )
    assert out3["documents"][0]["url"] == "https://pub/o2.pdf"


@GENERIC
def test_tohep_normalize_pages_spark_surface(spark):
    crawler = _load("in_generic_crawler_record.yaml")
    df = spark.createDataFrame(
        [("r1", json.dumps(crawler))], "record_id string, record_json string"
    )
    rows = tohep_normalize_pages(df).collect()
    assert len(rows) == 1
    r = rows[0]
    hep = json.loads(r["hep_json"])
    assert hep == _load("out_generic_crawler_record.yaml")
    assert r["license_name"] == "CC BY 3.0"
    assert r["collaborations"] == "OSQAR"
    assert r["document_types"] == "book,book chapter,conference paper"
    assert r["journal_title"] == "Phys. Rev. E"
    assert r["year"] == "2015"
    assert r["number_of_pages"] == "11"


def test_two_stage_lifecycle_flat_item_through_spark(spark):
    """Flat spider item -> normalize -> hepcrawl_to_hep in one pass."""
    item = {
        "title": "Flat title",
        "abstract": "Flat abstract",
        "journal_title": "PRD",
        "journal_year": "2021",
        "journal_artid": "052801",
        "page_nr": ["7"],
        "acquisition_source": {
            "source": "WSP", "method": "hepcrawl",
            "datetime": "2021-01-01T00:00:00", "submission_number": "j1",
        },
    }
    df = spark.createDataFrame(
        [("r2", json.dumps(item))], "record_id string, record_json string"
    )
    r = tohep_normalize_pages(df, pre_normalize_source="WSP").collect()[0]
    hep = json.loads(r["hep_json"])
    assert hep["titles"] == [{"title": "Flat title", "source": "WSP"}]
    assert hep["publication_info"] == [
        {"artid": "052801", "journal_title": "PRD", "year": 2021}
    ]
    assert hep["number_of_pages"] == 7
    assert hep["document_type"] == ["article"]
    assert hep["_collections"] == ["Literature"] and hep["curated"] is False


@needs_reference("desy/jap133.3.jsonl", "desy/desy_records_from_jsonlines_expected.json")
def test_desy_pipeline_whole_record_parity():
    """The reference desy pipeline (test_desy.py:96-117 DeepDiff oracle):
    already-hep jsonl records pass through hep_to_hep untouched (no files)
    and gain an acquisition_source. Whole-record equality with the
    reference's expected fixture."""
    from hepcrawl_spark.parsers.desy import parse_desy_body

    base = f"{FIXTURES}/desy"
    with open(f"{base}/jap133.3.jsonl", "rb") as f:
        parsed = parse_desy_body(f.read())
    with open(f"{base}/desy_records_from_jsonlines_expected.json") as f:
        expected = json.load(f)
    records = [json.loads(r["record_json"]) for r in parsed if not r.get("error")]
    for rec, exp in zip(records, expected):
        rec = hep_to_hep(rec, record_files=[])
        rec["acquisition_source"] = {
            "source": "desy",
            "method": "hepcrawl",
            "submission_number": exp["acquisition_source"]["submission_number"],
            "datetime": exp["acquisition_source"]["datetime"],
        }
        assert rec == exp
