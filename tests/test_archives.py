"""Archive member scans (S4-S6) against the reference's REAL package
fixtures (read-only) plus pack/explode round-trip properties.

Reference parity targets:
- unzip_xml_files  (reference/hepcrawl/utils.py:44-54)  — zip, *.xml
- EDP untar_files  (edp_spider.py:205-219)              — tar.gz/bz2, *.xml
- IOP untar_files  (iop_spider.py:132-147)              — tar.gz, *.pdf,
  flattened to basename
"""

import io
import tarfile
import zipfile

import pyspark.sql.functions as F
import pytest

from hepcrawl_spark.sources.archives import (
    explode_archive_members,
    pack_tar_by_group,
    pack_zip_by_group,
)
from tests.conftest import FIXTURES, needs_reference


def _one_blob_df(spark, path, extra=None):
    with open(path, "rb") as f:
        blob = f.read()
    return spark.createDataFrame(
        [(extra or path.rsplit("/", 1)[-1], bytearray(blob))],
        "source_file string, payload binary",
    )


@needs_reference("edp/test_gz.tar.gz")
def test_edp_targz_xml_members_match_tarfile(spark):
    path = f"{FIXTURES}/edp/test_gz.tar.gz"
    got = explode_archive_members(
        _one_blob_df(spark, path), fmt="tar", suffix=".xml"
    ).collect()
    with tarfile.open(path) as tar:
        expected = {
            m.path: tar.extractfile(m).read()
            for m in tar.getmembers()
            if m.isfile() and m.path.endswith(".xml")
        }
    assert {r["member_name"]: bytes(r["member_bytes"]) for r in got} == expected
    assert all(r["source_file"] == "test_gz.tar.gz" for r in got)


@needs_reference("edp/test_rich.tar.bz2")
def test_edp_tarbz2_autodetects_compression(spark):
    path = f"{FIXTURES}/edp/test_rich.tar.bz2"
    got = explode_archive_members(
        _one_blob_df(spark, path), fmt="tar", suffix=".xml"
    ).collect()
    with tarfile.open(path) as tar:
        expected = {
            m.path
            for m in tar.getmembers()
            if m.isfile() and m.path.endswith(".xml")
        }
    assert {r["member_name"] for r in got} == expected
    assert len(got) >= 1


@needs_reference("iop/packages/test.tar.gz")
def test_iop_targz_pdf_members_flattened(spark):
    path = f"{FIXTURES}/iop/packages/test.tar.gz"
    with tarfile.open(path) as tar:
        names = [m.path for m in tar.getmembers() if m.isfile()]
    pdfs = [n for n in names if n.endswith(".pdf")]
    got = explode_archive_members(
        _one_blob_df(spark, path), fmt="tar", suffix=".pdf", flatten=True
    ).collect()
    assert sorted(r["member_name"] for r in got) == sorted(
        n.rsplit("/", 1)[-1] for n in pdfs
    )
    # xml members excluded by the in-decoder suffix filter
    xml_got = explode_archive_members(
        _one_blob_df(spark, path), fmt="tar", suffix=".xml"
    ).collect()
    assert sorted(r["member_name"] for r in xml_got) == sorted(
        n for n in names if n.endswith(".xml")
    )


@needs_reference("world_scientific/wsp_record.xml")
def test_wsp_style_zip_member_feeds_jats_parser(spark):
    """The S4 pipeline end-to-end: a WSP-shaped zip (the reference fixture
    xml zipped in-memory) -> binary column -> member scan -> JATS parser."""
    fixture = f"{FIXTURES}/world_scientific/wsp_record.xml"
    with open(fixture, "rb") as f:
        body = f.read()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("2024-03-01/wsp_record.xml", body)
        z.writestr("2024-03-01/readme.txt", b"not xml")
    archives = spark.createDataFrame(
        [("pkg1.zip", bytearray(buf.getvalue()))],
        "package string, payload binary",
    )
    members = explode_archive_members(archives, fmt="zip", suffix=".xml")
    rows = members.collect()
    assert [r["member_name"] for r in rows] == ["2024-03-01/wsp_record.xml"]
    assert bytes(rows[0]["member_bytes"]) == body

    from hepcrawl_spark.parsers.jats import parse_jats_pages

    pages = members.select(
        F.col("member_name").alias("url"),
        F.current_timestamp().alias("warc_ts"),
        F.decode(F.col("member_bytes"), "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    parsed = parse_jats_pages(pages).collect()
    assert len(parsed) == 1
    assert parsed[0]["title"]  # real parse, not a stub


def test_pack_explode_roundtrip_zip_and_tar(spark):
    docs = spark.range(0, 40).select(
        (F.col("id") % 4).alias("g"),
        F.concat(F.lit("m_"), F.col("id").cast("string"), F.lit(".xml")).alias("name"),
        F.concat(F.lit("content-"), F.sha2(F.col("id").cast("string"), 256)).alias("c"),
    )
    for packer, fmt in ((pack_zip_by_group, "zip"), (pack_tar_by_group, "tar")):
        packed = packer(docs, "g", "name", "c")
        assert packed.count() == 4
        back = explode_archive_members(packed, fmt=fmt, suffix=".xml")
        got = {
            r["member_name"]: bytes(r["member_bytes"]).decode()
            for r in back.collect()
        }
        want = {r["name"]: r["c"] for r in docs.collect()}
        assert got == want


def test_pack_is_deterministic(spark):
    docs = spark.range(0, 20).select(
        (F.col("id") % 2).alias("g"),
        F.concat(F.lit("m_"), F.col("id").cast("string")).alias("name"),
        F.col("id").cast("string").alias("c"),
    )
    for packer in (pack_zip_by_group, pack_tar_by_group):
        a = {r["g"]: bytes(r["payload"]) for r in packer(docs, "g", "name", "c").collect()}
        b = {r["g"]: bytes(r["payload"]) for r in packer(docs, "g", "name", "c").collect()}
        assert a == b


def test_bad_format_rejected(spark):
    df = spark.createDataFrame([("x", bytearray(b""))], "a string, payload binary")
    with pytest.raises(ValueError):
        explode_archive_members(df, fmt="rar")
