"""F2/F4 predicates, J4 back-join, S12 feed parser unit tests."""

import glob
import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from hepcrawl_spark.operators.filters import (
    harvest_worthy,
    needs_pdf_fetch,
    split_by_open_access,
)
from hepcrawl_spark.operators.records import patch_document_urls
from hepcrawl_spark.parsers.consyn_feed import (
    parse_batch_feed_body,
    parse_batch_feed_pages,
)
from tests.conftest import FIXTURES

GOLDEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")

COLS = "article_type string, title string, journal_title string, journal_volume string, artid string, page_start string"


def test_harvest_worthy_each_leg_of_the_conjunction(spark):
    rows = [
        # harvest-worthy: allowlisted type + all fields + artid
        ("full-length article", "T", "J", "1", "a1", None, True),
        # page_start substitutes for artid (reference: artid OR page_start)
        ("review article", "T", "J", "1", None, "12", True),
        # type not in allowlist
        ("book review", "T", "J", "1", "a1", None, False),
        # empty title is falsy (python truthiness, not just NULL)
        ("erratum", "", "J", "1", "a1", None, False),
        ("erratum", None, "J", "1", "a1", None, False),
        # missing volume
        ("chapter", "T", "J", None, "a1", None, False),
        # neither artid nor page_start
        ("discussion", "T", "J", "1", None, None, False),
        ("discussion", "T", "J", "1", "", "", False),
    ]
    df = spark.createDataFrame(
        [r[:6] for r in rows], COLS
    ).withColumn("i", F.monotonically_increasing_id())
    got = [r["h"] for r in df.withColumn("h", harvest_worthy()).orderBy("i").collect()]
    assert got == [r[6] for r in rows]


def test_real_elsevier_fixture_is_harvest_worthy(spark):
    """A real full-length NIMA article must pass the F2 gate end-to-end.

    The body is the reference fixture ``elsevier/j.nima.2019.162728.xml``,
    committed verbatim in ``fixtures/elsevier_golden_pages.parquet`` by
    ``tools/make_fixture_tables.py``; where the reference is present, the
    committed copy is checked against it byte for byte."""
    from hepcrawl_spark.parsers.elsevier import parse_elsevier_pages

    (raw,) = pq.read_table(
        f"{GOLDEN}/elsevier_golden_pages.parquet",
        columns=["html"],
        filters=[("url", "==", "https://consyn.elsevier.com/golden/j.nima.2019.162728")],
    ).column("html").to_pylist()
    path = f"{FIXTURES}/elsevier/j.nima.2019.162728.xml"
    if os.path.exists(path):
        with open(path, "rb") as f:
            assert f.read() == raw
    body = raw.decode("utf-8")
    pages = spark.createDataFrame(
        [("u", body)], "url string, html string"
    ).select("url", F.current_timestamp().alias("warc_ts"), "html",
             F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"))
    parsed = parse_elsevier_pages(pages)
    flagged = parsed.withColumn("h", harvest_worthy()).collect()
    assert len(flagged) == 1 and flagged[0]["h"] is True


def test_open_access_split(spark):
    df = spark.createDataFrame(
        [
            ("10.1051/x", "EPJ Web of Conferences"),  # pdf branch
            (None, "EPJ Web of Conferences"),         # no doi -> direct
            ("10.1051/y", "Physics Letters B"),       # not OA -> direct
            ("", "EPJ Web of Conferences"),           # empty doi -> direct
        ],
        "doi string, journal_title string",
    )
    pdf, direct = split_by_open_access(df)
    assert pdf.count() == 1 and direct.count() == 3
    assert df.withColumn("n", needs_pdf_fetch()).filter("n").count() == 1


def test_patch_document_urls_reference_semantics(spark):
    records = spark.createDataFrame(
        [
            # matched by basename of old_url -> repoint
            (1, [{"url": "https://cdn/1/a.pdf", "old_url": "https://pub/1/a.pdf", "key": None}]),
            # lookup nonempty, no file -> url restored to old_url
            (2, [{"url": "https://cdn/2/b.pdf", "old_url": "https://pub/2/b.pdf", "key": "kk"}]),
            # old_url NULL -> lookup falls back to url; no match -> url KEPT
            # (never silently nulled; reference raises on missing old_url)
            (3, [{"url": "https://cdn/3/c.txt", "old_url": None, "key": "k3"}]),
            # existing key preserved on match
            (4, [{"url": "https://cdn/4/d.pdf", "old_url": "https://pub/4/d.pdf", "key": "keep"}]),
        ],
        "record_id int, documents array<struct<url string, old_url string, key string>>",
    )
    files = spark.createDataFrame(
        [(1, "files/a.pdf", "s3://store/a.pdf"), (4, "deep/dir/d.pdf", "s3://store/d.pdf")],
        "record_id int, name string, path string",
    )
    got = {
        r["record_id"]: r["documents"][0].asDict()
        for r in patch_document_urls(records, files).collect()
    }
    assert got[1] == {"url": "s3://store/a.pdf", "old_url": "https://cdn/1/a.pdf", "key": "a.pdf"}
    assert got[2] == {"url": "https://pub/2/b.pdf", "old_url": "https://pub/2/b.pdf", "key": "kk"}
    assert got[3] == {"url": "https://cdn/3/c.txt", "old_url": None, "key": "k3"}
    assert got[4] == {"url": "s3://store/d.pdf", "old_url": "https://cdn/4/d.pdf", "key": "keep"}


def test_patch_empty_and_null_documents_unchanged(spark):
    """posexplode_outer's (null,null) row must not become a junk
    struct-of-nulls document: [] stays [], NULL stays NULL (round-2
    ADVICE repro)."""
    records = spark.createDataFrame(
        [
            (1, []),
            (2, None),
            (3, [{"url": "https://cdn/3/e.pdf", "old_url": "https://pub/3/e.pdf", "key": None}]),
        ],
        "record_id int, documents array<struct<url string, old_url string, key string>>",
    )
    files = spark.createDataFrame(
        [(3, "e.pdf", "s3://s/e.pdf")], "record_id int, name string, path string"
    )
    got = {r["record_id"]: r["documents"] for r in patch_document_urls(records, files).collect()}
    assert got[1] == []
    assert got[2] is None
    assert got[3][0]["url"] == "s3://s/e.pdf"


def test_patch_preserves_document_order(spark):
    docs = [{"url": f"https://cdn/m{i}.pdf", "old_url": f"https://pub/m{i}.pdf", "key": None} for i in range(6)]
    records = spark.createDataFrame(
        [(9, docs)],
        "record_id int, documents array<struct<url string, old_url string, key string>>",
    )
    files = spark.createDataFrame(
        [(9, f"m{i}.pdf", f"s3://s/m{i}.pdf") for i in (1, 4)],
        "record_id int, name string, path string",
    )
    out = patch_document_urls(records, files).collect()[0]["documents"]
    assert [d["url"].rsplit("/", 1)[-1] for d in out] == [
        "m0.pdf", "m1.pdf", "m2.pdf", "m3.pdf", "m4.pdf", "m5.pdf"
    ]
    assert out[1]["url"].startswith("s3://") and out[4]["url"].startswith("s3://")
    assert not out[0]["url"].startswith("s3://")


ATOM_FEED = """<feed xmlns="http://www.w3.org/2005/Atom">
  <title>CONSYN batch</title>
  <entry><title>PKG-A.zip</title><link href="https://api/x/PKG-A.zip"/></entry>
  <entry><title>PKG-B.zip</title><link href="https://api/x/PKG-B.zip"/></entry>
  <entry><title>PKG-A.zip</title><link href="https://api/y/PKG-A.zip"/></entry>
</feed>"""


def test_batch_feed_namespace_and_last_wins():
    got = {d["name"]: d["url"] for d in parse_batch_feed_body(ATOM_FEED)}
    # duplicate name keeps the LAST link (reference dict(zip(...)))
    assert got == {
        "PKG-A.zip": "https://api/y/PKG-A.zip",
        "PKG-B.zip": "https://api/x/PKG-B.zip",
    }
    # identical result without the namespace
    got2 = {d["name"]: d["url"] for d in parse_batch_feed_body(
        ATOM_FEED.replace(' xmlns="http://www.w3.org/2005/Atom"', "")
    )}
    assert got2 == got


def test_batch_feed_pages_explode(spark):
    feeds = spark.createDataFrame([("f1", ATOM_FEED)], "feed string, body string")
    rows = parse_batch_feed_pages(feeds).orderBy("name").collect()
    assert [(r["feed"], r["name"]) for r in rows] == [
        ("f1", "PKG-A.zip"), ("f1", "PKG-B.zip")
    ]
