"""spark-submit packaging: the zip imports standalone, the job CLI parses."""

import os
import subprocess

import pytest
import sys
import zipfile


def test_zip_builds_and_imports(tmp_path):
    from tools.make_submit import build_zip

    out = build_zip(str(tmp_path / "pkg.zip"))
    names = zipfile.ZipFile(out).namelist()
    assert "hepcrawl_spark/crawl/frontier.py" in names
    assert "hepcrawl_spark/sources/merge_store.py" in names
    assert "hepcrawl_spark/_zipcache.py" in names
    # determinism: same tree -> same bytes
    out2 = build_zip(str(tmp_path / "pkg2.zip"))
    assert open(out, "rb").read() == open(out2, "rb").read()
    # the zip must import WITHOUT the repo on sys.path (the --py-files
    # contract: executors see only the zip). pandas_udf modules import
    # lazily/session-free, so a plain import is the real check.
    code = (
        f"import sys; sys.path.insert(0, {out!r}); "
        "import hepcrawl_spark.crawl.frontier as fr; "
        "import hepcrawl_spark.operators.components; "
        "import hepcrawl_spark.parsers.sitemap; "
        "import hepcrawl_spark._zipcache as zc; "
        f"assert zc.__file__.startswith({out!r}), zc.__file__; "
        "print(fr.CrawlConfig().filter_mode)"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd="/tmp"
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "auto"


def test_committed_zip_matches_a_fresh_build(tmp_path):
    """dist/hepcrawl_spark.zip is committed: rebuild it with
    ``python tools/make_submit.py`` whenever hepcrawl_spark/ changes."""
    from tools.make_submit import ROOT, build_zip

    fresh = build_zip(str(tmp_path / "fresh.zip"))
    committed = os.path.join(ROOT, "dist", "hepcrawl_spark.zip")
    assert open(fresh, "rb").read() == open(committed, "rb").read()


def test_job_cli_parses():
    from jobs.crawl_job import parse_args

    a = parse_args(
        ["--pages", "/p", "--seeds", "/s", "--state", "/st",
         "--filter-mode", "bloom_table", "--seen-store", "merge",
         "--snapshot-every", "5", "--resume"]
    )
    assert a.filter_mode == "bloom_table" and a.seen_store == "merge"
    assert a.snapshot_every == 5 and a.resume


def test_spark_submit_py_files_end_to_end(tmp_path):
    """The north rule's deployment sentence, executed literally: build the
    zip, spark-submit the job with --py-files, run a 2-iteration crawl with
    the merge seen-store, parse the JSON result line."""
    import json
    import os
    import shutil

    if shutil.which("spark-submit") is None:
        pytest.skip("spark-submit not on PATH")
    from tools.make_submit import build_zip

    from hepcrawl_spark.session import get_spark
    from hepcrawl_spark.sources.pages import synthesize_corpus
    import pyspark.sql.functions as F

    spark = get_spark()
    c = synthesize_corpus(spark, n_pages=400, n_hosts=6, links_per_page=3)
    c.write.mode("overwrite").parquet(str(tmp_path / "pages"))
    c.orderBy("page_id").limit(8).select(
        "url", "host", F.lit(1.0).alias("priority"),
        F.col("warc_ts").alias("discovered_ts"),
    ).write.mode("overwrite").parquet(str(tmp_path / "seeds"))

    z = build_zip(str(tmp_path / "pkg.zip"))
    out = subprocess.run(
        ["spark-submit", "--master", "local[4]", "--py-files", z,
         os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs/crawl_job.py"),
         "--pages", str(tmp_path / "pages"), "--seeds", str(tmp_path / "seeds"),
         "--state", str(tmp_path / "state"), "--iterations", "2",
         "--max-per-host", "10", "--salt", "1", "--filter-mode", "none",
         "--seen-store", "merge", "--snapshot-every", "2"],
        capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    assert res["iterations"] == 2 and res["fetched"] > 8
