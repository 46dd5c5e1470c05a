"""hepcrawl_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch rebuild of the query/data-processing capabilities of
inspirehep/hepcrawl (reference at /root/reference, read-only), re-expressed
Spark-first: DataFrame/Catalyst plans, broadcast Bloom (+ cuckoo) URL-seen
dedup, per-host politeness windows with salting, robots gating, vectorized
pandas/Arrow parse UDFs, and an iterative DataFrame fixpoint crawl loop over
parquet-backed (Iceberg-style snapshotted) tables of Common-Crawl-style pages.

Layout:
  session     SparkSession factory with scale-tuned configs
  _zipcache   workers re-read a zip archive only when it changed
  schemas     canonical StructTypes (pages, frontier, url_seen, records, ...)
  functions/  scalar column functions (urls, text, hashing, latex, shaping)
  operators/  dedup (exact/sharded-bloom/cuckoo/minhash/simhash/jaccard),
              politeness, filters (harvest gates), records (document
              back-join), similarity search, text analysis
  sources/    page-corpus synthesis, snapshotted parquet table store,
              archives (zip/tar member scans)
  parsers/    per-format vectorized parse UDFs (arxiv OAI, JATS/WSP/APS/EDP,
              Elsevier, NLM, Desy JSONL, Crossref, MARCXML, APS JSON, PoS,
              EDP rich, CONSYN batch feed)
  tohep       whole-record normalization to the INSPIRE hep schema
  crawl/      the frontier fixpoint driver loop (checkpoint/resume, metrics)
  streaming/  Structured Streaming twins (windowed aggs, dedup-within-
              watermark, stateful per-host crawl budget)
"""

# imported first, so a Python worker that unpickles any UDF of this package
# stops re-reading its zip archives at every task start (see _zipcache)
from . import _zipcache  # noqa: F401

__version__ = "0.1.0"
