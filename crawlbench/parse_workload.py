"""parse-feeds: the reference-fixture pages of five publisher feeds,
replicated under distinct urls and parsed into HEPRecord rows.

This is Arrow-UDF parsing with no frontier work.  One pass calls the five
``parse_*_pages`` functions in turn, each after the previous one returned,
and collects a digest of every record; a pass is one closed-loop
operation.  Bodies range from 2 KB to 1.1 MB, so task skew and the cost of
crossing the Python-UDF boundary both show.
"""

from __future__ import annotations

import json
import os
import random
import time
from collections import defaultdict
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hepcrawl_spark.parsers.arxiv import parse_arxiv_body, parse_arxiv_pages, parse_arxiv_udf
from hepcrawl_spark.parsers.crossref import (
    parse_crossref_body,
    parse_crossref_pages,
    parse_crossref_udf,
)
from hepcrawl_spark.parsers.elsevier import (
    parse_elsevier_body,
    parse_elsevier_pages,
    parse_elsevier_udf,
)
from hepcrawl_spark.parsers.jats import (
    WSP_ALLOWED_ARTICLE_TYPES,
    parse_jats_body,
    parse_jats_pages,
    parse_jats_udf,
)
from hepcrawl_spark.parsers.marcxml import (
    parse_marcxml_body,
    parse_marcxml_pages,
    parse_marcxml_udf,
)

from . import harness as H
from .eventlog import find_log, read_events, window_stats

REPLICAS = 10
DRIVER_REPS = 3
# source -> (pages parser, in-process body parser, golden query, its columns)
SOURCES = {
    "arxiv": (parse_arxiv_pages, parse_arxiv_body, "f5x_arxiv_golden", "_ARX_GOLD_COLS"),
    "elsevier": (parse_elsevier_pages, parse_elsevier_body, "f5y_elsevier_golden", "_ELS_GOLD_COLS"),
    "crossref": (parse_crossref_pages, parse_crossref_body, "f5z_crossref_golden", "_CR_GOLD_COLS"),
    "aps": (
        parse_jats_pages,
        lambda body, url: parse_jats_body(body, url, WSP_ALLOWED_ARTICLE_TYPES),
        "f5w_aps_golden",
        "_APS_GOLD_COLS",
    ),
    "hindawi": (parse_marcxml_pages, parse_marcxml_body, "f5v_hindawi_golden", "_HW_GOLD_COLS"),
}
UDFS = (parse_arxiv_udf, parse_elsevier_udf, parse_crossref_udf, parse_jats_udf, parse_marcxml_udf)


def _fixture(src: str) -> str:
    return os.path.join(H.ROOT, "fixtures", f"{src}_golden_pages.parquet")


def _partition(pages: list[tuple[str, int]], n: int, seed: int) -> list[list[str]]:
    """(url, body bytes) -> n lists of urls.  Largest body first onto the
    partition with the fewest bytes, so every task gets about the same
    bytes whatever the seed.  The seed breaks ties between equal bodies,
    rotates the partitions and orders the urls inside each partition."""
    rng = random.Random(seed)
    keyed = sorted(pages, key=lambda p: (-p[1], rng.random()))
    parts: list[list[str]] = [[] for _ in range(n)]
    load = [0] * n
    shift = seed % n
    for url, size in keyed:
        p = min(range(n), key=lambda i: (load[i], (i - shift) % n))
        parts[p].append(url)
        load[p] += size
    for part in parts:
        rng.shuffle(part)
    return parts


def _partition_keys(spark, n: int) -> list[int]:
    """One integer per partition id: hash repartitioning into ``n``
    partitions sends key ``keys[p]`` to partition ``p`` (Spark places a row
    at pmod(murmur3(key), n), which ``F.hash`` computes)."""
    keys: dict[int, int] = {}
    for r in spark.range(16 * n).select("id", F.pmod(F.hash("id"), F.lit(n)).alias("p")).collect():
        keys.setdefault(r["p"], r["id"])
    return [keys[p] for p in range(n)]


def make_inputs(spark, seed: int) -> dict:
    """Each source's pages times ``REPLICAS``, one partition per core;
    replica 0 keeps the fixture urls, replica r appends ``#r<r>``.  The
    replicas are laid out in the driver and handed to Spark as one Arrow
    table per source."""
    n = H.slots()
    keys = _partition_keys(spark, n)
    tables = {}
    for src in SOURCES:
        fixture = pq.read_table(_fixture(src), columns=["url", "html", "warc_ts"])
        sizes = [len(b) for b in fixture.column("html").to_pylist()]
        row_of = {
            url + (f"#r{k}" if k else ""): j
            for k in range(REPLICAS)
            for j, url in enumerate(fixture.column("url").to_pylist())
        }
        urls, key, pos = [], [], []
        for p, part in enumerate(
            _partition([(u, sizes[j]) for u, j in row_of.items()], n, seed)
        ):
            urls += part
            key += [keys[p]] * len(part)
            pos += range(len(part))
        laid_out = (
            fixture.take(pa.array([row_of[u] for u in urls]))
            .set_column(0, "url", pa.array(urls))
            .append_column("_key", pa.array(key, pa.int64()))
            .append_column("_pos", pa.array(pos, pa.int32()))
        )
        table = (
            spark.createDataFrame(laid_out)
            .repartition(n, "_key")
            .sortWithinPartitions("_pos")
            .drop("_key", "_pos")
            .persist()
        )
        table.count()
        tables[src] = table
    return tables


def _digest(records):
    fields = [c for c in records.columns if c != "url"]
    return F.md5(F.to_json(F.struct(*fields)))


def parse_pass(tables: dict) -> list[tuple]:
    """One closed-loop pass: -> [(source, url, record digest, is_error)]."""
    rows = []
    for src, (pages_fn, *_) in SOURCES.items():
        recs = pages_fn(tables[src])
        rows += [
            (src, r[0], r[1], r[2])
            for r in recs.select("url", _digest(recs), F.col("error").isNotNull()).collect()
        ]
    return rows


def _norm(value, typ: str):
    if value is None:
        return None
    return {"BIGINT": int, "BOOLEAN": bool}.get(typ, str)(value)


def golden_failures(spark) -> list[str]:
    """Sources whose fixture parse differs from fixtures/*_golden_expected.json
    on the masked fields of the registered golden queries.  The five
    queries run as one Spark job, each row carried as JSON."""
    import __spark_entry__ as entry

    queries = entry.queries()
    parts = [
        queries[query](spark, None).select(
            F.lit(src).alias("src"), F.to_json(F.struct("*")).alias("row")
        )
        for src, (*_, query, _cols) in SOURCES.items()
    ]
    got = defaultdict(list)
    for r in reduce(DataFrame.unionByName, parts).collect():
        got[r["src"]].append(json.loads(r["row"]))
    failing = []
    for src, (*_, cols_name) in SOURCES.items():
        cols = getattr(entry, cols_name)
        key = lambda rows: sorted(  # noqa: E731
            (tuple(_norm(row.get(c), t) for c, t in cols) for row in rows), key=repr
        )
        if key(got[src]) != key(entry._golden_expected(src)):
            failing.append(src)
    return failing


class ParseClient:
    """Runs and checks parse passes; counts pages attempted and failed.  A
    page fails when one of its records is an error row or its records
    differ from replica 0's, or when replica 0's records differ from the
    first pass's."""

    def __init__(self, scratch: str, seed: int):
        self.scratch = scratch
        self.seed = seed
        self.spark = self.tables = None
        self.pages = []
        self.reference = None
        self.attempted = self.failed = 0

    def setup(self, event_log_dir: str | None = None) -> tuple[float, float]:
        if self.spark is not None:
            self.spark.stop()
        # A module-level pandas UDF keeps the JVM function it built on first
        # use, and with it the first session's accumulator, whose server a
        # rebuilt session has shut down; drop it so the next call rebuilds it.
        for udf in UDFS:
            udf._unwrapped._judf_placeholder = None
        t0 = time.monotonic()
        self.spark = H.build_session(self.scratch, event_log_dir)
        t1 = time.monotonic()
        self.tables = make_inputs(self.spark, self.seed)
        if not self.pages:
            self.pages = [
                (src, r["url"])
                for src, t in self.tables.items()
                for r in t.select("url").collect()
            ]
        return t1 - t0, time.monotonic() - t1

    def golden(self) -> None:
        failing = golden_failures(self.spark)
        self.attempted += len(SOURCES)
        self.failed += len(failing)
        if failing:
            H.log(f"golden check failed for {failing}")

    def parse(self) -> tuple[float, int]:
        """One checked pass -> (wall_s, error records)."""
        t0 = time.monotonic()
        rows = parse_pass(self.tables)
        wall = time.monotonic() - t0
        H.log(f"parse pass: {wall:.2f} s")
        digests = defaultdict(list)
        bad = set()
        for src, url, digest, is_error in rows:
            base, _, rep = url.partition("#r")
            digests[(src, base, int(rep or 0))].append(digest)
            if is_error:
                bad.add((src, url))
        replica0 = {
            k: sorted(v) for k, v in digests.items() if k[2] == 0
        }
        if self.reference is None:
            self.reference = replica0
        for src, url in self.pages:
            base, _, rep = url.partition("#r")
            mine = sorted(digests.get((src, base, int(rep or 0)), []))
            if mine != self.reference.get((src, base, 0), []):
                bad.add((src, url))
        self.attempted += len(self.pages)
        self.failed += len(bad)
        if bad:
            H.log(f"parse check: {len(bad)} pages failed, e.g. {sorted(bad)[:3]}")
        return wall, sum(r[3] for r in rows)


def run(scratch: str, seed: int, seconds: float, trace: bool) -> dict:
    client = ParseClient(scratch, seed)
    setups = [client.setup() for _ in range(H.SETUP_REPS)]
    H.log(f"set-ups: {setups}")
    cold_wall, _ = client.parse()
    client.golden()
    H.log("golden check done")
    if trace:
        return _traced(client, setups)

    walls = [wall for wall, _ in H.closed_loop(client.parse, seconds)]
    n_pages = len(client.pages)
    metrics = {
        "setup_s": H.metric(H.median([a + b for a, b in setups]), "s"),
        "op_wall_s": H.metric(H.median(walls), "s"),
        "throughput_per_s": H.metric(H.median([n_pages / w for w in walls]), "1/s"),
        "first_op_s": H.metric(cold_wall, "s"),
    }
    client.spark.stop()
    return {"attempted": client.attempted, "failed": client.failed, "metrics": metrics}


def _python_s_per_page(src: str) -> float:
    """In-process parse time per fixture page of ``src``, no Spark."""
    body_fn = SOURCES[src][1]
    pages = pq.read_table(_fixture(src), columns=["url", "html"]).to_pylist()
    reps = []
    for _ in range(DRIVER_REPS):
        t0 = time.perf_counter()
        for p in pages:
            body_fn(p["html"], p["url"])
        reps.append(time.perf_counter() - t0)
    return H.median(reps) / len(pages)


def _traced(client: ParseClient, setups) -> dict:
    """Per-layer run: a pass and one forced parse per source with the event
    log on, in-process body parsing, then a pass with the log off for the
    tracing overhead.  Both passes directly follow a session rebuild."""
    log_dir = H.fresh_dir(f"{client.scratch}/eventlog")
    client.setup(event_log_dir=log_dir)
    traced_wall, errors = client.parse()
    windows = {}
    for src, (pages_fn, *_) in SOURCES.items():
        t0 = H.now_ms()
        H.force(pages_fn(client.tables[src]))
        windows[src] = (t0, H.now_ms())
    client.spark.stop()
    client.spark = None
    log = read_events(find_log(log_dir))
    client.setup()
    untraced_wall, _ = client.parse()
    peak_rss_mb = H.peak_rss_mb(client.spark)
    client.spark.stop()

    values = {"session.build_s": H.median([a for a, _ in setups])}
    task_s = python_s = 0.0
    task_ms = []
    for src in SOURCES:
        a, b = windows[src]
        stats = window_stats(log, a, b, H.slots())
        per_page = _python_s_per_page(src)
        n_pages = sum(s == src for s, _ in client.pages)
        values[f"parsers.{src}.python_ms_per_page"] = per_page * 1000.0
        values[f"parsers.{src}.spark_s"] = (b - a) / 1000.0
        task_s += stats["task_s"]
        python_s += per_page * n_pages
        task_ms += stats["task_ms"]
    values["parsers.udf_overhead_ratio"] = task_s / python_s
    values["parsers.task_skew"] = max(task_ms) / H.median(task_ms)
    values["parsers.error_records"] = errors
    values["trace_overhead_frac"] = traced_wall / untraced_wall - 1.0
    values["memory.peak_rss_mb"] = peak_rss_mb
    return {"attempted": client.attempted, "failed": client.failed, "values": values}
