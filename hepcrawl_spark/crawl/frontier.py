"""The frontier fixpoint: the engine's crawl driver loop.

Replaces the reference's Twisted-reactor + Scrapy-scheduler pipeline
(docs/overview.rst lifecycle; scheduler order = yield order per callback)
with an iterative DataFrame fixpoint — each iteration ("wave") is one
Catalyst query:

  1. politeness wave select   (P1/P2/P4: salted per-host window cap)
  2. robots gate              (P5: broadcast rules anti-join)
  3. link admission           (D1: links ⋉̸ pre-wave frontier, then the one
                               URL-seen test: the exact anti-join against
                               url_seen, prefiltered by the SeenFilter —
                               none, bloom, bloom_table or cuckoo — only
                               while url_seen is too large to broadcast)
  4. fetch                    (J5: equi-join wave vs pages on url)
  5. parse + outlink explode  (F5/UDTF: regexp link extraction, JVM-side)
  6. state merge              (frontier', url_seen', metrics)
  7. snapshot                 (parquet dir per iteration = Iceberg-snapshot
                               stand-in; manifest.json -> checkpoint/resume)

Scale shape: the shuffles per wave are (a) the politeness window on the
salted host key, (b) the fetch join on url (bucketable at 100 TB so it
becomes a storage-partitioned join), (c) the url_seen merge (hash dedup;
with Iceberg this is MERGE INTO on a bucket(url)-partitioned table and
only delta buckets rewrite). The Bloom filter is built ONCE and updated
incrementally with each wave's delta — per iteration only the newly
fetched hashes ship their partial bitmaps to the driver, never the full
url_seen history. Lineage is truncated every iteration by the snapshot
write+read — mandatory in any DataFrame fixpoint or plans grow unboundedly.

Driver-side work per iteration is O(#partitions + bitmap bytes); row data
never leaves the executors except the tiny metrics rows.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace

import numpy as np
import pyarrow as pa
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

from ..operators import textstats as X
from ..operators.bloom import (
    ShardedBloom,
    bloom_merge_delta_cogroup,
    bloom_probe_cogroup,
    build_bloom_sharded,
    empty_bloom_shard_table,
    sharded_might_contain_udf,
)
from ..operators.cuckoo import (
    ShardedCuckoo,
    build_cuckoo,
    cuckoo_might_contain_udf,
)
from ..operators.dedup import crawl_once_gate
from ..operators.politeness import (
    adaptive_host_salt,
    decay_priority,
    robots_gate,
    select_wave,
)
from .robots import robots_gate_rfc
from ..sources import merge_store


@dataclass
class CrawlConfig:
    max_iterations: int = 10
    max_per_host: int = 100          # politeness cap per host per wave
    salt: int = 4                    # hot-host salting factor (salt_mode=
                                     # 'static': uniform for every host;
                                     # 'adaptive': the base for cold hosts)
    salt_mode: str = "adaptive"      # per-host salt factors recomputed
                                     # each wave from the live frontier's
                                     # skew (adaptive_host_salt: hot host
                                     # shards ~ pending count / (8 x
                                     # median), at most 256) — SURVEY §7(e),
                                     # the arxiv.org hotspot; measured par
                                     # with static at 2.4M pages, +12% on
                                     # the skewed bench corpus
                                     # (BENCH/BASELINE.md). 'static':
                                     # uniform salting.
    filter_mode: str = "auto"        # 'auto' (the DEFAULT: bloom under
                                     # auto_filter_threshold expected urls,
                                     # bloom_table above — a deployment
                                     # declaring 10^10 urls lands on the
                                     # zero-driver path without opting in)
                                     # | 'bloom' (broadcast sharded filter,
                                     # wave-hash deltas via the driver)
                                     # | 'bloom_table' (filter lives as a
                                     # (shard, bits) parquet table; probe +
                                     # delta merge are cogroups — ZERO
                                     # filter bytes on the driver, the
                                     # 10^10-URL path)
                                     # | 'cuckoo' (resident delete-capable
                                     # filter, per-wave delta inserts)
                                     # | 'none'. Every filter absorbs each
                                     # wave, but links probe it only while
                                     # url_seen is too large to broadcast:
                                     # below that, the exact anti-join is a
                                     # broadcast hash join, and the probe
                                     # could spare it nothing. The result
                                     # is the same in every mode.
    auto_filter_threshold: int = 5_000_000
                                     # 'auto' cutover: above this expected
                                     # total the broadcast-bloom mode's
                                     # driver costs (full shard dict
                                     # resident + re-broadcast, 8 B/url/wave
                                     # of delta hashes collected) stop being
                                     # trivial, so the filter must live as a
                                     # cogroup-probed table instead
    n_expected_urls: int = 1_000_000  # bloom sizing (total urls over the run)
    bloom_shards: int = 32           # shard count; at 10^10 urls use ~1024 so
                                     # each shard bitmap stays ~12 MB
    state_dir: str | None = None     # snapshots + manifest for resume
    keep_snapshots: int = 2          # older ones are vacuumed
    detailed_stats: bool = False     # exact frontier/seen sizes per iteration
                                     # (2 extra count jobs/iteration; the
                                     # scheduled count is always exact, and
                                     # loop control needs nothing more)
    link_meta: dict | None = None    # {key: Column over the fetched parent
                                     # row} merged into every outlink's
                                     # inherited meta map (reference
                                     # Request.meta threading —
                                     # pos_spider.py:118-126)
    recrawl_cutoff: str | None = None  # ISO timestamp: url_seen entries with
                                     # last_ts < cutoff are INVALIDATED at
                                     # run start (removed from url_seen;
                                     # cuckoo mode also deletes their
                                     # fingerprints) so they re-crawl — the
                                     # middlewares.py:134-155 newer-capture
                                     # semantics as a periodic policy sweep
    rank_priorities_every: int = 0   # >0: every K-th iteration, recompute
                                     # frontier priorities as PageRank over
                                     # the crawl's accumulated link graph
                                     # (operators/linkrank) — the OPIC-style
                                     # authority-first dispatch an open-web
                                     # frontier runs. Forces meta threading
                                     # (the edge log needs parent urls).
                                     # 0 = off (seed/FIFO priorities).
    rank_iterations: int = 5         # power iterations per refresh
    trap_detect_every: int = 0       # >0: every K-th iteration, run the
                                     # URL-template explosion detector
                                     # (operators/traps) over the seen set
                                     # and drop frontier rows whose
                                     # (host, template) is flagged — the
                                     # calendar/session-id trap guard an
                                     # open-web frontier needs. Not
                                     # persisted: resume recomputes at the
                                     # next refresh from url_seen, which IS
                                     # durable. 0 = off (historical).
    trap_min_urls: int = 100         # template flag floor (distinct urls)
    trap_min_share_ppm: int = 500_000  # ...and min share of the host's urls
    max_attempts: int = 1            # P6 retry/backoff in the live loop:
                                     # a gated url whose fetch FAILS (no
                                     # corpus row) re-enters the frontier
                                     # with attempt+1 and halved priority
                                     # until max_attempts, then drops — the
                                     # reference RetryMiddleware semantics.
                                     # 1 = historical behavior (failures
                                     # retire immediately, zero extra jobs)
    max_depth: int | None = None     # Scrapy DEPTH_LIMIT parity: outlinks
                                     # discovered more than max_depth hops
                                     # from a seed never enter the frontier.
                                     # Rides the meta map ('depth' key), so
                                     # enabling it forces meta threading;
                                     # None = unlimited (historical)
    host_budget: int | None = None   # SURVEY §7(d) token-bucket with carry-
                                     # over ACROSS iterations, batch twin of
                                     # streaming/politeness.py: each host
                                     # may fetch at most this many pages
                                     # over the WHOLE run. Consumption state
                                     # (host, used) persists with every
                                     # durable snapshot and survives resume;
                                     # exhausted hosts admit nothing (their
                                     # frontier rows idle until the crawl
                                     # ends). None = unlimited (historical)
    seen_store: str = "snapshot"     # 'snapshot' (url_seen fully rewritten
                                     # per durable iteration) | 'merge'
                                     # (sources/merge_store.py: Iceberg-
                                     # shaped bucketed MERGE INTO — each
                                     # iteration upserts the WAVE into a
                                     # bucket(url)-partitioned table and
                                     # rewrites only touched buckets; the
                                     # O(|seen|) full rewrite disappears,
                                     # the 10^10-URL url_seen design)
    seen_buckets: int = 16           # merge-store bucket count; at 10^10
                                     # urls use ~2^14 so a bucket stays
                                     # ~100 GB raw / a few GB parquet
    snapshot_every: int = 1          # durable parquet snapshot cadence; in
                                     # between, state is localCheckpoint'ed
                                     # (lineage truncated, NOT durable) and
                                     # the manifest still points at the last
                                     # durable iteration — resume replays
                                     # from there. Raises steady throughput
                                     # by removing 2 write+read job commits
                                     # per non-snapshot iteration


@dataclass
class IterationStats:
    iteration: int
    scheduled: int
    fetched: int
    parsed: int
    frontier_size: int
    seen_size: int
    wall_s: float


@dataclass
class CrawlResult:
    iterations: list[IterationStats] = field(default_factory=list)

    @property
    def total_fetched(self) -> int:
        return sum(i.fetched for i in self.iterations)

    @property
    def total_scheduled(self) -> int:
        return sum(i.scheduled for i in self.iterations)

    @property
    def total_wall_s(self) -> float:
        return sum(i.wall_s for i in self.iterations)


_LINK_RE = r'href="([^"]+)"'
_EMPTY_META = "CAST(map() AS map<string,string>)"


def extract_outlinks(
    fetched: DataFrame,
    text_col: str = "text",
    link_meta: dict[str, "F.Column"] | None = None,
    thread_meta: bool = True,
) -> DataFrame:
    """UDTF-like link extraction (SURVEY §2.12): one page -> N outlinks.
    JVM regexp_extract_all + explode — no Python in the loop.

    Meta threading (schemas.FRONTIER_SCHEMA ``meta``; reference
    pos_spider.py:118-126 / edp_spider.py:246-259 chain callback state
    through ``Request.meta``): every outlink INHERITS its parent page's
    ``meta`` map, and ``link_meta`` — {key: Column over the parent row} —
    merges additional entries in (e.g. the PoS conference id extracted on
    hop 1, read back when hop 2 parses). ``_parent`` (the parent url) rides
    along as the deterministic dedup tiebreak.

    ``thread_meta=False`` is the pay-for-use fast path for crawls with no
    chained-harvest state anywhere (no seed meta, no link_meta): the map
    and parent columns are omitted so the per-link shuffle rows stay
    minimal; run_crawl re-attaches an empty map after the links groupBy."""
    if not thread_meta:
        return (
            fetched.select(
                F.col("warc_ts").alias("discovered_ts"),
                F.explode(
                    F.regexp_extract_all(F.col(text_col), F.lit(_LINK_RE), 1)
                ).alias("url"),
            )
            .withColumn("host", F.lower(F.parse_url("url", F.lit("HOST"))))
            .filter(F.col("host").isNotNull())
        )
    meta_col = (
        F.col("meta")
        if "meta" in fetched.columns
        else F.expr(_EMPTY_META)
    )
    if link_meta:
        add = F.map_from_arrays(
            F.array(*[F.lit(k) for k in link_meta]),
            F.array(*[v for v in link_meta.values()]),
        )
        # dict.update semantics (last wins), independent of the session's
        # mapKeyDedupPolicy: drop inherited entries the new keys overwrite
        # (a hop-2 page re-stamping hop1_url would otherwise trip ANSI's
        # DUPLICATED_MAP_KEY in map_concat)
        keys = list(link_meta.keys())
        inherited = F.map_filter(
            F.coalesce(meta_col, F.expr("map()")), lambda k, _: ~k.isin(keys)
        )
        meta_col = F.map_concat(inherited, add)
    return (
        fetched.select(
            F.col("warc_ts").alias("discovered_ts"),
            F.col("url").alias("_parent"),
            meta_col.alias("meta"),
            F.explode(F.regexp_extract_all(F.col(text_col), F.lit(_LINK_RE), 1)).alias(
                "url"
            ),
        )
        .withColumn("host", F.lower(F.parse_url("url", F.lit("HOST"))))
        .filter(F.col("host").isNotNull())
    )


def _nullable(dt):
    """``dt`` with every field, element and value nullable: the schema a
    parquet read gives back for a frame written with ``dt``."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _snapshot(df: DataFrame, path: str) -> DataFrame:
    """Write a parquet snapshot and read it back (lineage truncation +
    checkpoint). The write is the 'Iceberg snapshot commit' stand-in. The
    read-back is given the written schema, so no job infers it from the
    files."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(_nullable(df.schema)).parquet(path)


def _cut(df: DataFrame, path: str, durable: bool) -> DataFrame:
    """Truncate lineage: a parquet snapshot at ``path`` when ``durable``,
    else an eager localCheckpoint (lineage cut, not durable)."""
    return _snapshot(df, path) if durable else df.localCheckpoint(eager=True)


def _write_manifest(state_dir: str, iteration: int, extra: dict | None = None) -> None:
    manifest = {"iteration": iteration, **(extra or {})}
    tmp = os.path.join(state_dir, "_manifest.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(state_dir, "manifest.json"))  # atomic commit


def _vacuum_snapshots(state_dir: str, keep: int) -> None:
    """Remove all but the newest ``keep`` iter_NNNN snapshot dirs. Called
    only after a durable manifest commit, so the manifest target (the newest
    dir) always survives — index arithmetic would delete the resume point
    when snapshot_every skips iterations."""
    dirs = sorted(
        (d for d in os.listdir(state_dir) if d.startswith("iter_")),
        key=lambda d: int(d[5:]),  # numeric: 'iter_10000' > 'iter_9999'
    )
    for d in dirs[: max(0, len(dirs) - keep)]:
        shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)


# everything run_crawl writes directly under state_dir besides iter_NNNN
_STATE_ENTRIES = (
    "manifest.json", "_manifest.tmp", "url_seen_merge", "edges", "metrics",
    "bloom_init",
)


def _clear_crawl_state(state_dir: str) -> None:
    """Remove an earlier crawl's entries (only those) from ``state_dir``."""
    # stale iter_NNNN dirs would outrank the new run's in the vacuum, and a
    # stale merge table or edge log would gate and rank against old urls.
    # (A resume keeps the edge log, edges of crash-lost non-durable
    # iterations included — a slight over-weighting of already-seen links
    # that only biases the priority heuristic.)
    for name in os.listdir(state_dir):
        if name.startswith("iter_") or name in _STATE_ENTRIES:
            path = os.path.join(state_dir, name)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)


def read_manifest(state_dir: str) -> dict | None:
    p = os.path.join(state_dir, "manifest.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _url_hashes(df: DataFrame) -> DataFrame:
    return df.select(F.xxhash64("url").alias("url_hash"))


def _local_frame(spark: SparkSession, schema: str, rows=()) -> DataFrame:
    """Driver-built ``rows`` (a list of tuples) as an Arrow-backed
    LocalRelation. ``createDataFrame(list)`` would make a Python RDD, and
    every scan of it would start a Python worker task; a LocalRelation is
    scanned in the JVM, and its exact size lets Catalyst prune a join
    against an empty one."""
    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


# --- membership filters ------------------------------------------------------
# SHARDED filters (round 2): S independent shard bitmaps/tables. 10^10-URL
# math: 1% fpp needs ~9.6e10 bits (~12 GB) total — a monolithic bitmap is
# un-buildable and un-broadcastable; with S=1024 each shard is ~12 MB,
# builds are one task per shard and deltas touch only the shards a wave's
# hashes route to.


class SeenFilter:
    """The crawl's URL-seen test, ``unseen(links, url_seen, probe)``, run at
    link admission; one per run_crawl call. This base class is filter_mode
    'none', the exact anti-join alone. Each subclass prefilters it with one
    membership filter: ``_maybe(links)`` adds a boolean ``_maybe`` column,
    False only for a url the filter never absorbed. The crawl probes only
    while url_seen is too large to broadcast (see ``_run_crawl``); the
    filter absorbs every wave either way, so it is ready once url_seen
    outgrows the threshold. It owns the filter's state through:

    - ``restore(manifest, url_seen, invalidated, n_invalidated, seen_size)``:
      an empty filter when ``manifest`` is None, else restored or rebuilt;
      ``url_seen`` already lacks the recrawl sweep's ``invalidated`` hashes;
    - ``absorb(fetched, hashes)``: add one wave; the fused metrics pass
      collects ``hashes`` only for filters that set ``driver_delta``;
    - ``persist(it_dir, durable)``: cut lineage, return manifest fields.
    """

    driver_delta = False
    _probed = _probe_udf = None  # the iteration's probed links, probe UDF

    def __init__(self, spark: SparkSession, cfg: CrawlConfig, state_dir: str):
        self.spark, self.cfg, self.state_dir = spark, cfg, state_dir

    def restore(self, manifest, url_seen, invalidated, n_invalidated, seen_size):
        pass

    def unseen(self, links: DataFrame, url_seen: DataFrame, probe: bool) -> DataFrame:
        """``links`` ⋉̸ ``url_seen``; with ``probe``, links the filter never
        absorbed skip the anti-join. The probed links are persisted (one
        probe for both branches) until ``release()``."""
        probed = self._maybe(links) if probe else None
        if probed is None:
            return links.join(url_seen.select("url"), "url", "left_anti")
        self._probed = probed = probed.persist()
        return probed.filter("NOT _maybe").unionByName(
            probed.filter("_maybe").join(url_seen.select("url"), "url", "left_anti")
        ).drop("_maybe")

    def _maybe(self, links: DataFrame) -> DataFrame | None:
        return None

    def absorb(self, fetched: DataFrame, hashes) -> None:
        pass

    def persist(self, it_dir: str, durable: bool) -> dict:
        return {}

    def release(self) -> None:
        # otherwise every iteration's copy of the filter stays broadcast
        # (on the driver and each executor) for the rest of the session
        if self._probed is not None:
            self._probed.unpersist()
            self._probed = None
        if self._probe_udf is not None:
            self._probe_udf.broadcast.destroy()
            self._probe_udf = None


class BloomSeenFilter(SeenFilter):
    """'bloom': the shard bitmaps live on the driver, broadcast into the
    probe UDF; not persisted, resume rebuilds them from url_seen."""

    driver_delta = True

    def restore(self, manifest, url_seen, invalidated, n_invalidated, seen_size):
        n, shards = self.cfg.n_expected_urls, self.cfg.bloom_shards
        if manifest is None:
            self.bf = ShardedBloom.sized_for(n, n_shards=shards)
        else:
            self.bf = build_bloom_sharded(
                _url_hashes(url_seen), n_items=n, n_shards=shards
            )

    def _maybe(self, links):
        self._probe_udf = sharded_might_contain_udf(self.spark, self.bf)
        return links.withColumn("_maybe", self._probe_udf(F.xxhash64("url")))

    def absorb(self, fetched, hashes):
        self.bf.add(hashes)


class BloomTableSeenFilter(SeenFilter):
    """'bloom_table': a (shard, n_bits, k, bits) table, probed and
    delta-merged by cogroups on the shard key — zero filter bytes on the
    driver, the 10^10-URL path (~12 GB of bitmaps live only as a table)."""

    def restore(self, manifest, url_seen, invalidated, n_invalidated, seen_size):
        path = (manifest or {}).get("bloom")
        if path and os.path.exists(path):
            self.table = self.spark.read.parquet(path)
            return
        table = empty_bloom_shard_table(
            self.spark, self.cfg.n_expected_urls, n_shards=self.cfg.bloom_shards
        )
        if manifest is not None:
            table = bloom_merge_delta_cogroup(
                _url_hashes(url_seen), table, n_shards=self.cfg.bloom_shards
            )
        self.table = _snapshot(table, f"{self.state_dir}/bloom_init")

    def _maybe(self, links):
        return bloom_probe_cogroup(
            links.withColumn("url_hash", F.xxhash64("url")),
            self.table,
            n_shards=self.cfg.bloom_shards,
        ).drop("url_hash")

    def absorb(self, fetched, hashes):
        # OR the wave's hashes into the shard bitmaps: a cogroup, planned
        # here and run by persist() in the commit pool
        self._next = bloom_merge_delta_cogroup(
            _url_hashes(fetched), self.table, n_shards=self.cfg.bloom_shards
        )

    def persist(self, it_dir, durable):
        self.table = _cut(self._next, f"{it_dir}/bloom", durable)
        return {"bloom": f"{it_dir}/bloom"} if durable else {}


class CuckooSeenFilter(SeenFilter):
    """'cuckoo': ONE resident delete-capable filter for the whole run, sized
    for the expected total and delta-updated per wave; durable commits
    persist its shard blobs so resume restores it in O(filter bytes)."""

    # the blobs live on the driver (they are the broadcast source); at 10^10
    # urls the filter would live as an executor-side table like bloom_table
    driver_delta = True

    def restore(self, manifest, url_seen, invalidated, n_invalidated, seen_size):
        n = max(self.cfg.n_expected_urls, 64)
        path = (manifest or {}).get("cuckoo")
        if (
            path
            and os.path.exists(path)
            and n_invalidated <= self.cfg.auto_filter_threshold
        ):
            rows = self.spark.read.parquet(path).collect()  # one row per shard
            self.ccf = ShardedCuckoo.from_blobs(
                {r["shard"]: (r["n_buckets"], bytes(r["table"])) for r in rows},
                n_shards=len(rows),
            )
            if n_invalidated:
                # legit delete: the restored filter really contains every
                # url_seen entry of its snapshot, invalidated ones included.
                # Bounded collect — above auto_filter_threshold the rebuild
                # branch runs instead (collecting billions of hashes to
                # delete one by one would OOM the driver and cost more than
                # rebuilding from the surviving rows).
                self.ccf.delete_batch(
                    np.array([r["h"] for r in invalidated.collect()], dtype=np.int64)
                )
        elif manifest is not None:
            # no persisted filter: rebuild from url_seen — which the recrawl
            # sweep ALREADY filtered, so there is nothing to delete. Deleting
            # never-inserted keys would evict colliding fingerprints of live
            # keys and turn them into false negatives (round-3 ADVICE). The
            # size must cover the resumed url_seen: a filter sized for fewer
            # items overflows into false negatives -> re-fetching seen urls.
            self.ccf = build_cuckoo(
                _url_hashes(url_seen), n_items=max(seen_size, n)
            )
        else:
            self.ccf = ShardedCuckoo.sized_for(n)

    def _maybe(self, links):
        self._probe_udf = cuckoo_might_contain_udf(self.spark, self.ccf)
        return links.withColumn("_maybe", self._probe_udf(F.xxhash64("url")))

    def absorb(self, fetched, hashes):
        # EVERY wave key gets its own fingerprint copy (multiset semantics).
        # Skipping "already present" keys would skip false-positive
        # collisions too, and a later delete of such a never-inserted key
        # (recrawl sweep) would evict the colliding fingerprint of a LIVE
        # key -> false negative -> crawl-once violated. n inserts leave n
        # copies, so one delete of an inserted key is always sound.
        failed = self.ccf.insert_batch(hashes) if len(hashes) else 0
        if failed:
            raise ValueError(
                f"resident cuckoo overflow: {failed} delta inserts failed "
                f"at iteration — raise n_expected_urls"
            )

    def persist(self, it_dir, durable):
        if not durable:
            return {}
        path = f"{it_dir}/cuckoo"
        _local_frame(
            self.spark,
            "shard int, n_buckets long, table binary",
            [(s, nb, tb) for s, (nb, tb) in self.ccf.to_blobs().items()],
        ).coalesce(1).write.mode("overwrite").parquet(path)
        return {"cuckoo": path}


_SEEN_FILTERS = {
    "none": SeenFilter,
    "bloom": BloomSeenFilter,
    "bloom_table": BloomTableSeenFilter,
    "cuckoo": CuckooSeenFilter,
}


def _make_seen_filter(
    spark: SparkSession, cfg: CrawlConfig, state_dir: str
) -> SeenFilter:
    """``cfg.filter_mode`` -> its SeenFilter, resolving 'auto' (see
    ``CrawlConfig.auto_filter_threshold``)."""
    mode = cfg.filter_mode
    if mode == "auto":
        mode = (
            "bloom"
            if cfg.n_expected_urls <= cfg.auto_filter_threshold
            else "bloom_table"
        )
    if mode not in _SEEN_FILTERS:
        raise ValueError(f"unknown filter_mode: {cfg.filter_mode!r}")
    return _SEEN_FILTERS[mode](spark, cfg, state_dir)


# --- per-wave stages -----------------------------------------------------------

# bounds on the two tiny sets the loop collects to literal DataFrames
MAX_HOT_HOSTS = 10_000
MAX_TRAP_TEMPLATES = 10_000


def _resolve_robots(pages: DataFrame, robots) -> tuple[DataFrame | None, bool]:
    """(rules table or None, whether it needs the RFC 9309 gate);
    ``"auto"`` parses the corpus's own /robots.txt pages."""
    if isinstance(robots, str):
        if robots != "auto":
            raise ValueError(f"robots must be a DataFrame, 'auto', or None: {robots!r}")
        from .robots import parse_robots_txt

        rpages = pages.filter(F.parse_url("url", F.lit("PATH")) == "/robots.txt")
        # robots.txt's grammar is LINE-oriented; the corpus's `text` column
        # may have gone through html_to_text, which collapses newlines to
        # spaces and turns the body into one directive-free line. Prefer
        # the raw fetched bytes (`html`, cast utf-8) whenever they are
        # non-empty and fall back to `text` only for byte-less corpora.
        body = F.col("text")
        if "html" in pages.columns:
            raw = F.col("html").cast("string")
            body = F.coalesce(F.when(F.length(raw) > 0, raw), F.col("text"))
        robots = parse_robots_txt(
            rpages.select(
                F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"),
                body.alias("text"),
            )
        ).persist()  # one small row per rule per host; reused every wave
        if robots.limit(1).count() == 0:
            # warn only when a body LOOKS like robots.txt (carries a
            # directive token) yet yields zero rules — a genuinely empty
            # or comment-only robots.txt is valid allow-all and silent
            directive_like = (
                rpages.filter(
                    F.lower(body).rlike("(user-agent|disallow|allow)\\s*:")
                )
                .limit(1)
                .count()
            )
            if directive_like > 0:
                warnings.warn(
                    "robots='auto': the corpus has /robots.txt pages whose "
                    "bodies carry directives but zero rules parse — bodies "
                    "are likely whitespace-collapsed extractions; the crawl "
                    "will obey no robots rules",
                    stacklevel=3,
                )
            # zero rules == allow-all: dropping the table entirely removes
            # one broadcast-join stage from EVERY wave (and the RFC
            # precedence probe below) with identical gating behavior
            robots.unpersist()
            return None, False
    # rules with Allow rows OR RFC 9309 special characters ('*' wildcards,
    # '$' end anchors) need the longest-match gate; the cheap prefix
    # anti-join only handles plain disallow prefixes. Checked once (the
    # rules table is tiny) so the per-wave choice is a plain branch.
    needs_rfc = (
        robots is not None
        and "allow" in robots.columns
        and robots.filter(
            (F.col("allow") == "allow")
            | F.col("path_prefix").contains("*")
            | F.col("path_prefix").endswith("$")
        ).limit(1).count()
        > 0
    )
    return robots, needs_rfc


def _hot_host_salts(spark: SparkSession, frontier: DataFrame) -> DataFrame | None:
    """The adaptive per-host salts as a literal DataFrame (None: no hot host)."""
    # the hot-host set is small (hosts above 8 x median, hottest first):
    # COLLECT it — leaving the aggregation as a subplan re-executes the
    # full-frontier groupBy inside every job that touches the wave
    # (measured 2.4 s/wave on an 800k-row frontier). A bimodal frontier can
    # push O(n_hosts) rows over the threshold, so at most MAX_HOT_HOSTS are
    # kept; the rest fall back to the uniform base salt — politeness caps
    # still hold, they just shard coarser. With no hot host the wave skips
    # the broadcast join entirely.
    rows = [
        (r["host"], r["salt"])
        for r in adaptive_host_salt(frontier)
        .orderBy(F.col("salt").desc(), "host")
        .limit(MAX_HOT_HOSTS)
        .collect()
    ]
    return _local_frame(spark, "host string, salt int", rows) if rows else None


def _fetch(gated: DataFrame, corpus: DataFrame) -> tuple[int, DataFrame]:
    """(scheduled, fetched): the fetch join (J5) of the cached ``gated``
    wave against the corpus, persisted. The count materializes ``gated``
    before the join is planned (persist plans it), so the planner sizes the
    join from the wave's real size: a small wave is broadcast, never the
    corpus."""
    scheduled = gated.count()
    return scheduled, gated.join(corpus, "url", "inner").persist()


def _wave_metrics(fetched: DataFrame, with_hashes: bool):
    """ONE JVM-only pass over the fetched wave yields per-partition counts
    AND, when ``with_hashes``, the wave's url hashes for a driver-side
    filter delta. The driver receives an Arrow table of (partition_id,
    hash) per fetched url, or of (partition_id, count) per partition —
    never the filter, and no Python worker runs.
    Returns ([(partition_id, n)] by partition, int64 hashes or None)."""
    pid = F.spark_partition_id().alias("partition_id")
    if with_hashes:
        t = fetched.select(pid, F.xxhash64("url").alias("h")).toArrow()
        pids, counts = np.unique(
            np.asarray(t.column("partition_id"), dtype=np.int32), return_counts=True
        )
        hashes = np.asarray(t.column("h"), dtype=np.int64)
        return list(zip(pids.tolist(), counts.tolist())), hashes
    t = fetched.groupBy(pid).count().toArrow()  # one row per partition
    return sorted(zip(t.column("partition_id").to_pylist(), t.column("count").to_pylist())), None


def _broadcasts_by_size(spark: SparkSession, df: DataFrame) -> bool:
    """Whether a join would broadcast ``df`` as its build side, by Spark's
    own rule (JoinSelection's canBroadcastBySize): the optimized plan's size
    estimate lies within spark.sql.autoBroadcastJoinThreshold (<= 0: never
    broadcast). The estimate is the files' size for a parquet read and the
    origin plan's for a checkpoint; reading it runs no job."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return 0 <= size <= limit


def _rank_priorities(frontier: DataFrame, edges_path: str, iterations: int) -> DataFrame:
    """OPIC-style refresh: PageRank over the link graph, normalized to
    [0, 1], becomes the priority; urls not in the graph keep theirs."""
    from ..operators.linkrank import pagerank

    ranks = pagerank(
        frontier.sparkSession.read.parquet(edges_path), iterations=iterations
    )
    # [0,1] normalization rides the frontier join as a one-row broadcast
    # instead of a separate max() collect job; ranks are always > 0 (base
    # mass), so coalesce only covers the empty-graph null
    top_df = ranks.agg(F.coalesce(F.max("rank"), F.lit(1.0)).alias("_top"))
    r = ranks.crossJoin(F.broadcast(top_df)).select(
        F.col("node").alias("url"),
        (F.col("rank") / F.col("_top")).alias("_r"),
    )
    return (
        frontier.join(r, "url", "left")
        .withColumn("priority", F.coalesce(F.col("_r"), F.col("priority")))
        .drop("_r")
    )


def _trap_templates(
    spark: SparkSession, seen: DataFrame, min_urls: int, min_share_ppm: int
) -> DataFrame | None:
    """Trap-flagged (host, template) pairs of the seen set (None: no trap)."""
    # collected to a LITERAL broadcast (tiny, bounded) so the per-iteration
    # gate join never re-executes the detection subplan (the adaptive-salt
    # lesson)
    from ..functions.urls import host_of, path_of
    from ..operators.traps import detect_traps

    rows = (
        detect_traps(
            seen.select(
                "url", host_of("url").alias("host"), path_of("url").alias("path")
            ),
            min_urls=min_urls,
            min_share_ppm=min_share_ppm,
        )
        .filter("is_trap")
        .orderBy(F.col("n_urls").desc(), "host", "template")
        .limit(MAX_TRAP_TEMPLATES)
        .select("host", "template")
        .collect()
    )
    return _local_frame(spark, "host string, template string", rows) if rows else None


def _merge_seen(spark: SparkSession, seen_dir: str, wave_seen: DataFrame) -> DataFrame:
    """MERGE INTO url_seen USING the wave; returns the table read back."""
    # only the buckets the wave's urls hash into are read and rewritten;
    # the read-back doubles as lineage truncation. Durable EVERY iteration
    # at O(|wave| + touched buckets) — vs the O(|seen|) full rewrite.
    merge_store.merge_upsert(spark, seen_dir, wave_seen, key="url")
    return merge_store.read_table(spark, seen_dir)


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    config: CrawlConfig | None = None,
    robots: DataFrame | None = None,
    resume: bool = False,
) -> CrawlResult:
    """Run the crawl fixpoint to exhaustion or ``max_iterations``.

    ``pages``: the corpus (url, warc_ts, html, text, lang[, host]).
    ``seeds``: initial frontier (url, host, priority, discovered_ts).
    ``robots``: a parsed rules table (host, allow, path_prefix[,
    crawl_delay]) — or the string ``"auto"`` to derive the rules from the
    corpus's own ``/robots.txt`` pages (the Scrapy RobotsTxtMiddleware
    fetch-and-obey flow: a real crawl fetches robots.txt like any page;
    here those bodies already sit in the corpus snapshot).
    Returns per-iteration stats; all state lives in config.state_dir when
    set (making the run checkpoint-resumable), else in a temporary directory
    removed on return. A run with ``resume=False`` first removes an earlier
    crawl's state from ``state_dir``.

    Every job the crawl launches carries a fixed job description naming
    its stage ("crawl: setup", "crawl: wave", "crawl: metrics", "crawl:
    commit frontier", ...); the caller's description is restored on return.
    """
    sc = spark.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    cfg = config or CrawlConfig()
    try:
        # tmp holds the state only when the caller names no state_dir
        with tempfile.TemporaryDirectory(prefix="hepcrawl_spark_state_") as tmp:
            cfg = replace(cfg, state_dir=cfg.state_dir or tmp)
            return _run_crawl(spark, pages, seeds, cfg, robots, resume)
    finally:
        sc.setLocalProperty("spark.job.description", caller_desc)


def _run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    cfg: CrawlConfig,
    robots,
    resume: bool,
) -> CrawlResult:
    sc = spark.sparkContext
    sc.setJobDescription("crawl: setup")
    state_dir = cfg.state_dir
    seen_filter = _make_seen_filter(spark, cfg, state_dir)
    robots, robots_needs_rfc = _resolve_robots(pages, robots)
    os.makedirs(state_dir, exist_ok=True)
    if not resume:
        _clear_crawl_state(state_dir)

    seen_dir = f"{state_dir}/url_seen_merge"
    # pay-for-use meta threading: the chained-harvest state machinery (map +
    # parent columns through the link explosion and groupBy) only runs when
    # some source of meta exists — link_meta stamping, seed-borne meta, or a
    # resumed run that had it (persisted in the manifest). Otherwise links
    # shuffle minimal rows and records skip the map column.
    meta_live = (
        cfg.link_meta is not None
        or (seeds is not None and "meta" in seeds.columns)
        or cfg.rank_priorities_every > 0
        or cfg.max_depth is not None
    )
    # DEPTH_LIMIT (Scrapy DepthMiddleware parity): every outlink's meta is
    # stamped with depth = parent depth + 1 (seeds count as depth 0);
    # over-deep candidates are filtered before they enter the frontier
    link_meta = cfg.link_meta
    depth = F.coalesce(
        F.element_at(F.col("meta"), F.lit("depth")).cast("int"), F.lit(0)
    )
    if cfg.max_depth is not None:
        link_meta = {**(link_meta or {}), "depth": (depth + 1).cast("string")}
    m = read_manifest(state_dir) if resume else None
    start_iter = seen_size = 0
    host_used = None  # (host, used) budget-consumption state
    trap_tpls = None  # collected (host, template) trap flags (trap_detect_every)
    if m is not None:
        start_iter = m["iteration"] + 1
        meta_live = meta_live or bool(m.get("meta_live"))
        if cfg.host_budget is not None and m.get("host_used"):
            host_used = spark.read.parquet(m["host_used"])
        frontier = spark.read.parquet(f"{state_dir}/iter_{m['iteration']:04d}/frontier")
        if m.get("seen_store") == "merge":
            # the merge table commits every iteration but the manifest
            # only every snapshot_every-th: rebase the table onto the
            # manifest's snapshot so lost-iteration merges are abandoned
            # (their frontier rows are lost too — state must agree)
            if "seen_snapshot" in m:
                merge_store.rollback(seen_dir, m["seen_snapshot"])
            url_seen = merge_store.read_table(spark, seen_dir)
        else:
            url_seen = spark.read.parquet(f"{state_dir}/iter_{m['iteration']:04d}/url_seen")
        # the url_seen cardinality must survive the restart: the cuckoo
        # rebuild is sized from it
        seen_size = m.get("seen_size") or url_seen.count()
    else:
        frontier = seeds.select(
            "url",
            "host",
            F.coalesce(F.col("priority"), F.lit(0.0)).alias("priority"),
            F.coalesce(F.col("discovered_ts"), F.current_timestamp()).alias(
                "discovered_ts"
            ),
            *(["meta"] if "meta" in seeds.columns else []),
        ).withColumn("attempt", F.lit(0))
        url_seen = _local_frame(spark, "url string, last_ts timestamp")
    if cfg.host_budget is not None and host_used is None:
        host_used = _local_frame(spark, "host string, used long")
    # meta threading (FRONTIER_SCHEMA): tolerate meta-less seeds and
    # pre-meta resume snapshots by adding an empty map
    if "meta" not in frontier.columns:
        frontier = frontier.withColumn("meta", F.expr(_EMPTY_META))
    if cfg.seen_store == "merge" and not os.path.exists(f"{seen_dir}/HEAD"):
        # fresh run (or migration from snapshot layout): seed the bucketed
        # table once; every later iteration is a touched-buckets-only MERGE
        merge_store.create_table(
            url_seen, seen_dir, key="url", n_buckets=cfg.seen_buckets
        )

    # pages projected once; at 100 TB this scan is partition-pruned by the
    # fetch join keys (bucket(url)).
    corpus = pages.select("url", "warc_ts", "text")

    # --- re-crawl policy sweep (reference middlewares.py:134-155: a newer
    # capture invalidates the stored entry). Entries older than the cutoff
    # leave url_seen, and the seen filter's restore drops their hashes where
    # it can delete (cuckoo). The driver sees ONE scalar here (the
    # invalidated count); only the filter may collect the hash list, and
    # only under `auto_filter_threshold` — a coarse cutoff over a
    # 10^10-URL seen set invalidates billions of rows.
    invalidated = None
    n_invalidated = 0
    if cfg.recrawl_cutoff is not None and m is not None:
        cut = F.to_timestamp(F.lit(cfg.recrawl_cutoff))
        invalidated = url_seen.filter(F.col("last_ts") < cut).select(
            F.xxhash64("url").alias("h")
        )
        n_invalidated = invalidated.count()
        url_seen = url_seen.filter(F.col("last_ts") >= cut)
        if cfg.seen_store == "merge":
            # MERGE ... WHEN MATCHED AND stale THEN DELETE: rewrites only
            # buckets that actually hold an invalidated row
            merge_store.merge_delete(
                spark, seen_dir, f"last_ts < timestamp '{cfg.recrawl_cutoff}'"
            )
            url_seen = merge_store.read_table(spark, seen_dir)
        seen_size = max(0, seen_size - n_invalidated)
    seen_filter.restore(m, url_seen, invalidated, n_invalidated, seen_size)
    if m is not None:
        # admission keeps seen urls out of the frontier; only a state built
        # outside the loop can hold one, so gate the restored frontier once
        frontier = crawl_once_gate(frontier, url_seen, new_ts_col="discovered_ts")

    result = CrawlResult()
    metrics_rows = []

    for it in range(start_iter, cfg.max_iterations):
        t0 = time.monotonic()
        it_dir = f"{state_dir}/iter_{it:04d}"

        # 1-2. politeness + robots. The PRE-robots wave is persisted and is
        # what later retires rows from the frontier — robots-disallowed URLs
        # must be removed too, or they are re-selected every iteration and
        # permanently starve allowed same-host URLs below the politeness cap.
        sc.setJobDescription("crawl: salts")
        host_salts = (
            _hot_host_salts(spark, frontier) if cfg.salt_mode == "adaptive" else None
        )
        fetch_caps = None
        eff_cap = cfg.max_per_host
        if cfg.host_budget is not None:
            # remaining budget per SEEN host; unseen hosts get the default,
            # which is itself clamped to the whole-run budget
            fetch_caps = host_used.select(
                "host",
                F.greatest(
                    F.lit(0), F.lit(cfg.host_budget) - F.col("used")
                ).alias("cap"),
            )
            eff_cap = min(cfg.max_per_host, cfg.host_budget)
        wave_pre = (
            select_wave(
                frontier, eff_cap, cfg.salt, host_salts=host_salts,
                host_fetch_caps=fetch_caps, rotation=it,
            )
            .drop("wave_rank")
            .persist()
        )
        # full RFC 9309 precedence when the rules carry Allow rows (an
        # 'Disallow: / + Allow: /public/' robots.txt must NOT black-hole
        # the whole host); the cheaper prefix anti-join covers the
        # disallow-only common case. Both gates are broadcast-side only.
        gated = wave_pre
        if robots is not None:
            gated = (robots_gate_rfc if robots_needs_rfc else robots_gate)(wave_pre, robots)
        # a frontier subset, so it holds no seen url (link admission, 3.)
        gated = gated.persist()

        # 4. fetch join (J5); its count is the exact scheduled count
        sc.setJobDescription("crawl: wave")
        scheduled, fetched = _fetch(gated, corpus)
        cached = [gated, fetched, wave_pre]
        # nothing scheduled, but the wave may still be nonempty (all rows
        # robots-blocked): those rows are retired by the state merge below
        # like any other wave; only an empty wave terminates the crawl. The
        # count runs on this rare path only.
        if scheduled == 0 and wave_pre.count() == 0:
            for df in cached:
                df.unpersist()
            break

        # one action yields per-partition metrics (A2/north rule), the fetched
        # count, and the filter's delta hashes — fused into a single pass
        sc.setJobDescription("crawl: metrics")
        part_metrics, hashes = _wave_metrics(fetched, seen_filter.driver_delta)
        seen_filter.absorb(fetched, hashes)
        fetched_n = sum(n for _, n in part_metrics)
        # failed fetches: gated urls without a corpus row (a corpus holding
        # several captures of one url joins it more than once, hence the floor)
        errors = max(0, scheduled - fetched_n)
        metrics_rows.extend(
            (it, pid, scheduled, n, n, errors) for pid, n in part_metrics
        )

        # 5. parse: per-page feature extraction (the HEPRecord-emission role;
        # on the synthetic corpus the record is the textstats feature row)
        # + outlink explosion. Fused single-Arrow-pass features — bit-equal
        # to the individual column expressions (pinned by test); `meta`
        # rides along: hop-2 records carry the hop-1 state that discovered
        # them (the PoS/EDP chained-harvest contract).
        records = (
            X.record_features(
                fetched, keep_cols=("url", "meta") if meta_live else ("url",)
            )
            if fetched_n
            else None
        )
        links = extract_outlinks(
            fetched, link_meta=link_meta, thread_meta=meta_live
        )
        if fetched_n and cfg.rank_priorities_every > 0:
            # append this wave's (parent -> url) edges to the crawl's link
            # graph log; the periodic rank refresh reads it back. One narrow
            # write over the cached wave — no shuffle.
            sc.setJobDescription("crawl: edges")
            links.select(
                F.col("_parent").alias("src"), F.col("url").alias("dst")
            ).write.mode("append").parquet(f"{state_dir}/edges")
        meta_agg = (
            [
                # deterministic meta pick: the earliest (ts, parent) wins.
                # min_by keeps partial aggregation (map-side combine), unlike
                # a row_number window which would sort the full link set.
                F.min_by(
                    "meta", F.struct(F.col("discovered_ts"), F.col("_parent"))
                ).alias("meta")
            ]
            if meta_live
            else []
        )
        # 6. state merge
        wave_seen = fetched.select("url", F.col("warc_ts").alias("last_ts"))
        new_seen = (
            url_seen.unionByName(wave_seen)
            .groupBy("url")
            .agg(F.max("last_ts").alias("last_ts"))
        )
        # retire the PRE-robots wave from the frontier: both fetched rows and
        # robots-blocked rows leave for good (the reference's robots
        # middleware drops denied requests permanently). wave_pre is cached,
        # so this re-read costs no politeness-window shuffle.
        remaining = frontier.join(wave_pre.select("url"), "url", "left_anti")
        # 3. link admission: links ⋉̸ frontier ⋉̸ url_seen, the last behind
        # the seen filter. The pre-wave frontier holds the whole wave and
        # the remaining rows, so a link to a url this wave took (fetched,
        # failed or robots-blocked) or still queues never re-enters at
        # attempt 0. Probing the raw links puts the filter's union under
        # the groupBy's shuffle (no extra frontier part-files), and on the
        # main thread, before persist() replaces the filter state in the
        # commit pool. A fresh run's first wave has nothing to probe, and
        # neither does a wave whose url_seen Spark would broadcast: the
        # broadcast hash join already probes an exact in-memory set (Spark's
        # runtime bloom filter skips such joins by the same rule).
        links = links.join(frontier.select("url"), "url", "left_anti")
        probe = it > 0 and not _broadcasts_by_size(spark, url_seen.select("url"))
        candidates = (
            seen_filter.unseen(links, url_seen, probe=probe)
            .groupBy("url", "host")
            .agg(F.min("discovered_ts").alias("discovered_ts"), *meta_agg)
            .withColumn("priority", F.lit(0.0))
            .withColumn("attempt", F.lit(0))
        )
        if not meta_live:
            candidates = candidates.withColumn("meta", F.expr(_EMPTY_META))
        if cfg.max_depth is not None:
            candidates = candidates.filter(depth <= cfg.max_depth)
        frontier_cols = [
            "url", "host", "priority", "discovered_ts", "attempt", "meta"
        ]
        retry = None
        if cfg.max_attempts > 1:
            # P6 retry/backoff (reference RetryMiddleware; decay_priority is
            # the oracle-gated twin): gated urls that fetched nothing are
            # this wave's failed fetches (`fetched` is gated ⋈ corpus, and
            # cached). They were retired with wave_pre above; re-admit them
            # with attempt+1 and decayed priority until max_attempts.
            # Pay-for-use: one extra anti-join per iteration only when
            # enabled. A same-wave outlink to a retried url cannot add an
            # attempt=0 duplicate: admission already dropped it as a
            # frontier url.
            failed = gated.join(fetched.select("url"), "url", "left_anti")
            retry = decay_priority(
                failed.filter(F.col("attempt") < cfg.max_attempts - 1)
            )
        next_frontier = remaining.unionByName(
            candidates.select(*frontier_cols)
        )
        if retry is not None:
            next_frontier = next_frontier.unionByName(
                retry.select(*frontier_cols)
            )
        # the periodic refreshes skip a wave that fetched nothing
        rank_due = (
            fetched_n
            and cfg.rank_priorities_every > 0
            and (it + 1) % cfg.rank_priorities_every == 0
        )
        if (
            fetched_n
            and cfg.trap_detect_every > 0
            and (it + 1) % cfg.trap_detect_every == 0
        ):
            sc.setJobDescription("crawl: traps")
            trap_tpls = _trap_templates(
                spark, new_seen, cfg.trap_min_urls, cfg.trap_min_share_ppm
            )
        if trap_tpls is not None:
            from ..functions.urls import path_of
            from ..operators.traps import trap_gate

            next_frontier = trap_gate(
                next_frontier.withColumn("_path", path_of("url")),
                trap_tpls,
                host_col="host",
                path_col="_path",
            ).drop("_path")

        if cfg.host_budget is not None:
            # carry-over: fold this wave's per-host fetch counts into the
            # running consumption state (tiny: one row per host ever seen).
            # Charged by DISTINCT url: `fetched` is the gated INNER join
            # against the corpus on url, so a corpus holding multiple
            # captures per url (the recrawl scenario) multiplies the join
            # and a plain count(*) would charge one admitted fetch N times.
            host_used = (
                host_used.unionByName(
                    fetched.groupBy("host").agg(
                        F.countDistinct("url").alias("used")
                    )
                )
                .groupBy("host")
                .agg(F.sum("used").alias("used"))
            )

        # 7. commit: data first, manifest last = atomic commit. The state
        # cuts (frontier, url_seen, filter, host budget) and the records
        # sink are INDEPENDENT jobs over the cached `fetched` + the previous
        # state, so they run concurrently from driver threads and the Spark
        # scheduler interleaves them across the executor pool — removing
        # the serial job-commit latencies that dominated the round-1 fixed
        # cost (BENCH/BASELINE.md). Each thread inherits the caller's job
        # group and local properties.
        #
        # With snapshot_every=K only every K-th iteration is DURABLE
        # (parquet + manifest); in between, state is localCheckpoint'ed and
        # resume replays from the last durable manifest. At 100 TB durable
        # = Iceberg snapshot commit and K trades recovery replay depth
        # against commit latency.
        durable = (
            cfg.snapshot_every <= 1
            or (it + 1) % cfg.snapshot_every == 0
            or it == cfg.max_iterations - 1  # final iteration always commits
        )

        def frontier_commit(df=next_frontier, rank_due=rank_due):
            # the multi-job rank refresh runs INSIDE this future so it
            # overlaps the other commits (this wave's edges are already
            # appended, so ranks are identical either way)
            if rank_due:
                df = _rank_priorities(df, f"{state_dir}/edges", cfg.rank_iterations)
            return _cut(df, f"{it_dir}/frontier", durable)

        with ThreadPoolExecutor(max_workers=4) as pool:
            def submit(stage, fn, *args):
                # wrapped per task: each gets its own copy of the caller's
                # local properties (job group) and tags, then names its jobs
                def task():
                    sc.setJobDescription(f"crawl: {stage}")
                    return fn(*args)

                return pool.submit(inheritable_thread_target(spark)(task))

            frontier_f = submit("commit frontier", frontier_commit)
            seen_f = (
                submit("commit url_seen", _merge_seen, spark, seen_dir, wave_seen)
                if cfg.seen_store == "merge"
                else submit("commit url_seen", _cut, new_seen, f"{it_dir}/url_seen", durable)
            )
            filter_f = submit("commit filter", seen_filter.persist, it_dir, durable)
            budget_f = (
                submit("commit host_used", _cut, host_used, f"{it_dir}/host_used", durable)
                if host_used is not None
                else None
            )
            records_f = (
                submit(
                    "records", records.write.mode("overwrite").parquet,
                    f"{it_dir}/records",
                )
                if records is not None
                else None
            )
            next_frontier, new_seen = frontier_f.result(), seen_f.result()
            filter_fields = filter_f.result()
            if budget_f is not None:
                host_used = budget_f.result()
            if records_f is not None:
                records_f.result()
        if cfg.detailed_stats:
            sc.setJobDescription("crawl: stats")
            new_frontier_size = next_frontier.count()
            seen_size = new_seen.count()
        else:
            new_frontier_size = -1
            seen_size += fetched_n  # upper bound (exact when urls are unique)

        if durable:
            manifest = {
                "frontier": f"{it_dir}/frontier",
                "url_seen": seen_dir
                if cfg.seen_store == "merge"
                else f"{it_dir}/url_seen",
                "seen_store": cfg.seen_store,
                "seen_size": seen_size,
                "meta_live": meta_live,
                **filter_fields,
            }
            if cfg.seen_store == "merge":
                manifest["seen_snapshot"] = merge_store.current_snapshot(seen_dir)
            if host_used is not None:
                manifest["host_used"] = f"{it_dir}/host_used"
            _write_manifest(state_dir, it, manifest)
            _vacuum_snapshots(state_dir, cfg.keep_snapshots)
            if cfg.seen_store == "merge":
                # the merge table advances every iteration, the manifest
                # every snapshot_every-th — keep enough merge snapshots that
                # every retained manifest's seen_snapshot stays readable
                merge_store.vacuum(
                    seen_dir,
                    cfg.keep_snapshots * max(1, cfg.snapshot_every) + 1,
                )
        for df in cached:
            df.unpersist()
        seen_filter.release()
        frontier, url_seen = next_frontier, new_seen

        result.iterations.append(
            IterationStats(
                iteration=it,
                scheduled=scheduled,
                fetched=fetched_n,
                parsed=fetched_n,
                frontier_size=new_frontier_size,
                seen_size=seen_size,
                wall_s=time.monotonic() - t0,
            )
        )
        if new_frontier_size == 0:  # only hit with detailed_stats
            break

    if metrics_rows:
        sc.setJobDescription("crawl: metrics table")
        _local_frame(
            spark,
            "iteration int, partition_id int, scheduled long, fetched long, parsed long, errors long",
            metrics_rows,
        ).write.mode("overwrite").parquet(f"{state_dir}/metrics")
    return result
