"""Per-layer replay on the state a finished crawl left behind.

Each layer's input is cached and materialised first; then the layer's
public function is called once and its output forced with the ``noop``
writer, so the measured wall is the layer's self time.  Driver-side layers
(bloom and cuckoo batch calls) are timed directly.  Besides the layers the
crawl-default profile runs, this replays the production and resume paths
on the same state: robots rules, adaptive salting, the bloom shard table,
the cuckoo filter, the merge store and the PageRank refresh.
"""

from __future__ import annotations

import json
import os
import time
from urllib.parse import urlsplit

import numpy as np
from pyspark.sql import functions as F

from hepcrawl_spark.crawl.frontier import extract_outlinks, read_manifest
from hepcrawl_spark.crawl.robots import parse_robots_txt, robots_gate_rfc
from hepcrawl_spark.operators import textstats as X
from hepcrawl_spark.operators.bloom import (
    ShardedBloom,
    bloom_merge_delta_cogroup,
    bloom_probe_cogroup,
    empty_bloom_shard_table,
    sharded_might_contain_udf,
)
from hepcrawl_spark.operators.cuckoo import ShardedCuckoo, cuckoo_might_contain_udf
from hepcrawl_spark.operators.dedup import crawl_once_gate
from hepcrawl_spark.operators.linkrank import pagerank
from hepcrawl_spark.operators.politeness import (
    adaptive_host_salt,
    salted_host,
    select_wave,
)
from hepcrawl_spark.sources import merge_store

from . import harness as H
from .robots_rules import is_allowed, robots_bodies, rules_for

# sizes of the library defaults and of the frozen bench's production profile
DEFAULT_EXPECTED_URLS = 1_000_000
PRODUCTION_EXPECTED_URLS = 10_000_000
FILTER_SHARDS = 32
MERGE_BUCKETS = 32
RANK_ITERATIONS = 5
DRIVER_REPS = 5


def _cached(df):
    df = df.persist()
    df.count()
    return df


def _hashes(df) -> np.ndarray:
    return df.select(F.xxhash64("url").alias("h")).toPandas()["h"].to_numpy(np.int64)


def _merge_buckets(table_dir: str) -> dict:
    snap = merge_store.current_snapshot(table_dir)
    with open(os.path.join(table_dir, f"snap-{snap}.json")) as f:
        return json.load(f)["buckets"]


def replay_crawl_layers(spark, corpus, state_dir, seed, work, windows, profile):
    """-> ({metric: value}, robots_ok).  ``windows`` receives the wall-clock
    window of every timed Spark replay, for the event-log reader."""
    out: dict[str, float] = {}

    def timed(name, fn):
        t0 = H.now_ms()
        result = fn()
        t1 = H.now_ms()
        windows[name] = (t0, t1)
        out[name] = (t1 - t0) / 1000.0
        return result

    m = read_manifest(state_dir)
    frontier = _cached(spark.read.parquet(m["frontier"]))
    url_seen = _cached(spark.read.parquet(m["url_seen"]))
    cached = [frontier, url_seen]

    # -- politeness ------------------------------------------------------
    salt = profile["salt"]
    wave_df = select_wave(
        frontier, profile["max_per_host"], salt,
        rotation=profile["max_iterations"],
    ).drop("wave_rank")
    timed("politeness.select_wave_s", lambda: H.force(wave_df))
    wave = _cached(wave_df)
    cached.append(wave)
    timed("politeness.adaptive_salt_s", lambda: H.force(adaptive_host_salt(frontier)))
    shard_rows = [
        r["count"]
        for r in frontier.groupBy(salted_host("host", "url", salt).alias("s"))
        .count()
        .collect()
    ]
    out["politeness.shard_skew"] = max(shard_rows) / H.median(shard_rows)

    # -- robots: generated rules, checked against the plain-Python matcher -
    bodies = robots_bodies(64, rotation=seed)
    robots_pages = _cached(spark.createDataFrame(bodies, "host string, text string"))
    rules_df = parse_robots_txt(robots_pages)
    timed("robots.parse_s", lambda: H.force(rules_df))
    rules = _cached(rules_df)
    gated_df = robots_gate_rfc(wave, rules)
    timed("robots.gate_s", lambda: H.force(gated_df))
    wave_urls = [r["url"] for r in wave.select("url").collect()]
    passed = {r["url"] for r in gated_df.select("url").collect()}
    host_rules = {h: rules_for(b) for h, b in bodies}
    robots_ok = all(
        (u in passed) == is_allowed(host_rules.get(urlsplit(u).hostname, []), u)
        for u in wave_urls
    )
    if not robots_ok:
        H.log("robots check: gate disagrees with the RFC 9309 reference matcher")
    out["robots.blocked_frac"] = 1.0 - len(passed) / len(wave_urls)
    cached += [robots_pages, rules]

    # -- broadcast bloom probe and the crawl-once gate ---------------------
    seen_h = _hashes(url_seen)
    wave_h = _hashes(wave)
    unseen = ~np.isin(wave_h, seen_h)
    bf = ShardedBloom.sized_for(DEFAULT_EXPECTED_URLS, 0.01, FILTER_SHARDS)
    bf.add(seen_h)
    out["bloom.fp_rate"] = float((bf.might_contain(wave_h) & unseen).sum()) / max(
        int(unseen.sum()), 1
    )
    add_s = []
    for _ in range(DRIVER_REPS):
        empty = ShardedBloom.sized_for(DEFAULT_EXPECTED_URLS, 0.01, FILTER_SHARDS)
        t0 = time.perf_counter()
        empty.add(wave_h)
        add_s.append(time.perf_counter() - t0)
    out["bloom.add_s"] = H.median(add_s)
    probe = sharded_might_contain_udf(spark, bf)
    probed_df = wave.withColumn("warc_ts", F.col("discovered_ts")).withColumn(
        "_maybe", probe(F.xxhash64("url"))
    )
    timed("bloom.probe_s", lambda: H.force(probed_df))
    probed = _cached(probed_df)
    cached.append(probed)
    gate_df = crawl_once_gate(probed, url_seen, might_be_seen=F.col("_maybe"))
    timed("dedup.gate_s", lambda: H.force(gate_df))
    out["dedup.pass_frac"] = gate_df.count() / len(wave_urls)

    # -- bloom shard table: the production profile's cogroup path ---------
    table = _cached(
        bloom_merge_delta_cogroup(
            url_seen.select(F.xxhash64("url").alias("url_hash")),
            empty_bloom_shard_table(spark, PRODUCTION_EXPECTED_URLS, 0.01, FILTER_SHARDS),
            n_shards=FILTER_SHARDS,
        )
    )
    cached.append(table)
    wave_hashed = probed.drop("_maybe").withColumn("url_hash", F.xxhash64("url"))
    timed(
        "bloom.cogroup_probe_s",
        lambda: H.force(bloom_probe_cogroup(wave_hashed, table, n_shards=FILTER_SHARDS)),
    )
    timed(
        "bloom.delta_merge_s",
        lambda: H.force(
            bloom_merge_delta_cogroup(
                wave_hashed.select("url_hash"), table, n_shards=FILTER_SHARDS
            )
        ),
    )

    # -- cuckoo: the resume path's insert, delete and probe ---------------
    seen_ts = url_seen.select(F.unix_seconds("last_ts").alias("t")).toPandas()
    cutoff = int(np.median(seen_ts["t"]))
    invalid_h = seen_h[seen_ts["t"].to_numpy() < cutoff]
    ccf = ShardedCuckoo.sized_for(DEFAULT_EXPECTED_URLS, FILTER_SHARDS)
    t0 = time.perf_counter()
    overflow = ccf.insert_batch(seen_h)
    out["cuckoo.insert_keys_per_s"] = len(seen_h) / (time.perf_counter() - t0)
    out["cuckoo.fp_rate"] = float((ccf.might_contain(wave_h) & unseen).sum()) / max(
        int(unseen.sum()), 1
    )
    out["cuckoo.load_factor"] = sum(
        int((cf.table != 0).sum()) for cf in ccf.shards.values()
    ) / sum(cf.table.size for cf in ccf.shards.values())
    t0 = time.perf_counter()
    removed = ccf.delete_batch(invalid_h)
    out["cuckoo.delete_keys_per_s"] = len(invalid_h) / (time.perf_counter() - t0)
    cuckoo_ok = overflow == 0 and removed == len(invalid_h)
    if not cuckoo_ok:
        H.log(f"cuckoo check: {overflow} failed inserts, {removed}/{len(invalid_h)} deletes")
    cprobe = cuckoo_might_contain_udf(spark, ccf)
    timed(
        "cuckoo.probe_s",
        lambda: H.force(wave.withColumn("_maybe", cprobe(F.xxhash64("url")))),
    )

    # -- parse and outlinks over the next wave's fetched pages ------------
    fetched = _cached(wave.join(corpus.select("url", "warc_ts", "text"), "url"))
    cached.append(fetched)
    timed(
        "textstats.record_features_s",
        lambda: H.force(X.record_features(fetched, keep_cols=("url",))),
    )
    links = extract_outlinks(fetched, thread_meta=False)
    timed("outlinks.extract_s", lambda: H.force(links))
    out["outlinks.links_per_page"] = links.count() / fetched.count()

    # -- merge store: upsert the wave, then delete the older half ---------
    table_dir = os.path.join(work, "url_seen_merge")
    merge_store.create_table(url_seen, table_dir, key="url", n_buckets=MERGE_BUCKETS)
    before = _merge_buckets(table_dir)
    timed(
        "merge_store.upsert_s",
        lambda: merge_store.merge_upsert(
            spark, table_dir,
            fetched.select("url", F.col("warc_ts").alias("last_ts")), key="url",
        ),
    )
    after = _merge_buckets(table_dir)
    out["merge_store.buckets_touched_frac"] = sum(
        before.get(b) != p for b, p in after.items()
    ) / MERGE_BUCKETS
    timed(
        "merge_store.delete_s",
        lambda: merge_store.merge_delete(
            spark, table_dir, f"last_ts < timestamp_seconds({cutoff})"
        ),
    )

    # -- PageRank refresh over the link graph of every fetched page --------
    edges_dir = os.path.join(work, "edges")
    extract_outlinks(
        url_seen.join(corpus.select("url", "warc_ts", "text"), "url")
    ).select(F.col("_parent").alias("src"), F.col("url").alias("dst")).write.parquet(
        edges_dir
    )
    timed(
        "linkrank.pagerank_s",
        lambda: H.force(
            pagerank(spark.read.parquet(edges_dir), iterations=RANK_ITERATIONS)
        ),
    )

    for df in cached:
        df.unpersist()
    return out, robots_ok and cuckoo_ok
