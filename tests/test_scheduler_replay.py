"""North-rule criterion: the engine's crawl ordering and final URL-seen set
must match the reference scheduler replayed on the same seed list and
politeness budget.

The reference scheduler (Scrapy FIFO+priority queue with per-host politeness,
crawl-once gate) is formalized here as a pure-Python simulator; the Spark
fixpoint must produce the same per-wave scheduled URL sets and the same final
url_seen set on the same deterministic corpus.
"""

import re

import pyspark.sql.functions as F
import pytest

from hepcrawl_spark.crawl.frontier import CrawlConfig, read_manifest, run_crawl
from hepcrawl_spark.sources.pages import synthesize_corpus

_LINK_RE = re.compile(r'href="([^"]+)"')
_HOST_RE = re.compile(r"https?://([^/]+)/")


def reference_scheduler_replay(pages, seeds, max_per_host, max_iterations):
    """Pure-Python formalization of the reference scheduler semantics:
    per wave, each host serves its top `max_per_host` pending requests by
    (priority DESC, discovered_ts, url); crawl-once gate drops seen urls;
    fetched pages contribute their outlinks as next-wave requests."""
    corpus = {r["url"]: r for r in pages}
    frontier = {
        r["url"]: (float(r["priority"]), r["discovered_ts"], r["url"])
        for r in seeds
    }
    seen = set()
    waves = []
    for _ in range(max_iterations):
        by_host = {}
        for url, key in frontier.items():
            host = _HOST_RE.match(url).group(1)
            by_host.setdefault(host, []).append((key, url))
        wave = []
        for host, items in by_host.items():
            items.sort(key=lambda p: (-p[0][0], p[0][1], p[0][2]))
            wave.extend(u for _, u in items[:max_per_host])
        wave = [u for u in wave if u not in seen]
        if not wave:
            break
        waves.append(set(wave))
        new_frontier = dict(frontier)
        for key in wave:
            new_frontier.pop(key, None)
        # drop everything that was politeness-selected (attempted)
        for host, items in by_host.items():
            for _, u in items[:max_per_host]:
                new_frontier.pop(u, None)
        discovered = {}
        for url in wave:
            page = corpus.get(url)
            if page is None:
                continue
            seen.add(url)
            for link in _LINK_RE.findall(page["text"]):
                # multiple discoverers in one wave: earliest timestamp wins
                # (the engine's groupBy(url).min(discovered_ts))
                ts = page["warc_ts"]
                if link not in discovered or ts < discovered[link]:
                    discovered[link] = ts
        for link, ts in discovered.items():
            if link not in seen and link not in new_frontier:
                new_frontier[link] = (0.0, ts, link)
        frontier = new_frontier
    return waves, seen


@pytest.mark.parametrize("filter_mode", ["none", "bloom"])
def test_crawl_matches_reference_scheduler(spark, tmp_path, request, filter_mode):
    if filter_mode == "bloom":
        # nothing broadcast by size: link admission probes the filter
        request.getfixturevalue("no_broadcast")
    corpus_df = synthesize_corpus(spark, n_pages=400, n_hosts=8, links_per_page=3)
    corpus_df = corpus_df.persist()
    seeds_df = corpus_df.orderBy("page_id").limit(12).select(
        "url", "host", F.lit(1.0).alias("priority"),
        F.col("warc_ts").alias("discovered_ts"),
    )

    max_per_host, iters = 10, 4
    sd = str(tmp_path / f"replay_{filter_mode}")
    run_crawl(
        spark, corpus_df, seeds_df,
        CrawlConfig(
            max_iterations=iters, max_per_host=max_per_host, salt=1,
            filter_mode=filter_mode, state_dir=sd, keep_snapshots=iters + 1,
        ),
    )

    pages_rows = corpus_df.select("url", "warc_ts", "text").collect()
    seeds_rows = seeds_df.collect()
    ref_waves, ref_seen = reference_scheduler_replay(
        pages_rows, seeds_rows, max_per_host, iters
    )

    # final url_seen set must match the reference scheduler exactly
    m = read_manifest(sd)
    engine_seen = {
        r["url"]
        for r in spark.read.parquet(f"{sd}/iter_{m['iteration']:04d}/url_seen").collect()
    }
    assert engine_seen == ref_seen

    # per-wave scheduled sets must match: wave K = seen(K) - seen(K-1)
    prev = set()
    for k in range(m["iteration"] + 1):
        try:
            seen_k = {
                r["url"]
                for r in spark.read.parquet(f"{sd}/iter_{k:04d}/url_seen").collect()
            }
        except Exception:
            continue  # vacuumed snapshot
        if k < len(ref_waves):
            fetched_wave = seen_k - prev
            assert fetched_wave == ref_waves[k], f"wave {k} diverged"
        prev = seen_k
