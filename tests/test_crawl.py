"""Fixpoint-loop invariants: determinism, filter-mode equivalence, resume.

These are the engine-level analogues of the north rule's "crawl ordering and
final URL-seen set must match the reference scheduler under the same seed
list and politeness budget": same seeds + same budget -> identical final
url_seen set and identical per-iteration schedule, regardless of which
membership filter accelerates the gate and regardless of checkpoint/resume.
"""

import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from hepcrawl_spark.crawl.frontier import CrawlConfig, run_crawl
from hepcrawl_spark.sources.pages import synthesize_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    pages = synthesize_corpus(spark, n_pages=600, n_hosts=8, links_per_page=3)
    pages.persist()
    pages.count()
    return pages


@pytest.fixture(scope="module")
def seeds(corpus):
    return corpus.orderBy("page_id").limit(10).select(
        "url", "host", F.lit(1.0).alias("priority"),
        F.col("warc_ts").alias("discovered_ts"),
    )


def _final_seen(spark, state_dir):
    from hepcrawl_spark.crawl.frontier import read_manifest

    m = read_manifest(state_dir)
    return {
        r["url"]
        for r in spark.read.parquet(f"{state_dir}/iter_{m['iteration']:04d}/url_seen").collect()
    }


def test_fixpoint_progress_and_metrics(spark, corpus, seeds, tmp_path):
    sd = str(tmp_path / "s1")
    res = run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=4, max_per_host=20, salt=1, filter_mode="none",
                    state_dir=sd, detailed_stats=True),
    )
    assert len(res.iterations) >= 2
    assert res.total_fetched > 10
    # monotone url_seen growth
    seen_sizes = [i.seen_size for i in res.iterations]
    assert seen_sizes == sorted(seen_sizes)
    # metrics table written with per-partition rows
    metrics = spark.read.parquet(f"{sd}/metrics")
    assert metrics.count() > 0
    assert metrics.filter("fetched < 0").count() == 0


def test_filter_modes_equivalent(spark, corpus, seeds, tmp_path):
    """bloom- and cuckoo-accelerated gates must not change the crawl result."""
    _check_filter_modes_equivalent(spark, corpus, seeds, tmp_path)


def test_filter_modes_equivalent_when_probing(spark, corpus, seeds, tmp_path, no_broadcast):
    """The same with every link probing its filter: nothing is broadcast by
    size, so admission's exact anti-join would shuffle."""
    _check_filter_modes_equivalent(spark, corpus, seeds, tmp_path)


def _check_filter_modes_equivalent(spark, corpus, seeds, tmp_path):
    seen = {}
    scheds = {}
    for mode in ("none", "bloom", "bloom_table", "cuckoo"):
        sd = str(tmp_path / f"m_{mode}")
        res = run_crawl(
            spark, corpus, seeds,
            CrawlConfig(max_iterations=3, max_per_host=15, salt=1, filter_mode=mode,
                        state_dir=sd, n_expected_urls=5000),
        )
        seen[mode] = _final_seen(spark, sd)
        scheds[mode] = [i.scheduled for i in res.iterations]
    assert seen["none"] == seen["bloom"] == seen["bloom_table"] == seen["cuckoo"]
    assert scheds["none"] == scheds["bloom"] == scheds["bloom_table"] == scheds["cuckoo"]


def test_bloom_table_mode_keeps_filter_off_the_driver(
    spark, corpus, seeds, tmp_path, monkeypatch, no_broadcast
):
    """filter_mode='bloom_table': probe and delta-merge are cogroups — the
    DRIVER must never touch a bitmap or a hash blob. Driver-side filter
    entry points are patched to raise; executor-side workers re-import the
    module fresh, so the patch only guards the driver process. Nothing is
    broadcast by size, so the probe runs."""
    import hepcrawl_spark.crawl.frontier as FR

    def _boom(*a, **k):
        raise AssertionError("driver-side filter state touched in bloom_table mode")

    monkeypatch.setattr(FR, "build_bloom_sharded", _boom)
    monkeypatch.setattr(FR, "sharded_might_contain_udf", _boom)
    monkeypatch.setattr(FR, "build_cuckoo", _boom)
    monkeypatch.setattr(FR.ShardedBloom, "add", _boom)
    monkeypatch.setattr(FR.ShardedBloom, "might_contain", _boom)
    sd = str(tmp_path / "bt")
    res = run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=3, max_per_host=15, salt=1,
                    filter_mode="bloom_table", state_dir=sd, n_expected_urls=5000),
    )
    assert res.total_fetched > 0
    # resume also comes from the bloom parquet snapshot, not a driver build
    res2 = run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=4, max_per_host=15, salt=1,
                    filter_mode="bloom_table", state_dir=sd, n_expected_urls=5000),
        resume=True,
    )
    assert len(res2.iterations) >= 1


def test_auto_filter_mode_switches_on_scale(
    spark, corpus, seeds, tmp_path, monkeypatch, no_broadcast
):
    """filter_mode='auto': below the threshold the cheap broadcast bloom
    runs; above it the run MUST take the zero-driver cogroup path — same
    driver-side tripwires as the explicit bloom_table test. Results match
    the explicit modes either way. Nothing is broadcast by size, so the
    probes run."""
    import hepcrawl_spark.crawl.frontier as FR

    # small expected scale -> broadcast bloom (driver path allowed)
    sd_small = str(tmp_path / "auto_small")
    res_small = run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=3, max_per_host=15, salt=1,
                    filter_mode="auto", state_dir=sd_small,
                    n_expected_urls=5000),
    )
    assert res_small.total_fetched > 0

    # the caller's config object is not mutated by the auto resolution
    probe_cfg = CrawlConfig(max_iterations=1, max_per_host=5, salt=1,
                            filter_mode="auto",
                            state_dir=str(tmp_path / "auto_nm"),
                            n_expected_urls=5000)
    run_crawl(spark, corpus, seeds, probe_cfg)
    assert probe_cfg.filter_mode == "auto"

    # large expected scale -> bloom_table; any driver-side filter touch raises
    def _boom(*a, **k):
        raise AssertionError("driver-side filter state touched in auto mode")

    monkeypatch.setattr(FR, "build_bloom_sharded", _boom)
    monkeypatch.setattr(FR, "sharded_might_contain_udf", _boom)
    monkeypatch.setattr(FR.ShardedBloom, "add", _boom)
    monkeypatch.setattr(FR.ShardedBloom, "might_contain", _boom)
    sd_big = str(tmp_path / "auto_big")
    res_big = run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=3, max_per_host=15, salt=1,
                    filter_mode="auto", state_dir=sd_big,
                    n_expected_urls=6_000_000),  # > auto_filter_threshold
    )
    assert res_big.total_fetched > 0
    # both resolutions produce the same crawl
    assert _final_seen(spark, sd_small) == _final_seen(spark, sd_big)
    assert [i.scheduled for i in res_small.iterations] == [
        i.scheduled for i in res_big.iterations
    ]


def test_cuckoo_resident_delta_no_per_iteration_rebuild(spark, corpus, seeds, tmp_path, monkeypatch):
    """The cuckoo filter must be built at most once (resume) and then
    delta-updated; the round-2 O(|seen|) rebuild per iteration is a scale
    regression the loop must not reintroduce."""
    import hepcrawl_spark.crawl.frontier as FR

    calls = []
    real = FR.build_cuckoo
    monkeypatch.setattr(
        FR, "build_cuckoo", lambda *a, **k: (calls.append(1), real(*a, **k))[1]
    )
    sd = str(tmp_path / "ck")
    run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=3, max_per_host=15, salt=1, filter_mode="cuckoo",
                    state_dir=sd, n_expected_urls=5000),
    )
    assert calls == []  # fresh run: empty sized filter + per-wave inserts
    run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=5, max_per_host=15, salt=1, filter_mode="cuckoo",
                    state_dir=sd, n_expected_urls=5000),
        resume=True,
    )
    # resume restores the persisted shard blobs — zero rebuilds, ever
    assert calls == []
    # only a pre-persistence snapshot (no cuckoo dir) falls back to ONE
    # rebuild from url_seen
    import shutil as _sh

    from hepcrawl_spark.crawl.frontier import read_manifest

    m = read_manifest(sd)
    _sh.rmtree(m["cuckoo"])
    run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=m["iteration"] + 2, max_per_host=15, salt=1,
                    filter_mode="cuckoo", state_dir=sd, n_expected_urls=5000),
        resume=True,
    )
    assert len(calls) == 1


def test_meta_threads_through_two_hop_chain(spark, corpus, seeds, tmp_path):
    """PoS-shape chained harvest (reference pos_spider.py:118-126): hop-1
    state rides Request.meta and hop-2 parsing reads it. Here: seeds carry
    meta {job: pos2019}; link_meta stamps each outlink with its parent url;
    the hop-2 records (iteration 1) must surface BOTH."""
    sd = str(tmp_path / "meta")
    seeded = seeds.withColumn(
        "meta", F.create_map(F.lit("job"), F.lit("pos2019"))
    )
    res = run_crawl(
        spark, corpus, seeded,
        CrawlConfig(
            max_iterations=2, max_per_host=15, salt=1, filter_mode="none",
            state_dir=sd, keep_snapshots=5,
            link_meta={"hop1_url": F.col("url")},
        ),
    )
    assert len(res.iterations) == 2 and res.iterations[1].fetched > 0
    hop1 = {r["url"] for r in spark.read.parquet(f"{sd}/iter_0000/records").collect()}
    hop2 = spark.read.parquet(f"{sd}/iter_0001/records").collect()
    assert hop2, "hop 2 produced no records"
    for r in hop2:
        # hop-2 record reads hop-1 state: the seed job id AND the parent url
        assert r["meta"]["job"] == "pos2019"
        assert r["meta"]["hop1_url"] in hop1
    # the frontier snapshot itself carries the threaded meta column
    front = spark.read.parquet(f"{sd}/iter_0001/frontier")
    assert dict(front.dtypes)["meta"] == "map<string,string>"


def test_recrawl_cutoff_invalidates_and_refetches(spark, corpus, tmp_path):
    """reference middlewares.py:134-155: an entry whose stored timestamp is
    older than the new capture must be re-crawled. A frontier of already-
    seen urls with OLD discovered_ts is blocked by the gate; setting
    recrawl_cutoff invalidates those url_seen entries (cuckoo mode DELETES
    their fingerprints from the resident filter) and the urls re-fetch."""
    from hepcrawl_spark.crawl.frontier import _write_manifest

    sd = str(tmp_path / "inv")
    seeds10 = corpus.orderBy("page_id").limit(10).select(
        "url", "host", F.lit(1.0).alias("priority"),
        F.col("warc_ts").alias("discovered_ts"),
    )
    run_crawl(
        spark, corpus, seeds10,
        CrawlConfig(max_iterations=2, max_per_host=15, salt=1, filter_mode="cuckoo",
                    state_dir=sd, n_expected_urls=5000),
    )
    from hepcrawl_spark.crawl.frontier import read_manifest

    m = read_manifest(sd)
    url_seen = spark.read.parquet(m["url_seen"])
    n_seen = url_seen.count()
    # craft a resume state whose frontier re-offers ALREADY-SEEN urls with
    # discovered_ts strictly OLDER than their stored last_ts
    refeed = url_seen.select(
        "url",
        F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"),
        F.lit(1.0).alias("priority"),
        (F.col("last_ts") - F.expr("INTERVAL 1 DAY")).alias("discovered_ts"),
        F.lit(0).alias("attempt"),
    )
    it_dir = f"{sd}/iter_{m['iteration']:04d}"
    refeed.write.mode("overwrite").parquet(f"{it_dir}/frontier")
    _write_manifest(sd, m["iteration"], {
        "frontier": f"{it_dir}/frontier",
        "url_seen": m["url_seen"],
        "seen_size": n_seen,
    })

    # without invalidation: every wave row is seen with an older capture ->
    # gate blocks all, nothing fetched
    res_blocked = run_crawl(
        spark, corpus, seeds10,
        CrawlConfig(max_iterations=m["iteration"] + 2, max_per_host=1000, salt=1,
                    filter_mode="cuckoo", state_dir=sd, n_expected_urls=5000),
        resume=True,
    )
    assert sum(i.fetched for i in res_blocked.iterations) == 0

    # with a cutoff past every last_ts: entries invalidate (cuckoo deletes),
    # and the same urls re-fetch
    refeed.write.mode("overwrite").parquet(f"{it_dir}/frontier")
    _write_manifest(sd, m["iteration"], {
        "frontier": f"{it_dir}/frontier",
        "url_seen": m["url_seen"],
        "seen_size": n_seen,
    })
    res_inval = run_crawl(
        spark, corpus, seeds10,
        CrawlConfig(max_iterations=m["iteration"] + 2, max_per_host=1000, salt=1,
                    filter_mode="cuckoo", state_dir=sd, n_expected_urls=5000,
                    recrawl_cutoff="2100-01-01 00:00:00"),
        resume=True,
    )
    assert res_inval.iterations[0].fetched == n_seen


def test_newer_rediscovery_of_a_seen_url_is_not_readmitted(spark, tmp_path):
    """Link admission drops every link to a seen url, whatever its
    timestamp: the reference's newer-capture rule (middlewares.py:134-155)
    applies only as the periodic recrawl_cutoff sweep of url_seen, after
    which the url is admitted again when a link rediscovers it."""
    a, b, c = (f"https://{h}.example.org/p" for h in "abc")
    pages = spark.createDataFrame(
        [
            (a, f'<a href="{b}">b</a>', "2024-01-01 00:00:00"),
            (b, f'<a href="{a}">a</a> <a href="{c}">c</a>', "2024-01-02 00:00:00"),
            (c, f'<a href="{a}">a</a>', "2024-01-03 00:00:00"),
        ],
        "url string, text string, ts string",
    ).select(
        "url", "text", F.to_timestamp("ts").alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"), F.lit("en").alias("lang"),
    )
    seeds1 = pages.filter(F.col("url") == a).select(
        "url", F.lit("a.example.org").alias("host"), F.lit(1.0).alias("priority"),
        F.col("warc_ts").alias("discovered_ts"),
    )

    def crawl(sd, max_iterations, resume=False, recrawl_cutoff=None):
        return run_crawl(
            spark, pages, seeds1,
            CrawlConfig(max_iterations=max_iterations, max_per_host=10, salt=1,
                        filter_mode="bloom", n_expected_urls=100,
                        state_dir=str(tmp_path / sd), recrawl_cutoff=recrawl_cutoff),
            resume=resume,
        )

    for sd in ("kept", "swept"):
        crawl(sd, 2)  # fetches a, then b, whose link to a is newer than a's capture
        frontier = spark.read.parquet(str(tmp_path / sd / "iter_0001" / "frontier"))
        assert [r["url"] for r in frontier.collect()] == [c]
    # c's link to a is dropped, and the frontier runs dry
    assert [i.fetched for i in crawl("kept", 4, resume=True).iterations] == [1]
    # the sweep removes a's entry, so c's link admits it and a is fetched again
    swept = crawl("swept", 4, resume=True, recrawl_cutoff="2024-01-01 12:00:00")
    assert [i.fetched for i in swept.iterations] == [1, 1]


@pytest.mark.parametrize("seen_store", ["snapshot", "merge"])
@pytest.mark.parametrize("filter_mode", ["none", "bloom", "bloom_table", "cuckoo"])
def test_frontier_never_holds_a_seen_url(
    spark, corpus, seeds, tmp_path, monkeypatch, filter_mode, seen_store
):
    """Link admission is the crawl's only URL-seen test, so the wave needs
    no gate: after every durable iteration, retries and a resumed run
    included, the frontier and the url_seen its manifest names share no
    url."""
    from hepcrawl_spark.crawl import frontier as fr
    from hepcrawl_spark.sources import merge_store

    checks = []  # (frontier rows, of them in url_seen) per durable commit
    real = fr._write_manifest

    def write_manifest(state_dir, iteration, extra=None):
        real(state_dir, iteration, extra)
        m = fr.read_manifest(state_dir)
        seen = (
            merge_store.read_table(spark, m["url_seen"], m["seen_snapshot"])
            if m["seen_store"] == "merge"
            else spark.read.parquet(m["url_seen"])
        )
        row = (
            spark.read.parquet(m["frontier"])
            .join(seen.select("url", F.lit(1).alias("seen")), "url", "left")
            .agg(F.count("*"), F.count("seen"))
            .first()
        )
        checks.append(tuple(row))

    monkeypatch.setattr(fr, "_write_manifest", write_manifest)
    ghost = spark.createDataFrame(
        [("https://ghost.example.org/nope", "ghost.example.org", 8.0)],
        "url string, host string, priority double",
    ).withColumn("discovered_ts", F.current_timestamp())
    cfgkw = dict(max_per_host=15, salt=1, filter_mode=filter_mode,
                 seen_store=seen_store, n_expected_urls=5000, max_attempts=2)
    sd = str(tmp_path / "inv")
    run_crawl(spark, corpus, seeds.unionByName(ghost),
              CrawlConfig(max_iterations=2, state_dir=sd, **cfgkw))
    run_crawl(spark, corpus, seeds.unionByName(ghost),
              CrawlConfig(max_iterations=3, state_dir=sd, **cfgkw), resume=True)
    assert len(checks) == 3
    assert all(n > 0 for n, _ in checks), checks
    assert [overlap for _, overlap in checks] == [0, 0, 0]


@pytest.mark.parametrize("filter_mode", ["none", "bloom", "bloom_table", "cuckoo"])
def test_resume_equals_straight_run(spark, corpus, seeds, tmp_path, filter_mode):
    _check_resume_equals_straight_run(spark, corpus, seeds, tmp_path, filter_mode)


@pytest.mark.parametrize("filter_mode", ["none", "bloom", "bloom_table", "cuckoo"])
def test_resume_equals_straight_run_when_probing(
    spark, corpus, seeds, tmp_path, filter_mode, no_broadcast
):
    _check_resume_equals_straight_run(spark, corpus, seeds, tmp_path, filter_mode)


def _check_resume_equals_straight_run(spark, corpus, seeds, tmp_path, filter_mode):
    cfgkw = dict(max_per_host=15, salt=1, filter_mode=filter_mode, n_expected_urls=5000)
    sd_full = str(tmp_path / "full")
    run_crawl(spark, corpus, seeds, CrawlConfig(max_iterations=4, state_dir=sd_full, **cfgkw))

    sd_resume = str(tmp_path / "resume")
    run_crawl(spark, corpus, seeds, CrawlConfig(max_iterations=2, state_dir=sd_resume, **cfgkw))
    run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=4, state_dir=sd_resume, **cfgkw),
        resume=True,
    )
    assert _final_seen(spark, sd_full) == _final_seen(spark, sd_resume)


def _manifest_seen(spark, state_dir):
    """The final url_seen set through the manifest, for either seen store."""
    from hepcrawl_spark.crawl.frontier import read_manifest
    from hepcrawl_spark.sources import merge_store

    m = read_manifest(state_dir)
    if m["seen_store"] == "merge":
        df = merge_store.read_table(spark, m["url_seen"])
    else:
        df = spark.read.parquet(m["url_seen"])
    return {r["url"] for r in df.select("url").collect()}


@pytest.mark.parametrize("seen_store", ["snapshot", "merge"])
def test_rerun_into_used_state_dir_equals_fresh_run(spark, corpus, seeds, tmp_path, seen_store):
    """A second non-resume run into a state_dir an earlier crawl used must
    equal a run into a fresh dir. Without clearing, the earlier run's
    newer iter_NNNN dirs outrank the new run's in the vacuum (snapshot
    store: the live iter_0001 is deleted under a snapshot_every=2 run) and
    its url_seen_merge table gates the new run (merge store). Entries the
    crawl does not own stay."""
    def cfg(sd):
        return CrawlConfig(max_iterations=4, max_per_host=15, salt=1,
                           filter_mode="none", state_dir=sd, snapshot_every=2,
                           seen_store=seen_store)

    sd = tmp_path / "reused"
    sd.mkdir()
    (sd / "notes.txt").write_text("not crawl state")
    run_crawl(spark, corpus, seeds, cfg(str(sd)))
    again = run_crawl(spark, corpus, seeds, cfg(str(sd)))
    fresh = run_crawl(spark, corpus, seeds, cfg(str(tmp_path / "fresh")))
    assert _manifest_seen(spark, str(sd)) == _manifest_seen(spark, str(tmp_path / "fresh"))
    assert [i.scheduled for i in again.iterations] == [i.scheduled for i in fresh.iterations]
    assert (sd / "notes.txt").read_text() == "not crawl state"


def test_commit_jobs_inherit_the_callers_job_group(spark, corpus, seeds, tmp_path):
    """Every job a crawl launches — including the commit pool's concurrent
    snapshot, filter, budget and records jobs — carries the caller's job
    group, so a caller can attribute (or cancel) the whole crawl."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("crawl-under-test", "job group inheritance")
    try:
        run_crawl(
            spark, corpus, seeds,
            CrawlConfig(max_iterations=2, max_per_host=15, salt=1,
                        filter_mode="bloom_table", state_dir=str(tmp_path / "jg"),
                        n_expected_urls=5000, host_budget=1000),
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert tracker.getJobIdsForGroup("crawl-under-test")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()


def test_unknown_filter_mode_is_rejected(spark, corpus, seeds, tmp_path):
    with pytest.raises(ValueError, match="filter_mode"):
        run_crawl(spark, corpus, seeds,
                  CrawlConfig(filter_mode="blom", state_dir=str(tmp_path / "x")))


def test_default_state_dir_is_removed_on_return(spark, corpus, seeds):
    """Without a state_dir the run's state lives in a temporary directory
    that is gone when run_crawl returns."""
    root = tempfile.gettempdir()
    before = set(os.listdir(root))
    res = run_crawl(spark, corpus, seeds,
                    CrawlConfig(max_iterations=2, max_per_host=15, salt=1,
                                filter_mode="none"))
    assert res.total_fetched > 0
    assert set(os.listdir(root)) - before == set()


def test_determinism_same_seeds_same_result(spark, corpus, seeds, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for sd in (a, b):
        run_crawl(
            spark, corpus, seeds,
            CrawlConfig(max_iterations=3, max_per_host=10, salt=2, filter_mode="none", state_dir=sd),
        )
    assert _final_seen(spark, a) == _final_seen(spark, b)


def test_robots_blocked_urls_are_retired(spark, corpus, tmp_path):
    """A robots-disallowed URL must leave the frontier permanently (the
    reference's robots middleware drops denied requests for good) — it must
    not be re-selected every wave, starving allowed same-host URLs."""
    from hepcrawl_spark.crawl.frontier import read_manifest

    rows = (
        corpus.filter("host = 'host1.example.org'")
        .orderBy("page_id")
        .limit(3)
        .collect()
    )
    blocked, a1, a2 = rows
    seeds = spark.createDataFrame(
        [
            (blocked["url"], blocked["host"], 3.0, blocked["warc_ts"]),
            (a1["url"], a1["host"], 2.0, a1["warc_ts"]),
            (a2["url"], a2["host"], 1.0, a2["warc_ts"]),
        ],
        "url string, host string, priority double, discovered_ts timestamp",
    )
    robots = spark.createDataFrame(
        [(blocked["host"], f"/p/{blocked['page_id']}", "disallow")],
        "host string, path_prefix string, allow string",
    )
    sd = str(tmp_path / "robots")
    run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=2, max_per_host=2, salt=1,
                    filter_mode="none", state_dir=sd),
        robots=robots,
    )
    seen = _final_seen(spark, sd)
    assert a1["url"] in seen
    assert blocked["url"] not in seen
    m = read_manifest(sd)
    final_frontier = {
        r["url"]
        for r in spark.read.parquet(
            f"{sd}/iter_{m['iteration']:04d}/frontier"
        ).collect()
    }
    assert blocked["url"] not in final_frontier


def test_fully_blocked_wave_does_not_halt_crawl(spark, corpus, tmp_path):
    """When an entire wave is robots-blocked the crawl must retire it and
    keep going, not stop with allowed URLs still pending."""
    rows = (
        corpus.filter("host = 'host2.example.org'")
        .orderBy("page_id")
        .limit(2)
        .collect()
    )
    blocked, allowed = rows
    seeds = spark.createDataFrame(
        [
            (blocked["url"], blocked["host"], 2.0, blocked["warc_ts"]),
            (allowed["url"], allowed["host"], 1.0, allowed["warc_ts"]),
        ],
        "url string, host string, priority double, discovered_ts timestamp",
    )
    robots = spark.createDataFrame(
        [(blocked["host"], f"/p/{blocked['page_id']}", "disallow")],
        "host string, path_prefix string, allow string",
    )
    sd = str(tmp_path / "halting")
    res = run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=3, max_per_host=1, salt=1,
                    filter_mode="none", state_dir=sd),
        robots=robots,
    )
    # iteration 0: wave = {blocked} -> 0 fetched but crawl continues;
    # iteration 1 fetches the allowed URL.
    assert res.total_fetched >= 1
    assert allowed["url"] in _final_seen(spark, sd)


def test_meta_threading_is_pay_for_use(spark, corpus, seeds, tmp_path):
    """Without any meta source (no seed meta, no link_meta) the link rows
    must not carry the map/parent columns, and the resulting frontier still
    has the uniform (empty-map) meta column."""
    from hepcrawl_spark.crawl.frontier import extract_outlinks

    links = extract_outlinks(corpus.limit(5), thread_meta=False)
    assert "meta" not in links.columns and "_parent" not in links.columns
    sd = str(tmp_path / "nometa")
    res = run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=2, max_per_host=15, salt=1,
                    filter_mode="none", state_dir=sd),
    )
    assert res.total_fetched > 0
    front = spark.read.parquet(f"{sd}/iter_0001/frontier")
    assert dict(front.dtypes)["meta"] == "map<string,string>"
    assert front.filter(F.size(F.map_keys("meta")) > 0).count() == 0


def test_failed_fetch_retry_backoff(spark, corpus, seeds, tmp_path):
    """P6 in the live loop: a seed url with no corpus row (fetch failure)
    re-enters the frontier with attempt+1 and decayed priority until
    max_attempts, then drops for good."""
    ghost = spark.createDataFrame(
        [("https://ghost.example.org/nope", "ghost.example.org", 8.0)],
        "url string, host string, priority double",
    ).withColumn("discovered_ts", F.current_timestamp())
    sd = str(tmp_path / "retry")
    res = run_crawl(
        spark, corpus, seeds.unionByName(ghost),
        CrawlConfig(max_iterations=4, max_per_host=15, salt=1,
                    filter_mode="none", state_dir=sd, keep_snapshots=10,
                    max_attempts=3),
    )
    assert res.total_fetched > 0
    f0 = spark.read.parquet(f"{sd}/iter_0000/frontier").filter(
        "host = 'ghost.example.org'").collect()
    assert len(f0) == 1 and f0[0]["attempt"] == 1 and f0[0]["priority"] == 4.0
    f1 = spark.read.parquet(f"{sd}/iter_0001/frontier").filter(
        "host = 'ghost.example.org'").collect()
    assert len(f1) == 1 and f1[0]["attempt"] == 2 and f1[0]["priority"] == 2.0
    # attempt 2 == max_attempts-1: retired after its third strike
    f2 = spark.read.parquet(f"{sd}/iter_0002/frontier").filter(
        "host = 'ghost.example.org'").count()
    assert f2 == 0
    # default config: failures retire immediately (historical behavior)
    sd2 = str(tmp_path / "noretry")
    run_crawl(
        spark, corpus, seeds.unionByName(ghost),
        CrawlConfig(max_iterations=2, max_per_host=15, salt=1,
                    filter_mode="none", state_dir=sd2, keep_snapshots=10),
    )
    assert spark.read.parquet(f"{sd2}/iter_0000/frontier").filter(
        "host = 'ghost.example.org'").count() == 0


def test_adaptive_salt_mode_in_live_loop(spark, corpus, seeds, tmp_path):
    """salt_mode='adaptive' recomputes per-host factors each wave. On the
    balanced synthetic corpus no host crosses the hot threshold, so the
    crawl must be IDENTICAL to the static run (the adaptive machinery adds
    only the tiny per-wave host agg); a skewed frontier is covered at the
    operator level in test_politeness."""
    sd_a = str(tmp_path / "adaptive")
    res_a = run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=3, max_per_host=15, salt=1,
                    filter_mode="none", state_dir=sd_a, salt_mode="adaptive"),
    )
    sd_s = str(tmp_path / "static")
    res_s = run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=3, max_per_host=15, salt=1,
                    filter_mode="none", state_dir=sd_s),
    )
    assert res_a.total_fetched == res_s.total_fetched > 0
    assert _final_seen(spark, sd_a) == _final_seen(spark, sd_s)


def test_retry_row_wins_over_same_wave_rediscovery(spark, tmp_path):
    """A url whose fetch failed AND which a fetched page rediscovered as an
    outlink in the same wave must yield ONE frontier row (the attempt+1
    retry), not two — the attempt=0 duplicate would respawn fresh retries
    forever, retrying a dead url past max_attempts (round-3 ADVICE)."""
    ghost_url = "https://ghost.example.org/nope"
    pages = (
        spark.createDataFrame(
            [("https://a.example.org/p1", f'x <a href="{ghost_url}">g</a>')],
            "url string, text string",
        )
        .withColumn("warc_ts", F.current_timestamp())
        .withColumn("html", F.encode("text", "UTF-8"))
        .withColumn("lang", F.lit("en"))
    )
    seeds2 = spark.createDataFrame(
        [
            ("https://a.example.org/p1", "a.example.org", 1.0),
            (ghost_url, "ghost.example.org", 8.0),
        ],
        "url string, host string, priority double",
    ).withColumn("discovered_ts", F.current_timestamp())
    sd = str(tmp_path / "rr")
    run_crawl(
        spark, pages, seeds2,
        CrawlConfig(max_iterations=1, max_per_host=10, salt=1,
                    filter_mode="none", state_dir=sd, keep_snapshots=10,
                    max_attempts=3),
    )
    rows = spark.read.parquet(f"{sd}/iter_0000/frontier").filter(
        F.col("url") == ghost_url
    ).collect()
    assert len(rows) == 1
    assert rows[0]["attempt"] == 1 and rows[0]["priority"] == 4.0


@pytest.mark.parametrize("linked", ["blocked", "failed"])
def test_url_the_wave_took_is_not_readmitted_by_a_same_wave_link(spark, tmp_path, linked):
    """A url the wave took but did not fetch leaves the frontier for good,
    even when a page fetched in the same wave links to it: P links to B
    (robots-blocked) or to G (no corpus row). All three are seeds and
    max_attempts=1, so the crawl schedules P and G, fetches P, and ends."""
    p_url = "https://a.example.org/p"
    b_url = "https://a.example.org/blocked"
    g_url = "https://ghost.example.org/nope"
    target = b_url if linked == "blocked" else g_url
    pages = (
        spark.createDataFrame(
            [(p_url, f'x <a href="{target}">t</a>'), (b_url, "blocked page")],
            "url string, text string",
        )
        .withColumn("warc_ts", F.current_timestamp())
        .withColumn("html", F.encode("text", "UTF-8"))
        .withColumn("lang", F.lit("en"))
    )
    seeds3 = spark.createDataFrame(
        [
            (p_url, "a.example.org", 1.0),
            (b_url, "a.example.org", 2.0),
            (g_url, "ghost.example.org", 3.0),
        ],
        "url string, host string, priority double",
    ).withColumn("discovered_ts", F.current_timestamp())
    robots = spark.createDataFrame(
        [("a.example.org", "/blocked", "disallow")],
        "host string, path_prefix string, allow string",
    )
    sd = str(tmp_path / linked)
    res = run_crawl(
        spark, pages, seeds3,
        CrawlConfig(max_iterations=3, max_per_host=10, salt=1,
                    filter_mode="none", state_dir=sd, keep_snapshots=10),
        robots=robots,
    )
    f0 = {r["url"] for r in spark.read.parquet(f"{sd}/iter_0000/frontier").collect()}
    assert b_url not in f0 and g_url not in f0
    assert [i.scheduled for i in res.iterations] == [2]
    assert [i.fetched for i in res.iterations] == [1]


def test_pagerank_priority_refresh(spark, corpus, seeds, tmp_path):
    """rank_priorities_every: the frontier's priorities become normalized
    link-authority ranks — an edge log accumulates per wave and the refresh
    rewrites priorities in [0, 1] with rank order respected."""
    sd = str(tmp_path / "ranked")
    res = run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=3, max_per_host=15, salt=1,
                    filter_mode="none", state_dir=sd, keep_snapshots=5,
                    rank_priorities_every=1, rank_iterations=3),
    )
    assert res.total_fetched > 0
    edges = spark.read.parquet(f"{sd}/edges")
    assert edges.count() > 0 and set(edges.columns) == {"src", "dst"}
    # final frontier was ranked against the FULL edge log (each iteration
    # appends its wave's edges before its refresh)
    last = max(int(d[5:]) for d in __import__("os").listdir(sd) if d.startswith("iter_"))
    front = spark.read.parquet(f"{sd}/iter_{last:04d}/frontier")
    pr = [r["priority"] for r in front.collect()]
    assert pr and all(0.0 <= p <= 1.0 for p in pr)
    # ranked priorities actually vary (not the flat seed default)
    assert len({round(p, 6) for p in pr}) > 1
    # the refresh respects rank order: frontier priority of a ranked url
    # equals its normalized pagerank
    from hepcrawl_spark.operators.linkrank import pagerank
    import pyspark.sql.functions as F2
    ranks = pagerank(edges, iterations=3)
    top = ranks.agg(F2.max("rank")).collect()[0][0]
    joined = front.join(
        ranks.withColumnRenamed("node", "url"), "url", "inner"
    ).collect()
    assert joined
    for r in joined:
        assert abs(r["priority"] - r["rank"] / top) < 1e-9


def test_robots_auto_from_corpus(spark, tmp_path):
    """robots='auto': the rules come from the corpus's own /robots.txt
    pages (the Scrapy fetch-and-obey flow). Disallowed paths never fetch;
    other hosts crawl normally."""
    rows = [
        ("https://a.org/robots.txt", "User-agent: *\nDisallow: /private/\n"),
        ("https://a.org/private/x", "secret"),
        ("https://a.org/public/y", "fine"),
        ("https://b.org/anything", "open"),
    ]
    pages = (
        spark.createDataFrame(rows, "url string, text string")
        .withColumn("warc_ts", F.current_timestamp())
        .withColumn("html", F.encode("text", "UTF-8"))
        .withColumn("lang", F.lit("en"))
    )
    seeds2 = spark.createDataFrame(
        [(u, h, 1.0) for u, h in [
            ("https://a.org/private/x", "a.org"),
            ("https://a.org/public/y", "a.org"),
            ("https://b.org/anything", "b.org"),
        ]],
        "url string, host string, priority double",
    ).withColumn("discovered_ts", F.current_timestamp())
    sd = str(tmp_path / "autorobots")
    run_crawl(
        spark, pages, seeds2,
        CrawlConfig(max_iterations=2, max_per_host=10, salt=1,
                    filter_mode="none", state_dir=sd, keep_snapshots=10),
        robots="auto",
    )
    fetched = {r["url"] for r in
               spark.read.parquet(f"{sd}/iter_0000/records").collect()}
    assert "https://a.org/private/x" not in fetched
    assert {"https://a.org/public/y", "https://b.org/anything"} <= fetched


def test_max_depth_limits_link_following(spark, tmp_path):
    """Scrapy DEPTH_LIMIT parity: a seed -> hop1 -> hop2 chain crawled with
    max_depth=1 fetches the seed and hop1 but never admits hop2."""
    chain = [
        ("https://c.org/seed", 'x <a href="https://c.org/hop1">l</a>'),
        ("https://c.org/hop1", 'x <a href="https://c.org/hop2">l</a>'),
        ("https://c.org/hop2", "deep page"),
    ]
    pages = (
        spark.createDataFrame(chain, "url string, text string")
        .withColumn("warc_ts", F.current_timestamp())
        .withColumn("html", F.encode("text", "UTF-8"))
        .withColumn("lang", F.lit("en"))
    )
    seeds2 = spark.createDataFrame(
        [("https://c.org/seed", "c.org", 1.0)],
        "url string, host string, priority double",
    ).withColumn("discovered_ts", F.current_timestamp())
    sd = str(tmp_path / "depth1")
    res = run_crawl(
        spark, pages, seeds2,
        CrawlConfig(max_iterations=4, max_per_host=10, salt=1,
                    filter_mode="none", state_dir=sd, keep_snapshots=10,
                    max_depth=1),
    )
    fetched = set()
    import os as _os
    for d in _os.listdir(sd):
        if d.startswith("iter_") and _os.path.isdir(f"{sd}/{d}") and \
                _os.path.exists(f"{sd}/{d}/records"):
            fetched |= {r["url"] for r in
                        spark.read.parquet(f"{sd}/{d}/records").collect()}
    assert "https://c.org/seed" in fetched
    assert "https://c.org/hop1" in fetched
    assert "https://c.org/hop2" not in fetched
    # unlimited: the whole chain crawls
    sd2 = str(tmp_path / "nodepth")
    run_crawl(
        spark, pages, seeds2,
        CrawlConfig(max_iterations=4, max_per_host=10, salt=1,
                    filter_mode="none", state_dir=sd2, keep_snapshots=10),
    )
    all_fetched = set()
    for d in _os.listdir(sd2):
        if d.startswith("iter_") and _os.path.isdir(f"{sd2}/{d}") and \
                _os.path.exists(f"{sd2}/{d}/records"):
            all_fetched |= {r["url"] for r in
                            spark.read.parquet(f"{sd2}/{d}/records").collect()}
    assert "https://c.org/hop2" in all_fetched


def test_host_budget_carry_over_across_iterations(spark, tmp_path):
    """SURVEY §7(d) in the batch loop: a per-host crawl budget whose
    consumption carries over across iterations AND across resume. Host A
    has 30 crawlable pages, budget 12, wave cap 5 -> fetches 5, 5, 2 and
    then nothing; host B (under budget) is unaffected."""
    rows = [(f"https://a.org/p{i}", "no links here") for i in range(30)]
    rows += [(f"https://b.org/p{i}", "no links here") for i in range(4)]
    pages = (
        spark.createDataFrame(rows, "url string, text string")
        .withColumn("warc_ts", F.current_timestamp())
        .withColumn("html", F.encode("text", "UTF-8"))
        .withColumn("lang", F.lit("en"))
    )
    seeds2 = pages.select(
        "url",
        F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"),
        F.lit(1.0).alias("priority"),
        F.col("warc_ts").alias("discovered_ts"),
    )
    sd = str(tmp_path / "budget")
    res = run_crawl(
        spark, pages, seeds2,
        CrawlConfig(max_iterations=3, max_per_host=5, salt=1,
                    filter_mode="none", state_dir=sd, keep_snapshots=10,
                    host_budget=12),
    )
    per_host = lambda d: {
        r["host"]: r["n"]
        for r in spark.read.parquet(f"{sd}/{d}/records")
        .select(F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"))
        .groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert per_host("iter_0000") == {"a.org": 5, "b.org": 4}
    assert per_host("iter_0001")["a.org"] == 5
    assert per_host("iter_0002")["a.org"] == 2  # budget 12 = 5 + 5 + 2
    # the budget survives RESUME: two more iterations admit nothing from A
    res2 = run_crawl(
        spark, pages, seeds2,
        CrawlConfig(max_iterations=5, max_per_host=5, salt=1,
                    filter_mode="none", state_dir=sd, keep_snapshots=10,
                    host_budget=12),
        resume=True,
    )
    assert sum(i.fetched for i in res2.iterations) == 0


def test_robots_auto_allow_precedence(spark, tmp_path):
    """'Disallow: / + Allow: /public/' must NOT black-hole the host: rules
    with Allow rows route through the RFC 9309 longest-match gate in the
    live loop."""
    rows = [
        ("https://a.org/robots.txt",
         "User-agent: *\nDisallow: /\nAllow: /public/\n"),
        ("https://a.org/public/ok", "allowed content"),
        ("https://a.org/private/no", "blocked content"),
        ("https://b.org/free", "open host"),
    ]
    pages = (
        spark.createDataFrame(rows, "url string, text string")
        .withColumn("warc_ts", F.current_timestamp())
        .withColumn("html", F.encode("text", "UTF-8"))
        .withColumn("lang", F.lit("en"))
    )
    seeds2 = spark.createDataFrame(
        [("https://a.org/public/ok", "a.org", 1.0),
         ("https://a.org/private/no", "a.org", 1.0),
         ("https://b.org/free", "b.org", 1.0)],
        "url string, host string, priority double",
    ).withColumn("discovered_ts", F.current_timestamp())
    sd = str(tmp_path / "allowprec")
    run_crawl(
        spark, pages, seeds2,
        CrawlConfig(max_iterations=2, max_per_host=10, salt=1,
                    filter_mode="none", state_dir=sd, keep_snapshots=10),
        robots="auto",
    )
    fetched = {r["url"] for r in
               spark.read.parquet(f"{sd}/iter_0000/records").collect()}
    assert fetched == {"https://a.org/public/ok", "https://b.org/free"}


def test_all_failed_wave_still_retries_in_fast_mode(spark, tmp_path):
    """A wave whose fetches ALL fail lands on the empty-fetch branch in
    fast mode (scheduled approximated by fetched_n == 0); with
    max_attempts > 1 those urls must re-enter with attempt+1 — exactly as
    a detailed_stats=True run would — not silently drop at attempt 0."""
    pages = (
        spark.createDataFrame(
            [("https://real.org/p", "content")], "url string, text string"
        )
        .withColumn("warc_ts", F.current_timestamp())
        .withColumn("html", F.encode("text", "UTF-8"))
        .withColumn("lang", F.lit("en"))
    )
    ghosts = spark.createDataFrame(
        [(f"https://gone.org/{i}", "gone.org", 1.0) for i in range(3)],
        "url string, host string, priority double",
    ).withColumn("discovered_ts", F.current_timestamp())
    sd = str(tmp_path / "failwave")
    res = run_crawl(
        spark, pages, ghosts,  # every seed fails -> all-failed waves
        CrawlConfig(max_iterations=5, max_per_host=10, salt=1,
                    filter_mode="none", state_dir=sd, keep_snapshots=10,
                    max_attempts=3),
    )
    f0 = spark.read.parquet(f"{sd}/iter_0000/frontier")
    assert f0.count() == 3 and {r["attempt"] for r in f0.collect()} == {1}
    f1 = spark.read.parquet(f"{sd}/iter_0001/frontier")
    assert f1.count() == 3 and {r["attempt"] for r in f1.collect()} == {2}
    # attempt 2 == max_attempts-1: retired for good, crawl terminates
    f2 = spark.read.parquet(f"{sd}/iter_0002/frontier")
    assert f2.count() == 0
    assert len(res.iterations) == 3


def test_robots_auto_parses_raw_bytes_when_text_collapsed(spark, tmp_path):
    """robots='auto' must read the RAW fetched bytes: a robots.txt body
    that went through html_to_text has its newlines collapsed to spaces
    (one directive-free line), so parsing `text` would silently obey no
    rules. The `html` column carries the line-oriented original."""
    body = "User-agent: *\nDisallow: /private/\n"
    collapsed = " ".join(body.split())
    rows = [
        ("https://a.org/robots.txt", collapsed, body),
        ("https://a.org/private/x", "secret", "secret"),
        ("https://a.org/public/y", "fine", "fine"),
    ]
    pages = (
        spark.createDataFrame(rows, "url string, text string, raw string")
        .withColumn("html", F.encode("raw", "UTF-8"))
        .drop("raw")
        .withColumn("warc_ts", F.current_timestamp())
        .withColumn("lang", F.lit("en"))
    )
    seeds2 = pages.select(
        "url",
        F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"),
        F.lit(1.0).alias("priority"),
        F.col("warc_ts").alias("discovered_ts"),
    ).filter(~F.col("url").endswith("robots.txt"))
    sd = str(tmp_path / "rawrobots")
    run_crawl(
        spark, pages, seeds2,
        CrawlConfig(max_iterations=2, max_per_host=10, salt=1,
                    filter_mode="none", state_dir=sd, keep_snapshots=10),
        robots="auto",
    )
    fetched = {r["url"] for r in
               spark.read.parquet(f"{sd}/iter_0000/records").collect()}
    assert "https://a.org/private/x" not in fetched
    assert "https://a.org/public/y" in fetched


def test_robots_auto_warns_when_no_rules_parse(spark, tmp_path):
    """If the corpus HAS /robots.txt pages but zero rules parse from them
    (e.g. byte-less corpus with whitespace-collapsed text), the crawl must
    say so loudly instead of silently obeying nothing."""
    body = "User-agent: *\nDisallow: /private/\n"
    collapsed = " ".join(body.split())
    rows = [
        ("https://a.org/robots.txt", collapsed),
        ("https://a.org/public/y", "fine"),
    ]
    pages = (
        spark.createDataFrame(rows, "url string, text string")
        .withColumn("html", F.encode(F.lit(""), "UTF-8"))  # byte-less corpus
        .withColumn("warc_ts", F.current_timestamp())
        .withColumn("lang", F.lit("en"))
    )
    seeds2 = pages.select(
        "url",
        F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"),
        F.lit(1.0).alias("priority"),
        F.col("warc_ts").alias("discovered_ts"),
    ).filter(~F.col("url").endswith("robots.txt"))
    sd = str(tmp_path / "warnrobots")
    with pytest.warns(UserWarning, match="zero rules"):
        run_crawl(
            spark, pages, seeds2,
            CrawlConfig(max_iterations=1, max_per_host=10, salt=1,
                        filter_mode="none", state_dir=sd, keep_snapshots=10),
            robots="auto",
        )


def test_host_budget_charges_distinct_urls_on_multicapture_corpus(spark, tmp_path):
    """A corpus holding multiple captures per url (multiple warc_ts — the
    recrawl scenario) multiplies the fetch join; the host budget must
    charge each admitted url ONCE, not once per capture."""
    rows = []
    for i in range(3):
        for ts in ("2024-01-01 00:00:00", "2024-02-01 00:00:00"):
            rows.append((f"https://a.org/p{i}", "no links here", ts))
    pages = (
        spark.createDataFrame(rows, "url string, text string, ts string")
        .withColumn("warc_ts", F.col("ts").cast("timestamp"))
        .drop("ts")
        .withColumn("html", F.encode("text", "UTF-8"))
        .withColumn("lang", F.lit("en"))
    )
    seeds2 = (
        pages.select(
            "url",
            F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"),
            F.lit(1.0).alias("priority"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("discovered_ts"),
        )
        .distinct()
    )
    sd = str(tmp_path / "multicap")
    run_crawl(
        spark, pages, seeds2,
        CrawlConfig(max_iterations=3, max_per_host=1, salt=1,
                    filter_mode="none", state_dir=sd, keep_snapshots=10,
                    host_budget=2),
    )
    import os as _os
    fetched = set()
    for d in _os.listdir(sd):
        if d.startswith("iter_") and _os.path.exists(f"{sd}/{d}/records"):
            fetched |= {r["url"] for r in
                        spark.read.parquet(f"{sd}/{d}/records").collect()}
    # budget 2 at one url/wave: exactly 2 distinct urls crawl (a count(*)
    # charge would bill the first url twice and stop after one)
    assert len(fetched) == 2


def test_trap_detect_gates_exploding_template(spark, tmp_path):
    """trap_detect_every: after wave 1 the /cal/N/view template (15 of the
    25 fetched urls on the host) is flagged; every remaining /cal url is
    dropped from the frontier, so the crawl ends having fetched all /art
    pages and ONLY wave-1's share of the trap."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(10):
        rows.append((f"https://t.ex/art{i}", t, None, f"article {i}", "en", "t.ex"))
    for i in range(60):
        rows.append((f"https://t.ex/cal/{i}/view", t, None, f"cal {i}", "en", "t.ex"))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string, host string"
    )
    seeds = pages.select(
        "url", "host", F.lit(1.0).alias("priority"),
        F.col("warc_ts").alias("discovered_ts"),
    )
    sd = str(tmp_path / "traps")
    res = run_crawl(
        spark, pages, seeds,
        CrawlConfig(
            max_iterations=6, max_per_host=25, salt=1, salt_mode="static",
            state_dir=sd, trap_detect_every=1, trap_min_urls=15,
            trap_min_share_ppm=500_000,
        ),
    )
    seen = _final_seen(spark, sd)
    # all articles fetched ('a' sorts before 'c': wave 1 = 10 art + 15 cal)
    assert all(f"https://t.ex/art{i}" in seen for i in range(10))
    # the trap stopped expanding after detection: only wave-1's cal urls
    assert sum(1 for u in seen if "/cal/" in u) == 15
    assert res.total_fetched == 25


def test_recrawl_over_threshold_rebuilds_filter(spark, corpus, tmp_path):
    """Round-5 verdict What's-wrong #1: when the recrawl sweep invalidates
    more rows than auto_filter_threshold, the driver must NOT collect the
    hash list — the cuckoo filter is rebuilt from the surviving url_seen
    instead. Forced here with auto_filter_threshold=0; behavior (everything
    re-fetches) must match the collect+delete path."""
    from hepcrawl_spark.crawl.frontier import _write_manifest, read_manifest

    sd = str(tmp_path / "inv2")
    seeds10 = corpus.orderBy("page_id").limit(10).select(
        "url", "host", F.lit(1.0).alias("priority"),
        F.col("warc_ts").alias("discovered_ts"),
    )
    run_crawl(
        spark, corpus, seeds10,
        CrawlConfig(max_iterations=2, max_per_host=15, salt=1,
                    filter_mode="cuckoo", state_dir=sd, n_expected_urls=5000),
    )
    m = read_manifest(sd)
    url_seen = spark.read.parquet(m["url_seen"])
    n_seen = url_seen.count()
    refeed = url_seen.select(
        "url",
        F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"),
        F.lit(1.0).alias("priority"),
        (F.col("last_ts") - F.expr("INTERVAL 1 DAY")).alias("discovered_ts"),
        F.lit(0).alias("attempt"),
    )
    it_dir = f"{sd}/iter_{m['iteration']:04d}"
    refeed.write.mode("overwrite").parquet(f"{it_dir}/frontier")
    _write_manifest(sd, m["iteration"], {
        "frontier": f"{it_dir}/frontier",
        "url_seen": m["url_seen"],
        "seen_size": n_seen,
    })
    res = run_crawl(
        spark, corpus, seeds10,
        CrawlConfig(max_iterations=m["iteration"] + 2, max_per_host=1000,
                    salt=1, filter_mode="cuckoo", state_dir=sd,
                    n_expected_urls=5000,
                    recrawl_cutoff="2100-01-01 00:00:00",
                    auto_filter_threshold=0),
        resume=True,
    )
    assert res.iterations[0].fetched == n_seen


def test_scheduled_is_exact_and_errors_count_failed_fetches(spark, corpus, seeds, tmp_path):
    """Fast mode (no detailed_stats): a gated url with no corpus row is
    scheduled but not fetched, and the metrics table's errors column is the
    iteration's failed fetches, repeated on each of its rows."""
    seed_urls = sorted(r["url"] for r in seeds.collect())
    # 3 seeds and a fifth of the other pages are missing
    pages = corpus.filter(
        ~F.col("url").isin(seed_urls[:3])
        & (F.col("url").isin(seed_urls) | (F.col("page_id") % 5 != 2))
    )
    sd = str(tmp_path / "fails")
    res = run_crawl(
        spark, pages, seeds,
        CrawlConfig(max_iterations=3, max_per_host=15, salt=1,
                    filter_mode="bloom", state_dir=sd, n_expected_urls=5000),
    )
    it0 = res.iterations[0]
    assert (it0.scheduled, it0.fetched) == (10, 7)
    assert all(i.scheduled >= i.fetched for i in res.iterations)
    assert sum(i.scheduled - i.fetched for i in res.iterations[1:]) > 0
    errors = {
        (r["iteration"], r["errors"])
        for r in spark.read.parquet(f"{sd}/metrics").select("iteration", "errors").collect()
    }
    assert errors == {
        (i.iteration, i.scheduled - i.fetched) for i in res.iterations
    }


def test_wave_metrics_counts_and_hashes_match_the_wave(spark, corpus):
    """The JVM-side metrics pass: per-partition counts sum to the fetched
    count, the hashes are xxhash64(url) of the fetched rows, and a filter
    without a driver delta receives at most one row per partition."""
    from hepcrawl_spark.crawl.frontier import _wave_metrics

    fetched = corpus.filter(F.col("page_id") % 3 == 0).repartition(5, "host").persist()
    try:
        per_partition = sorted(
            fetched.rdd.mapPartitionsWithIndex(
                lambda i, rows: [(i, sum(1 for _ in rows))]
            ).filter(lambda p: p[1] > 0).collect()
        )
        counts, hashes = _wave_metrics(fetched, with_hashes=True)
        assert counts == per_partition
        assert sum(n for _, n in counts) == fetched.count()
        expected = sorted(
            r[0] for r in fetched.select(F.xxhash64("url")).collect()
        )
        assert hashes.dtype == "int64" and sorted(hashes.tolist()) == expected

        counts_only, no_hashes = _wave_metrics(fetched, with_hashes=False)
        assert no_hashes is None
        assert counts_only == per_partition
        assert len(counts_only) <= fetched.rdd.getNumPartitions()
    finally:
        fetched.unpersist()


def test_fetch_join_builds_on_the_wave_not_the_corpus(spark, corpus):
    """A corpus under autoBroadcastJoinThreshold could be broadcast, but the
    fetch join is planned after the wave's count, from its real size: the
    join builds on the (smaller) wave side."""
    from hepcrawl_spark.crawl.frontier import _fetch

    # the cross join inflates the wave's size estimate 20x over the corpus's:
    # planned from estimates, the join would broadcast the corpus
    wave = (
        corpus.crossJoin(spark.range(20).withColumnRenamed("id", "_k"))
        .filter((F.col("_k") == 0) & (F.col("page_id") % 40 == 0))
        .select("url", "host", F.lit(0.0).alias("priority"))
        .persist()
    )
    scheduled, fetched = _fetch(wave, corpus.select("url", "warc_ts", "text"))
    try:
        assert scheduled == fetched.count() == 15
        plan = fetched._jdf.queryExecution().executedPlan().toString()
        # the initial plan and the final adaptive plan
        joins = [line for line in plan.splitlines() if "Inner" in line]
        assert len(joins) == 2, plan
        assert all("BroadcastHashJoin" in j and "BuildLeft" in j for j in joins), joins
    finally:
        fetched.unpersist()
        wave.unpersist()


def test_local_frame_is_a_local_relation_pruned_when_empty(spark):
    from hepcrawl_spark.crawl.frontier import _local_frame
    from hepcrawl_spark.operators.dedup import crawl_once_gate

    rows = [("a.org", 3), ("b.org", 5)]
    salts = _local_frame(spark, "host string, salt int", rows)
    assert salts._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    assert [tuple(r) for r in salts.collect()] == rows

    empty_seen = _local_frame(spark, "url string, last_ts timestamp")
    assert empty_seen._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    wave = spark.range(4).select(
        F.col("id").cast("string").alias("url"),
        F.current_timestamp().alias("warc_ts"),
    )
    gated = crawl_once_gate(wave, empty_seen)
    assert "Join" not in gated._jdf.queryExecution().optimizedPlan().toString()
    assert gated.count() == 4


@pytest.mark.parametrize("filter_mode", ["bloom", "cuckoo"])
def test_probe_broadcasts_are_released(
    spark, corpus, seeds, tmp_path, monkeypatch, filter_mode, no_broadcast
):
    """The probe runs at link admission, once per iteration after the
    first (nothing is broadcast by size, so every such iteration probes),
    and broadcasts the whole filter. Once the wave's cached frames
    are unpersisted its broadcast is destroyed: a new one is made only when
    all earlier ones are gone, and none outlives the crawl."""
    from pyspark import SparkContext

    made, live_when_made = [], []
    real = SparkContext.broadcast

    def broadcast(self, value):
        live_when_made.append(sum(b._jbroadcast.isValid() for b in made))
        made.append(real(self, value))
        return made[-1]

    monkeypatch.setattr(SparkContext, "broadcast", broadcast)
    res = run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=4, max_per_host=15, salt=1,
                    filter_mode=filter_mode, state_dir=str(tmp_path / "bc"),
                    n_expected_urls=5000),
    )
    assert len(res.iterations) == 4
    assert len(made) == 3  # waves 1-3 probe; wave 0 has nothing to probe
    assert live_when_made == [0, 0, 0]
    assert not any(b._jbroadcast.isValid() for b in made)


# the fixed job descriptions run_crawl gives its stages
CRAWL_STAGES = {
    "crawl: setup", "crawl: salts", "crawl: wave", "crawl: metrics",
    "crawl: edges", "crawl: traps", "crawl: commit frontier",
    "crawl: commit url_seen", "crawl: commit filter", "crawl: commit host_used",
    "crawl: records", "crawl: stats", "crawl: metrics table",
}


def test_every_crawl_job_is_named_by_its_stage(spark, corpus, seeds, tmp_path):
    """Every job a crawl launches, the commit pool's included, carries one
    of the fixed stage names as its job description (read back from the
    status store); the caller's own description is restored afterwards."""
    sc = spark.sparkContext
    sc.setJobGroup("named-stages", "caller description")
    try:
        run_crawl(
            spark, corpus, seeds,
            CrawlConfig(max_iterations=3, max_per_host=15, salt=1,
                        filter_mode="cuckoo", state_dir=str(tmp_path / "named"),
                        n_expected_urls=5000, host_budget=1000,
                        detailed_stats=True, rank_priorities_every=2,
                        trap_detect_every=2, seen_store="merge"),
            robots="auto",
        )
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    store = sc._jsc.sc().statusStore()
    names = []
    for job_id in sc.statusTracker().getJobIdsForGroup("named-stages"):
        desc = store.job(job_id).description()
        names.append(desc.get() if desc.isDefined() else None)
    assert set(names) == CRAWL_STAGES, set(names) ^ CRAWL_STAGES


def _spy_probe_decisions(spark, monkeypatch, filter_mode):
    """Record each link admission's probe decision and each ``_maybe`` call.

    Returns (decisions, calls): ``decisions`` gets one (size estimate,
    decision, planned) per iteration after the first, where ``planned`` is
    whether Spark plans an anti-join against the same url_seen frame as a
    BroadcastHashJoin; ``calls`` gets one entry per probe."""
    from hepcrawl_spark.crawl import frontier as fr

    decisions, real_decide = [], fr._broadcasts_by_size

    def decide(spark_, df):
        out = real_decide(spark_, df)
        left = spark.createDataFrame([("x",)], "url string")
        plan = left.join(df, "url", "left_anti")._jdf.queryExecution().sparkPlan()
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        decisions.append((int(size), out, "BroadcastHashJoin" in plan.toString()))
        return out

    cls = fr._SEEN_FILTERS[filter_mode]
    calls, real_maybe = [], cls._maybe
    monkeypatch.setattr(fr, "_broadcasts_by_size", decide)
    monkeypatch.setattr(
        cls, "_maybe", lambda self, links: (calls.append(1), real_maybe(self, links))[1]
    )
    return decisions, calls


def _probed_crawl(spark, corpus, seeds, state_dir, filter_mode, spy, **kw):
    """A 4-iteration crawl -> (probes, decisions, schedule, final url_seen)."""
    decisions, calls = spy
    decisions.clear()
    calls.clear()
    res = run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=4, max_per_host=15, salt=1,
                    filter_mode=filter_mode, state_dir=state_dir,
                    n_expected_urls=5000, **kw),
    )
    assert len(res.iterations) == 4
    return (
        len(calls), list(decisions), [i.scheduled for i in res.iterations],
        _final_seen(spark, state_dir),
    )


@pytest.mark.parametrize("filter_mode", ["bloom", "bloom_table", "cuckoo"])
def test_filter_probes_only_when_admission_would_shuffle(
    spark, corpus, seeds, tmp_path, monkeypatch, request, filter_mode
):
    """url_seen is far under the default broadcast threshold, so link
    admission's exact anti-join is a broadcast join and no crawl probes the
    filter. With broadcasting off, every iteration after the first probes
    once. Each decision is the join Spark plans, and the crawl is the same
    either way."""
    spy = _spy_probe_decisions(spark, monkeypatch, filter_mode)
    n_default, dec_default, sched_default, seen_default = _probed_crawl(
        spark, corpus, seeds, str(tmp_path / "default"), filter_mode, spy
    )
    request.getfixturevalue("no_broadcast")
    n_probing, dec_probing, sched_probing, seen_probing = _probed_crawl(
        spark, corpus, seeds, str(tmp_path / "probing"), filter_mode, spy
    )
    assert (n_default, n_probing) == (0, 3)
    assert [(d, p) for _, d, p in dec_default] == [(True, True)] * 3
    assert [(d, p) for _, d, p in dec_probing] == [(False, False)] * 3
    assert sched_default == sched_probing
    assert seen_default == seen_probing


def test_probe_starts_when_url_seen_outgrows_the_threshold(
    spark, corpus, seeds, tmp_path, monkeypatch
):
    """With the broadcast threshold between url_seen's early and late size
    estimates, the crawl stops broadcasting url_seen part-way and probes
    from then on: each iteration probes exactly when Spark plans its
    anti-join as a shuffle join. Checkpointed (snapshot_every=2) and
    parquet url_seen frames are both decided by their plan estimates."""
    spy = _spy_probe_decisions(spark, monkeypatch, "bloom")
    kw = dict(snapshot_every=2)
    _, first, sched, seen = _probed_crawl(
        spark, corpus, seeds, str(tmp_path / "sizes"), "bloom", spy, **kw
    )
    sizes = sorted(size for size, _, _ in first)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(sizes[1]))
    try:
        n, decisions, sched_mid, seen_mid = _probed_crawl(
            spark, corpus, seeds, str(tmp_path / "mid"), "bloom", spy, **kw
        )
    finally:
        spark.conf.set(key, old)
    assert [d for _, d, _ in decisions] == [s <= sizes[1] for s, _, _ in decisions]
    assert all(d == p for _, d, p in decisions)
    assert {d for _, d, _ in decisions} == {True, False}
    assert n == sum(not d for _, d, _ in decisions)
    assert (sched_mid, seen_mid) == (sched, seen)


def test_snapshot_read_back_schema_equals_the_inferred_one(
    spark, corpus, seeds, tmp_path, monkeypatch
):
    """Every snapshot is read back with the schema it was written with, made
    nullable; that schema is the one a parquet read infers from the files."""
    from hepcrawl_spark.crawl import frontier as fr

    read_back, real = {}, fr._snapshot

    def snapshot(df, path):
        out = real(df, path)
        read_back[os.path.basename(path)] = (path, out.schema)
        return out

    monkeypatch.setattr(fr, "_snapshot", snapshot)
    run_crawl(
        spark, corpus, seeds,
        CrawlConfig(max_iterations=2, max_per_host=15, salt=1,
                    filter_mode="bloom_table", state_dir=str(tmp_path / "schema"),
                    n_expected_urls=5000, host_budget=1000),
    )
    assert {"frontier", "url_seen", "host_used", "bloom_init"} <= set(read_back)
    for name, (path, schema) in read_back.items():
        assert schema == spark.read.parquet(path).schema, name
