"""crawl-default: the frozen bench's default crawl profile at the sf0.1 size,
cut to two iterations so that a run fits four warm crawls into the
benchmark's time budget.

One driver process runs ``run_crawl`` calls in a closed loop with one
client: each call starts only after the previous one returned and its
output was checked.  Every call gets a fresh state directory, deleted after
its checks, because a second run into the same directory fails.
"""

from __future__ import annotations

import shutil
import time

from pyspark.sql import functions as F

from hepcrawl_spark.crawl.frontier import CrawlConfig, read_manifest, run_crawl
from hepcrawl_spark.sources.pages import synthesize_corpus

from . import harness as H
from .eventlog import find_log, read_events, window_stats
from .replay import replay_crawl_layers

CORPUS = {"n_pages": 50_000, "n_hosts": 64, "links_per_page": 4}
PROFILE = {
    "max_iterations": 2,
    "max_per_host": 2000,
    "salt": 4,
    "salt_mode": "static",
    "filter_mode": "bloom",
    "snapshot_every": 2,
}
# fetched per iteration with seed-page residue 0 (seeds 0, 100, 200, ...)
EXPECTED_FETCHED = [500, 1933]
# timed warm crawls per run at least, after one untimed warm-up crawl: the
# first warm crawl of a JVM swings by a third from run to run, the later
# ones by a tenth
WARM_CRAWLS = 3


def make_inputs(spark, seed: int):
    """The corpus, persisted, and its seed pages: 1% of pages, picked by the
    residue ``seed % 100`` of the page id."""
    corpus = synthesize_corpus(spark, **CORPUS).persist()
    corpus.count()
    seeds = corpus.filter(F.col("page_id") % 100 == seed % 100).select(
        "url", "host", F.lit(1.0).alias("priority"),
        F.col("warc_ts").alias("discovered_ts"),
    )
    return corpus, seeds


class CrawlClient:
    """Runs and checks crawls against one corpus; counts attempts and
    failures.  The first successful crawl's fetched counts and url_seen
    digest are the reference every later crawl of the process must repeat."""

    def __init__(self, scratch: str, seed: int):
        self.scratch = scratch
        self.seed = seed
        self.spark = self.corpus = self.seeds = None
        self.reference = None
        self.attempted = self.failed = 0
        self._n = 0

    def setup(self, event_log_dir: str | None = None) -> tuple[float, float]:
        """(Re)build the session and the inputs: (session_s, inputs_s)."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.monotonic()
        self.spark = H.build_session(self.scratch, event_log_dir)
        t1 = time.monotonic()
        self.corpus, self.seeds = make_inputs(self.spark, self.seed)
        return t1 - t0, time.monotonic() - t1

    def crawl(self, keep_state: bool = False):
        """One checked crawl -> (result, wall_s, start_ms, end_ms, state_dir)."""
        self._n += 1
        self.attempted += 1
        state_dir = H.fresh_dir(f"{self.scratch}/crawl_{self._n}")
        t0_ms = H.now_ms()
        t0 = time.monotonic()
        res = run_crawl(
            self.spark, self.corpus, self.seeds,
            CrawlConfig(**PROFILE, state_dir=state_dir),
        )
        wall = time.monotonic() - t0
        t1_ms = H.now_ms()
        H.log(f"crawl {self._n}: {wall:.2f} s, fetched {[i.fetched for i in res.iterations]}")
        if not self._check(res, state_dir):
            self.failed += 1
        if not keep_state:
            shutil.rmtree(state_dir, ignore_errors=True)
        return res, wall, t0_ms, t1_ms, state_dir

    def _check(self, res, state_dir: str) -> bool:
        fetched = [i.fetched for i in res.iterations]
        seen = self.spark.read.parquet(read_manifest(state_dir)["url_seen"])
        n, n_distinct, hash_sum = seen.agg(
            F.count("*"),
            F.countDistinct("url"),
            F.sum(F.xxhash64("url").cast("decimal(38,0)")),
        ).first()
        ok = True
        # url_seen keeps one row per url, so a url fetched twice leaves
        # fewer rows than fetches
        if not n == n_distinct == sum(fetched):
            H.log(f"crawl check: {sum(fetched)} fetches but {n_distinct} seen urls")
            ok = False
        if self.seed % 100 == 0 and fetched != EXPECTED_FETCHED:
            H.log(f"crawl check: fetched {fetched} != expected {EXPECTED_FETCHED}")
            ok = False
        observed = (fetched, n_distinct, str(hash_sum))
        if self.reference is None and ok:
            self.reference = observed
        elif observed != self.reference:
            H.log(f"crawl check: {observed} does not repeat {self.reference}")
            ok = False
        return ok


def _urls_per_s(res, wall: float) -> float:
    return (res.total_scheduled + res.total_fetched) / wall


def run(scratch: str, seed: int, seconds: float, trace: bool) -> dict:
    client = CrawlClient(scratch, seed)
    setups = [client.setup() for _ in range(H.SETUP_REPS)]
    cold_res, cold_wall, *_ = client.crawl()
    if trace:
        return _traced(client, setups, cold_res)

    client.crawl()
    crawls = H.closed_loop(client.crawl, seconds, WARM_CRAWLS)
    walls = [wall for _, wall, *_ in crawls]
    metrics = {
        "setup_s": H.metric(H.median([a + b for a, b in setups]), "s"),
        "op_wall_s": H.metric(H.median(walls), "s"),
        "throughput_per_s": H.metric(
            H.median([_urls_per_s(res, wall) for res, wall, *_ in crawls]), "1/s"
        ),
        "first_op_s": H.metric(cold_wall, "s"),
    }
    client.spark.stop()
    return {"attempted": client.attempted, "failed": client.failed, "metrics": metrics}


def _iteration_windows(log, t0_ms, t1_ms, walls_s):
    """Wall-clock window of each iteration.  The iterations run back to
    back and the crawl's last job is the metrics-table write that follows
    them, so the windows are laid out backwards from that job's start."""
    end = max(j.submit_ms for j in log.jobs if t0_ms <= j.submit_ms <= t1_ms)
    windows = []
    for w in reversed(walls_s):
        windows.append((end - w * 1000.0, end))
        end -= w * 1000.0
    return windows[::-1]


def _traced(client: CrawlClient, setups, cold_res) -> dict:
    """Per-layer run: a crawl with the event log on, layer replays on the
    state it leaves, then the same crawl with the log off for the tracing
    overhead.  Both crawls directly follow a session rebuild."""
    log_dir = H.fresh_dir(f"{client.scratch}/eventlog")
    client.setup(event_log_dir=log_dir)
    res, wall, t0_ms, t1_ms, state_dir = client.crawl(keep_state=True)
    state_bytes, state_files = H.dir_size(state_dir)
    windows: dict[str, tuple[float, float]] = {}
    layers, replay_ok = replay_crawl_layers(
        client.spark, client.corpus, state_dir, client.seed,
        H.fresh_dir(f"{client.scratch}/replay"), windows, PROFILE,
    )
    client.attempted += 1
    client.failed += not replay_ok
    client.spark.stop()
    client.spark = None
    log = read_events(find_log(log_dir))

    client.setup()
    _, untraced_wall, *_ = client.crawl()
    peak_rss_mb = H.peak_rss_mb(client.spark)
    client.spark.stop()

    walls = [i.wall_s for i in res.iterations]
    spans = _iteration_windows(log, t0_ms, t1_ms, walls)
    iters = [window_stats(log, a, b, H.slots()) for a, b in spans]
    whole = window_stats(log, spans[0][0], spans[-1][1], H.slots())
    n = len(iters)
    per_iter = lambda k: sum(s[k] for s in iters) / n  # noqa: E731
    pr = windows["linkrank.pagerank_s"]
    values = {
        "session.build_s": H.median([a for a, _ in setups]),
        "pages.corpus_s": H.median([b for _, b in setups]),
        "frontier.jobs_per_iter": per_iter("jobs"),
        "frontier.stages_per_iter": per_iter("stages"),
        "frontier.tasks_per_iter": per_iter("tasks"),
        "frontier.task_s_per_iter": per_iter("task_s"),
        "frontier.shuffle_bytes_per_iter": per_iter("shuffle_bytes"),
        "frontier.gc_s_per_iter": per_iter("gc_s"),
        "frontier.idle_frac": whole["idle_frac"],
        "frontier.slot_util": whole["slot_util"],
        "frontier.iter0_s": cold_res.iterations[0].wall_s,
        "frontier.iter_wall_p50_s": H.median(walls),
        "frontier.state_bytes": state_bytes,
        "frontier.state_files": state_files,
        "linkrank.jobs": window_stats(log, pr[0], pr[1], H.slots())["jobs"],
        "trace_overhead_frac": wall / untraced_wall - 1.0,
        "memory.peak_rss_mb": peak_rss_mb,
        **layers,
    }
    return {"attempted": client.attempted, "failed": client.failed, "values": values}
