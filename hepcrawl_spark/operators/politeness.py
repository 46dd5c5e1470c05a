"""Per-host politeness scheduling (SURVEY.md §2.3, P1-P6).

The reference gets politeness from its serial event loop plus per-spider
settings (download_delay=10, MAX_CONCURRENT_REQUESTS_PER_DOMAIN=2 —
edp_spider.py:108-109; global CONCURRENT_REQUESTS=16 — settings.py:50-51).
Here the same semantics are a window function over the frontier:

  wave(host) = first `cap` requests per host ordered by
               (priority DESC, discovered_ts, url)   [P1/P2/P4]

where ``cap = floor(wave_budget_s / delay_s)`` — the number of requests a
polite fetcher may issue to one host during one fixpoint wave.

Skew (north rule: the arxiv.org hotspot): a single hot host would put its
whole frontier partition on one task. ``salted_host`` splits hosts into
``salt`` shards; the window then ranks within (host, shard) so both the
shuffle AND the politeness cap distribute. The per-host cap divides
EXACTLY across shards (floor + remainder-to-low-shards), so the total
admitted per host equals min(cap, pending) for any cap — including caps
below the shard count (crawl-budget remainders) and zero.

Scale notes: one shuffle on the salted host key; AQE skew-join splitting
covers residual imbalance. No driver-side collection anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_host(host: Column | str, url: Column | str, salt: int) -> Column:
    """``host#k`` with k = pmod(xxhash64(url), salt). salt=1 -> identity."""
    h = F.col(host) if isinstance(host, str) else host
    u = F.col(url) if isinstance(url, str) else url
    if salt <= 1:
        return h
    return F.concat(h, F.lit("#"), F.pmod(F.xxhash64(u), F.lit(salt)).cast("string"))


def _host_pressure(frontier: DataFrame, host_col: str = "host") -> DataFrame:
    """(host, n, m): per-host pending counts crossed with the approx-median
    — the ONE copy of the skew heuristic both detect_hot_hosts and
    adaptive_host_salt build on. One cheap aggregation, all JVM-side."""
    counts = frontier.groupBy(host_col).agg(F.count("*").alias("n"))
    med = counts.agg(F.percentile_approx("n", 0.5).alias("m"))
    return counts.crossJoin(F.broadcast(med))


def detect_hot_hosts(frontier: DataFrame, k_times_median: int = 8) -> DataFrame:
    """Hosts whose pending count exceeds k x median — candidates for
    salting (p2 oracle contract: byte-identical output)."""
    return (
        _host_pressure(frontier)
        .filter(F.col("n") > F.col("m") * k_times_median)
        .select("host", "n")
    )


def adaptive_host_salt(
    frontier: DataFrame,
    k_times_median: int = 8,
    max_salt: int = 256,
    host_col: str = "host",
) -> DataFrame:
    """Per-host salting factors sized to the CURRENT frontier's skew
    (SURVEY §7 hard part (e): "the salting factor must adapt per
    iteration"; the north rule's arxiv.org hotspot): a host with ``n``
    pending urls gets ``ceil(n / (k x median))`` shards (capped at
    ``max_salt``), so every (host, shard) politeness window holds at most
    ~k x median rows no matter how hot the host — a static salt=4 would
    still put 1/4 of a 10^8-url host on each of 4 tasks.

    One cheap groupBy(host) aggregation per iteration; the result holds
    HOT hosts only (factor 1 implied for the rest), so it stays tiny and
    broadcastable. Returns (host, salt)."""
    mg = F.greatest(F.lit(1.0), F.col("m").cast("double"))  # singleton guard
    return (
        _host_pressure(frontier, host_col)
        .filter(F.col("n") > mg * k_times_median)
        .select(
            F.col(host_col).alias("host"),
            F.least(
                F.lit(max_salt),
                F.ceil(F.col("n") / (mg * k_times_median)).cast("int"),
            ).alias("salt"),
        )
    )


def select_wave(
    frontier: DataFrame,
    max_per_host: int,
    salt: int = 1,
    host_col: str = "host",
    order_cols: tuple[str, ...] = ("priority", "discovered_ts", "url"),
    host_caps: DataFrame | None = None,
    wave_budget_s: float | None = None,
    host_salts: DataFrame | None = None,
    host_fetch_caps: DataFrame | None = None,
    rotation: int = 0,
) -> DataFrame:
    """P1/P2/P4: per-host politeness wave.

    Ranks within each (possibly salted) host partition by priority DESC then
    FIFO (discovered_ts, url — the reference's yield order, P4), keeps the
    top ``max_per_host``. Returns the frontier columns + ``wave_rank``.

    ``host_caps`` (host, crawl_delay) — e.g. ``crawl/robots.crawl_delays``
    over parsed robots.txt — overrides the default cap per host with
    ``floor(wave_budget_s / crawl_delay)`` (min 1): a host declaring
    Crawl-delay: 10 against a 60 s wave budget gets at most 6 fetches that
    wave. Broadcast left join (one small row per HOST); hosts without a
    declared delay keep ``max_per_host``. Default None preserves the exact
    historical behavior (p1/p4 oracles).

    ``host_salts`` (host, salt) — ``adaptive_host_salt`` output — replaces
    the uniform ``salt`` with a PER-HOST factor: listed (hot) hosts split
    into their own shard count, unlisted hosts keep the uniform base. The
    per-host politeness cap divides across that host's shards exactly as in
    the uniform case.

    ``host_fetch_caps`` (host, cap) — a DIRECT per-host row cap for this
    wave (e.g. the remaining crawl budget, SURVEY §7(d) token-bucket
    carry-over): listed hosts are capped at ``least(cap, max_per_host)``
    (0 admits nothing), unlisted hosts keep ``max_per_host``."""
    cap_col = F.lit(max_per_host)
    if host_fetch_caps is not None:
        fc = host_fetch_caps.select(
            F.col("host").alias("_fc_host"), F.col("cap").alias("_fc_cap")
        )
        frontier = frontier.join(
            F.broadcast(fc), F.col(host_col) == F.col("_fc_host"), "left"
        ).drop("_fc_host")
        cap_col = F.least(
            F.coalesce(F.col("_fc_cap"), F.lit(max_per_host)).cast("int"),
            F.lit(max_per_host),
        )
    if host_caps is not None:
        if wave_budget_s is None:
            raise ValueError("host_caps requires wave_budget_s")
        caps = host_caps.select(
            F.col("host").alias("_cap_host"),
            F.greatest(
                F.lit(1),
                F.floor(F.lit(float(wave_budget_s)) / F.col("crawl_delay")),
            )
            .cast("int")
            .alias("_host_cap"),
        )
        frontier = frontier.join(
            F.broadcast(caps), F.col(host_col) == F.col("_cap_host"), "left"
        ).drop("_cap_host")
        # compose with whatever cap already applies (fetch caps above):
        # least() of all active constraints; defaults preserve history
        cap_col = F.least(
            F.coalesce(F.col("_host_cap"), F.lit(max_per_host)), cap_col
        )
    drop_cols = ["_host_cap"] if host_caps is not None else []
    if host_fetch_caps is not None:
        drop_cols.append("_fc_cap")
    # EXACT cap division across shards: shard k of s gets
    # floor(cap/s) + (1 if (k - rotation) mod s < cap mod s else 0), so the
    # per-host total is exactly min(cap, rows) for ANY cap — including
    # cap < s (the old greatest(1, cap/s) floor admitted up to s rows
    # there, which let a host overshoot its remaining crawl budget by up
    # to s-1 fetches) and cap == 0 (exhausted budget admits nothing).
    # ``rotation`` (the caller's iteration counter) shifts WHICH shards
    # receive the remainder each wave: shard assignment is a deterministic
    # url hash, so without rotation a url landing in a zero-quota shard
    # while cap < s is unselectable every wave (stranded budget /
    # starvation); over s waves every shard takes a turn.
    def _shard_cap(cap, shard, s):
        return F.floor(cap / s).cast("int") + F.when(
            F.pmod(shard - F.lit(rotation), s) < F.pmod(cap, s), F.lit(1)
        ).otherwise(F.lit(0))

    # a uniform salt is the per-host path with no listed host; Catalyst
    # folds the literal salt's branches
    per_salt = F.lit(max(salt, 1))
    if host_salts is not None:
        salts = host_salts.select(
            F.col("host").alias("_s_host"), F.col("salt").alias("_host_salt")
        )
        frontier = frontier.join(
            F.broadcast(salts), F.col(host_col) == F.col("_s_host"), "left"
        ).drop("_s_host")
        per_salt = F.coalesce(F.col("_host_salt"), per_salt)
        drop_cols.append("_host_salt")
    shard = F.pmod(F.xxhash64(F.col(order_cols[-1])), per_salt)
    cap_col = _shard_cap(cap_col, shard, per_salt)
    part = F.when(per_salt <= 1, F.col(host_col)).otherwise(
        F.concat(F.col(host_col), F.lit("#"), shard.cast("string"))
    )
    w = (
        Window.partitionBy(part)
        .orderBy(F.col(order_cols[0]).desc(), *[F.col(c) for c in order_cols[1:]])
    )
    out = (
        frontier.withColumn("wave_rank", F.row_number().over(w))
        .filter(F.col("wave_rank") <= cap_col)
    )
    return out.drop(*drop_cols) if drop_cols else out


def crawl_order(
    frontier: DataFrame,
    order_cols: tuple[str, ...] = ("priority", "discovered_ts", "url"),
    num_partitions: int | None = None,
) -> DataFrame:
    """P4: the deterministic global dispatch order — priority DESC, then
    FIFO by discovery time, then url as the total-order tiebreak. This is
    the formalized Scrapy-scheduler order the north rule's "crawl ordering
    must match" criterion refers to.

    Scale shape: a naive ``Window.orderBy`` with no partition spec collapses
    the whole frontier onto ONE task — the single-node bottleneck at a
    10^10-row frontier. Instead the total order is composed distributively:

      1. ``repartitionByRange`` on the sort key — partition i holds keys
         that sort before partition i+1's (one range exchange, all
         partitions balanced by sampling).
      2. rank WITHIN each range partition (per-partition window — parallel).
      3. per-partition row counts -> prefix-sum offsets (a few dozen rows,
         broadcast back), so dispatch_order = offset[pid] + local_rank.

    No stage ever sees more than one partition's rows in one task; the only
    tiny relations (counts, offsets) are O(#partitions)."""
    sort_exprs = [F.col(order_cols[0]).desc()] + [
        F.col(c).asc() for c in order_cols[1:]
    ]
    n = num_partitions or frontier.sparkSession.sparkContext.defaultParallelism
    ranged = frontier.repartitionByRange(n, *sort_exprs).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy(*sort_exprs)
    local = ranged.withColumn("_local", F.row_number().over(w))
    counts = ranged.groupBy("_pid").agg(F.count("*").alias("_n"))
    # prefix sums over O(#partitions) rows via a tiny theta self-join —
    # deliberately NOT a window, so no unpartitioned window node exists
    # anywhere in the plan
    a = counts.select(F.col("_pid").alias("_pid_a"))
    b = counts.select(F.col("_pid").alias("_pid_b"), F.col("_n").alias("_n_b"))
    offsets = (
        a.join(b, F.col("_pid_b") < F.col("_pid_a"), "left")
        .groupBy("_pid_a")
        .agg(F.coalesce(F.sum("_n_b"), F.lit(0)).alias("_offset"))
    )
    return (
        local.join(F.broadcast(offsets), local["_pid"] == offsets["_pid_a"])
        .withColumn(
            "dispatch_order", (F.col("_offset") + F.col("_local")).cast("int")
        )
        .drop("_pid", "_pid_a", "_local", "_offset", "_n")
    )


def robots_gate(frontier: DataFrame, robots: DataFrame, url_col: str = "url") -> DataFrame:
    """P5: drop frontier rows whose url path starts with a disallowed prefix
    for that host. robots is a small rules table -> broadcast; the prefix
    match is a theta-join predicate evaluated on the broadcast side."""
    path = F.parse_url(F.col(url_col), F.lit("PATH"))
    rules = robots.filter(F.col("allow") == "disallow").select(
        F.col("host").alias("_r_host"), F.col("path_prefix").alias("_r_prefix")
    )
    hit = frontier.join(
        F.broadcast(rules),
        (F.col("host") == F.col("_r_host"))
        & path.startswith(F.col("_r_prefix")),
        "left_anti",
    )
    return hit


def decay_priority(
    failed: DataFrame, decay: float = 0.5, priority_col: str = "priority"
) -> DataFrame:
    """P6: failed fetches re-enter the frontier with attempt+1 and decayed
    priority (Scrapy RetryMiddleware role)."""
    return failed.withColumn(priority_col, F.col(priority_col) * decay).withColumn(
        "attempt", F.col("attempt") + 1
    )
