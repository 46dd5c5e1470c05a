import numpy as np
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from hepcrawl_spark.operators.bloom import BloomFilter
from hepcrawl_spark.operators.cuckoo import CuckooFilter, build_cuckoo


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=200))
@settings(max_examples=25, deadline=None)
def test_bloom_no_false_negatives(values):
    bf = BloomFilter.sized_for(max(len(values), 1))
    arr = np.array(values, dtype=np.int64)
    if len(arr):
        bf.add(arr)
        assert bf.might_contain(arr).all()


def test_bloom_fpp_reasonable():
    bf = BloomFilter.sized_for(10_000, fpp=0.01)
    ins = np.arange(10_000, dtype=np.int64)
    probe = np.arange(10_000, 30_000, dtype=np.int64)
    bf.add(ins)
    fp_rate = bf.might_contain(probe).mean()
    assert fp_rate < 0.03


@given(st.sets(st.integers(min_value=0, max_value=2**62), max_size=100))
@settings(max_examples=25, deadline=None)
def test_cuckoo_membership_and_delete(values):
    cf = CuckooFilter.sized_for(max(len(values), 8))
    vals = list(values)
    for v in vals:
        assert cf.insert(v)
    if vals:
        arr = np.array(vals, dtype=np.uint64)
        assert cf.might_contain(arr).all()
        cf.delete(vals[0])
        # deleted element *may* still hit via fingerprint collision with
        # another inserted element, but with distinct values usually not;
        # the rest must still be present (no false negatives on remaining)
        assert cf.might_contain(arr[1:]).all() if len(vals) > 1 else True


def test_distributed_cuckoo_udf_roundtrip(spark):
    from hepcrawl_spark.operators.cuckoo import cuckoo_might_contain_udf

    df = spark.range(0, 2000).select(F.xxhash64("id").alias("url_hash"))
    cf = build_cuckoo(df, n_shards=8, n_items=2000)
    probe = cuckoo_might_contain_udf(spark, cf)
    hits = df.withColumn("m", probe("url_hash")).filter("m").count()
    assert hits == 2000  # no false negatives through the broadcast UDF


def test_cuckoo_insert_batch_matches_per_key():
    import numpy as np

    from hepcrawl_spark.operators.cuckoo import CuckooFilter

    rng = np.random.default_rng(7)
    keys = rng.integers(0, 2**63, size=5000, dtype=np.int64).astype(np.uint64)
    a = CuckooFilter.sized_for(len(keys))
    failed = a.insert_batch(keys)
    assert failed == 0
    # no false negatives after the vectorized build
    assert a.might_contain(keys).all()
    b = CuckooFilter.sized_for(len(keys))
    for k in keys:
        b.insert(int(k))
    # same membership answers on a probe mix of present/absent keys
    probes = np.concatenate([keys[:500], rng.integers(0, 2**63, 500).astype(np.uint64)])
    assert (a.might_contain(probes) == b.might_contain(probes)).mean() > 0.99


def test_cuckoo_insert_batch_after_deletes_no_false_negatives():
    """delete() leaves holes mid-bucket, so insert_batch must target the
    bucket's ACTUAL free slots — the round-2 ADVICE repro (fill-count
    slotting silently overwrote live trailing fingerprints: 211/9500 false
    negatives)."""
    import numpy as np

    from hepcrawl_spark.operators.cuckoo import CuckooFilter

    cf = CuckooFilter.sized_for(25000)
    keys1 = np.arange(1, 10001, dtype=np.uint64) * np.uint64(1000003)
    assert cf.insert_batch(keys1) == 0
    for k in keys1[:500]:
        assert cf.delete(int(k))
    keys2 = np.arange(20001, 30001, dtype=np.uint64) * np.uint64(1000003)
    assert cf.insert_batch(keys2) == 0
    survivors = keys1[500:]
    assert cf.might_contain(survivors).all()
    assert cf.might_contain(keys2).all()


def test_cuckoo_overflow_is_loud(spark):
    import pyspark.sql.functions as F

    from hepcrawl_spark.operators.cuckoo import build_cuckoo

    df = spark.range(0, 20000).select(F.xxhash64("id").alias("url_hash"))
    import pytest as _pytest

    with _pytest.raises(Exception, match="overflow"):
        # sized for 100 items but fed 20k -> must raise, not drop fingerprints
        build_cuckoo(df, n_items=100, n_shards=2)


def test_sharded_bloom_build_and_probe_paths_agree(spark):
    """Distributed sharded build must have no false negatives, and the
    zero-driver-state cogroup probe must answer exactly like the broadcast
    probe on the same filter."""
    from hepcrawl_spark.operators.bloom import (
        bloom_probe_cogroup,
        build_bloom_sharded,
        sharded_might_contain_udf,
    )

    seen = spark.range(0, 4000).select(F.xxhash64("id").alias("url_hash"))
    sb = build_bloom_sharded(seen, n_items=4000, n_shards=8)
    vals = np.array([r["url_hash"] for r in seen.collect()], dtype=np.int64)
    assert sb.might_contain(vals).all()  # no false negatives, local probe

    frontier = spark.range(0, 8000).select(
        F.col("id").alias("fid"), F.xxhash64("id").alias("url_hash")
    )
    bcast = sharded_might_contain_udf(spark, sb)
    via_bcast = {
        r["fid"]: r["m"]
        for r in frontier.withColumn("m", bcast("url_hash")).collect()
    }
    shard_table = sb.to_table(spark)
    via_cogroup = {
        r["fid"]: r["_maybe"]
        for r in bloom_probe_cogroup(frontier, shard_table, n_shards=8).collect()
    }
    assert via_bcast == via_cogroup
    # first 4000 are inserted -> all True; fpp on the rest stays near 1%
    assert all(via_bcast[i] for i in range(4000))
    fp = sum(via_bcast[i] for i in range(4000, 8000)) / 4000
    assert fp < 0.05


def test_sharded_bloom_delta_update_routes_to_shards():
    from hepcrawl_spark.operators.bloom import ShardedBloom

    sb = ShardedBloom.sized_for(10_000, n_shards=16)
    a = np.arange(0, 5000, dtype=np.int64) * 2654435761 % (2**62)
    b = np.arange(5000, 10_000, dtype=np.int64) * 2654435761 % (2**62)
    sb.add(a)
    assert sb.might_contain(a).all()
    before = {s: bf.bits.tobytes() for s, bf in sb.shards.items()}
    sb.add(b)  # delta
    assert sb.might_contain(np.concatenate([a, b])).all()
    # delta only flipped bits in shards that received keys (all of them here),
    # but a single-key delta touches exactly one shard:
    sb2 = ShardedBloom.from_blobs(sb.to_blobs(), sb.n_shards)
    one = np.array([123456789], dtype=np.int64)
    sid = int(np.mod(one, sb2.n_shards)[0])
    pre = {s: bf.bits.tobytes() for s, bf in sb2.shards.items()}
    sb2.add(one)
    changed = [s for s, bf in sb2.shards.items() if bf.bits.tobytes() != pre[s]]
    assert changed == [sid] or changed == []  # [] iff bits already set


def test_cuckoo_empty_shards_sized_for_full_capacity(spark):
    """build_cuckoo over an input that touches only a few shards must leave
    the untouched shards at FULL per-shard capacity: the resident lifecycle
    keeps this object for the whole run, and a token 8-bucket default
    overflows on the first real delta wave (round-3 ADVICE repro:
    2735/5000 delta inserts failed and killed the resumed crawl)."""
    import pyspark.sql.functions as F

    from hepcrawl_spark.operators.cuckoo import build_cuckoo

    # one shard's worth of keys: shard = pmod(hash, 32) == 0 only
    df = spark.range(0, 100).select((F.col("id") * 32).alias("url_hash"))
    ccf = build_cuckoo(df, n_shards=32, n_items=100_000)
    sizes = {cf.n_buckets for cf in ccf.shards.values()}
    assert min(sizes) >= 1024  # no token 8-bucket shards
    # a big delta across ALL shards inserts cleanly
    delta = np.arange(0, 50_000, dtype=np.int64) * 2654435761 % (2**62)
    assert ccf.insert_batch(delta.astype(np.uint64)) == 0
    assert ccf.might_contain(delta.astype(np.uint64)).all()
