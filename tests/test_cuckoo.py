"""Cuckoo-filter URL-seen segments (cuckoo.py): no false negatives,
deterministic placement, deletion support, wire-format roundtrip, and
the engine-level guarantee that swapping the prefilter family
(bloom -> cuckoo) changes NOTHING about crawl results — the filter is a
traffic reducer, membership stays exact (north_rule "bloom/cuckoo")."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark.cuckoo import (
    SLOTS,
    build_cuckoo_segments,
    cuckoo_anti_join_seen,
    decode_segment,
    delete,
    empty_segment,
    encode_segment,
    insert,
    lookup,
)
from crawler_spark.seen import bucket_expr

N_BUCKETS = 8


def _hashes(n, seed=7):
    rng = np.random.RandomState(seed)
    return rng.randint(-(2**62), 2**62, size=n, dtype=np.int64)


def test_insert_lookup_no_false_negatives():
    slots, stash = empty_segment(1 << 10)
    hs = _hashes(2000)
    stash = insert(slots, stash, hs)
    assert lookup(slots, stash, hs).all()


def test_insert_order_insensitive():
    hs = _hashes(1500, seed=3)
    a_slots, a_stash = empty_segment(1 << 10)
    a_stash = insert(a_slots, a_stash, hs)
    b_slots, b_stash = empty_segment(1 << 10)
    b_stash = insert(b_slots, b_stash, hs[::-1].copy())
    assert np.array_equal(a_slots, b_slots)
    assert np.array_equal(np.sort(a_stash), np.sort(b_stash))


def test_false_positive_rate_sane():
    slots, stash = empty_segment(1 << 10)
    stash = insert(slots, stash, _hashes(2000, seed=1))
    probes = _hashes(20000, seed=2)
    fpr = lookup(slots, stash, probes).mean()
    # 16-bit fingerprints, 2 buckets x 4 slots: expected FPR ~ 8/2^16
    assert fpr < 0.01, fpr


def test_delete_then_absent():
    slots, stash = empty_segment(1 << 10)
    hs = _hashes(1000, seed=5)
    stash = insert(slots, stash, hs)
    victims = hs[:100]
    stash = delete(slots, stash, victims)
    survivors = hs[100:]
    assert lookup(slots, stash, survivors).all(), "delete must not evict others"
    # deleted keys are (almost all) gone; residual hits can only come
    # from fingerprint collisions with the 900 survivors
    assert lookup(slots, stash, victims).mean() < 0.1


def test_stash_overflow_still_exact():
    # 4-bucket segment = 16 slots + stash; force heavy overflow
    slots, stash = empty_segment(4)
    hs = _hashes(200, seed=11)
    stash = insert(slots, stash, hs)
    assert len(stash) > 0
    assert lookup(slots, stash, hs).all()


def test_wire_roundtrip():
    slots, stash = empty_segment(1 << 8)
    stash = insert(slots, stash, _hashes(300, seed=9))
    blob = encode_segment(slots, stash)
    s2, st2 = decode_segment(blob)
    assert np.array_equal(slots, s2) and np.array_equal(stash, st2)
    assert s2.shape == (1 << 8, SLOTS)
    with pytest.raises(ValueError):
        decode_segment(b"BLM1" + blob[4:])


def _mk(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], ["url"]).withColumn(
        "url_hash", F.xxhash64("url")
    )
    return df.withColumn("partition_id", bucket_expr(F.col("url_hash"), N_BUCKETS))


def test_anti_join_matches_exact(spark):
    seen = _mk(spark, [f"http://h.test/p/{i}" for i in range(0, 3000, 2)])
    cand = _mk(spark, [f"http://h.test/p/{i}" for i in range(1000, 1400)])
    segs = build_cuckoo_segments(seen, None, 1 << 10)
    for probe in (True, False):
        got = sorted(
            r.url for r in cuckoo_anti_join_seen(cand, seen, segs, probe).collect()
        )
        assert got == sorted(f"http://h.test/p/{i}" for i in range(1001, 1400, 2))


def test_segment_merge_incremental(spark):
    a = _mk(spark, [f"http://h.test/a/{i}" for i in range(500)])
    b = _mk(spark, [f"http://h.test/b/{i}" for i in range(500)])
    segs = build_cuckoo_segments(b, build_cuckoo_segments(a, None, 1 << 10), 1 << 10)
    both = a.unionByName(b)
    out = cuckoo_anti_join_seen(both, both, segs, True)
    assert out.count() == 0  # everything inserted is filtered
    fresh = _mk(spark, [f"http://h.test/c/{i}" for i in range(200)])
    assert cuckoo_anti_join_seen(fresh, both, segs, True).count() == 200


def test_engine_parity_with_cuckoo(spark, tmp_path):
    """Full-crawl gate: cuckoo prefilter reproduces the sequential
    oracle's exact crawl order + URL-seen set, like the bloom path."""
    from crawler_spark.engine import CrawlEngine, EngineConfig
    from crawler_spark.oracle import crawl_oracle
    from crawler_spark.schema import ROBOTS_SCHEMA
    from crawler_spark.synth import SynthConfig, corpus_df, robots_rows, seed_urls

    cfg = SynthConfig(n_pages=400, n_hosts=8, with_images=False)
    corpus = corpus_df(spark, cfg)
    robots = spark.createDataFrame(robots_rows(cfg), ROBOTS_SCHEMA)
    seeds = seed_urls(cfg, 4)
    oracle = crawl_oracle(cfg, seeds, robots_rows(cfg), max_epochs=4, epoch_ms=8000)
    eng = CrawlEngine(
        spark,
        corpus,
        robots,
        EngineConfig(
            max_epochs=4,
            epoch_ms=8000,
            seen_filter="cuckoo",
            cuckoo_n_buckets=1 << 10,
            checkpoint_dir=str(tmp_path / "ck"),
            n_seen_buckets=8,
        ),
    )
    eng.run(seeds)
    got_order = [(r.seq, r.url, r.epoch) for r in eng.crawl_order.collect()]
    want_order = [(s, u, e) for (s, u, e, _h) in oracle.crawl_order]
    assert len(got_order) > 30
    assert got_order == want_order
    assert {r.url for r in eng.url_seen.collect()} == oracle.url_seen


def test_resume_filter_kind_guard(spark, tmp_path):
    """A snapshot written under one filter family must refuse to resume
    under another (the segment bytes are family-specific)."""
    from crawler_spark.engine import CrawlEngine, EngineConfig
    from crawler_spark.schema import ROBOTS_SCHEMA
    from crawler_spark.synth import SynthConfig, corpus_df, robots_rows, seed_urls

    cfg = SynthConfig(n_pages=120, n_hosts=4, with_images=False)
    corpus = corpus_df(spark, cfg)
    robots = spark.createDataFrame(robots_rows(cfg), ROBOTS_SCHEMA)
    ck = str(tmp_path / "ck")
    base = dict(max_epochs=1, epoch_ms=8000, n_seen_buckets=8, checkpoint_dir=ck)
    CrawlEngine(spark, corpus, robots, EngineConfig(seen_filter="cuckoo", **base)).run(
        seed_urls(cfg, 2)
    )
    eng2 = CrawlEngine(spark, corpus, robots, EngineConfig(seen_filter="bloom", **base))
    with pytest.raises(ValueError, match="seen_filter"):
        eng2.resume()


def test_seen_filter_rejects_unknown_kind():
    """Only the three filter kinds exist; any other value used to build
    bloom segments silently."""
    from crawler_spark.engine import EngineConfig

    with pytest.raises(ValueError, match="seen_filter"):
        EngineConfig(seen_filter="Cuckoo")
