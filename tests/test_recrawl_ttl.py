"""TTL recrawl expiry: pages last scheduled T epochs ago leave URL-seen
(cuckoo fingerprint delete; bloom+TTL is rejected at config time) so
re-discovered links crawl them fresh. Gate = exact crawl-order + URL-seen
parity vs the sequential oracle with the same TTL rule."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark.engine import CrawlEngine, EngineConfig
from crawler_spark.oracle import crawl_oracle
from crawler_spark.schema import ROBOTS_SCHEMA
from crawler_spark.synth import SynthConfig, corpus_df, robots_rows, seed_urls


@pytest.fixture(scope="module")
def web(spark):
    cfg = SynthConfig(n_pages=300, n_hosts=6, with_images=False)
    corpus = corpus_df(spark, cfg).persist()
    corpus.count()
    robots = spark.createDataFrame(robots_rows(cfg), ROBOTS_SCHEMA)
    return cfg, corpus, robots


def _parity(spark, web, tmpdir, seen_filter, ttl=2, max_epochs=6):
    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 3)
    oracle = crawl_oracle(
        cfg, seeds, robots_rows(cfg), max_epochs=max_epochs, epoch_ms=8000,
        recrawl_ttl_epochs=ttl,
    )
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(
            max_epochs=max_epochs, epoch_ms=8000, n_seen_buckets=8,
            checkpoint_dir=str(tmpdir), seen_filter=seen_filter,
            cuckoo_n_buckets=1 << 10, recrawl_ttl_epochs=ttl,
        ),
    )
    eng.run(seeds)
    got_order = [(r.seq, r.url, r.epoch) for r in eng.crawl_order.collect()]
    want_order = [(s, u, e) for (s, u, e, _h) in oracle.crawl_order]
    assert got_order == want_order
    assert {r.url for r in eng.url_seen.collect()} == oracle.url_seen
    # non-vacuous: expiry must actually cause at least one refetch
    urls = [u for (_s, u, _e) in got_order]
    assert len(urls) > len(set(urls)), "no url was recrawled — TTL untested"
    return oracle, eng


def test_ttl_parity_cuckoo(spark, web, tmp_path):
    _parity(spark, web, tmp_path / "ck_cuckoo", "cuckoo")


def test_ttl_rejects_bloom_at_config_time(spark, web, tmp_path):
    """Bloom can't delete bits — a TTL run with bloom segments would
    rebuild the whole filter from survivors every expiry epoch
    (O(total seen), O(10^10) at the design point). The config is
    rejected up front, naming the cuckoo alternative."""
    with pytest.raises(ValueError, match="cuckoo"):
        EngineConfig(
            max_epochs=6, epoch_ms=8000, n_seen_buckets=8,
            checkpoint_dir=str(tmp_path / "ck_bloom"), seen_filter="bloom",
            recrawl_ttl_epochs=2,
        )


def test_ttl_parity_no_prefilter(spark, web, tmp_path):
    """TTL with the prefilter disabled entirely (exact anti-join only)
    must match the oracle too — expiry then touches only url_seen."""
    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 3)
    oracle = crawl_oracle(
        cfg, seeds, robots_rows(cfg), max_epochs=6, epoch_ms=8000,
        recrawl_ttl_epochs=2,
    )
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(
            max_epochs=6, epoch_ms=8000, n_seen_buckets=8,
            checkpoint_dir=str(tmp_path / "ck_nofilter"), seen_filter="none",
            recrawl_ttl_epochs=2,
        ),
    )
    eng.run(seeds)
    got_order = [(r.seq, r.url, r.epoch) for r in eng.crawl_order.collect()]
    want_order = [(s, u, e) for (s, u, e, _h) in oracle.crawl_order]
    assert got_order == want_order
    assert {r.url for r in eng.url_seen.collect()} == oracle.url_seen


def test_no_ttl_means_no_refetch(spark, web, tmp_path):
    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 3)
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=6, epoch_ms=8000, n_seen_buckets=8,
                     checkpoint_dir=str(tmp_path / "ck")),
    )
    eng.run(seeds)
    urls = [r.url for r in eng.crawl_order.collect()]
    assert len(urls) == len(set(urls))


def test_ttl_commits_are_delta_plus_tombstones(spark, web, tmp_path):
    """A TTL run must keep O(epoch-delta) commits: url_seen lands as
    per-epoch append dirs plus per-expiry delete-NNNNN tombstone dirs
    (the Iceberg equality-delete analog) — never a full-table rewrite —
    and the log read rule (base + appends − tombstones, sequence-aware)
    reproduces the exact live state across resume."""
    import os

    import pyarrow.parquet as pq

    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 3)
    ck = str(tmp_path / "ttl_delta")
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=6, epoch_ms=8000, n_seen_buckets=8,
                     checkpoint_dir=ck, seen_filter="cuckoo",
                     cuckoo_n_buckets=1 << 10, recrawl_ttl_epochs=2),
    )
    eng.run(seeds)

    log_seen = os.path.join(ck, "log", "url_seen")
    names = sorted(os.listdir(log_seen))
    assert any(x.startswith("delete-") for x in names), names
    assert any(x.startswith("commit-") for x in names), names

    def rows_in(d):
        return sum(
            pq.read_table(os.path.join(root, f)).num_rows
            for root, _d, files in os.walk(os.path.join(log_seen, d))
            for f in files if f.endswith(".parquet")
        )

    total = eng.url_seen.count()
    commits = [x for x in names if x.startswith("commit-")]
    # every commit after the first is a strict subset — a TTL run that
    # fell back to full-table commits would rewrite ~total rows per dir
    assert all(0 < rows_in(c) < total for c in commits[1:]), {
        c: rows_in(c) for c in commits
    }
    # tombstones are expiry-batch-sized, not table-sized
    deletes = [x for x in names if x.startswith("delete-")]
    assert all(0 < rows_in(x) < total for x in deletes)

    # defining the log read is plan-only: no schema-inference job per
    # tombstone dir (their schema is the key column's)
    from crawler_spark.engine import _log_parts, read_log_table

    last = eng.latest_snapshot()
    assert len(_log_parts(ck, "url_seen", last)[2]) >= 2
    sc = spark.sparkContext
    sc.setJobGroup("read_log_table_jobs", "define the url_seen log read")
    try:
        live = read_log_table(spark, ck, "url_seen", last)
        assert list(sc.statusTracker().getJobIdsForGroup("read_log_table_jobs")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert live.count() == total

    # a fresh engine resuming the checkpoint reads the identical state
    cont = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=6, epoch_ms=8000, n_seen_buckets=8,
                     checkpoint_dir=ck, seen_filter="cuckoo",
                     cuckoo_n_buckets=1 << 10, recrawl_ttl_epochs=2),
    )
    cont.resume()
    assert {r.url for r in cont.url_seen.collect()} == {
        r.url for r in eng.url_seen.collect()
    }
    assert [(r.seq, r.url) for r in cont.crawl_order.collect()] == [
        (r.seq, r.url) for r in eng.crawl_order.collect()
    ]


def test_ttl_parity_with_deferred_commits(spark, web, tmp_path):
    """TTL expiry between commits (commit_every=3) must scrub expired
    keys from not-yet-committed append parts: a deferred part is stamped
    with the COMMIT epoch, so a delete-E tombstone (covering parts < E)
    would otherwise resurrect pre-expiry rows riding the later part."""
    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 3)
    oracle = crawl_oracle(
        cfg, seeds, robots_rows(cfg), max_epochs=7, epoch_ms=8000,
        recrawl_ttl_epochs=2,
    )
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(
            max_epochs=5, epoch_ms=8000, n_seen_buckets=8,
            checkpoint_dir=str(tmp_path / "ttl_defer"), seen_filter="cuckoo",
            cuckoo_n_buckets=1 << 10, recrawl_ttl_epochs=2, commit_every=3,
        ),
    )
    eng.run(seeds)
    # resume from the mid-run checkpoint and continue to the horizon
    cont = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(
            max_epochs=7, epoch_ms=8000, n_seen_buckets=8,
            checkpoint_dir=str(tmp_path / "ttl_defer"), seen_filter="cuckoo",
            cuckoo_n_buckets=1 << 10, recrawl_ttl_epochs=2, commit_every=3,
        ),
    )
    cont.resume()
    cont.run()
    assert [(r.seq, r.url, r.epoch) for r in cont.crawl_order.collect()] == [
        (s, u, e) for (s, u, e, _h) in oracle.crawl_order
    ]
    assert {r.url for r in cont.url_seen.collect()} == oracle.url_seen


def test_delete_passthrough_preserves_untouched_segments(spark):
    from crawler_spark.cuckoo import build_cuckoo_segments, delete_from_cuckoo_segments
    from crawler_spark.seen import bucket_expr

    def mk(urls):
        df = spark.createDataFrame([(u,) for u in urls], ["url"]).withColumn(
            "url_hash", F.xxhash64("url")
        )
        return df.withColumn("partition_id", bucket_expr(F.col("url_hash"), 8))

    seen = mk([f"http://h.test/p/{i}" for i in range(400)])
    segs = build_cuckoo_segments(seen, None, 1 << 10)
    before = {r.partition_id: bytes(r.bits) for r in segs.collect()}
    # expire only rows of one partition
    victims = mk([f"http://h.test/p/{i}" for i in range(400)]).filter(
        F.col("partition_id") == 3
    )
    n_victims = victims.count()
    assert n_victims > 0
    after_df = delete_from_cuckoo_segments(segs, victims)
    after = {r.partition_id: bytes(r.bits) for r in after_df.collect()}
    assert set(after) == set(before)
    for pid, blob in before.items():
        if pid == 3:
            assert after[pid] != blob
        else:
            assert after[pid] == blob, f"segment {pid} should be byte-identical"


def test_long_ttl_run_bounds_tombstone_chain(spark, tmp_path):
    """VERDICT r3 item 7: a long TTL crawl (expiry eligible every epoch)
    with a small log_compact_dirs must never leave the read path
    unioning an unbounded delta+tombstone chain — compaction folds
    tombstones into the base and the post-commit cleanup prunes the
    folded dirs. Row-level TTL parity stays green at the long horizon.

    The corpus is alias-enabled (with_aliases=True): the extracted
    table only receives commits AND expiry tombstones in redirect mode,
    so this is also the TTL x redirect-closure parity gate — an expired
    page must re-extract on refetch."""
    import os

    from crawler_spark.engine import _log_parts

    cfg = SynthConfig(n_pages=300, n_hosts=6, with_images=False,
                      with_aliases=True)
    corpus = corpus_df(spark, cfg).persist()
    corpus.count()
    robots = spark.createDataFrame(robots_rows(cfg), ROBOTS_SCHEMA)
    seeds = seed_urls(cfg, 3)
    epochs, ttl, compact_at = 24, 2, 4
    oracle = crawl_oracle(
        cfg, seeds, robots_rows(cfg), max_epochs=epochs, epoch_ms=2000,
        recrawl_ttl_epochs=ttl,
    )
    ck = str(tmp_path / "ck_long")
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(
            max_epochs=epochs, epoch_ms=2000, n_seen_buckets=8,
            checkpoint_dir=ck, seen_filter="cuckoo",
            cuckoo_n_buckets=1 << 10, recrawl_ttl_epochs=ttl,
            log_compact_dirs=compact_at,
        ),
    )
    eng.run(seeds)
    got_order = [(r.seq, r.url, r.epoch) for r in eng.crawl_order.collect()]
    want_order = [(s, u, e) for (s, u, e, _h) in oracle.crawl_order]
    assert got_order == want_order
    assert {r.url for r in eng.url_seen.collect()} == oracle.url_seen
    last = eng.latest_snapshot()
    assert last is not None and last >= 12, "run ended too early to test chains"
    # enough expiry traffic to have forced several compactions
    assert sum(1 for (_s, u, _e) in want_order
               if [v for (_x, v, _y) in want_order].count(u) > 1) > 0

    for name in ("url_seen", "extracted", "crawl_order"):
        base_dir, deltas, tombs = _log_parts(ck, name, last)
        # the read path unions a bounded chain: one compacted base plus
        # at most the threshold's worth of delta/tombstone dirs
        assert len(deltas) + len(tombs) <= compact_at + 1, (
            name, len(deltas), len(tombs)
        )
        assert base_dir is not None, f"{name} never compacted in {last} epochs"
        # the cleanup pruned folded dirs from disk too — what remains is
        # O(compaction threshold + snapshot retention), not O(epochs):
        # retained snapshots (keep_snapshots=3) legitimately pin dirs
        # back to base(oldest_kept), which itself lags oldest_kept by at
        # most one compaction interval; cleanup runs on compaction, so
        # allow one more interval of slack before the bound trips
        on_disk = os.listdir(os.path.join(ck, "log", name))
        horizon = last - (2 * compact_at + 3)
        dir_epochs = [int(x.split("-")[1]) for x in on_disk]
        assert min(dir_epochs) >= horizon, (name, sorted(on_disk))
        assert len(on_disk) <= 3 * (2 * compact_at + 3), (name, len(on_disk))
    corpus.unpersist()
