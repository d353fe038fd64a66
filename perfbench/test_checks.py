"""Each output check of the benchmark passes on known-good values and
fails on a planted fault. No Spark session is started.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
from crawler_spark.oracle import crawl_oracle  # noqa: E402
from crawler_spark.synth import SynthConfig, gen_batch, robots_rows  # noqa: E402
from crawls import seeds_of  # noqa: E402

EPOCH_MS = 1000
TTL = 1


@pytest.fixture(scope="module")
def crawl():
    """A TTL crawl by the oracle, standing in for the engine's output."""
    cfg = SynthConfig(seed=3, n_pages=1500, n_hosts=40, with_images=False)
    robots = robots_rows(cfg)
    res = crawl_oracle(
        cfg, seeds_of(cfg, 2), robots, max_epochs=4, epoch_ms=EPOCH_MS,
        recrawl_ttl_epochs=TTL,
    )
    order = [(s, u, e) for s, u, e, _h in res.crawl_order]
    return order, set(res.url_seen), robots


def crawl_failures(crawl, order=None, seen=None, scheduled=None, ttl=TTL):
    good_order, good_seen, robots = crawl
    order = good_order if order is None else order
    return checks.check_crawl(
        order, good_seen if seen is None else seen, good_order, good_seen,
        robots, EPOCH_MS, ttl, len(order) if scheduled is None else scheduled,
    )


def test_crawl_checks_pass_on_the_oracle_output(crawl):
    assert crawl_failures(crawl) == []


def test_swapped_crawl_order_rows_fail(crawl):
    order = list(crawl[0])
    (s1, u1, e1), (s2, u2, e2) = order[5], order[6]
    order[5], order[6] = (s1, u2, e2), (s2, u1, e1)
    assert any("crawl order" in m for m in crawl_failures(crawl, order=order))


def test_dropped_url_seen_row_fails(crawl):
    seen = set(crawl[1])
    seen.discard(sorted(seen)[0])
    assert any("URL-seen" in m for m in crawl_failures(crawl, seen=seen))


def test_seq_gap_fails(crawl):
    order = [(s + (s >= 10), u, e) for s, u, e in crawl[0]]
    assert any("gaps" in m for m in crawl_failures(crawl, order=order))


def test_metrics_sum_mismatch_fails(crawl):
    assert any("urls_scheduled" in m for m in crawl_failures(crawl, scheduled=len(crawl[0]) + 1))


def test_over_quota_and_disallowed_urls_fail(crawl):
    order, seen, robots = crawl
    host = next(r for r in robots if r["disallow_prefixes"])
    bad_url = f"http://{host['host']}{host['disallow_prefixes'][0]}x"
    planted = [(len(order) + i, bad_url + str(i), 0) for i in range(2)]
    msgs = crawl_failures(crawl, order=order + planted, scheduled=len(order) + 2)
    assert any("robots disallow" in m for m in msgs)
    assert any("quota" in m for m in msgs)


def test_recrawl_rules(crawl):
    order = crawl[0]
    # the TTL crawl recrawls, so it fails the no-TTL rule
    assert any("crawled twice" in m for m in crawl_failures(crawl, ttl=None))
    # and a recrawl sooner than the TTL allows fails
    assert any("recrawled after" in m for m in crawl_failures(crawl, ttl=3))
    # a TTL crawl with every recrawl removed fails "at least one recrawl"
    first = {}
    for _s, u, e in order:
        first.setdefault(u, e)
    once = [(i, u, e) for i, (u, e) in enumerate(first.items())]
    msgs = checks.check_crawl(
        once, crawl[1], once, crawl[1], crawl[2], EPOCH_MS, TTL, len(once)
    )
    assert any("recrawled no URL" in m for m in msgs)


@pytest.fixture(scope="module")
def images():
    cfg = SynthConfig(seed=5, n_pages=400, n_hosts=10, with_images=True)
    return gen_batch(cfg, list(range(cfg.n_pages)))


def good_profile(images):
    prof = {
        r.image_id: (r.w, r.h, r.phash, hashlib.md5(r.bytes).hexdigest())
        for r in images.itertuples()
    }
    return prof, dict(prof)


def test_profile_check_passes_and_catches_a_flipped_phash_bit(images):
    prof, gen = good_profile(images)
    assert checks.check_profile(prof, gen) == []
    iid = sorted(prof)[7]
    w, h, ph, key = prof[iid]
    prof[iid] = (w, h, ph ^ (1 << 17), key)
    assert any("phash2" in m for m in checks.check_profile(prof, gen))


def test_profile_check_catches_wrong_dims_and_byte_key(images):
    prof, gen = good_profile(images)
    iid = sorted(prof)[3]
    w, h, ph, key = prof[iid]
    prof[iid] = (h + 8, w, ph, "0" * 32)
    msgs = checks.check_profile(prof, gen)
    assert any("decoded" in m for m in msgs)
    assert any("byte_key" in m for m in msgs)


def test_brute_force_finds_the_planted_pairs(images):
    ids = list(images["image_id"])
    ph = checks.brute_phash_pairs(ids, list(images["phash"]))
    cap = checks.brute_jaccard_pairs(ids, list(images["caption"]))
    assert ph and cap
    assert all(d <= 8 for d in ph.values())
    assert all(j >= 0.9 for j in cap.values())


def test_brute_phash_pairs_matches_a_plain_loop():
    ids = [f"i{k}" for k in range(6)]
    phashes = [0, 1, 0xFF, 0x1FF, -1, 3]
    want = {}
    for a in range(6):
        for b in range(a + 1, 6):
            d = bin((phashes[a] ^ phashes[b]) & (2**64 - 1)).count("1")
            if d <= 8:
                want[(ids[a], ids[b])] = d
    assert checks.brute_phash_pairs(ids, phashes) == want


def test_dropped_pair_fails(images):
    ids = list(images["image_id"])
    for name, want in (
        ("phash", checks.brute_phash_pairs(ids, list(images["phash"]))),
        ("caption", checks.brute_jaccard_pairs(ids, list(images["caption"]))),
    ):
        assert checks.check_pairs(name, dict(want), want) == []
        got = dict(want)
        got.pop(sorted(got)[0])
        assert any("missing" in m for m in checks.check_pairs(name, got, want))


def test_empty_pair_sets_fail():
    assert any("no pair" in m for m in checks.check_pairs("x", {}, {}))


def test_shingles_follow_the_operator_rules():
    assert checks.shingles("A b, c d e") == {"a b c d", "b c d e"}
    assert checks.shingles("one two") == {"one two"}
    assert checks.shingles("") == set()


def test_benchmark_json_lists_every_reported_metric():
    import json

    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS


def test_attribute_sums_each_groups_jobs_and_idle_time():
    from tracing import attribute

    def job(jid, group, stages, start, end):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
             "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
        ]

    def task(stage, run_ms, gc_ms, shuffle):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    events = (
        job(0, "a#1", [0], 1000, 1400) + job(1, "a#1", [1], 1300, 1600)
        + job(2, "other", [2], 1000, 2000)
        + [task(0, 300, 10, 5), task(1, 200, 0, 7), task(2, 999, 9, 9)]
        + [{"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}}]
    )
    stats = attribute(events, {"a#1": (1000.0, 2000.0)})["a#1"]
    assert (stats.jobs, stats.stages, stats.tasks, stats.shuffle_bytes) == (2, 1, 2, 12)
    assert stats.executor_s == pytest.approx(0.5)
    assert stats.gc_s == pytest.approx(0.01)
    assert stats.wall_s == pytest.approx(1.0)
    # jobs ran over 1000..1600 of the group's 1000..2000 ms
    assert stats.driver_s == pytest.approx(0.4)
