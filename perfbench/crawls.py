"""The ``crawl_recrawl`` workload: a TTL recrawl resumed from its checkpoint.

A seeded synthetic web is crawled with one URL per host per epoch, a TTL
of one epoch on cuckoo seen-filter segments and a commit every epoch.
The first ``warm_epochs`` epochs are the untimed warm-up; then a fresh
``CrawlEngine`` resumes from the checkpoint and finishes the crawl,
timed. The whole crawl's order, URL-seen set and metrics are checked
against the sequential oracle after the timing stops. The traced run
also replays the next epoch's layer calls on the state read back from
the final checkpoint, so each layer gets a time of its own.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from crawler_spark import politeness
from crawler_spark.cuckoo import (
    build_cuckoo_segments,
    cuckoo_anti_join_seen,
    delete_from_cuckoo_segments,
)
from crawler_spark.engine import (
    CrawlEngine,
    EngineConfig,
    expired_urls,
    read_log_table,
    read_state_tables,
)
from crawler_spark.extract import extract_candidates
from crawler_spark.oracle import crawl_oracle
from crawler_spark.schema import ROBOTS_SCHEMA
from crawler_spark.seen import anti_join_seen, bucket_expr, build_segments
from crawler_spark.synth import SynthConfig, corpus_df, robots_rows, url_of_index

import checks


@dataclass(frozen=True)
class CrawlShape:
    n_pages: int
    n_hosts: int
    seeds_per_host: int
    epochs: int
    # no longer than the shortest crawl delay (1000..3000 ms): a quota
    # of one URL per host per epoch
    epoch_ms: int
    ttl_epochs: int
    warm_epochs: int


RECRAWL = CrawlShape(
    n_pages=4_000, n_hosts=150, seeds_per_host=2, epochs=4, epoch_ms=1000,
    ttl_epochs=1, warm_epochs=1,
)


def engine_config(shape: CrawlShape, ckpt: str, max_epochs: int) -> EngineConfig:
    return EngineConfig(
        max_epochs=max_epochs,
        epoch_ms=shape.epoch_ms,
        checkpoint_dir=ckpt,
        commit_every=1,
        recrawl_ttl_epochs=shape.ttl_epochs,
        seen_filter="cuckoo",
        detailed_metrics=False,
        track_paths=False,
    )


def seeds_of(cfg: SynthConfig, per_host: int) -> list:
    """The first *per_host* pages of every host."""
    b = cfg.host_bounds
    return [
        url_of_index(cfg, int(b[h]) + k)
        for h in range(cfg.n_hosts)
        for k in range(per_host)
        if b[h] + k < b[h + 1]
    ]


@dataclass
class CrawlRun:
    wall_s: float
    urls: int
    epoch_s: list
    resume_s: float
    engine: CrawlEngine


class Crawler:
    """One seeded synthetic web, materialized to parquet and cached, and
    the crawl of it."""

    def __init__(self, bench, shape: CrawlShape):
        self.bench = bench
        self.shape = shape
        self.cfg = SynthConfig(
            seed=bench.seed, n_pages=shape.n_pages, n_hosts=shape.n_hosts,
            with_images=False,
        )
        path = os.path.join(bench.scratch, "corpus")
        corpus_df(bench.spark, self.cfg).write.parquet(path)
        self.corpus = bench.spark.read.parquet(path).persist()
        self.corpus.count()
        self.robot_rows = robots_rows(self.cfg)
        self.robots = bench.spark.createDataFrame(self.robot_rows, ROBOTS_SCHEMA)
        self.seeds = seeds_of(self.cfg, shape.seeds_per_host)
        self.ckpt = os.path.join(bench.scratch, "ckpt")

    def _engine(self, max_epochs: int, spans: list) -> CrawlEngine:
        eng = CrawlEngine(
            self.bench.spark, self.corpus, self.robots,
            engine_config(self.shape, self.ckpt, max_epochs),
        )
        run_epoch = eng.run_epoch

        def timed_epoch():
            t0 = time.perf_counter()
            with self.bench.groups.group("epoch") as gid:
                m = run_epoch()
            spans.append((t0, time.perf_counter()))
            self.bench.role("epoch", gid)
            return m

        # run() looks the method up on the instance, so every epoch it
        # starts is timed and, when tracing, tagged with a job group
        eng.run_epoch = timed_epoch
        return eng

    def crawl(self) -> CrawlRun:
        """The warm-up epochs from the seeds, committed; then, timed, a
        fresh engine resumes and runs the rest through the final
        commit."""
        s = self.shape
        spans: list = []  # (start, end) of every epoch
        with self.bench.setup_phase("warmup_s"):
            self._engine(s.warm_epochs, spans).run(self.seeds)
        self.bench.end_setup()
        t0 = time.perf_counter()
        with self.bench.groups.group("resume") as gid:
            eng = self._engine(s.epochs, spans)
            eng.resume()
        self.bench.role("resume", gid)
        eng.run()
        wall = time.perf_counter() - t0
        timed = spans[s.warm_epochs:]
        # Σ urls_scheduled of the timed epochs is read after the timing
        urls = eng.metrics.filter(F.col("epoch") >= s.warm_epochs).agg(
            F.sum("urls_scheduled")
        ).first()[0]
        return CrawlRun(
            wall_s=wall,
            urls=int(urls),
            epoch_s=[b - a for a, b in timed],
            # fresh engine + resume() through the first resumed epoch
            resume_s=timed[0][1] - t0,
            engine=eng,
        )

    def failures(self, run: CrawlRun) -> list:
        """The whole crawl's outputs against the oracle and the
        properties of the method."""
        eng, s = run.engine, self.shape
        order = sorted(
            (r.seq, r.url, r.epoch)
            for r in eng.crawl_order.select("seq", "url", "epoch").collect()
        )
        seen = {r.url for r in eng.url_seen.select("url").collect()}
        scheduled = eng.metrics.agg(F.sum("urls_scheduled")).first()[0]
        res = crawl_oracle(
            self.cfg, self.seeds, self.robot_rows, max_epochs=s.epochs,
            epoch_ms=s.epoch_ms, recrawl_ttl_epochs=s.ttl_epochs,
        )
        return checks.check_crawl(
            order, seen, [(q, u, e) for (q, u, e, _h) in res.crawl_order],
            res.url_seen, self.robot_rows, s.epoch_ms, s.ttl_epochs, int(scheduled),
        )


def dir_size(path: str) -> tuple:
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


def replay_epoch(bench, crawler: Crawler, cfg: EngineConfig) -> None:
    """Replay the layer calls of the epoch after the crawl's last one,
    each under its own job group, on the state read back from the final
    checkpoint. The seen probe and segment build run for both filter
    families: cuckoo on the engine's segments, bloom on segments built
    here from the same URL-seen table."""
    spark, shape = bench.spark, crawler.shape
    st = read_state_tables(
        spark, crawler.ckpt, ["frontier", "url_seen", "segments", "crawl_order"]
    )
    url_seen, cuckoo = st["url_seen"], st["segments"]

    def call(name, df_fn):
        with bench.groups.group(name) as gid:
            df = df_fn().persist()
            df.count()
        bench.role("replay." + name, gid)
        return df

    def with_bucket(df):
        return df.withColumn("url_hash", F.xxhash64("url")).withColumn(
            "partition_id", bucket_expr(F.col("url_hash"), cfg.n_seen_buckets)
        )

    def dequeue():
        flagged = politeness.with_disallowed_flag(st["frontier"], crawler.robots)
        allowed = flagged.filter(~F.col("__disallowed")).drop("__disallowed")
        # a small row hint picks the single-window path, the one the
        # engine takes for a frontier of this size
        selected, _rest = politeness.dequeue(
            allowed, crawler.robots, shape.epoch_ms, approx_rows=1
        )
        return selected

    selected = call("politeness.dequeue", dequeue)
    fetched = call(
        "fetch.join",
        lambda: crawler.corpus.join(
            F.broadcast(
                selected.select(F.col("insertion_seq").alias("seq"), "url", "depth")
            ),
            "url",
        ).select("seq", "url", "host", "out_links", "depth"),
    )
    cands = call("extract.candidates", lambda: with_bucket(extract_candidates(fetched)))
    fresh = call("cuckoo.probe", lambda: cuckoo_anti_join_seen(cands, url_seen, cuckoo))
    new_seen = fresh.select("partition_id", "url_hash", "url")
    call("cuckoo.build", lambda: build_cuckoo_segments(new_seen, cuckoo, cfg.cuckoo_n_buckets))
    expire = shape.epochs - shape.ttl_epochs
    call(
        "cuckoo.delete",
        lambda: delete_from_cuckoo_segments(
            cuckoo, with_bucket(expired_urls(st["crawl_order"], expire))
        ),
    )
    bloom = build_segments(url_seen, None, cfg.bloom_m_bits).persist()
    bloom.count()
    call("seen.probe", lambda: anti_join_seen(cands, url_seen, bloom, cfg.bloom_m_bits))
    call("seen.build", lambda: build_segments(new_seen, bloom, cfg.bloom_m_bits))


def run_crawl(bench, shape: CrawlShape = RECRAWL) -> dict:
    """Set up, warm up, time and check the crawl workload."""
    with bench.setup_phase("synth.generate_s"):
        crawler = Crawler(bench, shape)
    run = crawler.crawl()
    result = {
        # the timed epochs and the resume
        "attempted": shape.epochs - shape.warm_epochs + 1,
        "failed": 0,
        "failures": crawler.failures(run),
        "metrics": {
            "items_per_s": run.urls / run.wall_s,
            "op_s": statistics.median(run.epoch_s),
        },
        "layers": {"engine.resume_s": run.resume_s, "engine.urls_per_crawl": run.urls},
    }
    if bench.trace:
        n_bytes, n_files = dir_size(crawler.ckpt)
        result["layers"].update({"engine.ckpt_bytes": n_bytes, "engine.ckpt_files": n_files})
        with bench.groups.group("read_log_table") as gid:
            read_log_table(bench.spark, crawler.ckpt, "url_seen", shape.epochs - 1).count()
        bench.role("read_log_table", gid)
        replay_epoch(bench, crawler, run.engine.cfg)
    return result
