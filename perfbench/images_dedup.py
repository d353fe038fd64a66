"""The ``image_dedup`` workload: decode profile and the two near-dup joins.

The input is the generator's ``input_hint`` table ``(image_id, bytes, w,
h, fmt, caption, phash)`` with its planted near-duplicates (about one
row in 37 copies the previous row's image and, with one word changed,
its caption). A round is two ``image_profile`` passes, each forced by
an aggregate over its computed columns, and one near-dup pass that
collects both ``phash_neardup_pairs`` and ``ngram_jaccard_pairs``. No
crawl engine runs here.

The profile passes run over the input's rows repeated ``profile_copies``
times in ``profile_partitions`` cached partitions: on the small input
alone each task's fixed cost (a Python worker, its imports, Arrow set-up)
was about a third of a pass, and the pass too short to average out a
shared host's swings in CPU speed.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import functions as F

from crawler_spark.multimodal import image_profile
from crawler_spark.operators.dedup import ngram_jaccard_pairs, phash_neardup_pairs
from crawler_spark.synth import SynthConfig, corpus_df

import checks

INPUT_COLS = ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")


@dataclass(frozen=True)
class ImageShape:
    n_images: int
    n_hosts: int
    max_hamming: int = 8
    ngram: int = 4
    jaccard: float = 0.9
    profile_copies: int = 4
    profile_partitions: int = 2
    # two profile passes take about as long as one near-dup pass, so a
    # round gives both metrics about half of the timed window
    profile_passes: int = 2
    # a round's wall time on a 4-core machine at local[2]; --seconds
    # buys one round per round_s seconds
    round_s: float = 6.0
    # the second profile pass is already as fast as the later ones
    warm_profile_passes: int = 1
    # the first near-dup pass compiles its plans and takes two to three
    # times as long as the next; the next three are still 10-50 % slower
    # than the fifth and later ones
    warm_neardup_passes: int = 4


IMAGES = ImageShape(n_images=6_000, n_hosts=50)


def profile_pass(imgs):
    row = image_profile(imgs).agg(
        F.count("*").alias("n"),
        F.sum("dec_w").alias("w"),
        F.sum("dec_h").alias("h"),
        F.avg("std_px").alias("s"),
        F.sum(F.bit_count("phash2")).alias("p"),
        F.count("byte_key").alias("k"),
    ).first()
    return row.n


def neardup_pass(bench, imgs, shape: ImageShape) -> tuple:
    with bench.groups.group("dedup.phash") as gid:
        ph = phash_neardup_pairs(imgs, "phash", "image_id", shape.max_hamming).collect()
    bench.role("dedup.phash", gid)
    with bench.groups.group("dedup.caption") as gid:
        cap = ngram_jaccard_pairs(
            imgs, "caption", "image_id", n=shape.ngram, threshold=shape.jaccard
        ).collect()
    bench.role("dedup.caption", gid)
    return (
        {(r.id_a, r.id_b): r.hamming for r in ph},
        {(r.id_a, r.id_b): r.jaccard for r in cap},
    )


def check_outputs(imgs, pair_sets: list, shape: ImageShape) -> list:
    """Profile columns against the generator and Spark's md5, and the
    pair sets of every near-dup pass against brute force over the
    generator's columns."""
    prof = {
        r.image_id: (r.dec_w, r.dec_h, r.phash2, r.byte_key)
        for r in image_profile(imgs)
        .select("image_id", "dec_w", "dec_h", "phash2", "byte_key")
        .collect()
    }
    gen_rows = imgs.select(
        "image_id", "w", "h", "phash", "caption", F.md5("bytes").alias("md5")
    ).collect()
    gen = {r.image_id: (r.w, r.h, r.phash, r.md5) for r in gen_rows}
    ids = [r.image_id for r in gen_rows]
    bad = checks.check_profile(prof, gen)
    want_phash = checks.brute_phash_pairs(
        ids, [r.phash for r in gen_rows], shape.max_hamming
    )
    want_caption = checks.brute_jaccard_pairs(
        ids, [r.caption for r in gen_rows], shape.ngram, shape.jaccard
    )
    for phash_pairs, caption_pairs in pair_sets:
        bad += checks.check_pairs("phash_neardup_pairs", phash_pairs, want_phash)
        bad += checks.check_pairs("ngram_jaccard_pairs", caption_pairs, want_caption)
    return bad


def run_images(bench, shape: ImageShape = IMAGES) -> dict:
    with bench.setup_phase("synth.generate_s"):
        cfg = SynthConfig(
            seed=bench.seed, n_pages=shape.n_images, n_hosts=shape.n_hosts,
            with_images=True,
        )
        path = os.path.join(bench.scratch, "images")
        corpus_df(bench.spark, cfg).select(*INPUT_COLS).write.parquet(path)
        imgs = bench.spark.read.parquet(path).persist()
        imgs.count()
        prof_in = (
            reduce(lambda a, b: a.unionByName(b), [imgs] * shape.profile_copies)
            .repartition(shape.profile_partitions)
            .persist()
        )
        n_prof = prof_in.count()
    with bench.setup_phase("warmup_s"):
        for _ in range(shape.warm_profile_passes):
            profile_pass(prof_in)
        for _ in range(shape.warm_neardup_passes):
            neardup_pass(bench, imgs, shape)
    bench.end_setup()

    # a fixed number of rounds, not rounds until a deadline: on a shared
    # host a slow spell would otherwise also cut the number of passes,
    # and the median of fewer passes sits higher on a near-dup series
    # that is still speeding up
    rounds = max(1, round(bench.seconds / shape.round_s))
    profile_s, neardup_s, pair_sets = [], [], []
    for _ in range(rounds):
        for _ in range(shape.profile_passes):
            t0 = time.perf_counter()
            with bench.groups.group("images.profile") as gid:
                rows = profile_pass(prof_in)
            profile_s.append(time.perf_counter() - t0)
            bench.role("images.profile", gid)
            if rows != n_prof:
                raise RuntimeError(f"image_profile returned {rows} rows for {n_prof} images")
        t0 = time.perf_counter()
        pair_sets.append(neardup_pass(bench, imgs, shape))
        neardup_s.append(time.perf_counter() - t0)

    return {
        "attempted": len(profile_s) + len(neardup_s),
        "failed": 0,
        "failures": check_outputs(imgs, pair_sets, shape),
        "metrics": {
            "items_per_s": statistics.median(n_prof / s for s in profile_s),
            "op_s": statistics.median(neardup_s),
        },
        "layers": {},
    }
