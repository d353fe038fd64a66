"""Multimodal plumbing: codec roundtrip, PSNR invariant (input_hint:
decoded-pixel PSNR ≥ 40 dB for lossy + caption equality), phash
reproducibility, resize/frame-sample batch shapes."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark import multimodal as mm
from crawler_spark.synth import SynthConfig, corpus_df, gen_all


@pytest.fixture(scope="module")
def web(spark):
    cfg = SynthConfig(n_pages=120, n_hosts=5, with_images=True)
    df = corpus_df(spark, cfg).persist()
    df.count()
    return cfg, df


def test_codec_roundtrip_psnr():
    rng = np.random.default_rng(7)
    pix = rng.integers(0, 256, size=(64, 32), dtype=np.uint8)
    loss = mm.sgi_decode(mm.sgi_encode(pix, "jpeg"))[0]
    assert mm.psnr(pix, loss) >= 40.0  # lossy invariant
    exact = mm.sgi_decode(mm.sgi_encode(pix, "png"))[0]
    assert np.array_equal(exact, pix)
    assert mm.psnr(pix, exact) == float("inf")


def test_decode_stats_distributed(spark, web):
    cfg, df = web
    out = mm.decode_stats(df)
    rows = out.collect()
    assert len(rows) == cfg.n_pages
    meta = {r.image_id: (r.dec_w, r.dec_h, r.dec_fmt) for r in rows}
    for r in df.select("image_id", "w", "h", "fmt").collect():
        assert meta[r.image_id] == (r.w, r.h, r.fmt)


def test_psnr_invariant_vs_generator(spark, web):
    """Per-row invariant of the input_hint: decoded pixels of every
    corpus row reconstruct within PSNR≥40dB of the pre-encode pixels
    (exact for png; quantized for jpeg) and captions match exactly."""
    cfg, df = web
    pdf = gen_all(cfg)  # driver-side regeneration == the 'reference' rows
    spark_rows = {r.image_id: r for r in df.select("image_id", "bytes", "caption", "fmt").collect()}
    for _, ref in pdf.head(30).iterrows():
        got = spark_rows[ref.image_id]
        assert got.caption == ref.caption
        pix_got, fmt = mm.sgi_decode(bytes(got.bytes))
        pix_ref, _ = mm.sgi_decode(bytes(ref["bytes"]))
        assert fmt == ref.fmt
        assert mm.psnr(pix_got, pix_ref) == float("inf")  # same deterministic source


def test_psnr_frame_nonvacuous(spark):
    """The oracled image_psnr query is non-vacuous: every jpeg row is
    genuinely lossy (finite psnr_db, 40 ≤ psnr < 60 for this pixel
    field) and every png row is exact (err_sq 0, psnr_db NULL); the
    invariant holds on all rows."""
    import __spark_entry__ as entry

    rows = entry.queries()["image_psnr"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 100
    jpeg = [r for r in rows if r.fmt == "jpeg"]
    png = [r for r in rows if r.fmt == "png"]
    assert jpeg and png
    for r in jpeg:
        assert r.err_sq > 0 and 40.0 <= r.psnr_db < 60.0 and r.psnr_ok
    for r in png:
        assert r.err_sq == 0 and r.psnr_db is None and r.psnr_ok


def test_phash_recompute_matches_column(spark, web):
    cfg, df = web
    joined = mm.phash_udf_frame(df).join(df.select("image_id", "phash"), "image_id")
    bad = joined.filter(F.col("phash") != F.col("phash2")).count()
    assert bad == 0


def test_resize_shapes(spark, web):
    cfg, df = web
    out = mm.resize_images(df.limit(10), 16, 16).collect()
    assert len(out) == 10
    for r in out:
        pix, fmt = mm.sgi_decode(bytes(r.bytes))
        assert pix.shape == (16, 16)


def test_frame_sample_plumbing(spark, web):
    cfg, df = web
    out = mm.frame_sample(df.limit(5)).collect()
    assert len(out) == 5
    assert all(r.frame_idx == 0 for r in out)


def test_decode_rejects_foreign_format():
    with pytest.raises(NotImplementedError):
        mm.sgi_decode(b"\x89PNG\r\n\x1a\nxxxxxxxx")


def test_image_neardup_pipeline_matches_column_path(spark):
    """decode→recomputed-phash→banded pairs must equal the pairs computed
    from the corpus's stored phash column — the bytes path and the
    column path are the same function of the data."""
    from pyspark.sql import functions as F

    from crawler_spark.multimodal.images import phash_udf_frame
    from crawler_spark.operators.dedup import phash_neardup_pairs
    from crawler_spark.synth import SynthConfig, corpus_df

    cfg = SynthConfig(n_pages=300, n_hosts=6, with_images=True)
    corpus = corpus_df(spark, cfg).persist()
    corpus.count()
    from_bytes = phash_neardup_pairs(
        phash_udf_frame(corpus.select("image_id", "bytes")),
        "phash2", "image_id", max_hamming=12,
    )
    from_column = phash_neardup_pairs(
        corpus.select("image_id", "phash"), "phash", "image_id", max_hamming=12
    )
    a = {(r.id_a, r.id_b, r.hamming) for r in from_bytes.collect()}
    b = {(r.id_a, r.id_b, r.hamming) for r in from_column.collect()}
    assert a == b
    assert a, "near-dup pair set must be non-vacuous"
    corpus.unpersist()


def test_image_profile_single_pass_consistency(spark, web):
    """image_profile (one decode pass) must agree field-for-field with
    the dedicated operators it fuses: decode_stats, phash_udf_frame,
    and F.md5 over the raw bytes."""
    cfg, df = web
    sub = df.select("image_id", "bytes").limit(40)
    prof = {r.image_id: r for r in mm.image_profile(sub).collect()}
    stats = {r.image_id: r for r in mm.decode_stats(sub).collect()}
    ph = {r.image_id: r.phash2 for r in mm.phash_udf_frame(sub).collect()}
    md5 = {r.image_id: r.k for r in sub.select("image_id", F.md5("bytes").alias("k")).collect()}
    assert set(prof) == set(stats) == set(ph) == set(md5)
    for iid, p in prof.items():
        s = stats[iid]
        assert (p.dec_w, p.dec_h, p.dec_fmt) == (s.dec_w, s.dec_h, s.dec_fmt)
        assert p.mean_px == s.mean_px and p.std_px == s.std_px
        assert p.phash2 == ph[iid]
        assert p.byte_key == md5[iid]


def test_image_training_pipeline_dispositions(spark):
    """The composite pipeline's planted structure at sf0.001: flat and
    tiny images fail quality, %10==5 byte-copies land exact_dup mapped
    to their source, %10==9 lossy twins land near_dup, and the one
    cross-base phash collision {100,118,119} clusters to img-100."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    rows = {
        r.image_id: r
        for r in entry.q_image_training_pipeline(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(rows) == 120
    by_stage = {}
    for r in rows.values():
        by_stage.setdefault(r.stage, []).append(r.image_id)
    assert len(by_stage["low_quality"]) == 26
    assert len(by_stage["exact_dup"]) == 10
    assert len(by_stage["near_dup"]) == 11
    assert len(by_stage["kept"]) == 73
    # flat image: zero std -> quality-gated
    assert rows["img-7"].stage == "low_quality" and rows["img-7"].canonical is None
    # byte-exact copy maps to its source
    assert rows["img-5"].stage == "exact_dup" and rows["img-5"].canonical == "img-4"
    assert rows["img-4"].stage == "kept" and rows["img-4"].canonical == "img-4"
    # lossy png<->jpeg twin is a perceptual near-dup, not an exact one
    assert rows["img-9"].stage == "near_dup" and rows["img-9"].canonical == "img-8"
    # the cross-base 3-way phash cluster closes transitively
    assert rows["img-118"].canonical == "img-100"
    assert rows["img-119"].canonical == "img-100"
    assert rows["img-100"].stage == "kept"


def test_multimodal_neardup_joint_semantics(spark):
    """The joint-modality dedup at sf0.001: %10==9 twins (pixels AND
    caption copied) survive; %10==3 twins (pixels only) are produced by
    the image side but rejected by the join; naturally-similar captions
    without image agreement are rejected from the text side."""
    import importlib.util

    from crawler_spark.operators.dedup import (
        ngram_jaccard_pairs, phash_neardup_pairs,
    )

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    sf = "/root/testdata/sf0.001"
    caps, imgs = entry._mm_frame(spark, sf)
    ph = mm.phash_udf_frame(imgs).withColumn(
        "doc_n", F.regexp_extract("image_id", "([0-9]+)$", 1).cast("bigint")
    )
    img_pairs = {
        (r.id_a, r.id_b)
        for r in phash_neardup_pairs(ph, "phash2", "doc_n", max_hamming=8).collect()
    }
    txt_pairs = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            caps, "caption", "doc_id", threshold=0.2, df_cap=3
        ).collect()
    }
    joint = {
        (r.id_a, r.id_b)
        for r in entry.q_multimodal_neardup(spark, sf).collect()
    }
    # joint = exactly the ten dual-modality plants
    assert joint == {(10 * k + 8, 10 * k + 9) for k in range(10)}
    # the image-only plants exist upstream and are rejected by the join
    assert {(10 * k + 2, 10 * k + 3) for k in range(10)} <= img_pairs
    assert joint == img_pairs & txt_pairs
    assert (img_pairs - joint) and (txt_pairs - joint)


def _brute_grid(pix):
    """Per-pixel 8×8 cell sums and areas: pixel (y, x) → cell
    (y*8 // h, x*8 // w), the oracle's any-dims grid."""
    h, w = pix.shape
    sums, area = [0] * 64, [0] * 64
    for y in range(h):
        for x in range(w):
            k = (y * 8 // h) * 8 + x * 8 // w
            sums[k] += int(pix[y, x])
            area[k] += 1
    return sums, area


def test_block_embedding_exact_sums(spark):
    """The 64-dim image embedding is the EXACT int64 cell-sum grid of
    the decoded pixels — verified against a per-pixel loop on the raw
    arrays, including a 12×20 image whose dims are not multiples of 8."""
    rng = np.random.default_rng(11)
    rows = []
    for i, (w, h) in enumerate([(16, 8), (8, 24), (32, 32), (12, 20)]):
        pix = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        rows.append((f"img-{i}", mm.sgi_encode(pix, "png"), pix))
    df = spark.createDataFrame(
        [(r[0], bytearray(r[1])) for r in rows],
        "image_id string, bytes binary",
    )
    got = {r.image_id: r.img_vec for r in mm.block_embedding(df).collect()}
    for iid, _, pix in rows:
        assert got[iid] == _brute_grid(pix)[0]


def test_caption_image_align_gate(spark):
    """The cross-modal gate is non-vacuous and has real margin: the 14
    planted wrong-caption rows (doc_id%7==3 carries doc_id-2's caption)
    land at cosine ≤ 0.82, every true pair at ≥ 0.93 — the 0.875
    threshold separates them with ≥0.05 slack on BOTH sides, so codec
    quantization or a one-token parse slip cannot silently flip a row."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    rows = entry.q_caption_image_align(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 100
    mis = [r for r in rows if not r.aligned]
    ok = [r for r in rows if r.aligned]
    # exactly the planted wrong-alt-text rows are rejected
    assert sorted(int(r.image_id.split("-")[1]) for r in mis) == [
        d for d in range(100) if d % 7 == 3 and d >= 2
    ]
    assert all(r.cap_src == int(r.image_id.split("-")[1]) - 2 for r in mis)
    assert max(r.cosine for r in mis) <= 0.82
    assert min(r.cosine for r in ok) >= 0.93


def test_image_profile_quarantine(spark):
    """One corrupt blob in a binary scan must become a classified
    quarantine row, not a dead task: bad-magic and truncated-payload
    blobs (valid header, missing pixels — header sniffing passes it)
    and header-valid blobs too small for the 8×8 grid (4×16, 0×0) all
    classify in the same decode pass that profiles healthy rows, odd
    dims (12×20) included; the strict default still raises."""
    good = mm.sgi_encode(np.full((8, 8), 9, dtype=np.uint8), "png")
    odd = np.random.default_rng(5).integers(0, 256, size=(20, 12), dtype=np.uint8)
    thin = mm.sgi_encode(np.zeros((16, 4), dtype=np.uint8), "png")
    empty_dims = mm.sgi_encode(np.zeros((0, 0), dtype=np.uint8), "png")
    rows = [
        ("ok", bytearray(good)),
        ("odd", bytearray(mm.sgi_encode(odd, "png"))),
        ("garbage", bytearray(b"not an image at all")),
        ("truncated", bytearray(good[:12])),
        ("empty", bytearray(b"")),
        ("thin", bytearray(thin)),
        ("zero", bytearray(empty_dims)),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    out = {r.image_id: r for r in mm.image_profile(df, on_error="quarantine").collect()}
    assert out["ok"].err is None and out["ok"].mean_px == 9.0
    # odd dims profile on the any-dims grid, phash exact in all 64 bits
    sums, area = _brute_grid(odd)
    n, s = odd.size, int(odd.sum())
    want_bits = sum(1 << k for k in range(64) if sums[k] / area[k] > s / n)
    want_bits -= (1 << 64) if want_bits >> 63 else 0  # LongType wraps bit 63
    assert out["odd"].err is None
    assert (out["odd"].dec_w, out["odd"].dec_h, out["odd"].mean_px) == (12, 20, s / n)
    assert out["odd"].phash2 == want_bits
    assert out["garbage"].err == "bad_magic"
    assert out["truncated"].err == "truncated"
    assert out["empty"].err == "bad_magic"
    assert out["thin"].err == "bad_dims" and out["zero"].err == "bad_dims"
    for bad in ("garbage", "truncated", "empty", "thin", "zero"):
        assert out[bad].mean_px is None and out[bad].phash2 is None
        assert out[bad].byte_key is not None  # garbage still dedups exactly
    with pytest.raises(Exception):
        mm.image_profile(df).collect()  # default raise mode unchanged
    for blob, dims in ((thin, "4x16"), (empty_dims, "0x0")):
        one = spark.createDataFrame([("x", bytearray(blob))], "image_id string, bytes binary")
        with pytest.raises(Exception, match=f"ValueError: bad_dims: {dims} "):
            mm.image_profile(one, on_error="raise").collect()
    with pytest.raises(ValueError):
        mm.image_profile(df, on_error="ignore")


def test_image_incremental_dedup_semantics(spark):
    """Ingest dedup classifies incoming-vs-EXISTING only: byte-exact
    plants (%10==3) and lossy near plants (%10==7) match their existing
    source doc d-61; within-batch near-dups (%10==9) stay 'fresh' — the
    negative control that separates ingest dedup from in-batch dedup."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    rows = entry.q_image_incremental_dedup(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_doc = {int(r.image_id.split("-")[1]): r for r in rows}
    assert set(by_doc) == set(range(60, 120))
    for d, r in by_doc.items():
        if d % 10 == 3:
            assert (r.disposition, r.match_doc) == ("exact", d - 61), (d, r)
        elif d % 10 == 7:
            assert (r.disposition, r.match_doc) == ("near", d - 61), (d, r)
        elif d % 10 == 9:
            assert r.disposition == "fresh", (d, r)  # within-batch only
    from collections import Counter

    c = Counter(r.disposition for r in rows)
    assert c["exact"] == 6 and c["near"] == 6 and c["fresh"] == 48
