"""Physical-plan sweep: every driver-contract query must analyze without
a cartesian product, and representative scans must show pushdown/pruning.
Plan-only checks (no execution) — the performance contract as a test."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from crawler_spark.plans import (
    assert_no_cartesian,
    has_pushed_filters,
    read_schema_columns,
    wholestage_spans,
)

SF = "/root/testdata/sf0.001"

# queries that launch their own jobs / engines are excluded from the
# plan-only sweep: building their DataFrame EXECUTES a multi-epoch
# engine loop or a streaming query, and the returned frame is a plain
# state-table read whose plan proves nothing — the engine's physical
# shapes are asserted directly on its building blocks
# (test_fetch_join_is_broadcast here, test_seen.py's no-shuffle probe,
# test_skew.py's salted dequeue)
SKIP = {
    "crawl_epoch", "crawl_harvest", "crawl_harvest_refined",
    "crawl_depth_indexed", "crawl_ttl", "crawl_exemplar",
    "crawl_multiseq", "crawl_harvest_only", "crawl_paging_refined",
    "crawl_image_harvest",
    "stream_politeness_throttle",
    "stream_tumbling_hourly", "stream_seen_dedup", "image_decode_stats",
}


# embed_topk is the deliberate brute-force baseline: a tiny broadcast
# query side crossed with the streaming corpus IS a
# BroadcastNestedLoopJoin, and that's its correct 100 TB shape. Every
# other query must be equi-join only (BNLJ rejected too — the round-1
# all-pairs embedding join hid behind that operator name).
ALLOW_BNLJ = {"embed_topk"}


@pytest.mark.parametrize("name", [q for q in entry.queries() if q not in SKIP])
def test_no_cartesian(spark, name):
    df = entry.queries()[name](spark, SF)
    assert_no_cartesian(df, allow_bnlj=name in ALLOW_BNLJ)


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_orderkey") < 100).select("l_orderkey", "l_quantity")
    assert has_pushed_filters(q)
    cols = read_schema_columns(q)
    assert set(cols) == {"l_orderkey", "l_quantity"}  # column pruning


def test_link_extract_stays_jvm(spark):
    """The hot extraction path must contain no Python evaluation nodes
    and at least one codegen span."""
    from crawler_spark.plans import explain_str

    df = entry.q_link_extract(spark, SF)
    plan = explain_str(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert wholestage_spans(df) >= 1


def test_fetch_join_is_broadcast(spark):
    from crawler_spark.plans import explain_str
    from crawler_spark.synth import SynthConfig, corpus_df

    corpus = corpus_df(spark, SynthConfig(n_pages=200, with_images=False))
    sel = corpus.limit(5).select("url")
    plan = explain_str(corpus.join(F.broadcast(sel), "url", "inner"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_apply_refinement_is_broadcast_and_jvm(spark):
    """The E3 :avoid refinement must ride the candidate stream as a
    broadcast hash join + codegen array predicate — no shuffle of the
    (10^10-scale) candidate side, no Python evaluation."""
    from crawler_spark.operators.xpath_model import apply_refinement
    from crawler_spark.plans import explain_str

    links = spark.range(0, 10_000).select(
        F.concat(F.lit("xp"), F.pmod("id", F.lit(5))).alias("src_xpath"),
        F.concat(F.lit("http://h.test/p/"), F.col("id")).alias("url"),
    )
    ref = spark.createDataFrame(
        [("xp0", ["3", "5"]), ("xp2", ["7"])],
        "xpath string, avoid array<string>",
    )
    out = apply_refinement(links, ref, xpath_col="src_xpath", href_col="url")
    plan = explain_str(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_exemplar_stage_shapes(spark):
    """The E2 exemplar pipeline's 100 TB contract: the sample "download"
    broadcasts the (quota-bounded) sampled batch into the corpus scan —
    the corpus side never shuffles — and the per-group clustering is
    exactly ONE Arrow-batched applyInPandas stage whose only exchange is
    the group-key hash of the tiny sampled batch."""
    from crawler_spark.exemplar import assign_exemplars
    from crawler_spark.plans import explain_str
    from crawler_spark.synth import SynthConfig, corpus_df

    corpus = corpus_df(spark, SynthConfig(n_pages=200, with_images=False))
    sampled = corpus.limit(20).select(
        F.lit("http://h.test/src").alias("src_url"),
        F.lit("//div/a").alias("src_xpath"),
        "url",
    )
    hits = corpus.select("url", "caption", "is_leaf").join(
        F.broadcast(sampled), "url"
    )
    plan = explain_str(hits)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan

    out = assign_exemplars(
        hits.select("src_url", "src_xpath", "url", "caption", "is_leaf"), 0.9
    )
    plan2 = explain_str(out)
    # formatted explain lists each node twice (tree + detail section) —
    # count the detail headers: exactly ONE Arrow-batched group stage
    import re

    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan2)) == 1, plan2
    # no row-at-a-time Python; the clustering is the ONLY Python stage
    assert "BatchEvalPython" not in plan2, plan2
    assert "ArrowEvalPython" not in plan2, plan2


def test_fetch_join_prunes_image_payload(spark, tmp_path):
    """The engine's fetch projection (engine.FETCH_COLS) against a
    parquet/Iceberg-backed IMAGE corpus must leave the binary payload
    in the scan's column pruning: the frontier loop schedules over an
    image+caption corpus without ever reading bytes/phash/dims."""
    from crawler_spark.engine import FETCH_COLS
    from crawler_spark.synth import SynthConfig, corpus_df

    d = str(tmp_path / "imgweb")
    corpus_df(spark, SynthConfig(n_pages=300, with_images=True)).write.parquet(d)
    corpus = spark.read.parquet(d)
    url = corpus.limit(1).collect()[0].url
    batch = spark.createDataFrame(
        [(url, 0, url, 0)], "url string, seq long, requested_url string, depth int"
    )
    fetched = corpus.join(F.broadcast(batch), "url", "inner").select(
        *FETCH_COLS
    )
    # read_schema_columns' flat parse stops at out_links' nested struct;
    # inspect the raw ReadSchema line instead
    import re

    from crawler_spark.plans import explain_str

    m = re.search(r"ReadSchema: (.*)", explain_str(fetched))
    assert m, "no file-scan ReadSchema in plan"
    rs = m.group(1)
    for kept in ("url", "host", "out_links", "is_leaf"):
        assert kept in rs, rs
    for payload in ("bytes", "phash", "fmt", "caption", "image_id"):
        assert payload not in rs, rs


def test_extract_candidates_keeps_whole_stage_codegen(spark):
    """The out-links explode and its canonicalization compile as one
    whole-stage codegen stage (no "Code grows beyond 64 KB" fallback),
    and exactly one operator of the plan canonicalizes: filters on the
    canonical url are not pushed below it as inlined copies."""
    from crawler_spark.extract import extract_candidates
    from crawler_spark.plans import explain_str
    from crawler_spark.seen import bucket_expr

    links = [
        ("/x", "1", "//a", False),
        ("y#f", "t", "//a", False),
        ("http://o.test/z", "t", "//a", False),
        ("javascript:x", None, None, False),
    ]
    fetched = spark.createDataFrame(
        [(1, "http://h.test/a/b", "h.test", links, 0)],
        "seq long, url string, host string, out_links array<struct<href:string,"
        "text:string,xpath:string,nofollow:boolean>>, depth int",
    ).persist()
    out = (
        extract_candidates(fetched, dedup=False)
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("partition_id", bucket_expr(F.col("url_hash"), 8))
    )
    plan = explain_str(out, "simple")
    assert sum("$1$2$3$4$5$6$7" in line for line in plan.splitlines()) == 1, plan
    key = "spark.sql.codegen.fallback"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = sorted((r.pos, r.url) for r in out.collect())
    finally:
        spark.conf.set(key, before)
        fetched.unpersist()
    assert got == [(0, "http://h.test/x"), (1, "http://h.test/a/y")]
