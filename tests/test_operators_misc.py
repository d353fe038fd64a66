"""Window/ranking ops, sessionization, xpath-model ops, clustering."""

import os

import pytest
from pyspark.sql import functions as F

from crawler_spark.operators import clustering, sessionize, windows, xpath_model
from crawler_spark.synth import SynthConfig, corpus_df

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_top_k_per_group(spark):
    rows = [("g1", 1), ("g1", 5), ("g1", 3), ("g2", 9)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = windows.top_k_per_group(df, ["g"], [F.desc("v")], k=2).collect()
    got = sorted((r.g, r.v) for r in out)
    assert got == [("g1", 3), ("g1", 5), ("g2", 9)]


def test_min_numeric_pick(spark):
    rows = [("p", "12"), ("p", "3"), ("p", "next"), ("p", "111"), ("q", "nope")]
    df = spark.createDataFrame(rows, ["g", "text"])
    out = windows.min_numeric_pick(df, ["g"], "text").collect()
    assert len(out) == 1 and out[0].text == "3"


def test_above_mean_filter(spark):
    rows = [("p", 1.0), ("p", 2.0), ("p", 9.0)]
    df = spark.createDataFrame(rows, ["g", "s"])
    out = windows.above_mean_filter(df, ["g"], "s").collect()
    assert [r.s for r in out] == [9.0]


def test_running_sum(spark):
    rows = [("u", 1, 10.0), ("u", 2, 5.0), ("u", 3, 1.0)]
    df = spark.createDataFrame(rows, ["g", "t", "v"])
    out = windows.running_sum(df, ["g"], ["t"], "v").orderBy("t").collect()
    assert [r.running for r in out] == [10.0, 15.0, 16.0]


def test_seeded_sample_deterministic(spark):
    df = spark.range(100).withColumn("g", F.lit("a"))
    a = {r.id for r in windows.seeded_sample_per_group(df, ["g"], 10, ["id"]).collect()}
    b = {r.id for r in windows.seeded_sample_per_group(df, ["g"], 10, ["id"]).collect()}
    assert a == b and len(a) == 10


def test_sessionize(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
    rows = [
        (1, t0, 100, "c", 1.0, ""),
        (2, t0 + dt.timedelta(minutes=10), 100, "c", 1.0, ""),
        (3, t0 + dt.timedelta(minutes=70), 100, "c", 1.0, ""),  # gap > 30m → new session
        (4, t0, 200, "c", 1.0, ""),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type", "value", "props"])
    out = {r.event_id: r.session_id for r in sessionize.sessionize(df).collect()}
    assert out[1] == out[2] == 1 and out[3] == 2 and out[4] == 1


def test_sessionize_on_events_table(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    stats = sessionize.session_stats(ev).collect()
    assert len(stats) > 0
    assert all(r.n_events >= 1 and r.t_end >= r.t_start for r in stats)


@pytest.fixture(scope="module")
def links(spark):
    cfg = SynthConfig(n_pages=300, n_hosts=8, with_images=False)
    return xpath_model.explode_links(corpus_df(spark, cfg)).persist()


def test_xpath_char_score(links):
    out = xpath_model.xpath_char_score(links)
    r = out.collect()
    assert len(r) > 0
    assert all(x.char_score >= x.href_count for x in r)  # texts ≥1 char


def test_dominated_prune(spark):
    rows = [
        ("p", "x1", "a"), ("p", "x1", "b"), ("p", "x1", "c"),
        ("p", "x2", "a"), ("p", "x2", "b"),  # subset of x1 → pruned
        ("p", "x3", "z"),
    ]
    df = spark.createDataFrame(rows, ["page_url", "xpath", "href"])
    kept = {r.xpath for r in xpath_model.dominated_xpath_prune(df).collect()}
    assert kept == {"x1", "x3"}


def test_template_removal(spark):
    rows = [(f"p{i}", "nav", "http://x/home") for i in range(6)] + [
        ("p0", "content", "http://x/article1"),
        ("p1", "content", "http://x/article2"),
    ]
    df = spark.createDataFrame(rows, ["page_url", "xpath", "href"])
    out = xpath_model.remove_template_links(df, min_incidence=5)
    assert {r.href for r in out.collect()} == {"http://x/article1", "http://x/article2"}


def test_pagination_candidates(spark):
    rows = [
        ("p", "pager", "u2", "2", 0), ("p", "pager", "u10", "10", 1),
        ("p", "pager", "unext", "next", 2), ("p", "nav", "uh", "home", 3),
    ]
    df = spark.createDataFrame(rows, ["page_url", "xpath", "href", "text", "pos"])
    out = xpath_model.pagination_candidates(df).collect()
    assert len(out) == 1 and out[0].next_href == "u2" and out[0].page_no == 2


def test_signature_cosine(spark):
    rows_a = [("pa", "x1", "h1"), ("pa", "x1", "h2"), ("pa", "x2", "h3")]
    rows_b = [("pb", "x1", "h9"), ("pb", "x1", "h8"), ("pb", "x2", "h7")]
    la = spark.createDataFrame(rows_a, ["page_url", "xpath", "href"])
    lb = spark.createDataFrame(rows_b, ["page_url", "xpath", "href"])
    sa, sb = xpath_model.page_signature(la), xpath_model.page_signature(lb)
    out = xpath_model.signature_cosine(sa, sb).collect()
    assert len(out) == 1 and abs(out[0].cosine - 1.0) < 1e-9  # identical shape


def test_updated_count(spark):
    la = spark.createDataFrame(
        [("x1", "a"), ("x1", "b"), ("x1", "c"), ("x2", "z")], ["xpath", "href"]
    )
    lb = spark.createDataFrame([("x1", "a")], ["xpath", "href"])
    out = {r.xpath: r.novel for r in xpath_model.updated_count(la, lb).collect()}
    assert out["x1"] == 2  # b, c are novel vs version B
    assert out["x2"] == 1  # xpath absent in B → all novel


def test_weighted_pick_deterministic(spark):
    rows = [("g", i, float(i + 1)) for i in range(20)]
    df = spark.createDataFrame(rows, ["g", "item", "wt"])
    a = windows.weighted_pick_per_group(df, ["g"], "wt", ["item"]).collect()
    b = windows.weighted_pick_per_group(df, ["g"], "wt", ["item"]).collect()
    assert len(a) == 1 and [(r.g, r.item) for r in a] == [(r.g, r.item) for r in b]


def test_page_nav_chars(links):
    out = xpath_model.page_nav_chars(links).collect()
    assert len(out) > 0 and all(r.nav_chars > 0 for r in out)


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], ["id_a", "id_b"]
    )
    comp = {r.id: r.component for r in clustering.connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == 20


def test_connected_components_long_chain(spark):
    """A 300-node path (diameter 299) must converge within the default
    20-round budget — the pointer-jumping step makes rounds O(log d);
    one-hop propagation alone needed 299 rounds and raised."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(299)], ["id_a", "id_b"]
    )
    comp = {r.id: r.component for r in clustering.connected_components(edges).collect()}
    assert len(comp) == 300
    assert set(comp.values()) == {0}


def test_cluster_assignment_with_singletons(spark):
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(1,), (2,), (5,)], ["id"])
    out = {r.id: r.cluster_id for r in clustering.cluster_pages_by_similarity(pairs, ids).collect()}
    assert out == {1: 1, 2: 1, 5: 5}
    ranks = clustering.cluster_size_ranks(
        clustering.cluster_pages_by_similarity(pairs, ids)
    ).collect()
    assert ranks[0].cluster_id == 1 and ranks[0].size == 2


def test_crawl_ttl_oracle_is_nonvacuous():
    """The crawl_ttl chain oracle must actually exercise expiry +
    re-crawl: the same url appears at two seqs (seed 6 expires at epoch
    TTL_EPOCHS, doc 86's nav link re-discovers it). Guards the shared
    graph constants against drifting into a vacuous TTL gate. DuckDB
    only — no Spark session."""
    from collections import Counter

    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    rows = con.execute(entry.oracle_sql()["crawl_ttl"]).fetchall()
    counts = Counter(u for _, u, _ in rows)
    recrawled = {u for u, n in counts.items() if n > 1}
    assert recrawled, "TTL chain never re-crawls anything"
    # the re-crawl lands strictly after the expiry epoch
    for u in recrawled:
        epochs = sorted(e for _, uu, e in rows if uu == u)
        assert epochs[-1] >= epochs[0] + entry.TTL_EPOCHS


def test_signature_sims_hand_computed(spark):
    """C5 all-five signature similarities (page.clj:15-154) against
    hand-computed values: page 1 = {x:2, y:1}, page 2 = {y:2, z:1}."""
    import math

    from pyspark.sql import functions as F

    from crawler_spark.operators.xpath_model import signature_sims

    rows = (
        [(1, "x", f"http://h/x{i}") for i in range(2)]
        + [(1, "y", "http://h/y1")]
        + [(2, "y", f"http://h/y{i}") for i in range(2, 4)]
        + [(2, "z", "http://h/z1")]
    )
    links = spark.createDataFrame(rows, "page_url long, xpath string, href string")
    pairs = spark.createDataFrame([(1, 2)], "pa long, pb long")
    out = signature_sims(links, pairs).collect()
    assert len(out) == 1
    r = out[0]
    # cosine: dot = 1·2 = 2 over √5·√5
    assert abs(r.cosine - 0.4) < 1e-9
    # cardinality: |{y}| / (√2·√2)
    assert abs(r.cardinality - 0.5) < 1e-9
    assert abs(r.combined - 0.2) < 1e-9
    # manhattan (documented intent of the broken page.clj:44-58): 2/(3·3)
    assert abs(r.manhattan - 2 / 9) < 1e-9
    # edit: del = 2 (x), ins = 1 (y) + 1 (z); worst = 3 + 3
    assert abs(r.edit_sim - (1 - 4 / 6)) < 1e-9
    # weighted cosine with w = ln(global hrefs)/df: wx = ln2, wy = ln3/2,
    # wz = ln1 = 0
    wx, wy = math.log(2), math.log(3) / 2
    dotw = 1 * 2 * wy * wy
    naw = math.sqrt((2 * wx) ** 2 + wy**2)
    nbw = math.sqrt((2 * wy) ** 2)
    assert abs(r.weighted_cosine - dotw / (naw * nbw)) < 1e-9


def test_pack_shards_matches_global_order(spark):
    """The distributed packer (range repartition + local ranks + offset
    join) must equal the naive single-order assignment on a 10k-row
    frame with a non-trivial key distribution — and use every partition
    path (32 shuffle partitions over 10k rows)."""
    from crawler_spark.operators.sharding import pack_shards

    df = spark.range(0, 10_000).select(
        (F.col("id") * 7919 % 10_000).alias("k")  # permuted, unique
    )
    got = {
        r.k: (r.shard_id, r.idx_in_shard)
        for r in pack_shards(df, ["k"], 128).collect()
    }
    for rank, k in enumerate(sorted(got)):
        assert got[k] == (rank // 128, rank % 128), (k, rank, got[k])
    import pytest as _pt

    with _pt.raises(ValueError):
        pack_shards(df, ["k"], 0)


def test_hash_split_deterministic_and_bounded(spark):
    """Content-seeded split: stable across invocations, val fraction in
    a sane band at 10%, and the same key always lands the same side."""
    from crawler_spark.operators.sharding import hash_split

    df = spark.range(0, 2_000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: r.split for r in hash_split(df, ["doc_id"], 10).collect()}
    b = {r.doc_id: r.split for r in hash_split(df, ["doc_id"], 10).collect()}
    assert a == b
    n_val = sum(1 for v in a.values() if v == "val")
    assert 120 <= n_val <= 280  # ~10% of 2000 with hash variance
    assert {r.split for r in hash_split(df, ["doc_id"], 0).collect()} == {"train"}
    assert {r.split for r in hash_split(df, ["doc_id"], 100).collect()} == {"val"}
    # a NULL key column keeps its place: (x, NULL, x) and (x, x, NULL)
    # are different keys, so at 50% they must not always split alike
    def split_of(rows):
        nul = spark.createDataFrame(rows, "i long, k1 string, k2 string, k3 string")
        return {r.i: r.split for r in hash_split(nul, ["k1", "k2", "k3"], 50).collect()}

    ids = [(i, f"d{i}") for i in range(200)]
    assert split_of([(i, x, None, x) for i, x in ids]) != split_of(
        [(i, x, x, None) for i, x in ids]
    )
    import pytest as _pt

    with _pt.raises(ValueError):
        hash_split(df, ["doc_id"], 101)
