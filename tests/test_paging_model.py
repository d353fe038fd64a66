"""Per-source pagination (:refine) gates — learning and execution.

The reference's detect-pagination learns, PER source action-seq, the
argmax-by-cosine paging action plus a probe-derived {:only :avoid}
refinement keyed [action-seq paging-action] (corpus.clj:123-217,
refine-action corpus.clj:92-120), and the executor applies exactly that
entry when chasing pagination from a page reached via that seq
(crawl.clj:358-390, eval-anchor-xpath-refined). Gates here:

* learn_paging_model unit semantics (argmax across xpaths, muscle/fat
  token split, modal refinement across sources, unfetched-target drop);
* EXACT engine↔oracle parity of a harvest crawl driven by a per-source
  paging model whose refinement non-vacuously changes the paging hops;
* non-vacuousness: the refined run differs from both the paging-free
  run and the unrefined per-source run.
"""

import re

import pytest
from pyspark.sql import functions as F

from crawler_spark.engine import CrawlEngine, EngineConfig
from crawler_spark.oracle import crawl_oracle
from crawler_spark.schema import ROBOTS_SCHEMA
from crawler_spark.synth import SynthConfig, corpus_df, gen_all, robots_rows, seed_urls


def test_learn_paging_model_semantics(spark):
    from crawler_spark.operators.xpath_model import learn_paging_model

    # three source pages share action-seq ['s']: each has digit links at
    # X (a structurally-similar target) and at Y (dissimilar target) —
    # X must win the argmax. Sources a and b derive the same per-source
    # {only:[good], avoid:[bad]} over href path tokens; source c's
    # muscle/fat split yields a DIFFERENT refinement — the 2-vs-1 modal
    # pick (corpus.clj:186-217 frequencies → most common) must choose
    # the majority one.
    rows = [
        # sources a, b: sig {X:2, Y:1}; muscle target under /good/,
        # fat under /bad/
        ("a", "X", "http://h.test/good/1", "1"),
        ("a", "X", "http://h.test/bad/1", "2"),
        ("a", "Y", "http://h.test/diss", "3"),
        ("b", "X", "http://h.test/good/2", "1"),
        ("b", "X", "http://h.test/bad/2", "2"),
        ("b", "Y", "http://h.test/diss", "3"),
        # source c: muscle under /alt/, fat under /zzz/
        ("c", "X", "http://h.test/alt/3", "1"),
        ("c", "X", "http://h.test/zzz/3", "2"),
        ("c", "Y", "http://h.test/diss", "3"),
        # similar targets mirror the source sig shape {X:2, Y:1}
        ("http://h.test/good/1", "X", "u1", "1"),
        ("http://h.test/good/1", "X", "u2", "2"),
        ("http://h.test/good/1", "Y", "u3", "3"),
        ("http://h.test/good/2", "X", "u4", "1"),
        ("http://h.test/good/2", "X", "u5", "2"),
        ("http://h.test/good/2", "Y", "u6", "3"),
        ("http://h.test/alt/3", "X", "u4", "1"),
        ("http://h.test/alt/3", "X", "u5", "2"),
        ("http://h.test/alt/3", "Y", "u6", "3"),
        # dissimilar targets: different sig shape
        ("http://h.test/bad/1", "Q", "u7", "w"),
        ("http://h.test/bad/2", "Q", "u8", "w"),
        ("http://h.test/zzz/3", "Q", "u8", "w"),
        ("http://h.test/diss", "Q", "u9", "w"),
    ]
    links = spark.createDataFrame(
        rows, "page_url string, xpath string, href string, text string"
    )
    paths = spark.createDataFrame(
        [("a", ["s"]), ("b", ["s"]), ("c", ["s"])]
        + [(u, ["t"]) for u, _, _, _ in rows[9:]],
        "page_url string, action_seq array<string>",
    )
    out = learn_paging_model(links, paths, min_cosine=0.9).collect()
    got = {tuple(r.action_seq): (r.paging_xpath, list(r.only), list(r.avoid))
           for r in out}
    assert ("s",) in got
    xp, only, avoid = got[("s",)]
    assert xp == "X"
    # modal: a and b agree on (only=[good], avoid=[bad]); c's
    # (only=[alt], avoid=[zzz]) is the 1-count minority and loses
    # ('3' rides both its muscle and fat hrefs, so it's neither)
    assert only == ["good"]
    assert avoid == ["bad"]
    # sources at seq ['t'] have digit links, but their targets are
    # unfetched (u*) → no entry learned
    assert ("t",) not in got


@pytest.fixture(scope="module")
def web(spark):
    cfg = SynthConfig(n_pages=500, n_hosts=10, with_images=False,
                      with_aliases=False)
    corpus = corpus_df(spark, cfg).persist()
    corpus.count()
    robots = spark.createDataFrame(robots_rows(cfg), ROBOTS_SCHEMA)
    return cfg, corpus, robots


def _derive_paging_model(cfg, seeds, robots_list, with_refine):
    """Derive a NON-VACUOUS per-source paging model from an exploratory
    plain crawl: for the parent paths realized in the crawl, the digit
    xpath observed most often is the paging action; with_refine adds an
    avoid token taken from a real target url so refinement actually
    drops at least one observed hop."""
    from collections import Counter, defaultdict

    res = crawl_oracle(cfg, seeds, robots_list, max_epochs=3, epoch_ms=8000)
    from crawler_spark.canon import canonicalize, host_of

    per_path = defaultdict(Counter)
    targets = defaultdict(list)
    for page, path in zip(res.fetched, res.crawl_paths):
        for link in page["out_links"]:
            if link["nofollow"] or not re.match(r"^[0-9]+$", link["text"] or ""):
                continue
            cu = canonicalize(link["href"], page["url"])
            if cu is None or host_of(cu) != page["host"]:
                continue
            per_path[path][link["xpath"]] += 1
            targets[(path, link["xpath"])].append(cu)
    model = {}
    for path, ctr in sorted(per_path.items()):
        xp, _n = max(sorted(ctr.items()), key=lambda kv: kv[1])
        avoid = ()
        if with_refine:
            # avoid the first path token of the FIRST observed target —
            # guaranteed to drop at least that hop
            tgt = sorted(targets[(path, xp)])[0]
            toks = [t for t in re.sub(r"^[a-zA-Z]+://[^/]*/", "", tgt).split("/") if t]
            if toks:
                avoid = (toks[-1],)
        model[path] = (xp, (), avoid)
    return model


def _run_engine(spark, corpus, robots, seeds, ck, model_xpaths, paging_model):
    eng = CrawlEngine(
        spark, corpus, robots,
        EngineConfig(
            max_epochs=4, epoch_ms=8000, checkpoint_dir=str(ck),
            n_seen_buckets=8, bloom_m_bits=1 << 16,
            model_xpaths=model_xpaths,
            paging_model=tuple(
                (tuple(k), xp, tuple(on), tuple(av))
                for k, (xp, on, av) in sorted(paging_model.items())
            ),
        ),
    )
    eng.run(seeds)
    return eng


def test_per_source_paging_parity(spark, web, tmp_path):
    """Engine↔oracle EXACT parity under a per-source paging model with
    live refinement; refined vs unrefined vs paging-free runs differ."""
    from crawler_spark.synth import XPATHS

    cfg, corpus, robots = web
    seeds = seed_urls(cfg, 5)
    rl = robots_rows(cfg)
    model_xp = set(XPATHS[:3])  # harvest plan: first three xpaths
    refined = _derive_paging_model(cfg, seeds, rl, with_refine=True)
    unrefined = {k: (xp, (), ()) for k, (xp, _on, _av) in refined.items()}
    assert refined, "exploration must realize per-source paging entries"
    assert any(av for (_xp, _on, av) in refined.values())

    oracle = crawl_oracle(
        cfg, seeds, rl, max_epochs=4, epoch_ms=8000,
        model_xpaths=model_xp, paging_model=refined,
    )
    eng = _run_engine(spark, corpus, robots, seeds, tmp_path / "ck1",
                      tuple(sorted(model_xp)), refined)
    got = [(r.seq, r.url, r.epoch) for r in eng.crawl_order.collect()]
    want = [(s, u, e) for (s, u, e, _h) in oracle.crawl_order]
    assert len(got) > 30
    assert got == want
    assert {r.url for r in eng.url_seen.collect()} == oracle.url_seen
    fields = ["urls_scheduled", "pages_fetched", "links_extracted",
              "links_enqueued", "dups_dropped", "disallowed_dropped",
              "leaves_fetched"]
    got_m = [tuple([r.epoch] + [getattr(r, f) for f in fields])
             for r in eng.metrics.collect()]
    want_m = [tuple([m["epoch"]] + [m[f] for f in fields])
              for m in oracle.metrics]
    assert got_m == want_m

    # non-vacuous: the three oracle configurations disagree
    o_unref = crawl_oracle(
        cfg, seeds, rl, max_epochs=4, epoch_ms=8000,
        model_xpaths=model_xp, paging_model=unrefined,
    )
    o_nopg = crawl_oracle(
        cfg, seeds, rl, max_epochs=4, epoch_ms=8000, model_xpaths=model_xp,
    )
    orders = {
        "refined": tuple(u for (_s, u, _e, _h) in oracle.crawl_order),
        "unrefined": tuple(u for (_s, u, _e, _h) in o_unref.crawl_order),
        "no_paging": tuple(u for (_s, u, _e, _h) in o_nopg.crawl_order),
    }
    assert orders["refined"] != orders["unrefined"], "refinement must bite"
    assert orders["unrefined"] != orders["no_paging"], "paging must bite"

    # and the engine matches the oracle on the unrefined model too, with
    # the model padded by 1,000 entries for paths no page has (the
    # oracle's result is the same with or without them)
    padded = {(f"//nowhere[{i}]/a",): ("//a", (), ()) for i in range(1000)}
    eng2 = _run_engine(spark, corpus, robots, seeds, tmp_path / "ck2",
                       tuple(sorted(model_xp)), {**padded, **unrefined})
    got2 = [(r.seq, r.url) for r in eng2.crawl_order.collect()]
    assert got2 == [(s, u) for (s, u, _e, _h) in o_unref.crawl_order]


def test_paging_model_requires_track_paths():
    with pytest.raises(ValueError, match="track_paths"):
        EngineConfig(paging_model=(((), "x", (), ()),), track_paths=False)
