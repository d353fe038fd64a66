"""spark-submit entry point.

North-rule deployment shape: ``spark-submit --py-files crawler_spark.zip
crawler_spark/cli.py crawl --seeds seeds.txt --corpus /path/corpus
--checkpoint /path/ck --epochs 10``. In the sandbox the same module runs
under plain ``python`` with a local master. Mirrors the reference CLI
(``main.clj:307-352`` crawler-options: --start/--num-leaves/--budget →
seeds/--leaf-limit/--max-pages).
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="crawler-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run the epoch-batched frontier crawl")
    c.add_argument("--seeds", required=True, help="text file, one URL per line")
    c.add_argument("--corpus", help="parquet path of the fetchable corpus; "
                                    "omit to use the deterministic synthetic web")
    c.add_argument("--synth-pages", type=int, default=2000)
    c.add_argument("--synth-hosts", type=int, default=20)
    c.add_argument("--robots", help="parquet path of robots rules (host, "
                                    "disallow_prefixes, crawl_delay_ms)")
    c.add_argument("--checkpoint", required=True)
    c.add_argument("--resume", action="store_true",
                   help="resume from the latest snapshot in --checkpoint")
    c.add_argument("--epochs", type=int, default=10)
    c.add_argument("--epoch-ms", type=int, default=30_000)
    c.add_argument("--max-pages", type=int, default=None,
                   help="crawl budget (reference --budget, default 1000)")
    c.add_argument("--leaf-limit", type=int, default=None,
                   help="leaf budget (reference --num-leaves, default 300)")
    c.add_argument("--no-bloom", action="store_true")
    c.add_argument("--exemplar", action="store_true",
                   help="E2 exemplar-cluster sampling (reference "
                        "prepare-example, crawl.clj:532-629): per "
                        "(page, xpath) group sample max(10, n//4) "
                        "links, cluster the sampled downloads by "
                        "caption similarity, expand one exemplar per "
                        "cluster — the learning crawl's sample-"
                        "efficiency mode")
    c.add_argument("--exemplar-threshold", type=float, default=0.95,
                   help="char-freq cosine threshold for exemplar "
                        "clustering")
    c.add_argument("--master", default=None)

    m = sub.add_parser("learn-model", help="derive the leaf-path model from a "
                                           "finished crawl checkpoint")
    m.add_argument("--checkpoint", required=True)
    m.add_argument("--corpus", help="parquet corpus (omit → synthetic)")
    m.add_argument("--synth-pages", type=int, default=2000)
    m.add_argument("--synth-hosts", type=int, default=20)
    m.add_argument("--out", required=True, help="output path for the model JSON")
    m.add_argument("--master", default=None)

    e = sub.add_parser(
        "execute-model",
        help="model-driven harvest (reference execute-model, "
             "main.clj:198-239): follow only the learned model's xpaths, "
             "chase its pagination xpaths, stop at the leaf budget",
    )
    e.add_argument("--model", required=True, help="model JSON from learn-model")
    e.add_argument("--seeds", required=True, help="text file, one URL per line")
    e.add_argument("--corpus", help="parquet corpus (omit → synthetic)")
    e.add_argument("--synth-pages", type=int, default=2000)
    e.add_argument("--synth-hosts", type=int, default=20)
    e.add_argument("--robots", help="parquet robots rules")
    e.add_argument("--checkpoint", required=True)
    e.add_argument("--epochs", type=int, default=10)
    e.add_argument("--epoch-ms", type=int, default=30_000)
    e.add_argument("--top-actions", type=int, default=3,
                   help="how many top-ranked model xpaths to follow")
    e.add_argument("--harvest-budget", type=int, default=300,
                   help="stop once this many leaf pages harvested "
                        "(reference --num-leaves)")
    e.add_argument("--no-refine", action="store_true",
                   help="ignore the model's learned :avoid refinements")
    e.add_argument("--depth-indexed", action="store_true",
                   help="treat the top-ranked xpaths as an ORDERED action "
                        "sequence indexed by plan depth (reference "
                        "xpath-to-pick) instead of a flat set")
    e.add_argument("--multiseq", action="store_true",
                   help="run the model's MANY learned action sequences "
                        "(model JSON action_seqs, learned from crawl-"
                        "order paths) ranked by plan_model (length asc, "
                        "yield desc) through successive depth-indexed "
                        "engine runs under ONE shared page budget — the "
                        "reference's execute-model-budget-crawler loop "
                        "(main.clj:247-305, execute.clj:50-86)")
    e.add_argument("--budget", type=int, default=1000,
                   help="shared page budget for --multiseq (reference "
                        "--budget): decremented by each sequence's "
                        "|visited|; an exhausted budget skips remaining "
                        "sequences outright")
    e.add_argument("--master", default=None)

    f = sub.add_parser(
        "fix-model",
        help="clean a learned model before execution (reference fix-model, "
             "main.clj:232-246): strip pagination-shadowed content actions "
             "and re-probe :only/:avoid refinements against the crawl's "
             "own corpus",
    )
    f.add_argument("--model", required=True, help="model JSON from learn-model")
    f.add_argument("--checkpoint", required=True,
                   help="checkpoint of the crawl the model was learned from")
    f.add_argument("--corpus", help="parquet corpus (omit → synthetic)")
    f.add_argument("--synth-pages", type=int, default=2000)
    f.add_argument("--synth-hosts", type=int, default=20)
    f.add_argument("--out", required=True, help="output path for the fixed model")
    f.add_argument("--master", default=None)
    return p


def _session(master):
    """(spark, owned): owned=False when an active session already exists
    (e.g. embedded in a larger app/test harness) — then getOrCreate
    returns it and the CLI must NOT stop it on exit."""
    from pyspark.sql import SparkSession

    from crawler_spark.session import get_spark

    existing = SparkSession.getActiveSession()
    return get_spark("crawler-spark-cli", master=master), existing is None


def cmd_crawl(args) -> int:
    from crawler_spark.engine import CrawlEngine, EngineConfig
    from crawler_spark.schema import ROBOTS_SCHEMA
    from crawler_spark.sources import read_seed_list
    from crawler_spark.synth import SynthConfig, corpus_df, robots_rows

    spark, owned = _session(args.master)
    if args.corpus:
        corpus = spark.read.parquet(args.corpus)
    else:
        corpus = corpus_df(
            spark, SynthConfig(n_pages=args.synth_pages, n_hosts=args.synth_hosts,
                               with_images=False)
        )
    if args.robots:
        robots = spark.read.parquet(args.robots)
    else:
        robots = spark.createDataFrame(
            robots_rows(SynthConfig(n_pages=args.synth_pages, n_hosts=args.synth_hosts)),
            ROBOTS_SCHEMA,
        )
    cfg = EngineConfig(
        max_epochs=args.epochs,
        epoch_ms=args.epoch_ms,
        max_pages=args.max_pages,
        leaf_limit=args.leaf_limit,
        seen_filter="none" if args.no_bloom else "bloom",
        checkpoint_dir=args.checkpoint,
        exemplar_sampling=args.exemplar,
        exemplar_cosine_threshold=args.exemplar_threshold,
    )
    eng = CrawlEngine(spark, corpus, robots, cfg)
    if args.resume:
        eng.resume()
        manifest = eng.run()
    else:
        seeds = [r.url for r in read_seed_list(spark, args.seeds).orderBy("ord").collect()]
        manifest = eng.run(seeds)
    summary = {
        "manifest": manifest,
        "metrics": [r.asDict() for r in eng.metrics.collect()],
    }
    print(json.dumps(summary, default=str))
    if owned:
        spark.stop()
    return 0


def _cli_corpus(spark, args):
    from crawler_spark.synth import SynthConfig, corpus_df

    if args.corpus:
        return spark.read.parquet(args.corpus)
    return corpus_df(
        spark, SynthConfig(n_pages=args.synth_pages, n_hosts=args.synth_hosts,
                           with_images=False)
    )


def _labeled_links(corpus, order):
    """Muscle/fat link labeling over a finished crawl (dom.clj:942-1061,
    model.clj:30-175): every link on a fetched page whose target was
    also fetched, labeled good iff the target is a leaf; targets never
    fetched are unknown and excluded. Hrefs are canonicalized against
    their source page before joining the fetched-target table — relative
    or fragment-bearing hrefs would never equal a canonical corpus url,
    and execution applies refinement tokens to CANONICAL urls, so
    learning (and the fix-model re-probe) must tokenize the same keys."""
    from pyspark.sql import functions as F

    from crawler_spark.canon import canonicalize_expr

    fetched = corpus.join(order.select("url"), "url", "left_semi")
    tgt = corpus.select(
        F.col("url").alias("href"), F.col("is_leaf").alias("good")
    ).join(order.select(F.col("url").alias("href")), "href", "left_semi")
    return fetched, (
        fetched.select("url", F.explode("out_links").alias("l"))
        .select(
            F.col("l.xpath").alias("xpath"),
            canonicalize_expr(F.col("l.href"), F.col("url")).alias("href"),
        )
        .filter(F.col("href").isNotNull())
        .join(tgt, "href")
    )


def cmd_learn_model(args) -> int:
    """Model = frequencies of leaf src-xpaths over the crawl (the learned
    model of the reference is exactly `frequencies` of leaf paths,
    crawl.clj:108) + pagination xpaths observed in the paging queue."""
    from pyspark.sql import functions as F

    from crawler_spark.engine import read_state_tables
    from crawler_spark.operators.xpath_model import refine_xpaths

    spark, owned = _session(args.master)
    tables = read_state_tables(
        spark, args.checkpoint, ["crawl_order", "frontier", "samples"]
    )
    order, frontier = tables["crawl_order"], tables["frontier"]
    corpus = _cli_corpus(spark, args)
    # E2: exemplar-mode samples were DOWNLOADED (crawl.clj:567-579) even
    # when only their cluster exemplar was expanded — they are corpus
    # evidence for leaf paths and refinement labeling exactly like
    # crawled pages (:leaf-paths/:corpus, crawl.clj:605-624). On
    # non-exemplar checkpoints the samples table is empty and this is
    # the plain crawl_order evidence.
    evidence = order.select("url").unionByName(
        tables["samples"].select("url")
    ).distinct()
    fetched, labeled = _labeled_links(corpus, evidence)
    leaf_links = (
        fetched.filter(F.col("is_leaf"))
        .select(F.explode("out_links").alias("l"))
        .groupBy(F.col("l.xpath").alias("xpath"))
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("xpath"))
    )
    paging_xpaths = (
        frontier.filter(F.col("queue") == "paging")
        .groupBy("src_xpath")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"))
    )
    refinements = [
        r.asDict() for r in refine_xpaths(labeled).orderBy("xpath").collect()
    ]
    # per-source pagination model (detect-pagination :paging-actions +
    # :refine, corpus.clj:123-217): per source action-seq (crawl_order
    # path — exemplar samples were downloaded but never expanded, so
    # they have no realized path and can only be TARGET evidence),
    # argmax-by-cosine paging xpath + modal {:only :avoid} over target
    # url tokens. links_t keeps anchor TEXT (the digit gate) where
    # _labeled_links drops it.
    from crawler_spark.canon import canonicalize_expr
    from crawler_spark.operators.xpath_model import learn_paging_model

    links_t = (
        fetched.select("url", F.explode("out_links").alias("l"))
        .select(
            F.col("url").alias("page_url"),
            F.col("l.xpath").alias("xpath"),
            canonicalize_expr(F.col("l.href"), F.col("url")).alias("href"),
            F.col("l.text").alias("text"),
        )
        .filter(F.col("href").isNotNull())
    )
    paging_model = [
        {"action_seq": list(r.action_seq), "paging_xpath": r.paging_xpath,
         "cosine": r.cosine, "only": list(r.only), "avoid": list(r.avoid)}
        for r in learn_paging_model(
            links_t,
            order.select(
                F.col("url").alias("page_url"), F.col("path").alias("action_seq")
            ),
            fetched=fetched.select(F.col("url").alias("page_url")),
        ).orderBy("action_seq").collect()
    ]
    # the model's :actions — frequencies of the full action PATH per
    # crawled leaf page (crawl.clj:108 `(frequencies leaf-paths)` over
    # src-path). These are the many action sequences execute-model
    # --multiseq ranks (plan_model: length asc, yield desc) and folds
    # through the shared-budget loop. Plan-ordered here for readability;
    # plan_model re-sorts at execution anyway.
    # leaf side first, no broadcast hint: crawl_order is unbounded (a
    # sustained run schedules ~194k rows/1M-page web, each carrying a
    # path array), so only the corpus's LEAF rows join it and AQE picks
    # the join strategy from runtime sizes
    leaf_seq_rows = (
        corpus.filter(F.col("is_leaf"))
        .select("url")
        .join(order.select("url", "path"), "url")
        .filter(F.size("path") > 0)
        .groupBy("path")
        .agg(F.count("*").alias("freq"))
        .collect()
    )
    action_seqs = sorted(
        ({"actions": list(r.path), "yield": r.freq} for r in leaf_seq_rows),
        key=lambda d: (len(d["actions"]), -d["yield"], tuple(d["actions"])),
    )
    model = {
        "leaf_xpath_freqs": [r.asDict() for r in leaf_links.collect()],
        "pagination_xpaths": [r.asDict() for r in paging_xpaths.collect()],
        "paging_model": paging_model,
        "refinements": refinements,
        "action_seqs": action_seqs,
    }
    with open(args.out, "w") as f:
        json.dump(model, f, indent=2)
    print(json.dumps({"written": args.out,
                      "n_leaf_xpaths": len(model["leaf_xpath_freqs"]),
                      "n_paging_xpaths": len(model["pagination_xpaths"]),
                      "n_paging_model": len(paging_model)}))
    if owned:
        spark.stop()
    return 0


def cmd_fix_model(args) -> int:
    """fix-model (reference fix-model, main.clj:232-246 — run by the
    reference as execute-model-crawler's mandatory first step,
    main.clj:199-201): clean a learned model before execution.

    1. Strip pagination-shadowed content actions
       (remove-pagination-from-actions, corpus.clj:409-438): a content
       xpath that is also a pagination action leaves the plan —
       pagination refinements are trusted always (model.clj:49-50).
    2. Re-probe :only/:avoid refinement tokens against the crawl's own
       corpus (fix-model-restrictions-model-read, model.clj:30-175):
       keep a token only if its evidence still holds (avoid → still
       only in fat links; only → still only in muscle links)."""
    from pyspark.sql import functions as F

    from crawler_spark.engine import read_state_tables
    from crawler_spark.operators.xpath_model import (
        reprobe_refinements,
        strip_pagination_shadowed,
    )

    spark, owned = _session(args.master)
    with open(args.model) as fh:
        model = json.load(fh)
    tables = read_state_tables(spark, args.checkpoint, ["crawl_order", "samples"])
    corpus = _cli_corpus(spark, args)
    # the re-probe labels links against the SAME evidence learn-model
    # used — crawl_order ∪ exemplar-mode samples (sampled pages were
    # downloaded, crawl.clj:567-579, and are corpus evidence in the
    # reference's fix step too). Probing against crawl_order alone
    # would re-judge :only/:avoid tokens on a strict subset of their
    # own learning evidence and silently drop valid tokens.
    evidence = tables["crawl_order"].select("url").unionByName(
        tables["samples"].select("url")
    ).distinct()
    _fetched, labeled = _labeled_links(corpus, evidence)

    actions = spark.createDataFrame(
        [(r["xpath"], r["freq"]) for r in model["leaf_xpath_freqs"]] or
        [("", 0)],
        "xpath string, freq long",
    )
    if not model["leaf_xpath_freqs"]:
        actions = actions.limit(0)
    paging = spark.createDataFrame(
        [(r["src_xpath"], r.get("freq", 0))
         for r in model.get("pagination_xpaths", [])] or [("", 0)],
        "src_xpath string, freq long",
    )
    if not model.get("pagination_xpaths"):
        paging = paging.limit(0)
    kept = strip_pagination_shadowed(actions, paging).orderBy(
        F.desc("freq"), F.asc("xpath")
    )
    fixed_actions = [r.asDict() for r in kept.collect()]

    fixed_refinements = model.get("refinements", [])
    if fixed_refinements:
        refs = spark.createDataFrame(
            [
                (r["xpath"], list(r.get("only", [])), list(r.get("avoid", [])))
                for r in fixed_refinements
            ],
            "xpath string, only array<string>, avoid array<string>",
        )
        fixed_refinements = [
            r.asDict()
            for r in reprobe_refinements(refs, labeled).orderBy("xpath").collect()
        ]

    # action SEQUENCES are stripped by the reference's shadowing rule
    # (remove-pagination-from-actions, corpus.clj:409-438). The intended
    # rule (the reference's own `some` where `every?` was meant is
    # documented at xpath_model.strip_pagination_shadowed): a plan is
    # shadowed by a learned per-source paging entry [src-seq paging-axn]
    # when the plan's chronological PREFIX equals src-seq + [paging-axn]
    # (the reference stores paths most-recent-first, so its "suffix"
    # comparison via take-on-reverse IS the chronological prefix) AND
    # the plan's refinement — keyed by its FINAL action, the reference's
    # refined[[path-taken path-to-take]] — equals the paging entry's
    # {:only :avoid}. Shadowed plans re-walk what the pagination
    # automaton chases on its own. Compared against the ORIGINAL model
    # refinements (the reference fixes restrictions in a separate pass).
    # Driver-side list math — the model JSON is tiny.
    pm = model.get("paging_model", [])
    if pm:
        orig_ref = {
            r["xpath"]: (sorted(r.get("only", [])), sorted(r.get("avoid", [])))
            for r in model.get("refinements", [])
        }

        def _shadowed(s):
            acts = list(s["actions"])
            plan_ref = orig_ref.get(acts[-1], ([], [])) if acts else ([], [])
            for e in pm:
                danger = list(e["action_seq"]) + [e["paging_xpath"]]
                if acts[: len(danger)] == danger and plan_ref == (
                    sorted(e.get("only", [])), sorted(e.get("avoid", []))
                ):
                    return True
            return False

        fixed_seqs = [
            s for s in model.get("action_seqs", []) if not _shadowed(s)
        ]
    else:
        # pre-paging-model JSONs: the global-set collapse — under our
        # executor pagination runs ALONGSIDE every plan, so only plans
        # consisting SOLELY of pagination actions duplicate the paging
        # queue; mixed plans keep their content value
        paging_set = {
            r["src_xpath"] for r in model.get("pagination_xpaths", [])
            if r.get("src_xpath")
        }
        fixed_seqs = [
            s for s in model.get("action_seqs", [])
            if not all(a in paging_set for a in s["actions"])
        ]
    fixed = {
        "fixed": True,
        "leaf_xpath_freqs": fixed_actions,
        "pagination_xpaths": model.get("pagination_xpaths", []),
        # pagination refinements are trusted always (model.clj:49-50) —
        # the per-source paging model passes through un-probed
        "paging_model": pm,
        "refinements": fixed_refinements,
        "action_seqs": fixed_seqs,
    }
    with open(args.out, "w") as fh:
        json.dump(fixed, fh, indent=2)
    n_tok = lambda rs, k: sum(len(r.get(k, [])) for r in rs)  # noqa: E731
    print(json.dumps({
        "written": args.out,
        "actions_stripped": len(model["leaf_xpath_freqs"]) - len(fixed_actions),
        "seqs_stripped": len(model.get("action_seqs", [])) - len(fixed_seqs),
        "only_tokens": [n_tok(model.get("refinements", []), "only"),
                        n_tok(fixed_refinements, "only")],
        "avoid_tokens": [n_tok(model.get("refinements", []), "avoid"),
                         n_tok(fixed_refinements, "avoid")],
    }))
    if owned:
        spark.stop()
    return 0


def cmd_execute_model(args) -> int:
    """E3: the dual-queue plan executor — consume a learned model, follow
    only its ranked xpath actions (W4 plan ordering = freq desc, xpath
    asc tie-break), chase its pagination xpaths through the paging queue,
    decrement the leaf budget (crawl.clj:246-530, execute.clj:10-58)."""
    from pyspark.sql import functions as F

    from crawler_spark.engine import CrawlEngine, EngineConfig
    from crawler_spark.schema import ROBOTS_SCHEMA
    from crawler_spark.sources import read_seed_list
    from crawler_spark.synth import SynthConfig, corpus_df, robots_rows

    spark, owned = _session(args.master)
    with open(args.model) as f:
        model = json.load(f)
    ranked = sorted(
        model["leaf_xpath_freqs"], key=lambda r: (-r["freq"], r["xpath"])
    )
    actions = tuple(r["xpath"] for r in ranked[: args.top_actions])
    paging = tuple(
        r["src_xpath"] for r in model.get("pagination_xpaths", [])
        if r.get("src_xpath")
    )
    # per-source paging model: when the model carries one, it REPLACES
    # the global paging-xpath set (the reference executor keys both the
    # paging action and its refinement by the parent's action seq,
    # crawl.clj:358-390). Unaffected by --no-refine: pagination
    # refinements are trusted always (model.clj:49-50).
    paging_model = tuple(
        (tuple(e["action_seq"]), e["paging_xpath"],
         tuple(e.get("only", [])), tuple(e.get("avoid", [])))
        for e in model.get("paging_model", [])
    )
    if paging_model:
        paging = ()
    # learned refinements ride the model JSON; only non-empty token
    # lists matter at execution time. :only restricts (keep links whose
    # href path carries an only-token, dom.clj:603-615) and is applied
    # before :avoid drops (dom.clj:617-631), as in the reference's
    # refined evaluation.
    refine_avoid, refine_only = (), ()
    if not args.no_refine:
        refine_avoid = tuple(
            (r["xpath"], tuple(r["avoid"]))
            for r in model.get("refinements", [])
            if r.get("avoid")
        )
        refine_only = tuple(
            (r["xpath"], tuple(r["only"]))
            for r in model.get("refinements", [])
            if r.get("only")
        )
    if args.corpus:
        corpus = spark.read.parquet(args.corpus)
    else:
        corpus = corpus_df(
            spark, SynthConfig(n_pages=args.synth_pages, n_hosts=args.synth_hosts,
                               with_images=False)
        )
    if args.robots:
        robots = spark.read.parquet(args.robots)
    else:
        robots = spark.createDataFrame(
            robots_rows(SynthConfig(n_pages=args.synth_pages, n_hosts=args.synth_hosts)),
            ROBOTS_SCHEMA,
        )
    seeds = [r.url for r in read_seed_list(spark, args.seeds).orderBy("ord").collect()]
    if args.multiseq:
        # the reference's execute-model-budget-crawler (main.clj:247-305,
        # execute.clj:50-86): rank ALL learned action sequences, fold
        # them through depth-indexed engine runs under one shared page
        # budget. Each sequence gets its own resumable checkpoint under
        # --checkpoint/seq-NNN.
        from crawler_spark.multiseq import execute_model_budget, plan_model

        seqs = model.get("action_seqs") or []
        if not seqs:
            print(json.dumps({"error": "model has no action_seqs — "
                              "re-run learn-model on a path-tracking "
                              "checkpoint"}))
            if owned:
                spark.stop()
            return 1
        planned = plan_model(
            [(tuple(r["actions"]), r["yield"]) for r in seqs]
        )
        res = execute_model_budget(
            spark, corpus, robots, seeds, planned, paging,
            budget=args.budget, checkpoint_root=args.checkpoint,
            max_epochs=args.epochs, epoch_ms=args.epoch_ms,
            leaf_limit=args.harvest_budget,
            refine_avoid=refine_avoid, refine_only=refine_only,
            paging_model=paging_model,
        )
        order = res.crawl_order()
        harvested = 0
        if order is not None:
            harvested = (
                corpus.join(
                    # no broadcast hint: crawl_order is unbounded (the
                    # sustained run alone is ~194k rows) — let AQE pick
                    # the strategy for this one-off reporting count
                    order.select("url").distinct(),
                    "url", "left_semi",
                )
                .filter(F.col("is_leaf"))
                .count()
            )
        print(json.dumps({
            "budget": res.budget,
            "budget_spent": res.budget_spent,
            "harvested_leaves": harvested,
            "runs": [
                {"actions": list(r.actions), "max_pages": r.max_pages,
                 "visited": r.visited, "skipped": r.skipped}
                for r in res.runs
            ],
        }, default=str))
        if owned:
            spark.stop()
        return 0
    cfg = EngineConfig(
        max_epochs=args.epochs,
        epoch_ms=args.epoch_ms,
        leaf_limit=args.harvest_budget,
        checkpoint_dir=args.checkpoint,
        model_xpaths=None if args.depth_indexed else actions,
        model_action_seq=actions if args.depth_indexed else None,
        paging_xpaths=paging,
        paging_model=paging_model,
        refine_avoid=refine_avoid,
        refine_only=refine_only,
    )
    eng = CrawlEngine(spark, corpus, robots, cfg)
    manifest = eng.run(seeds)
    harvested = (
        # no broadcast hint: crawl_order is unbounded — AQE decides
        corpus.join(eng.crawl_order.select("url"), "url", "left_semi")
        .filter(F.col("is_leaf"))
        .count()
    )
    print(json.dumps({
        "manifest": manifest,
        "actions": list(actions),
        "depth_indexed": bool(args.depth_indexed),
        "paging_xpaths": list(paging),
        "refine_avoid": [[xp, list(av)] for xp, av in refine_avoid],
        "refine_only": [[xp, list(on)] for xp, on in refine_only],
        "harvested_leaves": harvested,
        "metrics": [r.asDict() for r in eng.metrics.collect()],
    }, default=str))
    if owned:
        spark.stop()
    return 0


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd == "crawl":
        return cmd_crawl(args)
    if args.cmd == "learn-model":
        return cmd_learn_model(args)
    if args.cmd == "execute-model":
        return cmd_execute_model(args)
    if args.cmd == "fix-model":
        return cmd_fix_model(args)
    return 2


if __name__ == "__main__":
    sys.exit(main())
