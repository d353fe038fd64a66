"""Link extraction — the reference's DOM link pipeline as DataFrame ops.

Reference pipeline (``dom.clj:311-369``): walk anchors → drop
``rel=nofollow`` / ``javascript:`` → resolve+canonicalize → blacklist →
same-host filter (``dom.clj:353``). Here pages already carry their parsed
anchor array (``out_links``: the synthetic web's stand-in for P1-P3 HTML
parsing, which for real HTML would be a selectolax/lxml ``mapInPandas``
stage), so extraction is: ``posexplode`` (JVM) → column-expression
canonicalization (JVM, whole-stage codegen) → filters. Zero Python.

Candidate identity for deterministic ordering is ``(parent dequeue seq,
link position)`` — posexplode preserves array order, giving the same
within-page order the reference's sequential walk produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from .canon import canonicalize_expr, host_of_expr


# P8: the reference defines this ignore regex but never applies it
# (dom.clj:302); the engine makes it an explicit, optional filter. The
# graft crawls image pages, so callers may also *invert* it to keep only
# asset URLs.
DEFAULT_IGNORE_EXTENSIONS = ("jpg", "jpeg", "css", "gif", "png", "xml")


def extension_filter(
    df: DataFrame,
    url_col: str = "url",
    extensions: tuple = DEFAULT_IGNORE_EXTENSIONS,
    keep_matching: bool = False,
) -> DataFrame:
    """Drop (or with keep_matching=True, keep only) URLs whose path ends
    in one of *extensions*."""
    pat = r"(?i)\.(" + "|".join(extensions) + r")([?#].*)?$"
    matches = F.col(url_col).rlike(pat)
    return df.filter(matches if keep_matching else ~matches)


def canonical_links(fetched: DataFrame) -> DataFrame:
    """fetched: (seq, url, host, out_links, [depth]) → one row per
    followable link: (src_seq, src_url, src_host, [src_depth], pos, link,
    canon_url), nofollow and non-canonicalizable links dropped. Its row
    count is the oracle's links_extracted (before the same-host filter).
    """
    # NOTE: depth rides the candidate stream (an int, and the harvest
    # mode's depth-indexed filter needs it pre-seen-check); the action
    # PATH deliberately does not — duplicating an array per exploded
    # link row through the dedup shuffle and the Arrow seen probe is
    # measurable waste, so the engine re-attaches paths to survivors
    # with a broadcast join on src_seq against the quota-bounded batch.
    passthrough = [F.col("depth").alias("src_depth")] if "depth" in fetched.columns else []
    links = fetched.select(
        F.col("seq").alias("src_seq"),
        F.col("url").alias("src_url"),
        F.col("host").alias("src_host"),
        *passthrough,
        F.posexplode("out_links").alias("pos", "link"),
    ).filter(~F.col("link.nofollow"))
    cols = links.columns
    # explode(array(c)) binds the canonical url once: the optimizer
    # copies a projected expression into every filter it pushes below the
    # projection (the null test, the same-host test), but pushes no
    # filter below the generator that produces the column
    return (
        links.withColumn(
            "__canon", canonicalize_expr(F.col("link.href"), F.col("src_url"))
        )
        .select(*cols, F.explode(F.array("__canon")).alias("canon_url"))
        .filter(F.col("canon_url").isNotNull())
    )


def extract_candidates(
    fetched: DataFrame, dedup: bool = True, observation: Observation | None = None
) -> DataFrame:
    """fetched: (seq, url, host, out_links, ...) → candidate links.

    Returns (src_seq, pos, src_url, src_text, src_xpath, host, url)
    after nofollow/javascript/canonicalize/same-host filters; with
    ``dedup`` (default) also deduped within the batch keeping the first
    occurrence in (src_seq, pos) order — exactly what sequential
    processing would keep. ``dedup=False`` keeps every occurrence (the
    oracle's dup-counting semantics need the multiplicity). An
    *observation* collects ``n``, the :func:`canonical_links` row count,
    during whatever action evaluates the result.
    """
    links = canonical_links(fetched)
    if observation is not None:
        links = links.observe(observation, F.count(F.lit(1)).alias("n"))
    same_host = links.filter(host_of_expr(F.col("canon_url")) == F.col("src_host"))

    if dedup:
        w = Window.partitionBy("canon_url").orderBy("src_seq", "pos")
        same_host = (
            same_host.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    # digit-anchored links are pagination candidates → paging queue
    # (corpus.clj:127-131 digit-anchor rule feeding the dual queue)
    return same_host.select(
        "src_seq",
        "pos",
        "src_url",
        *[c for c in ("src_depth",) if c in same_host.columns],
        F.col("link.text").alias("src_text"),
        F.col("link.xpath").alias("src_xpath"),
        F.col("src_host").alias("host"),
        F.col("canon_url").alias("url"),
        F.when(F.col("link.text").rlike("^[0-9]+$"), F.lit("paging"))
        .otherwise(F.lit("content"))
        .alias("queue"),
    )
