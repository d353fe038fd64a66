"""Column-expression canonicalization == oracle canonicalization, on the
full fixture matrix of link forms (dom.clj:315-369 semantics)."""

import pytest
from pyspark.sql import functions as F

from crawler_spark.canon import canonicalize, canonicalize_expr, host_of, host_of_expr

BASE = "http://host3.test/p/5/img-42-00000123"

CASES = [
    # (href, expected canonical or None)
    ("http://host3.test/p/1/img-42-00000001", "http://host3.test/p/1/img-42-00000001"),
    ("HTTP://HOST3.test/p/1/x", "http://host3.test/p/1/x"),
    ("http://host3.test:80/p/1/x", "http://host3.test/p/1/x"),
    ("https://host3.test:443/p/1/x", "https://host3.test/p/1/x"),
    ("http://host3.test:8080/p/1/x", "http://host3.test:8080/p/1/x"),
    ("/p/2/img-42-00000002", "http://host3.test/p/2/img-42-00000002"),
    ("img-42-00000456", "http://host3.test/p/5/img-42-00000456"),
    ("//host9.test/p/0/y", "http://host9.test/p/0/y"),
    ("http://host3.test/p/1/x#frag", "http://host3.test/p/1/x"),
    ("http://host3.test/p/1/x#x&amp;y", "http://host3.test/p/1/x"),
    ("http://host3.test/p/1/x?a=1&amp;b=2", "http://host3.test/p/1/x?a=1&b=2"),
    ("javascript:void(0)", None),
    ("JavaScript:alert(1)", None),
    ("mailto:a@b.test", None),
    ("tel:+123", None),
    ("", None),
    ("#top", None),  # fragment-only → empty after strip
    ("http://host3.test", "http://host3.test/"),  # path defaulted
]


def test_python_canonicalize():
    for href, want in CASES:
        assert canonicalize(href, BASE) == want, href


def test_spark_matches_python(spark):
    df = spark.createDataFrame([(h,) for h, _ in CASES], ["href"]).select(
        "href", canonicalize_expr(F.col("href"), F.lit(BASE)).alias("canon")
    )
    got = {r.href: r.canon for r in df.collect()}
    for href, want in CASES:
        assert got[href] == want, href


def test_canonicalize_expr_plan_size(spark):
    """Each intermediate is built once: the analyzed plan of one call
    holds at most two copies of the resolved url (and so of the
    unescape chain). The per-use inlining it replaces held 210 replace,
    43 regexp_replace and 20 regexp_extract nodes."""
    import re

    df = spark.createDataFrame([("a", "b")], "href string, base string").select(
        canonicalize_expr(F.col("href"), F.col("base")).alias("c")
    )
    plan = df._jdf.queryExecution().analyzed().toString()
    count = {f: len(re.findall(rf"\b{f}\(", plan))
             for f in ("replace", "regexp_replace", "regexp_extract")}
    assert count["replace"] <= 12, count
    assert count["regexp_replace"] <= 16, count
    assert count["regexp_extract"] <= 2, count


def test_host_of(spark):
    urls = ["http://host3.test/p/1/x", "https://a.b.test:8080/z"]
    df = spark.createDataFrame([(u,) for u in urls], ["u"]).select(
        "u", host_of_expr(F.col("u")).alias("h")
    )
    for r in df.collect():
        assert r.h == host_of(r.u)
    assert host_of("http://host3.test/p/1/x") == "host3.test"


def test_in_domain_predicate_reference_pin():
    """utils_test.clj:5-9 (in-domain?): a relative href is in-domain, an
    absolute same-host href is in-domain, a cross-host href is not. The
    repo expresses P7 as canonicalize-against-base + host equality —
    this pins that composition to the reference's exact truth table."""
    from crawler_spark.canon import canonicalize, host_of

    base = "http://a/b/c"

    def in_domain(href):
        cu = canonicalize(href, base)
        return cu is not None and host_of(cu) == host_of(base)

    assert in_domain("/d")
    assert in_domain("http://a/d")
    assert not in_domain("http://d/e")
