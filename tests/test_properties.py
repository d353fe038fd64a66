"""Property-based tests (hypothesis) for the oracle/engine contracts the
whole exactness story rests on: hashing and canonicalization must agree
between the pure-Python oracle implementations and Spark's JVM versions
for ARBITRARY inputs, not just the fixture matrix. (The reference has no
property tests at all — SURVEY.md §5.)

Strategy: hypothesis generates the cases; each test collects them into
ONE Spark job (batched round-trip, not per-example jobs)."""

import string

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from crawler_spark.canon import canonicalize, canonicalize_expr
from crawler_spark.hashing import xxhash64

# printable-ish URLs/strings; exclude surrogates (invalid UTF-8)
TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    max_size=120,
)
HREF_CHARS = string.ascii_letters + string.digits + ":/.#?&%=_-~"
HREF = st.text(alphabet=HREF_CHARS, max_size=80)
BASE = st.sampled_from(
    [
        "http://hostA.test/p/3/page",
        "https://b.example.org:8080/x/y/z",
        "http://c.test/",
        "noscheme/x",
        "HTTP://Up.Test:443/A/b",
    ]
)


def _batch(spark, pairs):
    """One Spark job for all examples: (href, base) → canon column."""
    df = spark.createDataFrame(pairs, ["href", "base"]).select(
        "href", "base", canonicalize_expr(F.col("href"), F.col("base")).alias("canon")
    )
    return [(r.href, r.base, r.canon) for r in df.collect()]


def test_canonicalize_spark_matches_python_on_random_hrefs(spark):
    cases = []

    @settings(max_examples=300, deadline=None)
    @given(HREF, BASE)
    def collect(href, base):
        cases.append((href, base))

    collect()
    for href, base, got in _batch(spark, cases):
        assert got == canonicalize(href, base), (href, base)


def test_xxhash64_matches_spark_on_random_strings(spark):
    cases = []

    @settings(max_examples=300, deadline=None)
    @given(TEXT)
    def collect(s):
        cases.append((s,))

    collect()
    df = spark.createDataFrame(cases, ["s"]).select("s", F.xxhash64("s").alias("h"))
    for r in df.collect():
        assert xxhash64(r.s.encode("utf-8")) == r.h, repr(r.s)


def test_canonicalize_idempotent(spark):
    """canon(canon(x)) == canon(x) for any resolvable href — a crawl
    invariant: re-canonicalizing frontier rows must be a no-op."""
    cases = []

    @settings(max_examples=200, deadline=None)
    @given(HREF, BASE)
    def collect(href, base):
        cases.append((href, base))

    collect()
    for href, base, first in _batch(spark, cases):
        if first is not None:
            assert canonicalize(first, first) == first, (href, base, first)


# ---- DOM parser properties (pure Python — no Spark needed) ----

_ATTR = st.text(
    alphabet="abcdefghij-_0123456789", min_size=0, max_size=12
)
_TEXT = st.text(
    alphabet="abc xyz.,!", min_size=0, max_size=20
)
_LINKS = st.lists(
    st.tuples(
        st.text(alphabet="abcdef/:.0123456789", min_size=1, max_size=30),  # href
        _TEXT,                                                             # anchor text
        st.booleans(),                                                     # nofollow
        _ATTR,                                                             # class attr
    ),
    min_size=0,
    max_size=8,
)


@settings(max_examples=200, deadline=None)
@given(_LINKS)
def test_dom_render_parse_round_trip(links):
    """Render an arbitrary anchor list to HTML (with escaping) and parse
    it back: hrefs, document-order text, and nofollow flags must
    round-trip exactly; every xpath must be a well-formed //html/body/...
    path."""
    import html as html_mod

    from crawler_spark import dom

    body = "".join(
        '<div class="{}"><a href="{}"{}>{}</a></div>'.format(
            html_mod.escape(cls, quote=True),
            html_mod.escape(href, quote=True),
            ' rel="nofollow"' if nf else "",
            html_mod.escape(text),
        )
        for href, text, nf, cls in links
    )
    page = f"<html><body>{body}</body></html>"
    anchors = dom.page_anchors(page)
    assert [(a[1], a[2], a[4]) for a in anchors] == [
        (href, text.strip(), nf) for href, text, nf, _cls in links
    ]
    for a in anchors:
        assert a[3].startswith("//html/body/")


@settings(max_examples=300, deadline=None)
@given(_ATTR)
def test_format_attr_idempotent(attr):
    """format_attr is idempotent and never returns an empty string."""
    from crawler_spark.dom import format_attr

    out = format_attr(attr)
    assert out is None or (out != "" and format_attr(out) == out)
