"""URL canonicalization — reference semantics, two aligned implementations.

Reference behavior (``dom.clj:358-369`` + link predicate ``dom.clj:315-345``):
resolve relative hrefs against the page URL, HTML-unescape, strip the
fragment, drop ``javascript:`` (and similarly non-fetchable) schemes.

Two implementations, locked together by ``tests/test_canon.py``:

* :func:`canonicalize_expr` — a pure Spark **Column expression** (regexp /
  string built-ins). Runs inside whole-stage codegen; zero Python on the
  hot path, which is what survives a 10^10-link epoch.
* :func:`canonicalize` — plain Python, used by the sequential oracle and
  the reference the Column version is tested against.

Both give the same result for every (href, base) pair, so crawl-order
parity cannot drift on canonicalization: Python runs the step list, the
Column version folds resolution into one regexp rewrite. A row-at-a-time
``urllib`` round-trip is deliberately NOT used anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_UNESCAPES = [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'")]
_SCHEME = "[a-zA-Z][a-zA-Z0-9+.-]*"
_ABS_RE = f"^{_SCHEME}://"
# scheme://authority, path — authority lowercased, default :80/:443 stripped
_URL_PARTS_RE = f"^({_SCHEME})://([^/?#]*)([^#]*)$"

NON_FETCHABLE_SCHEMES = ("javascript:", "mailto:", "tel:", "data:", "ftp:")

# Resolution as ONE rewrite of "base \x01 href": the first alternative
# matching the whole string wins (the oracle's if/elif chain), and Java
# appends nothing for a group outside the winner, so "$1..$7" keeps its
# parts — and "" for a part the base lacks, as the oracle's failed base
# matches give. [^\x01]* stops at the first marker, so one inside the
# href is plain text; the base directory stops at line terminators like
# Java's `.` in the old `^(.*/)`; \z because Java's $ also matches
# before a final line terminator.
_NON_FETCHABLE = "|".join(s[:-1] for s in NON_FETCHABLE_SCHEMES)
_RESOLVE_RE = "|".join(
    [
        # empty or non-fetchable href → "" (fails the parse below → NULL)
        rf"^[^\x01]*\x01(?:(?i:{_NON_FETCHABLE}):[\s\S]*)?\z",
        # absolute → href
        rf"^[^\x01]*\x01({_SCHEME}://[\s\S]*)\z",
        # scheme-relative → base scheme ":" href
        rf"^({_SCHEME}:)?[^\x01]*\x01(//[\s\S]*)\z",
        # root-relative → base origin + href
        rf"^({_SCHEME}://[^/?#\x01]*)?[^\x01]*\x01(/[\s\S]*)\z",
        # relative → base directory + href
        rf"^([^\x01\n\r\x85\u2028\u2029]*/)?[^\x01]*\x01([\s\S]*)\z",
    ]
)


def canonicalize_expr(href: Column, base_url: Column) -> Column:
    """JVM-side canonicalization; NULL for non-fetchable hrefs.

    Column-expression mirror of :func:`canonicalize` (tests assert
    equality on the fixture matrix and on random hrefs). The unescaped,
    fragment-free href meets the base in one string that one rewrite
    resolves; the parse reads the result twice in one projection, which
    codegen evaluates once. A NULL href gives NULL; *base_url* must be
    non-NULL (the oracle raises on one) and free of the U+0001 marker —
    callers pass page urls.
    """
    h = href
    for src, dst in _UNESCAPES:
        h = F.replace(h, F.lit(src), F.lit(dst))
    h = F.regexp_replace(h, "#.*$", "")  # strip fragment
    absolute = F.regexp_replace(
        F.concat(base_url, F.lit("\x01"), h), _RESOLVE_RE, "$1$2$3$4$5$6$7"
    )
    # scheme://authority, NULL when the resolved url does not parse;
    # try_element_at rather than nullif, which the optimizer splits into
    # a second projection that would resolve the url again
    origin = F.try_element_at(
        F.regexp_extract_all(absolute, F.lit(f"^({_SCHEME}://[^/?#]*)[^#]*$"), F.lit(1)),
        F.lit(1),
    )
    path = F.regexp_replace(F.regexp_replace(absolute, f"^{_SCHEME}://[^/?#]*", ""), "^$", "/")
    return F.concat(F.regexp_replace(F.lower(origin), ":(80|443)$", ""), path)


def host_of_expr(url: Column) -> Column:
    """Authority component of a canonical URL (for same-host predicate P5,
    ``dom.clj:353``, and host-keyed politeness partitioning)."""
    return F.regexp_extract(url, _URL_PARTS_RE, 2)


def canonicalize(href: str | None, base_url: str) -> str | None:
    """Oracle-side canonicalization — same step list as the Column version."""
    import re

    if href is None:
        return None
    h = href
    for src, dst in _UNESCAPES:
        h = h.replace(src, dst)
    h = re.sub("#.*$", "", h)
    if h == "":
        return None
    lower_h = h.lower()
    if any(lower_h.startswith(s) for s in NON_FETCHABLE_SCHEMES):
        return None

    m = re.match("^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", base_url)
    origin = m.group(1) if m else ""
    m = re.match("^(.*/)", base_url)
    base_dir = m.group(1) if m else ""
    m = re.match("^([a-zA-Z][a-zA-Z0-9+.-]*):", base_url)
    scheme_of_base = m.group(1) if m else ""

    if re.match(_ABS_RE, h):
        absolute = h
    elif h.startswith("//"):
        absolute = scheme_of_base + ":" + h
    elif h.startswith("/"):
        absolute = origin + h
    else:
        absolute = base_dir + h

    m = re.match(_URL_PARTS_RE, absolute)
    if not m:
        return None
    scheme = m.group(1).lower()
    authority = re.sub(":(80|443)$", "", m.group(2).lower())
    path = m.group(3) or "/"
    if path == "":
        path = "/"
    return f"{scheme}://{authority}{path}"


def host_of(url: str) -> str:
    import re

    m = re.match(_URL_PARTS_RE, url)
    return m.group(2) if m else ""
