"""Output checks, computed apart from the engine and its operators.

Every function here takes plain Python values (rows collected from
Spark, the sequential oracle's result, the generator's columns) and
returns a list of failure messages; an empty list means the output is
correct. Nothing here starts Spark, so ``test_checks.py`` can plant a
fault in known-good values and show that each check catches it.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

import numpy as np

_AUTHORITY = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)")


def _host_and_path(url: str) -> tuple:
    m = _AUTHORITY.match(url)
    if m is None:
        return "", url
    return m.group(1).lower(), url[m.end():]


def _first_diff(got: list, want: list) -> str:
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"first difference at row {i}: got {g!r}, want {w!r}"
    return f"lengths differ: got {len(got)}, want {len(want)}"


def check_crawl(
    order: list,
    seen: set,
    oracle_order: list,
    oracle_seen: set,
    robots: list,
    epoch_ms: int,
    ttl_epochs: int | None,
    urls_scheduled: int,
) -> list:
    """Crawl outputs against the oracle and the properties the method
    must have.

    *order* holds the engine's ``(seq, url, epoch)`` rows sorted by
    seq, *seen* its URL-seen set, *oracle_order* and *oracle_seen* the
    sequential oracle's, *robots* the input robots rows and
    *urls_scheduled* the sum of the engine's ``metrics.urls_scheduled``.
    """
    bad = []
    if order != oracle_order:
        bad.append("crawl order differs from the oracle: " + _first_diff(order, oracle_order))
    if seen != oracle_seen:
        bad.append(
            f"URL-seen set differs from the oracle: {len(seen - oracle_seen)} "
            f"extra, {len(oracle_seen - seen)} missing"
        )
    seqs = [s for s, _, _ in order]
    if seqs != list(range(len(order))):
        bad.append("crawl-order seq does not run 0..n-1 without gaps")
    if urls_scheduled != len(order):
        bad.append(
            f"sum of metrics.urls_scheduled is {urls_scheduled}, "
            f"crawl_order has {len(order)} rows"
        )
    delay = {r["host"]: r["crawl_delay_ms"] for r in robots}
    disallow = {r["host"]: r["disallow_prefixes"] for r in robots}
    per_epoch_host = Counter()
    for _, url, epoch in order:
        host, path = _host_and_path(url)
        per_epoch_host[(epoch, host)] += 1
        if any(path.startswith(p) for p in disallow.get(host, ())):
            bad.append(f"{url} was scheduled although robots disallow it")
    for (epoch, host), n in sorted(per_epoch_host.items()):
        quota = max(1, epoch_ms // delay.get(host, 1000))
        if n > quota:
            bad.append(f"epoch {epoch} scheduled {n} URLs of {host}, quota {quota}")
    epochs_of = defaultdict(list)
    for _, url, epoch in order:
        epochs_of[url].append(epoch)
    recrawled = {u: e for u, e in epochs_of.items() if len(e) > 1}
    if ttl_epochs is None:
        if recrawled:
            bad.append(f"{len(recrawled)} URLs crawled twice without a TTL")
    else:
        if not recrawled:
            bad.append("TTL crawl recrawled no URL")
        for url, eps in recrawled.items():
            gaps = [b - a for a, b in zip(eps, eps[1:])]
            if min(gaps) < ttl_epochs:
                bad.append(f"{url} recrawled after {min(gaps)} epochs, TTL {ttl_epochs}")
    return bad


def check_profile(profile: dict, generated: dict) -> list:
    """``image_profile`` rows against the generator's columns.

    *profile* maps image_id to ``(dec_w, dec_h, phash2, byte_key)`` and
    *generated* maps image_id to ``(w, h, phash, md5)`` where md5 is
    Spark's built-in ``md5(bytes)``."""
    bad = []
    if profile.keys() != generated.keys():
        bad.append(
            f"profile has {len(profile)} image ids, input has {len(generated)}"
        )
    for iid in sorted(profile.keys() & generated.keys()):
        dw, dh, ph, key = profile[iid]
        w, h, gph, md5 = generated[iid]
        if (dw, dh) != (w, h):
            bad.append(f"{iid}: decoded {dw}x{dh}, generated {w}x{h}")
        if ph != gph:
            bad.append(f"{iid}: phash2 {ph:#x} != generated phash {gph:#x}")
        if key != md5:
            bad.append(f"{iid}: byte_key {key} != md5(bytes) {md5}")
        if len(bad) > 20:
            break
    return bad


_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def brute_phash_pairs(ids: list, phashes: list, max_hamming: int = 8) -> dict:
    """All pairs (id_a < id_b) -> Hamming distance of their 64-bit
    phashes, for every pair within *max_hamming*, by comparing every
    pair."""
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    sid = [ids[i] for i in order]
    ph = np.array([phashes[i] for i in order], dtype=np.int64).view(np.uint64)
    out = {}
    block = 256
    for lo in range(0, len(sid), block):
        x = ph[lo:lo + block, None] ^ ph[None, :]
        dist = _POPCOUNT8[x.view(np.uint8)].reshape(x.shape + (8,)).sum(axis=2)
        for a, b in zip(*np.nonzero(dist <= max_hamming)):
            i, j = lo + int(a), int(b)
            if i < j:
                out[(sid[i], sid[j])] = int(dist[a, b])
    return out


def shingles(text: str, n: int = 4) -> set:
    """Word n-gram shingles after the reference's normalisation:
    lowercase, punctuation to spaces, whitespace collapsed. A text of
    fewer than n words is one shingle."""
    norm = re.sub(r"\s+", " ", re.sub(r"[^\w\s]", " ", text.lower())).strip()
    toks = norm.split(" ")
    k = max(len(toks) - (n - 1), 1)
    out = {" ".join(toks[i:i + n]) for i in range(k)}
    out.discard("")
    return out


def brute_jaccard_pairs(
    ids: list, texts: list, n: int = 4, threshold: float = 0.9,
    df_cap: int | None = 10_000,
) -> dict:
    """All pairs (id_a < id_b) -> exact shingle Jaccard, for every pair
    at or above *threshold*, through an inverted shingle index. Shingles
    held by more than *df_cap* texts are dropped first, as the operator
    documents."""
    sets = {i: shingles(t, n) for i, t in zip(ids, texts)}
    index = defaultdict(list)
    for i, s in sets.items():
        for sh in s:
            index[sh].append(i)
    if df_cap is not None:
        hot = {sh for sh, holders in index.items() if len(holders) > df_cap}
        for sh in hot:
            del index[sh]
        sets = {i: s - hot for i, s in sets.items()}
    cands = set()
    for holders in index.values():
        holders = sorted(holders)
        for a in range(len(holders)):
            for b in range(a + 1, len(holders)):
                cands.add((holders[a], holders[b]))
    out = {}
    for a, b in cands:
        sa, sb = sets[a], sets[b]
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            out[(a, b)] = j
    return out


def check_pairs(name: str, got: dict, want: dict, tol: float = 1e-9) -> list:
    """Pair set and per-pair score of an operator against brute force."""
    bad = []
    if not want:
        bad.append(f"{name}: brute force found no pair; the input plants none")
    if got.keys() != want.keys():
        bad.append(
            f"{name}: {len(got.keys() - want.keys())} extra pairs, "
            f"{len(want.keys() - got.keys())} missing"
        )
    for k in sorted(got.keys() & want.keys()):
        if abs(got[k] - want[k]) > tol:
            bad.append(f"{name}: {k} scored {got[k]}, brute force {want[k]}")
            break
    return bad
