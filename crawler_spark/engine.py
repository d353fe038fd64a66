"""The epoch-batched frontier engine (SURVEY.md §3 "Spark lifecycle").

One reference loop iteration fetches ONE url (``crawl.clj:90-91``); one
engine epoch schedules THOUSANDS under the same semantics:

  dequeue (politeness window) → fetch (join vs corpus) → extract
  (posexplode + codegen canonicalization) → URL-seen anti-join (bloom
  prefilter + exact) → merge-back (frontier/seen/order/lineage/metrics)
  → snapshot commit.

Every commit is **O(epoch-delta), not O(total state)**: append-only
tables (url_seen, crawl_order, lineage, metrics, content_seen,
extracted) land as per-commit delta files under ``log/<table>/`` — the
Iceberg ``AppendFiles`` analog — while only the genuinely mutating
tables (pending frontier, filter segments) are snapshotted in full to
``snap-NNNNN/`` with the manifest (rename = commit point; the
reference's analog is the pprinted ``.state`` EDN file,
``main.clj:40-60``). ``CrawlEngine.resume`` restarts from the latest
manifest + the delta log ≤ that epoch, which is the north_rule's
resumable-from-checkpoint requirement. Reading committed state back
also truncates the iterative lineage chain, the standard fix for
growing-plan iterative jobs.

Scale notes (how each stage survives 1000 executors / 10^10 rows):
* dequeue: per-host window — parallel across hosts, AQE skew handling on;
* fetch: the quota-bounded ``selected`` side is broadcast into the join
  against the (bucketed, storage-side) corpus, so no corpus shuffle;
* candidate dedup + seen anti-join: hash-partitioned on url/bucket —
  bloom negatives never enter the anti-join shuffle at all;
* sequence assignment: two-phase range partition (operators/sequence.py),
  no single-reducer global sort;
* metrics per epoch are one tiny aggregate each — the driver only ever
  sees counters, never rows.
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import tempfile
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import politeness
from .extract import canonical_links, extract_candidates
from .operators.sequence import with_global_seq
from .schema import (
    CONTENT_SEEN_SCHEMA,
    EXTRACTED_SCHEMA,
    CRAWL_ORDER_SCHEMA,
    FRONTIER_SCHEMA,
    LINEAGE_SCHEMA,
    METRICS_SCHEMA,
    SAMPLES_SCHEMA,
    URL_SEEN_SCHEMA,
)
from .seen import anti_join_seen, bucket_expr, build_segments
from .canon import canonicalize_expr, host_of_expr


@dataclass
class EngineConfig:
    n_seen_buckets: int = 32
    bloom_m_bits: int = 1 << 20  # 128 KiB per segment
    epoch_ms: int = 30_000
    max_epochs: int = 10
    max_pages: int | None = None
    # leaf budget (reference --num-leaves, default 300, main.clj:25-28):
    # stop before an epoch once cumulative fetched leaf pages ≥ limit
    leaf_limit: int | None = None
    # which approximate membership structure fronts the exact anti-join:
    # "bloom" (OR-mergeable bitmaps, seen.py), "cuckoo" (deletable
    # fingerprint slots, cuckoo.py — the north_rule's bloom/cuckoo
    # alternative) or "none" (no prefilter). The filters are traffic
    # reducers only; membership stays exact.
    seen_filter: str = "bloom"
    cuckoo_n_buckets: int = 1 << 14  # 16k buckets × 4 slots = 128 KiB
    # TTL recrawl: pages last scheduled at epoch X expire at epoch X+T —
    # they leave URL-seen (and the prefilter), so a later re-discovery
    # crawls them fresh. Expiry does NOT re-enqueue: a page nobody links
    # to again is never recrawled. With cuckoo segments expiry is an
    # O(expired) fingerprint delete; with bloom (bits can't be unset)
    # the segments are rebuilt from the surviving seen set — the cost
    # asymmetry that motivates the cuckoo family.
    recrawl_ttl_epochs: int | None = None
    checkpoint_dir: str | None = None
    keep_snapshots: int = 3  # older snapshots pruned (Iceberg expire analog)
    # snapshot cadence: 1 = every epoch (default, finest resumability);
    # k>1 commits every k epochs + always on run() exit. Between commits
    # state lineage is truncated with localCheckpoint instead of disk.
    commit_every: int = 1
    # metrics detail: False skips the pre-same-host link count and
    # reports links_extracted = same-host candidate count instead
    # (parity tests need True; throughput runs use False)
    detailed_metrics: bool = True
    # global-sequence fast path: batches under this row count use a
    # single-partition window (1 small job) instead of the two-phase
    # range assignment — at 10^10 scale the two-phase path kicks in
    seq_fast_path_rows: int = 500_000
    # content near-dup tracking (reference seen?, crawl.clj:341-349):
    # count fetched pages whose normalized caption was fetched before;
    # stop before an epoch once cumulative near-dups ≥ content_dup_stop
    # (batch analog of the 30-consecutive-dup + corpus-cap rule)
    track_content_dups: bool = False
    content_dup_stop: int | None = None
    # E3 model-driven harvest (reference execute-model automaton,
    # crawl.clj:246-530, execute.clj:10-58, main.clj:198-239): when
    # model_xpaths is set, only links whose xpath is in it are followed
    # as content; digit-anchored links are chased as pagination only for
    # xpaths in paging_xpaths. Model-inapplicable links are dropped right
    # after the same-host filter (before the seen check — they are not
    # dups, they are outside the plan). Combine with leaf_limit for the
    # reference's harvest budget (--num-leaves).
    model_xpaths: tuple | None = None
    paging_xpaths: tuple = ()
    # depth-indexed action sequence (reference xpath-to-pick,
    # crawl.clj:200-202): a page at plan depth d follows ONLY links whose
    # xpath equals model_action_seq[d]; pages past the last step follow
    # nothing (they are the plan's leaves). Paging hops keep the parent
    # depth (crawl.clj:525-528). Mutually exclusive with model_xpaths —
    # the flat set applies every step uniformly.
    model_action_seq: tuple | None = None
    # per-source pagination model (reference detect-pagination's
    # :paging-actions + :refine maps, corpus.clj:123-217, applied at
    # crawl.clj:358-390): entries ((action_seq, paging_xpath, only,
    # avoid), ...) keyed by the SOURCE page's action path. When set, a
    # digit-anchored link is chased as pagination only if its xpath IS
    # the learned paging action for its parent's path AND its target
    # url passes the entry's {:only :avoid} token refinement; links
    # from paths with no entry have no paging. Takes over from the
    # global paging_xpaths set (the reference executor is purely
    # per-source). Requires track_paths (the lookup key is the path).
    paging_model: tuple = ()
    # learned refinement (:avoid, dom.clj:942-1061, model.clj:30-175,
    # applied in the E3 loop crawl.clj:458-530): per-xpath URL path
    # tokens that only ever led to fat (non-leaf) pages — candidates
    # whose href contains an avoided token for their xpath are dropped
    # BEFORE the seen check. Shape: ((xpath, (tok, ...)), ...).
    refine_avoid: tuple = ()
    # learned :only refinement (dom.clj:599-615 restricted-to-only,
    # applied before :avoid): an xpath listed here keeps ONLY candidates
    # whose href path carries at least one of its tokens — the
    # reference's harder prune for pages where good links share a
    # token. Same shape as refine_avoid; unlisted xpaths pass through.
    refine_only: tuple = ()
    # E2 exemplar-cluster sampling (reference prepare-example,
    # crawl.clj:532-629 — the learning crawl's sample-efficiency trick):
    # per (source page, xpath) group of seen-surviving candidates,
    # seeded-sample max(10, n//4) links, "download" the sampled targets
    # (corpus join on the canonical url; a miss = failed download),
    # single-linkage-cluster them by caption char-frequency cosine, and
    # enqueue ONE exemplar per cluster — every survivor still enters
    # URL-seen (crawl.clj:625 :new-visited). Sampled rows land in the
    # `samples` append table with cluster/exemplar/leaf labels (the
    # model learner's :leaf-paths / :corpus evidence). Requires a
    # corpus with a caption column. Costs one extra count job per epoch
    # (the frontier-add counter can no longer ride the survivor count).
    exemplar_sampling: bool = False
    exemplar_cosine_threshold: float = 0.95
    # log compaction threshold: when an append table's delta chain
    # exceeds this many commit dirs, the commit also writes a compacted
    # base (O(total), amortized over the chain) and prunes the chain
    log_compact_dirs: int = 32
    # seen-probe strategy switch: below this many seen rows the plain
    # shuffle anti-join is cheaper (two broadcast builds per epoch cost
    # more than shuffling a small table); above it the scan-only
    # broadcast-probe path avoids ever shuffling the 10^10-row seen table
    scan_only_seen_rows: int = 20_000_000
    # epoch-batch broadcast ceiling: every join whose build side derives
    # from the quota-bounded selected batch (fetch keys, alias hits,
    # redirect closure, path re-attach, exemplar samples) broadcasts
    # only while the batch row-count hint stays under this; above it the
    # join falls back to a shuffle-hash hint on the url/src_seq key.
    # Quota bounds rows PER HOST, so the batch is quota × |hosts with
    # pending rows| — at the 10^10-URL design point with 10⁷-10⁸ live
    # hosts an unconditional broadcast is a multi-GB build against the
    # driver/executor broadcast ceiling. On a cluster the corpus side is
    # bucketed by url (sources/iceberg.py), so the fallback's
    # storage-partitioned join shuffles only the batch side; the corpus
    # still never fully shuffles either way.
    broadcast_max_rows: int = 4_000_000
    # action-path tracking (FRONTIER_SCHEMA.path): ON keeps the per-row
    # xpath array the model learner's :actions evidence needs
    # (crawl.clj:108 frequencies over src-path). OFF writes empty arrays
    # (schema unchanged) and skips the per-epoch survivor re-attach join
    # — the throughput configuration for crawls nobody will learn a
    # model from. learn-model is the only consumer of non-empty paths.
    track_paths: bool = True

    def __post_init__(self):
        if self.seen_filter not in ("bloom", "cuckoo", "none"):
            raise ValueError(
                f"seen_filter={self.seen_filter!r}; expected 'bloom', 'cuckoo' or 'none'"
            )
        # bloom bits can't be unset, so a TTL run with bloom segments
        # would rebuild the whole filter from the surviving seen set on
        # EVERY expiry epoch — O(total seen), O(10^10) at the design
        # point. Rejected at config time; cuckoo's fingerprint deletes
        # are O(expired) with untouched segments passed through.
        if self.recrawl_ttl_epochs is not None and self.seen_filter == "bloom":
            raise ValueError(
                "recrawl_ttl_epochs with seen_filter='bloom' would rebuild "
                "the whole bloom filter every expiry epoch (O(total seen)); "
                "use seen_filter='cuckoo' (O(expired) fingerprint deletes) "
                "or seen_filter='none' for TTL runs"
            )
        if self.paging_model and not self.track_paths:
            raise ValueError(
                "paging_model keys pagination by the parent's action "
                "path — it cannot run with track_paths=False (every "
                "lookup key would be the empty path)"
            )


# the fetch join's projection: everything an epoch needs from a corpus
# row, and NOTHING else — on a file/Iceberg-backed corpus the binary
# image payload (bytes) and its metadata never leave the scan's column
# pruning, which is what keeps the frontier loop payload-free over a
# multimodal corpus (test_plans asserts the pruned ReadSchema against
# this exact list; track_content_dups appends caption at runtime)
FETCH_COLS = ("seq", "requested_url", "url", "host", "out_links",
              "is_leaf", "depth")

_STATE_TABLES = (
    "frontier", "url_seen", "segments", "crawl_order", "lineage", "metrics",
    "content_seen", "extracted", "samples",
)

# checkpoint format version, stamped into every manifest. Version 2
# added the required ``path`` column to frontier/crawl_order; a
# pre-version checkpoint read with today's schemas would fail resume on
# the missing frontier column — or worse, read crawl_order.path as NULL
# and let learn-model silently emit an empty action-sequence set — so
# loads reject older formats with an explicit re-crawl message instead.
CHECKPOINT_FORMAT = 2


def _check_format(manifest: dict, ckpt: str) -> None:
    have = manifest.get("format", 1)
    if have < CHECKPOINT_FORMAT:
        raise ValueError(
            f"checkpoint {ckpt} has format {have} (< {CHECKPOINT_FORMAT}): "
            "it predates the frontier/crawl_order action-path columns and "
            "cannot be resumed or learned from — re-run the crawl with the "
            "current engine"
        )

# Commit-cost split (the Iceberg mapping, north_rule "merge-back with
# per-partition lineage"): append-only tables commit as per-epoch DELTA
# files under ckpt/log/<table>/commit-NNNNN — an O(epoch-delta) append,
# exactly an Iceberg AppendFiles commit — so the 10^10-row url_seen is
# never rewritten. Only the tables whose rows genuinely mutate commit as
# full snapshots: the pending frontier (rows removed on dequeue; on a
# real cluster this becomes an Iceberg MERGE / row-delete commit) and
# the fixed-size filter segments. TTL recrawl deletes url_seen/extracted
# rows; those land as per-epoch tombstone dirs (see _DELETE_KEYS), so
# TTL runs keep O(epoch-delta) commits too.
_APPEND_TABLES = (
    "url_seen", "crawl_order", "lineage", "metrics", "content_seen", "extracted",
    "samples",
)
_FULL_TABLES = ("frontier", "segments")

_TABLE_SCHEMAS = {
    "frontier": FRONTIER_SCHEMA,
    "url_seen": URL_SEEN_SCHEMA,
    "crawl_order": CRAWL_ORDER_SCHEMA,
    "lineage": LINEAGE_SCHEMA,
    "metrics": METRICS_SCHEMA,
    "content_seen": CONTENT_SEEN_SCHEMA,
    "extracted": EXTRACTED_SCHEMA,
    "samples": SAMPLES_SCHEMA,
}


# {epoch:05d} grows to 6+ digits at epoch >= 100000 — \d{5,} (and numeric
# sorting everywhere a dir list is ordered) keeps long crawls readable
_LOG_DIR_RE = re.compile(r"(commit|compact|delete)-\d{5,}")

# tables whose rows a TTL expiry removes, with the equality-delete key.
# Their deletions commit as per-epoch tombstone dirs (log/<table>/
# delete-NNNNN — the Iceberg equality-delete analog) so a TTL run keeps
# O(epoch-delta) commits instead of rewriting the whole 10^10-row table.
_DELETE_KEYS = {"url_seen": "url", "extracted": "url"}

logger = logging.getLogger(__name__)


def _write_compact_atomic(df: DataFrame, log_dir: str, epoch: int) -> None:
    """Write a compacted base durably: stage to ``compact-NNNNN.tmp``
    (ignored by ``_log_parts``) and os.rename into place. A crash mid
    write leaves only the .tmp; a crash between rmtree and rename leaves
    no compact at this epoch — either way the read rule falls back to
    the previous base + deltas, never a partial table."""
    final = os.path.join(log_dir, f"compact-{epoch:05d}")
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    # replay after a crash-post-rename re-runs this commit: the final
    # dir may exist (possibly from an older code path) — replace it
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def _log_parts(ckpt: str, name: str, up_to_epoch: int) -> tuple:
    """(base_compact_dir_or_None, [delta dirs], [tombstone dirs]) for an
    append table at *up_to_epoch*: the newest ``compact-XX`` ≤ up_to is
    the base, plus every ``commit-YY`` / ``delete-YY`` with
    XX < YY ≤ up_to (tombstones at or before the base epoch are no-ops —
    the compact already has those deletions applied). Stray dirs from a
    crashed later commit — or obsolete dirs a crashed cleanup left
    behind — are thereby ignored either way: the manifest epoch is the
    truth."""
    base = os.path.join(ckpt, "log", name)
    if not os.path.isdir(base):
        return None, [], []
    # only fully-committed dirs count: compactions are staged as
    # compact-NNNNN.tmp and os.rename'd into place, so a crash mid
    # compact write can never leave a partial dir that this scan would
    # pick as the base (which would silently truncate the table)
    entries = [
        x for x in os.listdir(base) if _LOG_DIR_RE.fullmatch(x) is not None
    ]
    compacts = sorted(
        int(x.split("-")[1])
        for x in entries
        if x.startswith("compact-") and int(x.split("-")[1]) <= up_to_epoch
    )
    base_epoch = compacts[-1] if compacts else -1
    deltas = sorted(
        os.path.join(base, x)
        for x in entries
        if x.startswith("commit-")
        and base_epoch < int(x.split("-")[1]) <= up_to_epoch
    )
    compact_dir = (
        os.path.join(base, f"compact-{base_epoch:05d}") if compacts else None
    )
    tombstones = sorted(
        os.path.join(base, x)
        for x in entries
        if x.startswith("delete-")
        and base_epoch < int(x.split("-")[1]) <= up_to_epoch
    )
    return compact_dir, deltas, tombstones


def _part_epoch(path: str) -> int:
    return int(os.path.basename(path).split("-")[1])


def read_log_table(spark, ckpt: str, name: str, up_to_epoch: int) -> DataFrame:
    """State of an append table = newest compacted base ≤ *up_to_epoch*
    plus the delta files committed after it, minus tombstoned keys.

    Tombstone semantics (Iceberg equality-delete sequence rule): a
    ``delete-E`` row removes matching keys from parts written strictly
    BEFORE epoch E — a url expired at epoch E and re-discovered at E or
    later rides a part with epoch ≥ E and survives. Tombstones are one
    expiry batch each (quota-bounded), so the anti-join broadcasts them
    against the scan — the big table is never shuffled."""
    compact_dir, deltas, tombs = _log_parts(ckpt, name, up_to_epoch)
    dirs = ([compact_dir] if compact_dir else []) + deltas
    schema = _TABLE_SCHEMAS[name]
    if not dirs:
        return spark.createDataFrame([], schema)
    if not tombs:
        return spark.read.schema(schema).parquet(*dirs)
    key = _DELETE_KEYS[name]
    # tombstones hold the key column only; an explicit schema spares
    # Spark a schema-inference job per delete dir
    key_schema = StructType([schema[key]])
    parts = None
    for d in dirs:
        p = spark.read.schema(schema).parquet(d).withColumn(
            "_part_epoch", F.lit(_part_epoch(d))
        )
        parts = p if parts is None else parts.unionByName(p)
    tomb = None
    for d in tombs:
        t = spark.read.schema(key_schema).parquet(d).select(
            F.col(key).alias("_del_key"), F.lit(_part_epoch(d)).alias("_del_epoch")
        )
        tomb = t if tomb is None else tomb.unionByName(t)
    live = parts.join(
        F.broadcast(tomb),
        (F.col(key) == F.col("_del_key"))
        & (F.col("_del_epoch") > F.col("_part_epoch")),
        "left_anti",
    )
    return live.drop("_part_epoch")


def read_state_tables(spark, ckpt: str, names: list) -> dict:
    """Committed state tables from a checkpoint dir without an engine
    instance (CLI model learning etc.) — append-log aware."""
    snaps = sorted(
        (
            x
            for x in os.listdir(ckpt)
            if x.startswith("snap-")
            and os.path.exists(os.path.join(ckpt, x, "manifest.json"))
        ),
        key=lambda s: int(s.split("-")[1]),
    )
    if not snaps:
        raise FileNotFoundError(f"no committed snapshot under {ckpt}")
    d = os.path.join(ckpt, snaps[-1])
    with open(os.path.join(d, "manifest.json")) as f:
        manifest = json.load(f)
    _check_format(manifest, ckpt)
    out = {}
    for name in names:
        if manifest.get("append_log") and name in _APPEND_TABLES:
            out[name] = read_log_table(spark, ckpt, name, manifest["epoch"])
        else:
            out[name] = spark.read.parquet(os.path.join(d, name))
    return out


def expired_urls(crawl_order: DataFrame, expire_epoch: int) -> DataFrame:
    """Urls whose LATEST scheduling was exactly *expire_epoch* — the TTL
    expiry candidate set. The not-rescheduled-since check scans only the
    epochs after *expire_epoch* (epoch-pruned filters on an epoch-
    partitioned history at scale), never a full-history groupBy-max."""
    at_x = crawl_order.filter(F.col("epoch") == expire_epoch).select("url").distinct()
    later = crawl_order.filter(F.col("epoch") > expire_epoch).select("url")
    return at_x.join(later, "url", "left_anti")


class CrawlEngine:
    # one-shot flag: the Observation-future fast path silently degrading
    # to fallback recompute jobs must be visible at least once per process
    _warned_obs_fallback = False

    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        robots: DataFrame,
        cfg: EngineConfig | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or EngineConfig()
        # HTML front door (P1/P2/P9): a corpus that carries raw markup
        # instead of pre-parsed anchors gets out_links derived by the
        # real parser stage (crawler_spark/dom.py) — same engine
        # semantics downstream either way
        if "out_links" not in corpus.columns and "html" in corpus.columns:
            from .dom import with_out_links

            corpus = with_out_links(corpus, "html", "url")
        self.corpus = corpus
        # S3 redirect closure: alias_url → canonical url, derived from the
        # corpus once (reference inserts every redirect hop into visited
        # and caches by all aliases, crawl.clj:1054-1060,
        # utils.clj:210-227). Per epoch the quota-bounded batch is
        # broadcast against this projection — the map never shuffles.
        self._alias_map = None
        if "aliases" in corpus.columns:
            # one alias_url must resolve to ONE page even on a dirty
            # corpus where two pages claim the same alias — smallest
            # canonical url wins (deterministic, order-independent;
            # the oracle applies the same rule)
            amap = corpus.select(
                F.explode("aliases").alias("alias_url"),
                F.col("url").alias("final_url"),
            ).groupBy("alias_url").agg(F.min("final_url").alias("final_url"))
            self._alias_map = amap
        self.robots = robots
        # per-source paging model as a (path, __pg) table: each epoch's
        # batch joins it by the parent's action path. A later entry for
        # the same path replaces an earlier one.
        entries = {
            tuple(seq): (list(seq), (xp, list(only), list(avoid)))
            for seq, xp, only, avoid in self.cfg.paging_model
        }
        self._paging = spark.createDataFrame(
            list(entries.values()),
            "path array<string>, "
            "__pg struct<xpath:string,only:array<string>,avoid:array<string>>",
        )
        # robots is per-HOST: tiny on most crawls, but at the 10^10-URL
        # design point (10^7-10^8 live hosts) it crosses the same
        # broadcast ceiling the epoch-batch joins guard against. One
        # count at first dequeue (robots is static for the run) decides
        # broadcast-vs-shuffle-hash for every epoch's robots joins.
        self._robots_bcast: bool | None = None
        self.ckpt = self.cfg.checkpoint_dir or tempfile.mkdtemp(prefix="crawl-ckpt-")
        os.makedirs(self.ckpt, exist_ok=True)
        self._state: dict = {}
        self._manifest: dict = {}
        self._pending_unpersist: list = []
        # per-table delta DataFrames accumulated since the last commit
        # (the Iceberg AppendFiles payload); cleared on every commit
        self._uncommitted: dict = {}
        # per-table [(expiry_epoch, keys_df)] tombstones accumulated since
        # the last commit (the Iceberg equality-delete payload)
        self._uncommitted_deletes: dict = {}

    # ---------------- snapshot plumbing ----------------

    def _snap_dir(self, epoch: int) -> str:
        return os.path.join(self.ckpt, f"snap-{epoch:05d}")

    def _log_dir(self, name: str) -> str:
        return os.path.join(self.ckpt, "log", name)

    def _append_state(self, name: str, rows: DataFrame) -> None:
        """Union *rows* into a state table AND remember them as the
        table's uncommitted delta — the commit then appends exactly these
        rows instead of rewriting the whole table."""
        self._state[name] = self._state[name].unionByName(rows)
        self._uncommitted.setdefault(name, []).append(rows)

    def _append_mode(self) -> bool:
        # always delta commits: TTL expiry's url_seen/extracted deletes
        # are expressed as per-epoch tombstone files (the Iceberg
        # equality-delete analog) instead of full-table rewrites
        return True

    def _read_log_table(self, name: str, up_to_epoch: int) -> DataFrame:
        return read_log_table(self.spark, self.ckpt, name, up_to_epoch)

    def _commit(self, epoch: int) -> None:
        """Commit point. Append-only tables land as per-epoch delta files
        (O(epoch-delta) — the Iceberg append analog); frontier/segments
        as full snapshots; manifest last — its rename IS the commit."""
        d = self._snap_dir(epoch)
        append_mode = self._append_mode()
        compacted = []
        # a full-mode checkpoint (TTL run) resumed with an append-mode
        # config: the log holds none of the pre-resume history, so the
        # first append commit must seed it with a compacted base of the
        # whole table — plain deltas would silently drop every
        # pre-resume row at the post-commit reload
        seed_full = append_mode and getattr(self, "_log_needs_seed", False)
        if append_mode:
            for name in _APPEND_TABLES:
                if seed_full:
                    _write_compact_atomic(self._state[name], self._log_dir(name), epoch)
                    compacted.append(name)
                    continue
                parts = self._uncommitted.get(name, [])
                if parts:
                    delta = parts[0]
                    for p in parts[1:]:
                        delta = delta.unionByName(p)
                    delta.write.mode("overwrite").parquet(
                        os.path.join(self._log_dir(name), f"commit-{epoch:05d}")
                    )
                # TTL tombstones: one delete-EEEEE dir per expiry epoch,
                # keys only (Iceberg equality-delete files). Idempotent
                # on replay (mode overwrite); dirs ahead of the manifest
                # epoch are invisible to _log_parts until committed.
                key = _DELETE_KEYS.get(name)
                for del_epoch, keys_df in self._uncommitted_deletes.get(name, []):
                    keys_df.select(key).write.mode("overwrite").parquet(
                        os.path.join(self._log_dir(name), f"delete-{del_epoch:05d}")
                    )
                # log compaction (Iceberg rewrite-data-files analog):
                # once the delta chain is longer than the threshold,
                # write the whole table as a new compacted base — an
                # O(total) write amortized over the threshold's worth of
                # O(delta) commits, so a 10^4-epoch crawl never unions
                # 10^4 delta dirs per read. Obsolete dirs are removed
                # only AFTER the manifest rename (crash between the two
                # leaves stray dirs that the read rule already ignores).
                _b, deltas, tombs = _log_parts(self.ckpt, name, epoch)
                if len(deltas) + len(tombs) > self.cfg.log_compact_dirs:
                    _write_compact_atomic(self._state[name], self._log_dir(name), epoch)
                    compacted.append(name)
            full_tables = _FULL_TABLES
        else:
            full_tables = _STATE_TABLES
        for name in full_tables:
            self._state[name].write.mode("overwrite").parquet(os.path.join(d, name))
        self._manifest["append_log"] = append_mode
        with open(os.path.join(d, "manifest.json.tmp"), "w") as f:
            json.dump(self._manifest, f)
        os.replace(os.path.join(d, "manifest.json.tmp"), os.path.join(d, "manifest.json"))
        # durability claimed only once the manifest rename (the commit
        # point) succeeded — a mid-commit failure must leave
        # _last_committed at the previous epoch so run()'s final safety
        # commit isn't skipped by a caller that caught the error
        self._last_committed = epoch
        self._uncommitted = {}
        self._uncommitted_deletes = {}
        self._log_needs_seed = False
        # reload state from disk → truncates iterative lineage
        for name in full_tables:
            schema = _TABLE_SCHEMAS.get(name)
            path = os.path.join(d, name)
            self._state[name] = (
                self.spark.read.schema(schema).parquet(path)
                if schema is not None
                else self.spark.read.parquet(path)
            )
        if append_mode:
            for name in _APPEND_TABLES:
                self._state[name] = self._read_log_table(name, epoch)
        # prune old snapshots (never the one just committed or anything
        # newer — defense in depth against a dirty checkpoint dir).
        # numeric sort: snap-100000 must rank above snap-99999
        snaps = sorted(
            (x for x in os.listdir(self.ckpt) if x.startswith("snap-")),
            key=lambda s: int(s.split("-")[1]),
        )
        keep = max(1, self.cfg.keep_snapshots)  # 0 must not mean "keep all"
        # len-keep clamped at 0: a negative slice bound would wrap around
        # and delete all-but-the-last while the window is still FILLING
        # (2 snaps, keep 3 → snaps[:-1]) — keep_snapshots>2 silently
        # degraded to 1 retained snapshot forever
        for old in snaps[: max(0, len(snaps) - keep)]:
            if int(old.split("-")[1]) < epoch:
                shutil.rmtree(os.path.join(self.ckpt, old), ignore_errors=True)
        # post-compaction log cleanup (Iceberg expire-snapshots analog):
        # a delta/base dir is obsolete once it is covered by the new
        # compacted base AND no retained snapshot manifest could still
        # need it (resume falls back to an older manifest when the
        # latest is damaged — its reads must keep working)
        if compacted:
            kept = sorted(
                int(x.split("-")[1])
                for x in os.listdir(self.ckpt)
                if x.startswith("snap-")
            )
            oldest_kept = kept[0] if kept else epoch
            for name in compacted:
                base = self._log_dir(name)
                # a dir is deletable only if NO retained snapshot's read
                # could need it. Every retained snapshot s ≥ oldest_kept
                # reads base(s) = newest compact ≤ s plus commits in
                # (base(s), s]; base(s) ≥ base(oldest_kept), so keeping
                # the oldest snapshot's base and everything after it
                # keeps every retained read intact — delete only
                # compacts strictly older than base(oldest_kept) and
                # commits it covers.
                base_keep, _, _ = _log_parts(self.ckpt, name, oldest_kept)
                base_keep_epoch = (
                    int(os.path.basename(base_keep).split("-")[1])
                    if base_keep
                    else -1
                )
                for x in os.listdir(base):
                    if _LOG_DIR_RE.fullmatch(x) is None:
                        # stale .tmp from a crashed compaction — always junk
                        if x.endswith(".tmp"):
                            shutil.rmtree(os.path.join(base, x), ignore_errors=True)
                        continue
                    kind, xe = x.split("-")[0], int(x.split("-")[1])
                    # tombstones at/before base_keep are no-ops for every
                    # retained read (any surviving part has epoch ≥
                    # base_keep ≥ tombstone epoch) — deletable
                    covered = (
                        (kind == "commit" and xe <= base_keep_epoch)
                        or (kind == "compact" and xe < base_keep_epoch)
                        or (kind == "delete" and xe <= base_keep_epoch)
                    )
                    if covered:
                        shutil.rmtree(os.path.join(base, x), ignore_errors=True)
        # state is durable on disk now — safe to drop cached inputs
        for df in self._pending_unpersist:
            df.unpersist()
        self._pending_unpersist.clear()

    def latest_snapshot(self) -> int | None:
        snaps = sorted(
            (x for x in os.listdir(self.ckpt) if x.startswith("snap-")),
            key=lambda s: int(s.split("-")[1]),
        )
        for s in reversed(snaps):
            if os.path.exists(os.path.join(self.ckpt, s, "manifest.json")):
                return int(s.split("-")[1])
        return None

    def resume(self) -> None:
        """Load state from the latest committed snapshot."""
        epoch = self.latest_snapshot()
        if epoch is None:
            raise FileNotFoundError(f"no committed snapshot under {self.ckpt}")
        d = self._snap_dir(epoch)
        with open(os.path.join(d, "manifest.json")) as f:
            self._manifest = json.load(f)
        _check_format(self._manifest, self.ckpt)
        # the segments table's bytes are filter-kind-specific; a bloom
        # read of cuckoo bytes (or a prefilter read of an empty no-filter
        # table) would silently produce wrong membership answers
        have = self._manifest.get("seen_filter", "bloom")
        want = self.cfg.seen_filter
        if have != want:
            raise ValueError(
                f"snapshot was written with seen_filter={have!r}; engine is "
                f"configured with {want!r} — resume with the matching config"
            )
        if self._manifest.get("append_log"):
            for name in _FULL_TABLES:
                self._state[name] = self.spark.read.parquet(os.path.join(d, name))
            for name in _APPEND_TABLES:
                self._state[name] = self._read_log_table(name, epoch)
        else:
            for name in _STATE_TABLES:
                self._state[name] = self.spark.read.parquet(os.path.join(d, name))
            # if this engine commits in append mode, its first commit
            # must seed the log with the full pre-resume state
            self._log_needs_seed = True
        self._uncommitted = {}
        self._uncommitted_deletes = {}
        # the loaded epoch IS committed — without this, a run() that
        # stops before any new epoch would re-commit into the very
        # snapshot dir these lazy readers point at (overwrite-while-
        # reading AnalysisException, or a corrupted only-snapshot)
        self._last_committed = epoch

    # ---------------- crawl ----------------

    def init_seeds(self, seeds: list) -> None:
        """Seed the frontier (reference: --start url / seed lists,
        misc.clj:13-25). First occurrence wins; all enter URL-seen."""
        spark = self.spark
        cfg = self.cfg
        seed_df = spark.createDataFrame(
            [(u, i) for i, u in enumerate(seeds)], ["raw_url", "ord"]
        )
        canon = (
            seed_df.withColumn("url", canonicalize_expr(F.col("raw_url"), F.col("raw_url")))
            .filter(F.col("url").isNotNull())
            .withColumn(
                "__rn", F.row_number().over(Window.partitionBy("url").orderBy("ord"))
            )
            .filter(F.col("__rn") == 1)
        )
        frontier = with_global_seq(canon, ["ord"], "insertion_seq", 0).select(
            "url",
            F.xxhash64("url").alias("url_hash"),
            host_of_expr(F.col("url")).alias("host"),
            F.lit(None).cast("string").alias("src_url"),
            F.lit(None).cast("string").alias("src_text"),
            F.lit(None).cast("string").alias("src_xpath"),
            F.lit(0).alias("epoch_added"),
            "insertion_seq",
            F.lit("content").alias("queue"),
            F.lit(0).alias("depth"),
            F.array().cast("array<string>").alias("path"),
        )
        n_seeds = frontier.count()
        url_seen = frontier.select(
            bucket_expr(F.col("url_hash"), cfg.n_seen_buckets).alias("partition_id"),
            "url_hash",
            "url",
        )
        self._state = {
            "frontier": frontier,
            "url_seen": url_seen,
            "segments": self._build_segments(url_seen, None)
            if cfg.seen_filter != "none"
            else self.spark.createDataFrame([], "partition_id int, bits binary, n_items long"),
            "crawl_order": spark.createDataFrame([], CRAWL_ORDER_SCHEMA),
            "lineage": spark.createDataFrame([], LINEAGE_SCHEMA),
            "metrics": spark.createDataFrame([], METRICS_SCHEMA),
            "content_seen": spark.createDataFrame([], CONTENT_SEEN_SCHEMA),
            "extracted": spark.createDataFrame([], EXTRACTED_SCHEMA),
            "samples": spark.createDataFrame([], SAMPLES_SCHEMA),
        }
        self._manifest = {
            "epoch": -1, "next_seq": n_seeds, "dequeue_seq": 0, "leaves_fetched": 0,
            "pending": n_seeds, "seen_filter": cfg.seen_filter,
            "format": CHECKPOINT_FORMAT,
        }
        # the seed rows are commit 0's url_seen delta; every other
        # append table starts empty
        self._uncommitted = {"url_seen": [url_seen]}
        self._uncommitted_deletes = {}

    def _build_segments(self, new_rows, existing):
        """Dispatch to the configured seen-prefilter family (bloom
        bitmaps or deletable cuckoo fingerprints) — identical segment
        table shape either way."""
        if self.cfg.seen_filter == "cuckoo":
            from .cuckoo import build_cuckoo_segments

            return build_cuckoo_segments(new_rows, existing, self.cfg.cuckoo_n_buckets)
        return build_segments(new_rows, existing, self.cfg.bloom_m_bits)

    def _anti_join_seen(self, candidates, broadcast_probe):
        segments = self._state["segments"] if self.cfg.seen_filter != "none" else None
        if self.cfg.seen_filter == "cuckoo":
            from .cuckoo import cuckoo_anti_join_seen

            return cuckoo_anti_join_seen(
                candidates, self._state["url_seen"], segments, broadcast_probe
            )
        return anti_join_seen(
            candidates,
            self._state["url_seen"],
            segments,
            self.cfg.bloom_m_bits,
            broadcast_probe,
        )

    @staticmethod
    def _obs_get(obs, names, fallback, wait_s=10.0):
        """Observed metric values with a bounded wait. AQE can propagate
        a runtime-empty relation over an observed subtree and optimize
        the CollectMetrics node out wholesale — then the metrics future
        never completes and ``Observation.get`` would block forever.
        The observed inputs are persisted, so the exact fallback is one
        cheap cached scan; the wait only covers the async listener gap
        between action completion and metrics delivery."""
        try:
            fut = obs._jo.future()
        except Exception:
            # private pyspark surface (obs._jo / .future) moved in an
            # upgrade — every epoch would silently pay the fallback's
            # extra recompute jobs, so say it once, loudly
            if not CrawlEngine._warned_obs_fallback:
                CrawlEngine._warned_obs_fallback = True
                logger.warning(
                    "Observation future API unavailable (pyspark private "
                    "API changed?) — falling back to per-epoch metric "
                    "recompute jobs; epoch latency will regress"
                )
            return fallback()
        deadline = time.monotonic() + wait_s
        try:
            while not fut.isCompleted():
                if time.monotonic() >= deadline:
                    return fallback()
                time.sleep(0.02)
        except Exception:
            # a Py4J/JVM error while POLLING must degrade to the exact
            # fallback recompute, same as a failure acquiring the future —
            # not abort the epoch
            if not CrawlEngine._warned_obs_fallback:
                CrawlEngine._warned_obs_fallback = True
                logger.warning(
                    "Observation future polling failed (Py4J/JVM error?) — "
                    "falling back to per-epoch metric recompute jobs"
                )
            return fallback()
        try:
            row = obs.get
        except Exception:
            # AQE optimized the CollectMetrics node out over a runtime-
            # empty relation: the future "completes" with no row and
            # toPyRow raises — the expected per-epoch empty-batch case,
            # not API drift, so no warning here
            return fallback()
        return tuple(row[n] for n in names)

    def _bcast(self, df: DataFrame, approx_rows: int | None) -> DataFrame:
        """Size-guarded broadcast for epoch-batch build sides:
        broadcast while *approx_rows* (an UPPER BOUND on df's rows —
        selected ⊆ pending, survivors ≤ candidates) stays under
        ``cfg.broadcast_max_rows``, else hint a shuffle-hash join so
        Spark hashes the batch side instead of building a
        beyond-ceiling broadcast. The fallback is strategy-only — join
        keys and semantics are untouched, and exact-parity tests run
        the engine with a forced-tiny threshold to prove it
        (tests/test_broadcast_guard.py)."""
        if approx_rows is None or approx_rows <= self.cfg.broadcast_max_rows:
            return F.broadcast(df)
        return df.hint("shuffle_hash")

    def _assign_seq(self, df, order_cols, seq_col, start, n_rows):
        """Sequence assignment: single-partition window for batches that
        fit one task comfortably (the quota-bounded common case), the
        two-phase range assignment beyond (the 10^10 path)."""
        if n_rows <= self.cfg.seq_fast_path_rows:
            w = Window.orderBy(*[F.col(c) for c in order_cols])
            return df.withColumn(
                seq_col, (F.row_number().over(w) - 1 + F.lit(start)).cast("long")
            )
        return with_global_seq(df, order_cols, seq_col, start)

    def _expire_seen(self, expire_epoch: int, epoch: int) -> None:
        """TTL expiry: drop from URL-seen every url whose LATEST
        scheduling was at *expire_epoch*. The candidate set is one
        epoch's quota-bounded batch (broadcastable, like the fetch
        join). *epoch* is the current epoch — the deletion's sequence
        number in the tombstone log."""
        expired = expired_urls(self._state["crawl_order"], expire_epoch).persist()
        try:
            n_expired = expired.count()
            if n_expired == 0:
                return
            self._state["url_seen"] = self._state["url_seen"].join(
                self._bcast(expired, n_expired), "url", "left_anti"
            )
            # record the tombstone (keys only) for the next commit, and
            # scrub the keys from any not-yet-committed append parts —
            # a delete-E tombstone only covers parts written BEFORE
            # epoch E, and deferred commits would land pre-expiry rows
            # in a part stamped at the later commit epoch
            tomb_tables = ["url_seen"] + (
                ["extracted"] if self._alias_map is not None else []
            )
            for name in tomb_tables:
                self._uncommitted_deletes.setdefault(name, []).append(
                    (epoch, expired)
                )
                if self._uncommitted.get(name):
                    self._uncommitted[name] = [
                        p.join(self._bcast(expired, n_expired), "url", "left_anti")
                        for p in self._uncommitted[name]
                    ]
            if self.cfg.seen_filter == "cuckoo":
                # EngineConfig.__post_init__ rejects bloom+TTL, so the
                # only prefilter reaching expiry is cuckoo — O(expired)
                # fingerprint deletes, untouched segments pass through
                # byte-identical. (The old bloom path rebuilt the whole
                # filter from survivors every expiry epoch — O(total).)
                from .cuckoo import delete_from_cuckoo_segments

                keys = expired.withColumn(
                    "url_hash", F.xxhash64("url")
                ).withColumn(
                    "partition_id",
                    bucket_expr(F.col("url_hash"), self.cfg.n_seen_buckets),
                )
                self._state["segments"] = delete_from_cuckoo_segments(
                    self._state["segments"], keys
                )
            if self._alias_map is not None:
                # an expired page must re-extract on refetch, not count
                # as a redirect-cache hit
                self._state["extracted"] = self._state["extracted"].join(
                    self._bcast(expired, n_expired), "url", "left_anti"
                )
            # pin the expiry result: the seen/segments lineage must not
            # re-evaluate the anti-joins per downstream action
            for name in ("url_seen", "segments", "extracted"):
                self._state[name] = self._state[name].localCheckpoint(eager=False)
        finally:
            self._pending_unpersist.append(expired)

    def run_epoch(self) -> dict:
        """One scheduling epoch; returns this epoch's metrics row."""
        cfg = self.cfg
        spark = self.spark
        epoch = self._manifest["epoch"] + 1
        next_seq = self._manifest["next_seq"]
        dequeue_seq = self._manifest["dequeue_seq"]

        if cfg.recrawl_ttl_epochs is not None and epoch - cfg.recrawl_ttl_epochs >= 0:
            self._expire_seen(epoch - cfg.recrawl_ttl_epochs, epoch)

        from pyspark.sql import Observation

        frontier = self._state["frontier"]
        # the frontier row count is known WITHOUT a job: the manifest
        # maintains pending = |rest| + |new rows| at the end of every
        # epoch (init_seeds seeds it). It is only a strategy hint here
        # (dequeue salting path, sequence fast path) — all metrics come
        # from exact observations that ride the one epoch action
        n_pending_hint = self._manifest.get("pending")
        if n_pending_hint is None:  # resumed from a pre-"pending" manifest
            n_pending_hint = frontier.count()
        if self._robots_bcast is None:
            self._robots_bcast = (
                self.robots.count() <= cfg.broadcast_max_rows
            )
        obs_flag = Observation()
        flag_aggs = (
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.col("__disallowed").cast("long")), F.lit(0)).alias("d"),
        )
        flagged = (
            politeness.with_disallowed_flag(
                frontier, self.robots, bcast=self._robots_bcast
            )
            .observe(obs_flag, *flag_aggs)
            .persist()
        )
        allowed = flagged.filter(~F.col("__disallowed")).drop("__disallowed")
        selected_raw, rest = politeness.dequeue(
            allowed, self.robots, cfg.epoch_ms,
            approx_rows=n_pending_hint, bcast=self._robots_bcast,
        )
        obs_sel = Observation()
        selected_raw = selected_raw.observe(obs_sel, F.count(F.lit(1)).alias("n"))
        selected_raw.persist()
        # n_rows is an upper bound (selected ⊆ pending) — it only picks
        # the sequence strategy, the assigned seqs don't depend on it
        selected = self._assign_seq(
            selected_raw, ["insertion_seq"], "seq", dequeue_seq, n_pending_hint
        )

        # redirect resolution (S3): scheduled urls that are aliases fetch
        # their canonical page. alias_map streams; the batch broadcasts.
        # fetch: broadcast the quota-bounded batch into the corpus scan —
        # the corpus (10^10-row side) never shuffles
        sel_urls = selected.select("seq", "url", "depth")
        fetch_cols = list(FETCH_COLS)
        if cfg.track_content_dups:
            fetch_cols.append("caption")
        if self._alias_map is not None:
            am = self._alias_map.join(
                self._bcast(sel_urls, n_pending_hint),
                self._alias_map["alias_url"] == sel_urls["url"],
                "inner",
            ).select("seq", "final_url")
            # fetch keys carry a priority: a requested url that IS a
            # corpus page wins over any alias mapping it also has
            # (oracle precedence `by_url.get(u) or by_alias.get(u)`);
            # the alias target only lands when the direct key found no
            # page. One corpus scan serves both key sets.
            keys = sel_urls.select(
                "seq",
                F.col("url").alias("requested_url"),
                F.col("url").alias("__join_url"),
                F.lit(0).alias("__prio"),
                "depth",
            ).unionByName(
                sel_urls.join(self._bcast(am, n_pending_hint), "seq").select(
                    "seq",
                    F.col("url").alias("requested_url"),
                    F.col("final_url").alias("__join_url"),
                    F.lit(1).alias("__prio"),
                    "depth",
                )
            )
            w_prio = Window.partitionBy("seq").orderBy("__prio")
            fetched = (
                self.corpus.join(
                    self._bcast(keys, 2 * n_pending_hint),
                    self.corpus["url"] == keys["__join_url"],
                    "inner",
                )
                .withColumn("__prn", F.row_number().over(w_prio))
                .filter(F.col("__prn") == 1)
                .select(*fetch_cols)
            )
        else:
            resolved = sel_urls.select(
                "seq", F.col("url").alias("requested_url"), "url", "depth"
            )
            fetched = self.corpus.join(
                self._bcast(resolved, n_pending_hint), "url", "inner"
            ).select(
                *fetch_cols
            )
        if self._alias_map is not None:
            # redirect cache (sequential semantics): a fetch resolving to
            # a page already extracted — in an earlier epoch (extracted
            # table) or earlier in this batch (smaller seq, same page) —
            # is counted as fetched but not re-extracted
            w_dup = Window.partitionBy("url").orderBy("seq")
            prev_hits = self._state["extracted"].join(
                self._bcast(fetched.select("url").distinct(), n_pending_hint),
                "url", "left_semi"
            ).withColumn("__prev", F.lit(True))
            fetched = (
                fetched.withColumn("__dup_rn", F.row_number().over(w_dup))
                .join(self._bcast(prev_hits, n_pending_hint), "url", "left")
                .withColumn(
                    "__cache_hit",
                    (F.col("__dup_rn") > 1) | F.col("__prev").isNotNull(),
                )
                .drop("__dup_rn", "__prev")
            )
        else:
            fetched = fetched.withColumn("__cache_hit", F.lit(False))
        # fetch/candidate counters ride the plan as CollectMetrics
        # (Observation API): they are computed DURING the one action that
        # materializes the survivors, instead of costing one extra Spark
        # job each — per-epoch driver job count is the local throughput
        # ceiling (and the per-commit latency floor on a cluster)
        obs_fetch = Observation()
        fetch_aggs = (
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum((F.col("is_leaf") & ~F.col("__cache_hit")).cast("long")),
                F.lit(0),
            ).alias("lv"),
        )
        fetched = fetched.observe(obs_fetch, *fetch_aggs)
        fetched.persist()
        extract_input = fetched.filter(~F.col("__cache_hit")).drop(
            "__cache_hit", "requested_url"
        )
        if self._alias_map is not None:
            self._append_state("extracted", extract_input.select("url"))

        n_neardup = 0
        if cfg.track_content_dups:
            # reference seen?: a fetched page is a near-dup if its
            # normalized caption was fetched before (earlier epoch OR
            # earlier in this epoch's dequeue order)
            from .operators.dedup import md5_hash61, normalize_text

            hashes = extract_input.select(
                "seq", md5_hash61(normalize_text(F.col("caption"))).alias("caption_hash")
            )
            w_h = Window.partitionBy("caption_hash").orderBy("seq")
            firsts = hashes.withColumn("__rn", F.row_number().over(w_h)).filter(
                F.col("__rn") == 1
            )
            fresh_hashes = firsts.join(
                self._state["content_seen"], "caption_hash", "left_anti"
            ).select("caption_hash")
            fresh_hashes.persist()
            n_fresh = fresh_hashes.count()
            n_extracted = extract_input.count()
            n_neardup = n_extracted - n_fresh
            self._append_state("content_seen", fresh_hashes)

        # links_extracted (the oracle's links_ct: canonical links before
        # the same-host filter) rides the candidate stream
        obs_links = Observation() if cfg.detailed_metrics else None
        cand_all = extract_candidates(extract_input, dedup=False, observation=obs_links)
        if cfg.model_xpaths is not None or cfg.model_action_seq is not None:
            # harvest mode: the learned model decides which links exist.
            # src_text is nullable — NULL rlike would make BOTH branches
            # NULL and silently drop a model-matched link the oracle
            # keeps (it matches on `text or ''`), so anchor on ''
            is_digit = F.coalesce(F.col("src_text"), F.lit("")).rlike("^[0-9]+$")
            if cfg.paging_model:
                # per-source pagination (crawl.clj:358-390: the paging
                # action AND its refinement are keyed by the parent's
                # action seq). The parent's entry rides in as ONE small
                # struct via size-guarded joins — model into the
                # quota-bounded batch by path, batch into the candidates
                # by src_seq — so the candidate stream never carries the
                # path array itself.
                from .operators.xpath_model import href_path_tokens

                sel_pg = selected.join(
                    self._bcast(self._paging, len(cfg.paging_model)), "path"
                ).select(F.col("seq").alias("src_seq"), "__pg")
                cand_all = cand_all.join(
                    self._bcast(sel_pg, n_pending_hint), "src_seq", "left"
                )
                toks = href_path_tokens("url")
                pg = F.col("__pg")
                keep_paging = (
                    is_digit
                    & pg.isNotNull()
                    & (F.col("src_xpath") == pg["xpath"])
                    # the learned refinement gates the paging hop
                    # (eval-anchor-xpath-refined, dom.clj:599-631:
                    # :only restricts, then :avoid drops); a link that
                    # fails falls through to content eligibility
                    & ~F.exists(
                        pg["avoid"], lambda a: F.array_contains(toks, a)
                    )
                    & (
                        (F.size(pg["only"]) == 0)
                        | F.exists(
                            pg["only"], lambda t: F.array_contains(toks, t)
                        )
                    )
                )
            elif cfg.paging_xpaths:
                keep_paging = is_digit & F.col("src_xpath").isin(
                    list(cfg.paging_xpaths)
                )
            else:
                keep_paging = F.lit(False)
            if cfg.model_action_seq is not None:
                # depth-indexed plan (xpath-to-pick, crawl.clj:200-202):
                # the page's depth selects THE one content action; pages
                # past the plan's last step expand nothing. try_element_at
                # is 1-based and returns NULL past the end (ANSI-safe) —
                # the equality then evaluates NULL → filtered.
                action = F.try_element_at(
                    F.array(*[F.lit(x) for x in cfg.model_action_seq]),
                    F.col("src_depth") + 1,
                )
                keep_content = ~keep_paging & (F.col("src_xpath") == action)
            else:
                keep_content = ~keep_paging & F.col("src_xpath").isin(
                    list(cfg.model_xpaths)
                )
            cand_all = cand_all.filter(keep_paging | keep_content).withColumn(
                "queue", F.when(keep_paging, F.lit("paging")).otherwise(F.lit("content"))
            ).drop("__pg")
        if cfg.refine_avoid or cfg.refine_only:
            # learned refinement (:only restriction first, then :avoid,
            # dom.clj:599-631) — dropped BEFORE the seen check and
            # before the candidate count observation (not dups; outside
            # the refined plan), mirroring the reference's
            # eval-anchor-xpath-refined extraction-time filter
            from .operators.xpath_model import apply_refinement

            av, on = dict(cfg.refine_avoid), dict(cfg.refine_only)
            ref = spark.createDataFrame(
                [
                    (xp, list(on.get(xp, ())), list(av.get(xp, ())))
                    for xp in sorted(set(av) | set(on))
                ],
                "xpath string, only array<string>, avoid array<string>",
            )
            cand_all = apply_refinement(
                cand_all, ref, xpath_col="src_xpath", href_col="url"
            )
        cand_all = cand_all.withColumn("url_hash", F.xxhash64("url")).withColumn(
            "partition_id", bucket_expr(F.col("url_hash"), cfg.n_seen_buckets)
        )
        # oracle's dups_dropped counts every non-enqueued same-host
        # occurrence, so the count observes BEFORE within-batch dedup
        obs_cand = Observation()
        cand_all = cand_all.observe(obs_cand, F.count(F.lit(1)).alias("n"))
        cand_all.persist()
        w_first = Window.partitionBy("url").orderBy("src_seq", "pos")
        candidates = (
            cand_all.withColumn("__rn", F.row_number().over(w_first))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        closure = None
        if self._alias_map is not None:
            # redirect closure: a followed redirect inserts the canonical
            # url into url_seen at its fetch seq — sequentially BEFORE
            # link extraction of that page and every later page, so
            # candidates from src_seq ≥ the closure seq are dups
            closure = fetched.filter(
                F.col("requested_url") != F.col("url")
            ).select("seq", "url")
            closure.persist()
            candidates = candidates.join(
                self._bcast(
                    closure.select(
                        F.col("url").alias("__curl"), F.col("seq").alias("__cseq")
                    ),
                    n_pending_hint,
                ),
                (F.col("url") == F.col("__curl"))
                & (F.col("__cseq") <= F.col("src_seq")),
                "left_anti",
            )

        scan_only = next_seq > cfg.scan_only_seen_rows
        survivors_raw = self._anti_join_seen(candidates, broadcast_probe=scan_only)
        survivors_raw.persist()
        n_new = survivors_raw.count()  # the ONE action: fires every observation
        (n_fetched, n_leaves) = self._obs_get(
            obs_fetch, ("n", "lv"), lambda: tuple(fetched.agg(*fetch_aggs).first())
        )
        (n_candidates,) = self._obs_get(
            obs_cand, ("n",), lambda: (cand_all.count(),)
        )
        (n_selected,) = self._obs_get(
            obs_sel, ("n",), lambda: (selected_raw.count(),)
        )
        (n_pending, n_disallowed) = self._obs_get(
            obs_flag, ("n", "d"), lambda: tuple(flagged.agg(*flag_aggs).first())
        )
        (n_links,) = (
            self._obs_get(
                obs_links, ("n",), lambda: (canonical_links(extract_input).count(),)
            )
            if cfg.detailed_metrics
            else (n_candidates,)
        )
        survivors = self._assign_seq(
            survivors_raw, ["src_seq", "pos"], "insertion_seq", next_seq, n_new
        )

        base_cols = [
            "url", "url_hash", "host",
            "src_url", "src_text", "src_xpath",
            F.lit(epoch + 1).alias("epoch_added"),
            "insertion_seq",
            "queue",
            # content hops advance plan depth; paging hops keep the
            # parent's (crawl.clj:525-528)
            F.when(F.col("queue") == "paging", F.col("src_depth"))
            .otherwise(F.col("src_depth") + 1)
            .cast("int")
            .alias("depth"),
        ]
        if cfg.track_paths:
            # action paths re-attach HERE, not on the candidate stream:
            # the parent's path joins in from the quota-bounded selected
            # batch keyed by src_seq (size-guarded broadcast — n_selected
            # is exact by now), so the (10^10-scale) link explosion,
            # dedup shuffle, and Arrow seen probe never carry the array
            sel_paths = selected.select(
                F.col("seq").alias("src_seq"), F.col("path").alias("src_path")
            )
            new_frontier_rows = survivors.join(
                self._bcast(sel_paths, n_selected), "src_seq"
            ).select(
                *base_cols,
                # action path mirrors depth: content hops append their
                # src_xpath (reference src-path conj, crawl.clj:200-202),
                # paging hops keep the parent's — len(path) == depth
                F.when(F.col("queue") == "paging", F.col("src_path"))
                .otherwise(F.concat(F.col("src_path"), F.array(F.col("src_xpath"))))
                .alias("path"),
            )
        else:
            # throughput mode: no re-attach join, empty path arrays keep
            # the schema (and every downstream write) unchanged
            new_frontier_rows = survivors.select(
                *base_cols, F.array().cast("array<string>").alias("path")
            )
        n_frontier_added = n_new
        if cfg.exemplar_sampling:
            # E2 (prepare-example, crawl.clj:532-629): seeded per-group
            # sample → "download" (corpus join) → single-linkage cluster
            # → one exemplar per cluster enters the frontier. Everything
            # up to the clustering is codegen (window rank over the md5
            # order + a broadcast of the sampled batch into the corpus
            # scan, the same no-corpus-shuffle shape as the fetch join);
            # the per-group union-find itself is the documented
            # applyInPandas stage (crawler_spark/exemplar.py).
            from .exemplar import assign_exemplars
            from .operators.dedup import md5_hash61

            w_grp = Window.partitionBy("src_url", "src_xpath")
            ranked = (
                survivors.withColumn("__h", md5_hash61(F.col("url")))
                .withColumn(
                    "__rn",
                    F.row_number().over(w_grp.orderBy("__h", "url")),
                )
                .withColumn("__n", F.count(F.lit(1)).over(w_grp))
            )
            sampled = ranked.filter(
                F.col("__rn")
                <= F.greatest(F.lit(10), F.floor(F.col("__n") / 4))
            ).select("src_url", "src_xpath", "url")
            hits = self.corpus.select(
                "url", "caption", "is_leaf"
            ).join(self._bcast(sampled, n_new), "url")
            misses = sampled.join(
                self._bcast(hits.select("url"), n_new), "url", "left_anti"
            ).select(
                "src_url", "src_xpath", "url",
                F.lit(None).cast("string").alias("caption"),
                F.lit(None).cast("boolean").alias("is_leaf"),
            )
            assigned = assign_exemplars(
                hits.select("src_url", "src_xpath", "url", "caption", "is_leaf")
                .unionByName(misses),
                cfg.exemplar_cosine_threshold,
            )
            assigned.persist()
            self._append_state(
                "samples",
                assigned.select(
                    F.lit(epoch).cast("int").alias("epoch"),
                    "src_url", "src_xpath", "url", "cluster_id",
                    "exemplar", "is_leaf",
                ),
            )
            exemplar_urls = assigned.filter(F.col("exemplar")).select("url")
            new_frontier_rows = new_frontier_rows.join(
                self._bcast(exemplar_urls, n_new), "url", "left_semi"
            )
            n_frontier_added = new_frontier_rows.count()
            self._pending_unpersist.append(assigned)
        new_seen = survivors.select("partition_id", "url_hash", "url")
        if closure is not None:
            # canonical urls reached via redirect enter url_seen too —
            # unless already seen, or enqueued as a candidate this epoch
            closure_urls = (
                closure.select("url")
                .distinct()
                .withColumn("url_hash", F.xxhash64("url"))
                .withColumn(
                    "partition_id", bucket_expr(F.col("url_hash"), cfg.n_seen_buckets)
                )
            )
            closure_new = self._anti_join_seen(
                closure_urls, broadcast_probe=scan_only
            ).join(new_seen.select("url"), "url", "left_anti")
            new_seen = new_seen.unionByName(
                closure_new.select("partition_id", "url_hash", "url")
            )
        self._append_state("url_seen", new_seen)
        if cfg.seen_filter != "none":
            self._state["segments"] = self._build_segments(
                new_seen, self._state["segments"]
            )
        self._state["frontier"] = rest.select(*[f.name for f in FRONTIER_SCHEMA]).unionByName(
            new_frontier_rows
        )
        order_rows = selected.select(
            "seq", "url", F.lit(epoch).alias("epoch"), "host", "path"
        )
        self._append_state("crawl_order", order_rows)
        self._append_state(
            "lineage",
            new_seen.groupBy("partition_id")
            .agg(F.count("*").alias("rows_added"))
            .select(F.lit(epoch).alias("epoch"), "partition_id", "rows_added"),
        )

        m = dict(
            epoch=epoch,
            urls_scheduled=n_selected,
            pages_fetched=n_fetched,
            links_extracted=n_links,
            links_enqueued=n_new,
            dups_dropped=n_candidates - n_new,
            disallowed_dropped=n_disallowed,
            leaves_fetched=n_leaves,
            neardup_fetched=n_neardup,
        )
        self._append_metrics(m)
        self._manifest.update(
            epoch=epoch,
            next_seq=next_seq + n_new,
            dequeue_seq=dequeue_seq + n_selected,
            leaves_fetched=self._manifest.get("leaves_fetched", 0) + n_leaves,
            neardups=self._manifest.get("neardups", 0) + n_neardup,
            pending=n_pending - n_disallowed - n_selected + n_frontier_added,
        )
        # persisted inputs stay cached until the next commit so deferred
        # state evaluation between commits never recomputes them
        self._pending_unpersist.extend([flagged, selected_raw, fetched, cand_all,
                                        survivors_raw])
        if closure is not None:
            self._pending_unpersist.append(closure)
        if cfg.commit_every <= 1 or (epoch + 1) % cfg.commit_every == 0:
            self._commit(epoch)
        else:
            # truncate the lineage of the tables the NEXT epoch reads —
            # without this every downstream action re-runs this epoch's
            # joins/windows/bloom cogroups (measured 10× epoch-loop
            # slowdown). LAZY checkpoints: the next epoch's single
            # action (or the commit) touches frontier+url_seen+segments
            # in one plan, so all of them materialize inside that ONE
            # job instead of costing one eager job each here. Results
            # are deterministic pre-materialization (hash-partitioned
            # windows only — the range-partitioned sequence path does
            # its own eager freeze in with_global_seq), so lazy is safe.
            # The append-only tables (crawl_order/lineage/metrics) are
            # only read at commit time and stay unwrapped;
            # content_seen/extracted only change when their feature is on
            tables = ["frontier", "url_seen", "segments"]
            if cfg.track_content_dups:
                tables.append("content_seen")
            if self._alias_map is not None:
                tables.append("extracted")
            for name in tables:
                self._state[name] = self._state[name].localCheckpoint(eager=False)
        return m

    def _append_metrics(self, m: dict) -> None:
        row = self.spark.createDataFrame([tuple(m[f.name] for f in METRICS_SCHEMA)],
                                         METRICS_SCHEMA)
        self._append_state("metrics", row)

    def run(self, seeds: list | None = None) -> dict:
        """Run to completion (frontier drained / max_epochs / max_pages).
        Pass seeds to start fresh; omit to continue loaded/resumed state."""
        if seeds is not None:
            # fresh start invalidates any snapshots already in this
            # checkpoint dir — and leaving them would corrupt the new
            # run: stale HIGHER-numbered snaps would rank above the new
            # epoch-0 commit, so the keep-latest-K pruner would delete
            # the live snapshot out from under its lazy readers
            # (observed: FileNotFoundException on snap-00000 parquet)
            for s in os.listdir(self.ckpt):
                if s.startswith("snap-"):
                    shutil.rmtree(os.path.join(self.ckpt, s), ignore_errors=True)
            # the append log is part of the same history — stale delta
            # files would resurrect a previous run's rows on reload
            shutil.rmtree(os.path.join(self.ckpt, "log"), ignore_errors=True)
            # a previous run's _last_committed must not satisfy the
            # end-of-run safety-commit check for this fresh run (same
            # epoch numbers recur, so a stale value would skip the final
            # commit and leave zero snapshots on disk)
            self._last_committed = None
            self.init_seeds(seeds)
        while True:
            epoch = self._manifest["epoch"] + 1
            if epoch >= self.cfg.max_epochs:
                break
            if (
                self.cfg.max_pages is not None
                and self._manifest["dequeue_seq"] >= self.cfg.max_pages
            ):
                break
            if (
                self.cfg.leaf_limit is not None
                and self._manifest.get("leaves_fetched", 0) >= self.cfg.leaf_limit
            ):
                break
            if (
                self.cfg.content_dup_stop is not None
                and self._manifest.get("neardups", 0) >= self.cfg.content_dup_stop
            ):
                break
            pending = self._manifest.get("pending")
            if pending is None:  # resumed from a pre-"pending" manifest
                pending = self._state["frontier"].count()
            if pending == 0:
                break
            self.run_epoch()
        # with commit_every > 1, make sure the final state is durable
        if (
            self._manifest["epoch"] >= 0
            and getattr(self, "_last_committed", None) != self._manifest["epoch"]
        ):
            self._commit(self._manifest["epoch"])
        return self._manifest

    # ---------------- result accessors ----------------

    @property
    def crawl_order(self) -> DataFrame:
        return self._state["crawl_order"].orderBy("seq")

    @property
    def url_seen(self) -> DataFrame:
        return self._state["url_seen"]

    @property
    def metrics(self) -> DataFrame:
        return self._state["metrics"].orderBy("epoch")

    @property
    def lineage(self) -> DataFrame:
        return self._state["lineage"]

    @property
    def samples(self) -> DataFrame:
        """E2 sampling evidence (exemplar_sampling mode): one row per
        downloaded sample with its structural cluster, exemplar flag,
        and leaf label — the learner's :leaf-paths/:corpus input."""
        return self._state["samples"].orderBy("epoch", "src_url", "src_xpath", "url")
