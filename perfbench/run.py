"""Frontier benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload crawl_recrawl --seed 1 --seconds 18 --trace 0

Run from the root of a checkout of the repository. The program under
test is the ``crawler_spark`` package of that checkout; the benchmark
holds no copy of it, so without the package it exits non-zero and prints
no result. Inputs come from ``crawler_spark.synth`` seeded by
``--seed``. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, taken from the Spark event
log, job groups set around each call, and replayed layer calls, and are
also written to ``.perfbench_out/``. Scratch files live under
``.perfbench_scratch/`` in the checkout and are deleted at exit. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_recrawl", "image_dedup")
CORES = 2

# every per-layer metric, reported as 0 where a workload does not run
# the layer: name -> unit
LAYER_UNITS = {
    "session.start_s": "s",
    "synth.generate_s": "s",
    "warmup_s": "s",
    "engine.epoch_wall_s": "s",
    "engine.epoch_jobs": "count",
    "engine.epoch_stages": "count",
    "engine.epoch_tasks": "count",
    "engine.epoch_driver_s": "s",
    "engine.epoch_executor_s": "s",
    "engine.epoch_gc_s": "s",
    "engine.epoch_shuffle_bytes": "bytes",
    "engine.urls_per_crawl": "count",
    "engine.read_log_table_s": "s",
    "engine.read_log_table_jobs": "count",
    "engine.ckpt_bytes": "bytes",
    "engine.ckpt_files": "count",
    "engine.resume_s": "s",
    "engine.resume_call_s": "s",
    "engine.resume_jobs": "count",
    "engine.replay_sum_s": "s",
    "fetch.join_s": "s",
    "politeness.dequeue_s": "s",
    "extract.candidates_s": "s",
    "extract.codegen_fallbacks": "count",
    "seen.probe_s": "s",
    "seen.build_s": "s",
    "cuckoo.probe_s": "s",
    "cuckoo.build_s": "s",
    "cuckoo.delete_s": "s",
    "images.profile_executor_s": "s",
    "images.profile_gc_s": "s",
    "dedup.phash_pairs_s": "s",
    "dedup.phash_shuffle_bytes": "bytes",
    "dedup.caption_pairs_s": "s",
    "dedup.caption_shuffle_bytes": "bytes",
}
E2E_UNITS = {"setup_s": "s", "items_per_s": "1/s", "op_s": "s", "peak_rss_mb": "MB"}
CODEGEN_FALLBACK = "Code grows beyond 64 KB"


def since_process_start() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Bench:
    """What one run shares between the harness and its workload."""

    def __init__(self, args, scratch: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scratch = scratch
        self.layers: dict = {}
        self.roles: dict = defaultdict(list)
        self.setup_s = None
        self.spark = None
        self.groups = None

    @contextlib.contextmanager
    def setup_phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.layers[name] = time.perf_counter() - t0

    def end_setup(self):
        self.setup_s = since_process_start()
        self.roles.clear()

    def role(self, role: str, gid: str):
        if self.trace:
            self.roles[role].append(gid)

    def start_spark(self):
        from crawler_spark.session import get_spark
        from tracing import JobGroups

        tmp = os.path.join(self.scratch, "tmp")
        os.makedirs(tmp)
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.scratch, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.trace:
            events = os.path.join(self.scratch, "events")
            os.makedirs(events)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.setup_phase("session.start_s"):
            self.spark = get_spark(
                "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
                extra_conf=conf,
            )
        self.groups = JobGroups(self.spark, self.trace)


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(bench: Bench, result: dict, log_text: str) -> dict:
    """Per-layer metrics from the event log of a stopped traced run."""
    from tracing import attribute, read_event_log

    stats = attribute(read_event_log(os.path.join(bench.scratch, "events")), bench.groups.walls)
    out = {name: 0 for name in LAYER_UNITS}
    out.update(bench.layers)
    out.update(result["layers"])

    def of(role):
        return [stats[g] for g in bench.roles.get(role, [])]

    epochs = of("epoch")
    out.update({
        "engine.epoch_wall_s": _median(s.wall_s for s in epochs),
        "engine.epoch_jobs": _median(s.jobs for s in epochs),
        "engine.epoch_stages": _median(s.stages for s in epochs),
        "engine.epoch_tasks": _median(s.tasks for s in epochs),
        "engine.epoch_driver_s": _median(s.driver_s for s in epochs),
        "engine.epoch_executor_s": _median(s.executor_s for s in epochs),
        "engine.epoch_gc_s": _median(s.gc_s for s in epochs),
        "engine.epoch_shuffle_bytes": _median(s.shuffle_bytes for s in epochs),
        "engine.resume_call_s": _median(s.wall_s for s in of("resume")),
        "engine.resume_jobs": _median(s.jobs for s in of("resume")),
        "engine.read_log_table_s": _median(s.wall_s for s in of("read_log_table")),
        "engine.read_log_table_jobs": _median(s.jobs for s in of("read_log_table")),
        "images.profile_executor_s": _median(s.executor_s for s in of("images.profile")),
        "images.profile_gc_s": _median(s.gc_s for s in of("images.profile")),
        "dedup.phash_pairs_s": _median(s.wall_s for s in of("dedup.phash")),
        "dedup.phash_shuffle_bytes": _median(s.shuffle_bytes for s in of("dedup.phash")),
        "dedup.caption_pairs_s": _median(s.wall_s for s in of("dedup.caption")),
        "dedup.caption_shuffle_bytes": _median(s.shuffle_bytes for s in of("dedup.caption")),
    })
    # each replayed layer call "replay.<layer>" gives "<layer>_s"
    replayed = {
        role[len("replay."):] + "_s": stats[gids[0]].wall_s
        for role, gids in bench.roles.items() if role.startswith("replay.")
    }
    out.update(replayed)
    out["engine.replay_sum_s"] = sum(replayed.values())
    if bench.workload == "crawl_recrawl":
        out["extract.codegen_fallbacks"] = log_text.count(CODEGEN_FALLBACK)
    return out


def run_workload(bench: Bench) -> dict:
    if bench.workload == "image_dedup":
        from images_dedup import run_images

        return run_images(bench)
    from crawls import run_crawl

    return run_crawl(bench)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import crawler_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: the crawler_spark package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    # Spark's Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from tracing import RssSampler

    scratch_root = os.path.join(ROOT, ".perfbench_scratch")
    scratch = os.path.join(scratch_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(scratch)
    log_path = os.path.join(scratch, "stderr.log")
    # the Spark JVM inherits fd 2: its log lands in the run's scratch,
    # where the traced run counts codegen fallbacks
    saved_stderr = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    rss = RssSampler().start()
    bench = Bench(args, scratch)
    result, error = None, None
    try:
        bench.start_spark()
        result = run_workload(bench)
    except Exception:
        error = traceback.format_exc()
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        peak = rss.stop()
        sys.stderr.flush()
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)
        with open(log_path, errors="replace") as f:
            log_text = f.read()
    try:
        if error is not None:
            print(log_text[-4000:], file=sys.stderr)
            print(error, file=sys.stderr)
            return 1
        values = dict(result["metrics"], setup_s=bench.setup_s, peak_rss_mb=peak / 1e6)
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
        if bench.trace:
            # the file keeps the traced run's end-to-end figures too: their
            # difference from an untraced run is the tracing overhead
            traced = {"end_to_end": metrics}
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                       for k, v in per_layer(bench, result, log_text).items()}
            traced["per_layer"] = metrics
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump(traced, f, indent=1, sort_keys=True)
        for msg in result["failures"][:20]:
            print("perfbench check failed:", msg, file=sys.stderr)
        print(json.dumps({
            "correct": not result["failures"],
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": metrics,
        }))
        return 1 if result["failures"] else 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(scratch_root)


if __name__ == "__main__":
    sys.exit(main())
