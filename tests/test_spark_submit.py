"""True spark-submit --py-files deployment test (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Packages crawler_spark into a zip, then launches a REAL ``spark-submit``
subprocess from a neutral cwd (so the package is importable ONLY from
the --py-files zip) and runs a short crawl through the CLI. Asserts the
run exits 0, commits a snapshot, and wrote crawl_order rows — i.e. the
artifact a cluster operator ships is self-contained.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


def test_local_session_gives_python_workers_the_package(spark):
    """A plain-python session puts the package's parent directory first
    on its Python workers' path, so mapInPandas/applyInPandas bodies
    import crawler_spark whatever directory the session started in."""
    path = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert path is not None and path.split(os.pathsep)[0] == REPO


def test_submitted_session_keeps_operator_partitions(spark, monkeypatch):
    """Under spark-submit (PYSPARK_GATEWAY_PORT set) get_spark leaves the
    operator's spark.sql.shuffle.partitions alone unless the caller
    asks for a count. Conf-only: getOrCreate returns the shared session
    and applies the builder's settings to it."""
    from crawler_spark.session import get_spark

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
        assert get_spark() is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        get_spark(shuffle_partitions=5)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_crawl(tmp_path):
    sys.path.insert(0, REPO)
    from scripts.package_pyfiles import build

    zip_path = build(str(tmp_path / "crawler_spark.zip"))
    seeds = tmp_path / "seeds.txt"
    # first page of synth host0 (same seed the CLI tests use)
    seeds.write_text("http://host0.test/p/0/img-42-00000000\n")
    ck = tmp_path / "ck"
    env = dict(os.environ)
    # neutral cwd: the repo must NOT be on the import path — only the zip
    env.pop("PYTHONPATH", None)
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "crawler_spark", "cli.py"),
        "crawl",
        "--seeds", str(seeds),
        "--checkpoint", str(ck),
        "--epochs", "2",
        "--synth-pages", "200",
        "--synth-hosts", "5",
    ]
    proc = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"stderr tail: {proc.stderr[-2000:]}"
    snaps = sorted(d for d in os.listdir(ck) if d.startswith("snap-"))
    assert snaps, f"no snapshot committed under {ck}"
    manifest = json.loads((ck / snaps[-1] / "manifest.json").read_text())
    assert manifest["epoch"] >= 0
    # crawl_order parquet has rows (read via pyarrow, no Spark needed) —
    # append-only tables commit as delta files under log/<table>/
    import pyarrow.parquet as pq

    order_dir = ck / "log" / "crawl_order"
    n = sum(
        pq.read_table(os.path.join(root, f)).num_rows
        for root, _d, files in os.walk(order_dir)
        for f in files
        if f.endswith(".parquet")
    )
    assert n > 0, "crawl_order snapshot is empty"


def _submit_crawl(master, zip_path, seeds, ck, tmp_path, extra=()):
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    cmd = [
        SPARK_SUBMIT,
        "--master", master,
        "--conf", "spark.sql.shuffle.partitions=8",
        *extra,
        "--py-files", zip_path,
        os.path.join(REPO, "crawler_spark", "cli.py"),
        "crawl",
        "--seeds", str(seeds),
        "--checkpoint", str(ck),
        "--epochs", "2",
        "--synth-pages", "200",
        "--synth-hosts", "5",
    ]
    return subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600,
    )


def _crawl_order_rows(ck):
    import pyarrow.parquet as pq

    rows = []
    for root, _d, files in os.walk(os.path.join(str(ck), "log", "crawl_order")):
        for f in files:
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(root, f))
                rows += list(zip(t["seq"].to_pylist(), t["url"].to_pylist()))
    return sorted(rows)


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_multi_executor_cluster_matches_local(tmp_path):
    """north_rule: "run via spark-submit --py-files on a multi-executor
    cluster". local-cluster[2,2,1536] launches a REAL standalone
    mini-cluster — a master, two worker processes, two executor JVMs in
    their own processes fetching the --py-files zip over the driver's
    file server — the closest thing to a multi-node deployment one box
    can host. Asserts (a) the submitted master is honored (get_spark
    must NOT stomp it back to local mode: a session built under
    spark-submit skips .master(), crawler_spark/session.py), proven by
    the two granted remote executors in the driver log, and (b) the
    crawl over the distributed topology is bit-identical to the same
    crawl at local[4] — executor boundaries must not leak into crawl
    order."""
    sys.path.insert(0, REPO)
    from scripts.package_pyfiles import build

    zip_path = build(str(tmp_path / "crawler_spark.zip"))
    seeds = tmp_path / "seeds.txt"
    seeds.write_text("http://host0.test/p/0/img-42-00000000\n")

    cluster = _submit_crawl(
        "local-cluster[2,2,1536]", zip_path, seeds, tmp_path / "ck_cluster",
        tmp_path, extra=("--conf", "spark.executor.memory=1536m"),
    )
    assert cluster.returncode == 0, f"stderr tail: {cluster.stderr[-2000:]}"
    granted = cluster.stderr.count("Granted executor ID")
    assert granted >= 2, (
        f"expected 2 remote executors, saw {granted} grants — did the "
        "session fall back to local mode?"
    )

    local = _submit_crawl(
        "local[4]", zip_path, seeds, tmp_path / "ck_local", tmp_path,
    )
    assert local.returncode == 0, f"stderr tail: {local.stderr[-2000:]}"

    a = _crawl_order_rows(tmp_path / "ck_cluster")
    b = _crawl_order_rows(tmp_path / "ck_local")
    assert a and a == b, (
        f"cluster vs local crawl order diverged: {len(a)} vs {len(b)} rows"
    )
