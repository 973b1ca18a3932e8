"""fsck_store: driver-side structural integrity audit (Spark-free).

Builds a real store, then breaks it in each way fsck detects — missing
chunk files, orphan chunk files, commit entries naming absent pids,
dangling tombstones, out-of-range tombstone positions — and asserts the
report names the damage. The clean store must audit ok, shallow and deep.
"""

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.admin import fsck_store
from fsst_spark.jobs.encode import encode_job
from tests import REPO_ROOT


@pytest.fixture()
def store(spark, tmp_path):
    out = str(tmp_path / "store")
    df = (spark.range(0, 4000).withColumnRenamed("id", "doc_id")
          .withColumn("txt", F.concat(F.lit("body-"), F.col("doc_id"))))
    encode_job(spark, df, out, num_partitions=4, chunk_bytes=8 << 10,
               resume=False, unique_col="doc_id").collect()
    return out


def _kinds(report):
    return sorted({i["kind"] for i in report["issues"]})


def test_clean_store_is_ok_shallow_and_deep(store):
    shallow = fsck_store(store)
    assert shallow["ok"] and shallow["n_issues"] == 0
    assert shallow["n_chunk_files"] == shallow["n_manifest_pids"] == 4
    deep = fsck_store(store, deep=True)
    assert deep["ok"], deep["issues"]


def test_missing_and_orphan_chunk_files(store):
    os.remove(os.path.join(store, "chunks", "part-00001.parquet"))
    shutil.copy(os.path.join(store, "chunks", "part-00002.parquet"),
                os.path.join(store, "chunks", "part-00099.parquet"))
    r = fsck_store(store)
    assert not r["ok"]
    assert "manifest_without_chunks" in _kinds(r)
    assert "chunks_without_manifest" in _kinds(r)
    pids = {i["kind"]: i["pid"] for i in r["issues"]}
    assert pids["manifest_without_chunks"] == 1
    assert pids["chunks_without_manifest"] == 99


def test_commit_log_checks(store):
    from fsst_spark.sources.fsst_source import log_commit_snapshot

    log_commit_snapshot(store)
    assert fsck_store(store)["ok"]
    # a committed pid whose chunk file disappears is damage, and the
    # surviving-but-uncommitted case is info, not an issue
    os.remove(os.path.join(store, "chunks", "part-00003.parquet"))
    os.remove(os.path.join(store, "manifest", "part-00003.parquet"))
    r = fsck_store(store)
    assert "commit_names_missing_pid" in _kinds(r)
    # gap in the entry numbering
    cdir = os.path.join(store, "commits")
    entries = sorted(os.listdir(cdir))
    os.rename(os.path.join(cdir, entries[0]),
              os.path.join(cdir, "00000007.json"))
    r2 = fsck_store(store)
    assert "commit_gap" in _kinds(r2)


def test_dangling_tombstones_shallow_and_deep(store):
    ddir = os.path.join(store, "deletes")
    os.makedirs(ddir)
    tbl = pa.table({
        "pid": pa.array([0, 0, 77], pa.int32()),
        "chunk_id": pa.array([0, 999, 0], pa.int32()),
        "pos": pa.array([0, 0, 0], pa.int64()),
    })
    pq.write_table(tbl, os.path.join(ddir, "d-000.parquet"))
    r = fsck_store(store)
    assert "tombstone_dangling_pid" in _kinds(r)  # pid 77
    deep = fsck_store(store, deep=True)
    ks = _kinds(deep)
    assert "tombstone_dangling_chunk" in ks  # (0, 999)
    # the valid (0, 0, 0) tombstone raises nothing
    assert "tombstone_pos_out_of_range" not in ks


def test_deep_pos_out_of_range(store):
    ddir = os.path.join(store, "deletes")
    os.makedirs(ddir)
    tbl = pa.table({
        "pid": pa.array([0], pa.int32()),
        "chunk_id": pa.array([0], pa.int32()),
        "pos": pa.array([10 ** 9], pa.int64()),
    })
    pq.write_table(tbl, os.path.join(ddir, "d-000.parquet"))
    deep = fsck_store(store, deep=True)
    assert "tombstone_pos_out_of_range" in _kinds(deep)


def test_not_a_store(tmp_path):
    r = fsck_store(str(tmp_path / "nothing"))
    assert not r["ok"] and _kinds(r) == ["not_a_store"]


def test_cli_fsck_exit_codes(store):
    ok = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "fsck",
         "--data", store, "--deep"],
        capture_output=True, text=True, timeout=300, cwd=REPO_ROOT)
    assert ok.returncode == 0, ok.stderr[-2000:]
    assert json.loads(ok.stdout.strip().splitlines()[-1])["ok"] is True
    os.remove(os.path.join(store, "chunks", "part-00000.parquet"))
    bad = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "fsck",
         "--data", store],
        capture_output=True, text=True, timeout=300, cwd=REPO_ROOT)
    assert bad.returncode == 3
    rep = json.loads(bad.stdout.strip().splitlines()[-1])
    assert rep["n_issues"] > 0


def test_cli_fsck_family(spark, tmp_path):
    """Comma-separated family: per-store reports, aggregate verdict."""
    stores = []
    for i in range(2):
        out = str(tmp_path / f"s{i}")
        df = (spark.range(i * 100, (i + 1) * 100)
              .withColumnRenamed("id", "doc_id"))
        encode_job(spark, df, out, num_partitions=2, resume=False,
                   unique_col="doc_id").collect()
        stores.append(out)
    ok = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "fsck",
         "--data", ",".join(stores)],
        capture_output=True, text=True, timeout=300, cwd=REPO_ROOT)
    assert ok.returncode == 0, ok.stderr[-2000:]
    rep = json.loads(ok.stdout.strip().splitlines()[-1])
    assert rep["ok"] is True and rep["stores"] == 2
    os.remove(os.path.join(stores[1], "chunks", "part-00000.parquet"))
    bad = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "fsck",
         "--data", ",".join(stores)],
        capture_output=True, text=True, timeout=300, cwd=REPO_ROOT)
    assert bad.returncode == 3
    rep = json.loads(bad.stdout.strip().splitlines()[-1])
    assert rep["n_issues"] == 1
    assert rep["per_store"][0]["ok"] and not rep["per_store"][1]["ok"]
