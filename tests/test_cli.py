"""CLI smoke: the spark-submit entry points run end-to-end in a fresh
process (the CLI owns and stops its own SparkSession, so it cannot share
the test-session fixture)."""

import json
import os
import subprocess
import sys

import pytest

from tests import REPO_ROOT


def _run(*args):
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", *args],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=REPO_ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def synth_encoded(tmp_path_factory):
    """One ``synth --rows 400`` corpus and its default encode, shared by
    the CLI tests that only read them: ``(src, enc, encode JSON)``."""
    d = tmp_path_factory.mktemp("cli_synth")
    src, enc = str(d / "corpus"), str(d / "encoded")
    _run("synth", "--rows", "400", "--out", src)
    return src, enc, _run("encode", "--input", src, "--out", enc)


@pytest.fixture(scope="module")
def synth300(tmp_path_factory):
    """One ``synth --rows 300`` corpus, shared by the CLI tests that only
    read it and encode it their own way."""
    src = str(tmp_path_factory.mktemp("cli_synth300") / "corpus")
    _run("synth", "--rows", "300", "--out", src)
    return src


def test_cli_encode_then_selective_decode(tmp_path, synth_encoded):
    src = synth_encoded[0]
    enc = str(tmp_path / "encoded")
    dec = str(tmp_path / "decoded")
    r = _run("encode", "--input", src, "--out", enc, "--partitions", "4")
    assert r["rows"] == 400 and r["ratio"] > 1.5
    _run("decode", "--data", enc, "--out", dec,
         "--where", "url:>=:https://")
    import duckdb
    n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{dec}/*.parquet')").fetchone()[0]
    assert n == 400  # every synthetic url matches; selective path exercised


def test_cli_encode_fast_path_and_conjunctive_where(tmp_path, synth_encoded):
    """Without --partitions/--group-by a parquet input routes to the
    file-granular columnar encode (no JVM row hop); repeated --where
    clauses AND at the chunk level with values coerced by column type."""
    src, enc, r = synth_encoded
    dec = str(tmp_path / "decoded3")
    assert r["rows"] == 400 and r["ratio"] > 1.5
    _run("decode", "--data", enc, "--out", dec,
         "--where", "url:>=:https://", "--where", "url:<=:zzzz")
    import duckdb
    n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{dec}/*.parquet')").fetchone()[0]
    assert n == 400


def test_cli_compact_and_group_stats(tmp_path, synth_encoded):
    """compact merges small chunk files without decoding; group-stats
    answers GROUP BY from codec structure — both against the same synth
    corpus, cross-checked with DuckDB."""
    src = synth_encoded[0]
    enc = str(tmp_path / "encoded5")
    cmp_ = str(tmp_path / "compacted5")
    _run("encode", "--input", src, "--out", enc, "--partitions", "8")
    r = _run("compact", "--data", enc, "--out", cmp_, "--target-files", "2")
    assert r["in_files"] == 8 and r["out_files"] == 2 and r["rows"] == 400
    g = _run("group-stats", "--data", cmp_, "--key", "lang")
    import duckdb
    want = duckdb.sql(
        f"SELECT lang, count(*) FROM read_parquet('{src}/*.parquet') "
        "GROUP BY lang ORDER BY lang").fetchall()
    assert [(row["value"], row["cnt"]) for row in g] == want
    gs = _run("group-stats", "--data", cmp_, "--key", "lang",
              "--strlen", "text")
    want_sl = duckdb.sql(
        f"SELECT lang, count(*), count(text), sum(strlen(text)), "
        f"min(strlen(text)), max(strlen(text)) "
        f"FROM read_parquet('{src}/*.parquet') GROUP BY lang ORDER BY lang"
    ).fetchall()
    assert [(row["value"], row["n_rows"], row["n_values"], row["sum_bytes"],
             row["min_bytes"], row["max_bytes"]) for row in gs] == want_sl
    c = _run("count", "--data", cmp_, "--where", "lang:==:en")
    want_n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{src}/*.parquet') "
        "WHERE lang = 'en'").fetchone()[0]
    assert c["n_rows"] == want_n
    # the synth corpus's only int-like column is the timestamp: daily
    # buckets over its storage-unit ticks (timestamp[us])
    day_us = 86_400_000_000
    h = _run("histogram", "--data", cmp_, "--column", "warc_ts",
             "--width", str(day_us))
    want_h = duckdb.sql(
        f"SELECT CAST(floor(epoch_us(warc_ts) / {day_us}) AS BIGINT), "
        f"count(*) FROM read_parquet('{src}/*.parquet') "
        "GROUP BY 1 ORDER BY 1 NULLS LAST").fetchall()
    assert [(row["bucket"], row["cnt"]) for row in h] == want_h
    assert c["chunks_total"] == c["chunks_pruned"] + \
        c["chunks_metadata_only"] + c["chunks_decoded"]


def test_spark_submit_py_files_packaging(tmp_path):
    """North-rule shipping shape: zip the package, run a job via
    ``spark-submit --py-files fsst_spark.zip`` in a clean cwd (so the
    import MUST come from the zip), and verify the encode round-trips."""
    import shutil
    import zipfile

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on this host")

    pkg_zip = str(tmp_path / "fsst_spark.zip")
    with zipfile.ZipFile(pkg_zip, "w") as zf:
        for root, _dirs, files in os.walk(os.path.join(REPO_ROOT, "fsst_spark")):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    zf.write(p, os.path.relpath(p, REPO_ROOT))
    # driver script lives OUTSIDE the repo so nothing resolves accidentally
    driver = str(tmp_path / "driver.py")
    src, enc = str(tmp_path / "corpus"), str(tmp_path / "encoded")
    with open(driver, "w") as f:
        f.write(
            "import json\n"
            "from fsst_spark.jobs.session import get_spark\n"
            "from fsst_spark.jobs.encode import encode_job, read_manifest\n"
            "from fsst_spark.jobs.verify import roundtrip_summary\n"
            "from fsst_spark.synth.webcorpus import synth_web_df\n"
            "spark = get_spark('local[2]')\n"
            f"synth_web_df(spark, 200, seed=7).write.mode('overwrite').parquet({src!r})\n"
            f"encode_job(spark, spark.read.parquet({src!r}), {enc!r},\n"
            "           num_partitions=2, resume=False).collect()\n"
            f"ok = all(r['all_ok'] for r in roundtrip_summary(spark, {enc!r}).collect())\n"
            f"rows = read_manifest(spark, {enc!r}).groupBy().sum('n_rows').collect()[0][0]\n"
            "print(json.dumps({'ok': ok, 'rows': int(rows)}))\n"
            "spark.stop()\n"
        )
    out = subprocess.run(
        [spark_submit, "--master", "local[2]", "--py-files", pkg_zip, driver],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    r = json.loads(out.stdout.strip().splitlines()[-1])
    assert r == {"ok": True, "rows": 200}


def test_cli_stats_and_cluster_by(tmp_path, synth300):
    """--cluster-by url_sort_key(url) takes the expression path; the stats
    subcommand answers count/min/max from metadata and --exact-minmax
    recovers exact string bounds from boundary chunks."""
    src = synth300
    enc = str(tmp_path / "encoded4")
    r = _run("encode", "--input", src, "--out", enc,
             "--cluster-by", "url_sort_key(url)")
    assert r["rows"] == 300
    s = _run("stats", "--data", enc, "--columns", "warc_ts")
    assert s["warc_ts"]["n_rows"] == 300
    assert s["warc_ts"]["min"] <= s["warc_ts"]["max"]
    e = _run("stats", "--data", enc, "--columns", "url,lang",
             "--exact-minmax")
    import duckdb
    mn, mx = duckdb.sql(
        f"SELECT min(url), max(url) FROM read_parquet('{src}/*.parquet')"
    ).fetchone()
    assert e["url"]["min"] == mn and e["url"]["max"] == mx
    assert e["lang"]["n_chunks_decoded"] >= 1
    sl = _run("stats", "--data", enc, "--columns", "url,text", "--strlen")
    n, sm, mnb, mxb = duckdb.sql(
        f"SELECT count(url), sum(strlen(url)), min(strlen(url)), "
        f"max(strlen(url)) FROM read_parquet('{src}/*.parquet')").fetchone()
    assert sl["url"] == {"n_values": n, "sum_bytes": sm,
                         "avg_bytes": sl["url"]["avg_bytes"],
                         "min_bytes": mnb, "max_bytes": mxb}
    assert abs(sl["url"]["avg_bytes"] - sm / n) < 1e-9
    assert sl["text"]["sum_bytes"] >= sl["text"]["n_values"]


def test_cli_topk_and_distinct(synth_encoded):
    """topk answers ORDER BY..LIMIT from zone-candidate chunks; distinct
    answers from dict sections; both verified against the raw corpus."""
    src, enc, _ = synth_encoded
    t = _run("topk", "--data", enc, "--column", "warc_ts", "-k", "7")
    d = _run("distinct", "--data", enc, "--column", "lang")
    import duckdb
    # Spark TIMESTAMP collects as datetime; the CLI JSON stringifies it.
    # Session tz is pinned UTC (session.py) and DuckDB reads the same UTC
    # micros as naive wall time, so the string forms agree exactly.
    want_t = [str(r[0]) for r in duckdb.sql(
        f"SELECT warc_ts FROM read_parquet('{src}/*.parquet') "
        "ORDER BY warc_ts DESC LIMIT 7").fetchall()]
    want_d = sorted(r[0] for r in duckdb.sql(
        f"SELECT DISTINCT lang FROM read_parquet('{src}/*.parquet')"
    ).fetchall())
    assert t["values"] == want_t and t["n_chunks_total"] >= 1
    assert d["values"] == want_d and d["n_distinct"] == len(want_d)


def test_cli_ndv(synth_encoded):
    """ndv answers approx distinct counts from HLL sketches alone; at test
    cardinalities (linear-counting regime) the estimates are near-exact."""
    src, enc, _ = synth_encoded
    n = _run("ndv", "--data", enc, "--columns", "url,lang")
    import duckdb
    want_url, want_lang = duckdb.sql(
        f"SELECT count(DISTINCT url), count(DISTINCT lang) "
        f"FROM read_parquet('{src}/*.parquet')").fetchone()
    assert abs(n["url"] - want_url) <= max(2, 0.06 * want_url)
    assert n["lang"] == want_lang


def test_cli_decode_where_any(tmp_path, synth_encoded):
    """--where-any ORs predicates (combined with --where as CNF)."""
    src, enc, _ = synth_encoded
    dec = str(tmp_path / "decoded7")
    _run("decode", "--data", enc, "--out", dec,
         "--where-any", "lang:==:de", "--where-any", "lang:==:fr")
    import duckdb
    got = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{dec}/*.parquet')").fetchone()[0]
    want = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{src}/*.parquet') "
        "WHERE lang IN ('de', 'fr')").fetchone()[0]
    assert got == want > 0


def test_cli_quantiles(tmp_path, synth300):
    """Quantiles end-to-end via the spark-submit entry point: percentiles
    from the per-chunk quantile sketches."""
    src = synth300
    enc = str(tmp_path / "encoded5")
    _run("encode", "--input", src, "--out", enc)
    r = _run("quantiles", "--data", enc, "--column", "warc_ts",
             "--q", "0.5")
    assert r["n_values"] == 300 and r["quantiles"]["0.5"] > 0


def test_cli_delete_and_materialize(tmp_path, synth_encoded):
    """delete tombstones rows merge-on-read; count stays exact; decode
    excludes them; materialize-deletes folds them into a new store."""
    import duckdb

    src = synth_encoded[0]
    enc = str(tmp_path / "encoded6")
    dec = str(tmp_path / "decoded6")
    mat = str(tmp_path / "folded6")
    _run("encode", "--input", src, "--out", enc, "--partitions", "4")
    want_del = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{src}/*.parquet') "
        "WHERE lang = 'en'").fetchone()[0]
    r = _run("delete", "--data", enc, "--where", "lang:==:en")
    assert r["deleted_now"] == want_del
    c = _run("count", "--data", enc, "--where", "lang:<=:zz")
    assert c["n_rows"] == 400 - want_del
    _run("decode", "--data", enc, "--out", dec)
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{dec}/*.parquet')").fetchone()[0]
    assert n == 400 - want_del
    m = _run("materialize-deletes", "--data", enc, "--out", mat)
    assert m["rows"] == 400 - want_del
    g = _run("group-stats", "--data", mat, "--key", "lang")
    assert all(row["value"] != "en" for row in g)
    assert sum(row["cnt"] for row in g) == 400 - want_del


def test_cli_join_and_plan(tmp_path, synth300):
    src = synth300
    enc = str(tmp_path / "jenc")
    out = str(tmp_path / "joined")
    _run("encode", "--input", src, "--out", enc, "--partitions", "2",
         "--cluster-by", "url")
    plan = _run("join", "--left", enc, "--right", enc, "--on", "url",
                "--plan-only")
    assert plan["left_total"] >= 1 and plan["how"] == "inner"
    r = _run("join", "--left", enc, "--right", enc, "--on", "url",
             "--left-columns", "lang", "--right-columns", "warc_ts",
             "--out", out)
    assert r["rows"] == 300  # synth urls are unique: self-join is 1:1


def test_cli_multi_store_decode(tmp_path):
    src = str(tmp_path / "mc")
    e0, e1 = str(tmp_path / "m0"), str(tmp_path / "m1")
    out = str(tmp_path / "mout")
    _run("synth", "--rows", "200", "--out", src)
    _run("encode", "--input", src, "--out", e0, "--partitions", "1")
    _run("encode", "--input", src, "--out", e1, "--partitions", "1")
    r = _run("decode", "--data", f"{e0},{e1}", "--out", out,
             "--columns", "url,lang", "--where", "url:prefix:https://")
    assert r["stores"] == 2
    import duckdb
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
    assert n == 400  # both shards contribute every row


def test_cli_merge_shard_family(tmp_path):
    src = str(tmp_path / "ms")
    e0, e1 = str(tmp_path / "s0"), str(tmp_path / "s1")
    out = str(tmp_path / "merged")
    _run("synth", "--rows", "150", "--out", src)
    _run("encode", "--input", src, "--out", e0, "--partitions", "1")
    _run("synth", "--rows", "100", "--out", src)
    _run("encode", "--input", src, "--out", e1, "--partitions", "1")
    r = _run("merge", "--inputs", f"{e0},{e1}", "--out", out,
             "--cluster-by", "url", "--partitions", "2")
    assert r["stores"] == 2 and r["rows"] == 250
    s = _run("stats", "--data", out, "--columns", "warc_ts")
    assert s["warc_ts"]["n_rows"] == 250
