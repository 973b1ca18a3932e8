"""Unit tests for reproducible sampling and per-group capping."""

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import deterministic_sample
from fsst_spark.pipeline.sampling import cap_per_group


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"dom{i % 5}") for i in range(1000)], "doc_id long, source string"
    )


def test_deterministic_sample_reproducible_and_sized(docs):
    a = sorted(r["doc_id"] for r in deterministic_sample(docs, 0.3, "doc_id").collect())
    b = sorted(r["doc_id"] for r in deterministic_sample(docs, 0.3, "doc_id").collect())
    assert a == b  # exact reproducibility
    assert 200 <= len(a) <= 400  # ~30% of 1000, md5 is uniform

    # monotone: a smaller fraction selects a subset of a larger one
    small = set(r["doc_id"] for r in deterministic_sample(docs, 0.1, "doc_id").collect())
    assert small <= set(a)
    assert 40 <= len(small) <= 170


def test_deterministic_sample_salt_independence(docs):
    a = set(r["doc_id"] for r in deterministic_sample(docs, 0.3, "doc_id", salt="x").collect())
    b = set(r["doc_id"] for r in deterministic_sample(docs, 0.3, "doc_id", salt="y").collect())
    assert a != b
    # independent draws: overlap near 9% of 1000, far from 0 or 300
    assert 20 <= len(a & b) <= 200


def test_deterministic_sample_bounds(docs):
    assert deterministic_sample(docs, 0.0, "doc_id").count() == 0
    assert deterministic_sample(docs, 1.0, "doc_id").count() == 1000
    with pytest.raises(ValueError):
        deterministic_sample(docs, 1.5, "doc_id")


def test_cap_per_group_keeps_first_n_by_order(docs):
    out = cap_per_group(docs, "source", 3, "doc_id")
    got = sorted(r["doc_id"] for r in out.collect())
    # each dom{k} keeps its 3 smallest doc_ids: k, k+5, k+10
    assert got == sorted([k + 5 * j for k in range(5) for j in range(3)])
    assert out.columns == docs.columns


def test_cap_per_group_salted_identical_to_plain(spark):
    """Two-phase salted cap must select EXACTLY the single-window survivor
    set — including on a mega-group that dwarfs the others."""
    rows = [(i, "mega") for i in range(5000)] + \
           [(10000 + i, f"dom{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    plain = sorted(r["doc_id"] for r in
                   cap_per_group(df, "source", 13, "doc_id",
                                 salt_partitions=1).collect())
    salted = sorted(r["doc_id"] for r in
                    cap_per_group(df, "source", 13, "doc_id",
                                  salt_partitions=16).collect())
    assert salted == plain
    assert plain[:13] == list(range(13))  # mega keeps its 13 smallest


def test_cap_per_group_salted_bounds_final_window_input(spark):
    """Phase 1 must cut the mega-group before the global window: the plan
    contains the salted pre-window, and the phase-2 window's input is
    <= n * salt_partitions rows per group (checked by executing phase 1
    alone via a tiny salt count)."""
    from pyspark.sql.window import Window

    rows = [(i, "mega") for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = cap_per_group(df, "source", 5, "doc_id", salt_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # two window stages: the (group, salt) local cap then the global cap
    assert plan.count("Window") >= 2, plan
    assert "xxhash64" in plan, plan
    assert out.count() == 5


def test_cap_per_group_ties_with_tie_col_identical_sets(spark):
    """With DUPLICATE order values the salted/unsalted identity needs a
    total order: tie_col restores it. Every doc shares one of 3 scores;
    survivor SETS (not just counts) must match across plans and across
    salt_partitions settings."""
    rows = [(i, "mega", i % 3) for i in range(3000)] + \
           [(10000 + i, f"dom{i % 5}", 0) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score long")
    plain = sorted(r["doc_id"] for r in
                   cap_per_group(df, "source", 7, "score",
                                 salt_partitions=1, tie_col="doc_id").collect())
    salted = sorted(r["doc_id"] for r in
                    cap_per_group(df, "source", 7, "score",
                                  salt_partitions=16, tie_col="doc_id").collect())
    assert salted == plain
    # deterministic winner: mega keeps the 7 smallest (score, doc_id) rows
    # = scores 0 at doc_id 0,3,6,9,12,15,18
    mega = [d for d in plain if d < 10000]
    assert mega == [0, 3, 6, 9, 12, 15, 18]


class TestTemperatureSample:
    def _docs(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")

    def test_matches_python_reference(self, spark):
        """Survivor SET equals a hashlib/pow re-derivation — the property
        that makes the sample reproducible on any engine."""
        import hashlib

        from fsst_spark.pipeline.sampling import temperature_sample

        docs = self._docs(spark)
        alpha, target = 0.5, 120
        got = {r["doc_id"] for r in
               temperature_sample(docs, "source", alpha, target).collect()}
        rows = [(r["doc_id"], r["source"]) for r in docs.collect()]
        n_g = {}
        for _, s in rows:
            n_g[s] = n_g.get(s, 0) + 1
        z = sum(n ** alpha for n in n_g.values())
        thr = {s: ("g" if (q := min(1.0, target * n ** alpha / (z * n))) >= 1.0
                   else format(int(q * (1 << 32)), "08x"))
               for s, n in n_g.items()}
        want = {d for d, s in rows
                if hashlib.md5(f"{d}:temp".encode()).hexdigest()[:8] < thr[s]}
        assert got == want and 0 < len(got) < len(rows)

    def test_alpha_one_is_uniform_rate(self, spark):
        """alpha=1 gives every group the same keep probability
        (natural proportions preserved): thresholds must all equal
        target/N regardless of group size."""
        from fsst_spark.jobs.decode import deterministic_sample
        from fsst_spark.pipeline.sampling import temperature_sample

        docs = self._docs(spark)
        n = docs.count()
        got = {r["doc_id"] for r in
               temperature_sample(docs, "source", 1.0, 200).collect()}
        want = {r["doc_id"] for r in
                deterministic_sample(docs, 200 / n, salt="temp").collect()}
        assert got == want

    def test_flattening_monotone(self, spark):
        """Lower alpha shifts share toward small groups: the smallest
        group's kept fraction of the total must not decrease as alpha
        drops 1.0 -> 0.25."""
        from pyspark.sql import functions as F

        from fsst_spark.pipeline.sampling import temperature_sample

        docs = self._docs(spark)
        sizes = {r["source"]: r["n"] for r in
                 docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
        small = min(sizes, key=sizes.get)
        shares = []
        for alpha in (1.0, 0.25):
            kept = temperature_sample(docs, "source", alpha, 150)
            by = {r["source"]: r["n"] for r in
                  kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
            total = sum(by.values())
            shares.append(by.get(small, 0) / total)
        assert shares[1] >= shares[0]

    def test_validation(self, spark):
        import pytest as _pt

        from fsst_spark.pipeline.sampling import temperature_sample

        docs = self._docs(spark)
        with _pt.raises(ValueError):
            temperature_sample(docs, "source", 0.0, 10)
        with _pt.raises(ValueError):
            temperature_sample(docs, "source", 0.5, 0)


def test_mix_sources_proportions_and_determinism(spark):
    from fsst_spark.pipeline.sampling import mix_sources

    df = spark.range(12000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 < 2, "web")
         .when(F.col("id") % 4 == 2, "code")
         .otherwise("ref").alias("source"))
    kept = mix_sources(df, {"web": 3.0, "code": 1.0}, group_col="source",
                       target_rows=800, key_col="doc_id")
    by = {r["source"]: r["n"] for r in
          kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert "ref" not in by  # unweighted source drops entirely
    # expected: web ~600 of 6000, code ~200 of 3000 (binomial, ±5 sigma)
    assert abs(by["web"] - 600) < 120 and abs(by["code"] - 200) < 75
    # deterministic: identical survivor ids on a re-run
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in
               mix_sources(df, {"web": 3.0, "code": 1.0},
                           group_col="source", target_rows=800,
                           key_col="doc_id").collect())
    assert a == b
    # a group smaller than its slice is kept in full (q caps at 1)
    tiny = df.where("source = 'code' and doc_id < 40").unionByName(
        df.where("source = 'web'"))
    kept2 = mix_sources(tiny, {"web": 1.0, "code": 1.0},
                        group_col="source", target_rows=100)
    n_code = kept2.where("source = 'code'").count()
    assert n_code == 10  # all 10 code rows survive (40/4 = 10 rows)
