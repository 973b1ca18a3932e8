"""Per-group capping and group-rebalanced sampling for training-data
curation.

The operators are pure JVM expressions (no UDFs, no RNG state): a
training pipeline must be able to re-run months later — or on a different
cluster size — and select the EXACT same rows. Spark's ``sample()`` is
seed-dependent on partitioning; these are content-keyed instead, on the
md5 predicate of ``jobs.decode.deterministic_sample``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def cap_per_group(df: DataFrame, group_col: str = "source", n: int = 10,
                  order_col: str = "doc_id", salt_partitions: int = 16,
                  tie_col: str | None = None) -> DataFrame:
    """Keep at most ``n`` rows per group — domain balancing for crawls
    (a handful of mega-domains otherwise dominate the corpus).

    Deterministic survivor set: rows ranked by (``order_col``,
    ``tie_col``) within each group, first ``n`` kept. Two-phase salted
    execution: phase 1 caps each (group, salt) sub-partition locally at
    ``n`` — a mega-domain's rows spread over ``salt_partitions`` reducers
    instead of one, and at most ``n * salt_partitions`` rows per group
    survive to phase 2, which applies the true global rank. The result is
    provably identical to the single-window plan: any row in a group's
    global top-``n`` by the ordering is also in the top-``n`` of whichever
    salt bucket holds it (the global top-n restricted to a bucket is a
    subset of that bucket's top-n), so phase 1 never drops a final
    survivor. At 10^12 rows the unsalted window on a skewed domain column
    is a single-reducer straggler; here the skewed shuffle is bounded and
    phase 2's input is metadata-scale (<= n * salt_partitions per group).

    The identity proof needs a TOTAL order: with duplicate ``order_col``
    values and no ``tie_col``, ``row_number`` breaks ties arbitrarily and
    phase 1 can keep a different tied row than the unsalted plan would
    (survivor COUNTS never differ, survivor SETS can). Pass ``tie_col``
    (any per-row-unique column, e.g. the doc id) whenever ``order_col``
    is not unique; the default ``order_col="doc_id"`` is unique in this
    engine's tables, so ``tie_col=None`` is safe there.

    ``salt_partitions=1`` degrades to the plain single-window plan.
    """
    from pyspark.sql.window import Window

    order = [F.col(order_col)] + ([F.col(tie_col)] if tie_col else [])
    ranked = df
    if salt_partitions > 1:
        # salt on the FULL ordering key: salting on order_col alone would
        # scatter tied rows across buckets in an order the local windows
        # cannot reproduce, re-introducing the tie ambiguity
        salt_src = [F.col(order_col)] + ([F.col(tie_col)] if tie_col else [])
        salt = F.pmod(F.xxhash64(*salt_src), F.lit(salt_partitions))
        w_local = Window.partitionBy(group_col, salt).orderBy(*order)
        ranked = (
            df.withColumn("_lrn", F.row_number().over(w_local))
            .where(F.col("_lrn") <= n)
            .drop("_lrn")
        )
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        ranked.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n)
        .drop("_rn")
    )


def temperature_sample(df: DataFrame, group_col: str = "source",
                       alpha: float = 0.5, target_rows: int = 1000,
                       key_col: str = "doc_id",
                       salt: str = "temp") -> DataFrame:
    """Temperature-flatten group proportions: keep each row of group
    ``g`` with probability ``q_g = min(1, target_rows * n_g**alpha /
    (Z * n_g))`` where ``Z = sum_h n_h**alpha`` — expected kept rows
    total ``~target_rows`` distributed by the alpha-tempered
    distribution (``alpha=1`` preserves natural proportions, ``alpha->0``
    approaches uniform across groups; the multilingual-sampling recipe
    of published LLM pipelines, applied to web domains).

    Selection is content-keyed exactly like ``deterministic_sample`` —
    per-group hex thresholds on md5(key:salt) — so re-runs at any
    parallelism, and other engines, reproduce the same survivor SET
    (not just the same counts). Group counts are one narrow groupBy;
    thresholds broadcast back (#groups rows — domains are metadata-scale
    next to rows). The scan side is one expression filter: no second
    shuffle, no RNG state, no UDF.

    Threshold quantization note: ``q_g`` is computed in doubles from
    exact integer counts; engines' ``pow`` may differ in the last ulp,
    which flips the int64 threshold ``floor(q_g * 2**32)`` only when
    ``q_g * 2**32`` sits within an ulp of an integer AND some row's hash
    prefix equals that exact boundary value — vanishingly rare and
    detectable (counts differ by 1); accepted for a join-free scan.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if target_rows <= 0:
        raise ValueError(f"target_rows must be positive, got {target_rows}")
    counts = df.groupBy(group_col).agg(F.count("*").alias("_n"))
    z = counts.agg(F.sum(F.pow("_n", F.lit(alpha))).alias("z"))
    thr = (
        counts.crossJoin(F.broadcast(z))
        .withColumn(
            "_q",
            F.least(
                F.lit(1.0),
                F.lit(float(target_rows)) * F.pow("_n", F.lit(alpha))
                / (F.col("z") * F.col("_n")),
            ),
        )
        # same fixed-width-hex comparison trick as deterministic_sample;
        # q == 1.0 maps to 'g' which outsorts every hex digit
        .withColumn(
            "_thr",
            F.when(F.col("_q") >= 1.0, F.lit("g")).otherwise(
                F.lpad(
                    F.hex(F.floor(F.col("_q") * F.lit(float(1 << 32))))
                    , 8, "0")),
        )
        .select(group_col, F.lower(F.col("_thr")).alias("_thr"))
    )
    h = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))
              .cast("binary")),
        1, 8,
    )
    return (
        df.join(F.broadcast(thr), group_col)
        .where(h < F.col("_thr"))
        .drop("_thr")
    )


def mix_sources(df: DataFrame, weights: dict, group_col: str = "source",
                target_rows: int = 1000, key_col: str = "doc_id",
                salt: str = "mix") -> DataFrame:
    """Deterministic dataset MIXING to explicit target proportions — the
    "data recipe" step of LLM training pipelines (30% web, 20% reference,
    ...): keep each row of group ``g`` with probability ``q_g = min(1,
    target_rows * w_g / n_g)``, ``w`` normalized over ``weights``.
    Groups without a weight drop entirely (weight 0).

    Selection is content-keyed exactly like ``deterministic_sample`` /
    ``temperature_sample`` (per-group hex thresholds on md5(key:salt)),
    so any re-run — different cluster size, different engine — keeps the
    same survivor SET. One narrow groupBy for counts, thresholds
    broadcast back, one expression filter on the scan: no second
    shuffle, no RNG state, no UDF.

    When a group is too small for its slice (``n_g < target_rows *
    w_g``), ``q_g`` caps at 1: the group is kept in full and the
    realized mixture under-represents it — deliberately visible in the
    output proportions rather than silently rescaling other groups.
    """
    if not weights:
        raise ValueError("mix_sources needs a non-empty weights dict")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    if target_rows <= 0:
        raise ValueError(f"target_rows must be positive, got {target_rows}")
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(k, float(v) / wsum) for k, v in sorted(weights.items())],
        f"{group_col} string, _w double")
    counts = df.groupBy(group_col).agg(
        F.count("*").cast("double").alias("_n"))
    thr = (
        counts.join(F.broadcast(wdf), group_col)  # inner: unweighted drop
        .withColumn("_q", F.least(
            F.lit(1.0),
            F.lit(float(target_rows)) * F.col("_w") / F.col("_n")))
        .withColumn(
            "_thr",
            F.when(F.col("_q") >= 1.0, F.lit("g")).otherwise(
                F.lpad(
                    # clamp: _q < 1.0 can still round up to exactly 2^32 in
                    # double precision, whose 9-digit hex would be lpad-
                    # truncated to '10000000' (~6% retention)
                    F.hex(F.least(
                        F.floor(F.col("_q") * F.lit(float(1 << 32))),
                        F.lit((1 << 32) - 1))),
                    8, "0")),
        )
        .select(group_col, F.lower(F.col("_thr")).alias("_thr"))
    )
    h = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))
              .cast("binary")),
        1, 8,
    )
    return (
        df.join(F.broadcast(thr), group_col)
        .where(h < F.col("_thr"))
        .drop("_thr")
    )
