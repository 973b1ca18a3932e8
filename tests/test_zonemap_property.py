"""Property test for the zone/codec interaction (VERDICT r3 #9):
``decode_filtered(col, op, v)``, ``encoded_count_filtered`` and a
filtered ``encoded_group_count`` must each equal full-decode-then-filter
for every (dtype, sortedness, skew, op, threshold) combination — chunk
pruning may only ever skip chunks that provably contain no match, and the
one compiled row mask must keep SQL semantics (nulls, NaN, -0.0, string
prefix/contains/suffix/in).

Each Hypothesis example encodes a fresh small frame (several chunks) and
compares the three answers against the ground truth computed in plain
Python. Examples are kept small and few: the point is the cross-product
of shapes, not volume (the fixed-case tests in test_zonemap.py cover
depth per type)."""

import math
import operator
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, assume, given, settings, strategies as st
from pyspark.sql import functions as F

from fsst_spark.jobs.agg import encoded_count_filtered, encoded_group_count
from fsst_spark.jobs.decode import decode_filtered
from fsst_spark.jobs.encode import encode_job

N_ROWS = 400
OPS = [">=", ">", "<=", "<", "=="]
STR_OPS = ["prefix", "contains", "suffix"]
PYOPS = {">=": operator.ge, ">": operator.gt, "<=": operator.le,
         "<": operator.lt, "==": operator.eq}


def _order(v):
    """SQL order key: nulls first, NaN greatest and equal to itself,
    -0.0 == +0.0 (Python's own float equality)."""
    if v is None:
        return (0, 0)
    if isinstance(v, float) and math.isnan(v):
        return (2, 0)
    return (1, v)


def _values(dtype: str, sortedness: str, skew: bool) -> list:
    """Deterministic value list per shape (hypothesis picks the shape)."""
    if dtype == "long":
        base = [((i * 2654435761) % 997) - 500 for i in range(N_ROWS)]
    elif dtype == "double":
        base = [(((i * 2654435761) % 997) - 500) / 4.0 for i in range(N_ROWS)]
    else:  # string
        base = [f"k{(i * 2654435761) % 997:04d}" for i in range(N_ROWS)]
    if skew:  # one dominant value: runny chunks -> RLE/dict paths
        rep = base[0]
        base = [rep if i % 3 else v for i, v in enumerate(base)]
    if dtype == "double":  # the SQL float corners: nulls, NaN, signed zeros
        for i in range(0, N_ROWS, 13):
            base[i] = None
        for i in range(5, N_ROWS, 17):
            base[i] = float("nan")
        for i in range(7, N_ROWS, 19):
            base[i] = -0.0
        for i in range(11, N_ROWS, 23):
            base[i] = 0.0
    if sortedness == "asc":
        base = sorted(base, key=_order)
    elif sortedness == "desc":
        base = sorted(base, key=_order, reverse=True)
    return base


def _operand(dtype: str, op: str, threshold, vals: list):
    """The filter value of ``op`` built from a value of the column."""
    if op == "prefix":
        return threshold[:3]
    if op == "contains":
        return threshold[2:4]
    if op == "suffix":
        return threshold[-2:]
    if op == "in":
        absent = {"long": 10**6, "double": 1e9, "string": "zz"}[dtype]
        return [threshold, vals[len(vals) // 2], absent]
    return threshold


def _holds(v, op: str, x) -> bool:
    """Python ground truth of ``v op x`` under SQL semantics (null is
    false)."""
    if v is None:
        return False
    if op in STR_OPS:
        return {"prefix": v.startswith, "contains": v.__contains__,
                "suffix": v.endswith}[op](x)
    if op == "in":
        return any(_order(v) == _order(p) for p in x)
    return PYOPS[op](_order(v), _order(x))


@pytest.fixture(scope="module")
def zp_spark(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")  # many chunks -> pruning actually exercised
    yield spark
    spark.conf.set(key, old)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(
    dtype=st.sampled_from(["long", "double", "string"]),
    sortedness=st.sampled_from(["asc", "desc", "shuffled"]),
    skew=st.booleans(),
    op=st.sampled_from(OPS + ["in"] + STR_OPS),
    q=st.integers(0, 10),
)
def test_decode_filtered_equals_filter_after_full_decode(
        zp_spark, dtype, sortedness, skew, op, q):
    assume(dtype == "string" or op not in STR_OPS)
    spark = zp_spark
    vals = _values(dtype, sortedness, skew)
    present = sorted((v for v in vals if v is not None), key=_order)
    threshold = present[min(len(present) - 1, q * (len(present) - 1) // 10)]
    value = _operand(dtype, op, threshold, present)
    flt = [("v", op, value)]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, f"rid long, v {dtype}").coalesce(1)

    out = tempfile.mkdtemp(prefix="fsst_zprop_")
    try:
        encode_job(spark, df, out, chunk_bytes=1 << 9, resume=False,
                   pre_partitioned=True, unique_col="rid").collect()
        got = sorted(r["rid"] for r in
                     decode_filtered(spark, out, filters=flt).collect())
        counted = encoded_count_filtered(spark, out, flt).collect()[0]["n_rows"]
        grouped = encoded_group_count(spark, out, "v", filters=flt) \
            .agg(F.sum("cnt")).collect()[0][0] or 0
    finally:
        shutil.rmtree(out, ignore_errors=True)

    expect = sorted(i for i, v in enumerate(vals) if _holds(v, op, value))
    shape = (dtype, sortedness, skew, op, value)
    assert got == expect, shape
    # the tri-state count (zone_keep prunes, zone_all answers from
    # metadata, boundary chunks decode) and the chunk-local mask of the
    # group jobs agree with the ground truth
    assert counted == len(expect), shape
    assert grouped == len(expect), shape


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(
    n_distinct=st.integers(2, 40),
    sortedness=st.sampled_from(["asc", "desc", "shuffled"]),
    skew=st.booleans(),
    probe_kind=st.sampled_from(["present", "absent", "mixed", "all_absent"]),
    probe_n=st.integers(1, 5),
    seed=st.integers(0, 9),
)
def test_in_list_dict_prune_equals_full_decode(
        zp_spark, n_distinct, sortedness, skew, probe_kind, probe_n, seed):
    """VERDICT r4 #10: decode_filtered(col, 'in', vs) ≡ full-decode-then-
    isin across (value cardinality, sortedness, skew, probe composition) —
    including the all-pruned corner (every probe absent: zero rows, zero
    chunks decoded) and low-cardinality frames where every chunk is
    dict-coded (the dict-membership prune path) vs high-cardinality ones
    where none are (zone-only path)."""
    spark = zp_spark
    # n_distinct <= ~10 per 64-row chunk keeps ndv_ratio under the dict
    # threshold -> str_dict chunks; large n_distinct falls off dict
    vals = [f"v{(i * 2654435761 + seed) % n_distinct:04d}" for i in range(N_ROWS)]
    if skew:
        vals = [vals[0] if i % 3 else v for i, v in enumerate(vals)]
    if sortedness == "asc":
        vals = sorted(vals)
    elif sortedness == "desc":
        vals = sorted(vals, reverse=True)
    universe = sorted(set(vals))
    rng = (seed * 2654435761) % 97
    present = [universe[(rng + 7 * j) % len(universe)] for j in range(probe_n)]
    absent = [f"zz_missing_{seed}_{j}" for j in range(probe_n)]
    probes = {"present": present, "absent": absent[:1] + present[1:],
              "mixed": present[: max(1, probe_n // 2)] + absent,
              "all_absent": absent}[probe_kind]
    probes = list(dict.fromkeys(probes))

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "rid long, v string").coalesce(1)
    out = tempfile.mkdtemp(prefix="fsst_inprop_")
    try:
        encode_job(spark, df, out, chunk_bytes=1 << 9, resume=False,
                   pre_partitioned=True, unique_col="rid").collect()
        got = sorted(r["rid"] for r in
                     decode_filtered(spark, out, "v", "in", probes).collect())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    expect = sorted(i for i, v in enumerate(vals) if v in set(probes))
    assert got == expect, (n_distinct, sortedness, skew, probe_kind, probes)
