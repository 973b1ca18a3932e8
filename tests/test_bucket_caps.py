"""Bucket-size caps on the pair-generating self-joins.

Real web corpora have pathological keys (boilerplate pages, cookie
banners): one shared LSH bucket or winnowing hash with m members
emits m^2 candidate rows before any filter. These tests inject a
mega-bucket and assert the candidate count stays bounded with caps on,
while ordinary near-dup pairs are still found.
"""

import pytest
from pyspark.sql import functions as F

from fsst_spark.pipeline.dedup import minhash_lsh_candidates, winnow_neardup_pairs

BOILER = ("404 not found — the page you requested could not be located on "
          "this server. Please check the address and try again soon. " * 4)


def _corpus(spark, n_boiler=120):
    """n_boiler identical boilerplate docs + a handful of distinct docs,
    two of which are a genuine near-dup pair."""
    rows = [(i, BOILER) for i in range(n_boiler)]
    base = ("the quick brown fox jumps over the lazy dog while the band "
            "plays on and the crowd cheers loudly through the night %d " % 7) * 3
    rows += [(1000, base + "alpha ending one"),
             (1001, base + "alpha ending two"),  # near-dup of 1000
             (1002, "completely unrelated text about gardening and soil "
                    "acidity with long sentences and many words to shingle " * 3)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_bucket_cap_bounds_candidates(spark):
    df = _corpus(spark)
    capped = minhash_lsh_candidates(df, bucket_cap=20).count()
    uncapped = minhash_lsh_candidates(df, bucket_cap=None).count()
    # uncapped: the 120 identical docs alone produce 120*119/2 = 7140 pairs
    assert uncapped >= 7140
    # capped: every boilerplate bucket is over the cap -> dropped; only the
    # genuine near-dup pair (and possibly a few accidentals) remain
    assert capped < 100, capped
    got = {tuple(r) for r in
           minhash_lsh_candidates(df, bucket_cap=20).select("id_a", "id_b").collect()}
    assert (1000, 1001) in got


def test_winnow_stop_hash_cap_bounds_candidates(spark):
    df = _corpus(spark)
    uncapped = winnow_neardup_pairs(df, hash_doc_cap=None).count()
    assert uncapped >= 7140
    capped_df = winnow_neardup_pairs(df, hash_doc_cap=20)
    assert capped_df.count() < 100
    got = {(r["id_a"], r["id_b"]) for r in capped_df.collect()}
    assert (1000, 1001) in got  # rare shared hashes survive the stop list


def test_simhash_bucket_cap_bounds_candidates(spark):
    from fsst_spark.pipeline.dedup import simhash_neardup_pairs

    df = _corpus(spark)
    uncapped = simhash_neardup_pairs(df, bucket_cap=None).count()
    assert uncapped >= 7140  # identical docs: hamming 0, every band collides
    capped = simhash_neardup_pairs(df, bucket_cap=20).count()
    assert capped < 100, capped
