"""Unit tests for text-analysis column functions: BPE-ish pre-tokenization
counts must match a reference Python re implementation exactly (the same
pattern also backs the DuckDB oracle in __spark_entry__.py)."""

import re

from pyspark.sql import functions as F

from fsst_spark.pipeline.textstats import BPE_PATTERN, bpe_token_count, token_count

CASES = [
    "",
    "hello world",
    "Hello, World! 123",
    "a1b2c3",
    "  leading and trailing  ",
    "tabs\tand\nnewlines\r\nmixed",
    "punct...!!!??? runs---",
    "café résumé naïve",  # non-ASCII letters -> symbol runs
    "x" * 500,
    "1 22 333 4444",
]


def test_bpe_token_count_matches_python_re(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CASES)],
                               "i long, text string")
    got = {r["i"]: r["n"] for r in
           df.select("i", bpe_token_count(F.col("text")).alias("n")).collect()}
    for i, t in enumerate(CASES):
        assert got[i] == len(re.findall(BPE_PATTERN, t)), (i, t)


def test_bpe_ge_whitespace_tokens_on_words(spark):
    # BPE pre-segmentation splits at class boundaries, so it never counts
    # fewer tokens than whitespace splitting on non-empty text
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CASES) if t.strip()],
                               "i long, text string")
    rows = df.select(bpe_token_count(F.col("text")).alias("b"),
                     token_count(F.col("text")).alias("w")).collect()
    assert all(r["b"] >= r["w"] for r in rows), rows


def test_gopher_quality_flags_rules(spark):
    from fsst_spark.pipeline.textstats import gopher_quality_flags

    good = ("the quick brown fox jumps over the lazy dog and it runs to "
            "the barn for a nap in the hay that is warm ") * 3  # >50 words
    docs = [
        (1, good),
        (2, "too short"),                                    # word_count fails
        (3, "the " + "x" * 2000 + " and " * 60),             # mean word len fails
        (4, good + " ###### " + "#" * 40),                   # symbol ratio fails
        (5, "\n".join(["- bullet item"] * 20)),              # bullet ratio fails
        (6, good + "\n" + "\n".join(["same line"] * 9)),     # dup lines fail
        (7, "alpha beta gamma delta " * 20),                 # no stopwords
        (8, ""),                                             # empty
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in gopher_quality_flags(df).collect()}
    assert got[1]["keep"] is True, got[1]
    assert got[2]["word_count_ok"] is False and got[2]["keep"] is False
    assert got[3]["mean_word_len_ok"] is False
    assert got[4]["symbol_ratio_ok"] is False
    assert got[5]["bullet_ratio_ok"] is False
    assert got[6]["dup_line_ok"] is False and got[6]["word_count_ok"] is True
    assert got[7]["stopword_ok"] is False
    assert got[8]["keep"] is False


def test_url_sort_key_format_and_zone_selectivity(spark):
    from fsst_spark.jobs.layout import url_sort_key
    from pyspark.sql import functions as F

    rows = [(1, "https://www.blog.example.com/a/b?q=1"),
            (2, "http://example.org/"),
            (3, "example.net/nopath"),       # schemeless passes through
            (4, "https://HOST.example.com")]  # no path at all
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r["id"]: r["k"] for r in
           df.select("id", url_sort_key(F.col("url")).alias("k")).collect()}
    assert got[1] == "com.example.blog.www/a/b?q=1"
    assert got[2] == "org.example/"
    assert got[3] == "net.example/nopath"
    assert got[4] == "com.example.HOST"
    # the point of the key: one site's pages share a long common prefix,
    # so 8-byte prefix zones (zone_pack8) discriminate between sites
    from fsst_spark.jobs.encode import zone_pack8

    k_a = zone_pack8("com.example.blog.www/a")
    k_b = zone_pack8("org.example/")
    assert k_a != k_b
