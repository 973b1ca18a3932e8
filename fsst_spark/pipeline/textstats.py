"""Text analysis for large-scale training-data pipelines.

All hot-path expressions are Spark built-ins (JVM-side, whole-stage
codegen) — no Python UDFs: token counting, quality scoring, document
fingerprinting, and a rule-based language-ID heuristic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, r"[.!?,;:]", ""))


_STOPWORDS = ["the", "and", "of", "to", "is", "in", "a", "that", "it", "for"]


def stopword_count(text: Column) -> Column:
    """Count of stopword tokens (JVM-side: split + filter + size)."""
    toks = F.filter(
        F.split(F.lower(F.trim(text)), r"\s+"),
        lambda t: t.isin(*_STOPWORDS),
    )
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(F.size(toks))


# letter runs | digit runs | symbol runs — the GPT-2-style pre-tokenization
# shape reduced to explicit ASCII classes, so Java regex (Spark) and RE2
# (DuckDB) evaluate it identically and the count is exactly oracle-checkable
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]+"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish pre-tokenization count (JVM ``regexp_count``): splits text
    into letter/digit/symbol runs the way byte-pair tokenizers pre-segment,
    giving a closer proxy for LLM token counts than whitespace splitting."""
    return F.regexp_count(text, F.lit(BPE_PATTERN))


def normalized_fingerprint(text: Column) -> Column:
    """Deterministic content fingerprint: lowercase, collapse whitespace, md5."""
    norm = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.md5(norm.cast("binary"))


def quality_stats(df: DataFrame, text_col: str = "text", group_col: str = "lang") -> DataFrame:
    """Per-group integer quality aggregates (sum-stable, oracle-friendly)."""
    t = F.col(text_col)
    return (
        df.select(
            F.col(group_col),
            F.length(t).alias("_chars"),
            token_count(t).alias("_toks"),
            bpe_token_count(t).alias("_bpe"),
            punct_count(t).alias("_punct"),
            stopword_count(t).alias("_stop"),
            (F.length(t) == 0).cast("int").alias("_empty"),
        )
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_chars").alias("sum_chars"),
            F.sum("_toks").alias("sum_tokens"),
            F.sum("_bpe").alias("sum_bpe_tokens"),
            F.sum("_punct").alias("sum_punct"),
            F.sum("_stop").alias("sum_stopwords"),
            F.sum("_empty").alias("n_empty"),
        )
        .orderBy(group_col)
    )


# Tiny per-language stopword anchors for the rule-based heuristic.
_LANG_MARKERS = [
    ("de", r"(?i)\b(der|die|und|nicht|ist)\b"),
    ("fr", r"(?i)\b(le|la|les|est|dans)\b"),
    ("es", r"(?i)\b(el|los|las|es|para)\b"),
    ("en", r"(?i)\b(the|and|of|to|is)\b"),
]


def lang_id(text: Column) -> Column:
    """Rule-based language ID: CJK/Cyrillic/Arabic scripts by unicode range,
    then stopword anchors, else 'und'. Deterministic, JVM-side."""
    expr = F.lit("und")
    for code, pat in reversed(_LANG_MARKERS):
        expr = F.when(text.rlike(pat), F.lit(code)).otherwise(expr)
    expr = (
        F.when(text.rlike(r"[一-鿿]"), F.lit("zh"))
        .when(text.rlike(r"[぀-ヿ]"), F.lit("ja"))
        .when(text.rlike(r"[가-힯]"), F.lit("ko"))
        .when(text.rlike(r"[Ѐ-ӿ]"), F.lit("ru"))
        .when(text.rlike(r"[؀-ۿ]"), F.lit("ar"))
        .otherwise(expr)
    )
    return expr


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", appendix A1.1) —
# the canonical webtext quality filter for LLM training corpora. Every
# rule is computed with integer-exact JVM built-ins (no floats, no UDFs)
# so the per-document flags are bit-reproducible and DuckDB-oracled.
# ---------------------------------------------------------------------------
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000


def gopher_quality_flags(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Per-document Gopher rule flags + overall ``keep``.

    Rules (integer-scaled comparisons, whitespace tokens, '\\n' lines):
      word_count_ok     50 <= n_words <= 100000
      mean_word_len_ok  3 <= sum(len(word))/n_words <= 10
      symbol_ratio_ok   (#'#' + #'...') <= n_words / 10
      bullet_ratio_ok   lines starting with bullet < 90%
      dup_line_ok       duplicate-line fraction <= 30%
      stopword_ok       >= 2 stopword occurrences
    """
    t = F.trim(F.col(text_col))
    words = F.when(F.length(t) == 0, F.array()).otherwise(F.split(t, r"\s+"))
    n_words = F.size(words)
    sum_wl = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    # count non-overlapping '...' occurrences (regexp_count of literal)
    n_ellipsis = F.regexp_count(t, F.lit(r"\.\.\."))
    lines = F.when(F.length(t) == 0, F.array()).otherwise(F.split(t, r"\n"))
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"^[-*•]")))
    n_dup_lines = n_lines - F.size(F.array_distinct(lines))
    return df.select(
        F.col(id_col),
        ((n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS))
        .alias("word_count_ok"),
        ((3 * n_words <= sum_wl) & (sum_wl <= 10 * n_words))
        .alias("mean_word_len_ok"),
        (10 * (n_hash + n_ellipsis) <= n_words).alias("symbol_ratio_ok"),
        (10 * n_bullet < 9 * n_lines).alias("bullet_ratio_ok"),
        (10 * n_dup_lines <= 3 * n_lines).alias("dup_line_ok"),
        (stopword_count(F.col(text_col)) >= 2).alias("stopword_ok"),
    ).withColumn(
        "keep",
        F.col("word_count_ok") & F.col("mean_word_len_ok")
        & F.col("symbol_ratio_ok") & F.col("bullet_ratio_ok")
        & F.col("dup_line_ok") & F.col("stopword_ok"),
    )


def token_topk(df: DataFrame, k: int = 5, text_col: str = "text",
               group_col: str = "lang") -> DataFrame:
    """Top-``k`` most frequent whitespace tokens per group (vocabulary
    heavy hitters — the standard corpus-analysis pass before tokenizer
    training / stopword curation). Returns (group, tok, cnt, rank), rank
    1..k by count desc (token asc breaks ties deterministically).

    Scale shape: tokens explode to narrow (group, tok) rows and aggregate
    with map-side partial counts; a shuffle-free per-partition top-k
    combine (mapInPandas over the counted frame) then caps the final
    window's input at k rows per (group, partition) — a 10^8-token
    vocabulary never lands on one reducer as a whole."""
    import pandas as pd

    toks = (
        df.select(F.col(group_col), F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"))
        .where(F.col("tok") != "")
    )
    counts = toks.groupBy(group_col, "tok").agg(F.count("*").alias("cnt"))

    def local_topk(pdfs):
        best = None
        for pdf in pdfs:
            cur = pdf if best is None else pd.concat((best, pdf), ignore_index=True)
            cur = cur.sort_values([group_col, "cnt", "tok"],
                                  ascending=[True, False, True])
            best = cur.groupby(group_col, sort=False).head(k)
        if best is not None:
            yield best

    combined = counts.mapInPandas(local_topk, counts.schema)
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(F.desc("cnt"), F.col("tok"))
    return (
        combined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# Ordered PII patterns: emails first (their digits would otherwise feed the
# phone pattern), then IPv4 (dotted digits would also read as a phone), then
# phones over whatever digits remain. Each pattern is valid in BOTH Java
# regex (Spark) and RE2 (DuckDB oracles): no backrefs, no lookaround.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "[IP]"),
    ("phone", r"\+?[0-9][0-9.-]{6,}[0-9]", "[PHONE]"),
]


def pii_scrub(df: DataFrame, text_col: str = "text",
              patterns: list[tuple[str, str, str]] | None = None) -> DataFrame:
    """Redact PII (emails, IPv4 addresses, phone numbers) from ``text_col``
    — the standard scrub pass before web text enters a training corpus.

    Pure JVM expressions (``regexp_count`` + ``regexp_replace``): the scan
    stays inside whole-stage codegen with zero Python in the hot path, so
    the op is embarrassingly parallel at any corpus size. Patterns apply
    in order, each counting against the PREVIOUS pattern's output (an
    email's digits must not also be counted as a phone number); the order
    and the counts are therefore deterministic and engine-portable.

    Adds ``n_pii_<name>`` counts per pattern and replaces ``text_col``
    with the scrubbed text.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    cur = F.col(text_col)
    out = df
    for name, pat, repl in pats:
        out = out.withColumn(f"n_pii_{name}", F.regexp_count(cur, F.lit(pat)))
        cur = F.regexp_replace(cur, pat, repl)
    return out.withColumn(text_col, cur)


# Gopher / MassiveText repetition thresholds (Rae et al. 2021, table A1):
# a document is removed when the fraction of characters in duplicate lines
# exceeds 20%, in the most-covering word 2-gram exceeds 20%, or in
# duplicated word 5-grams exceeds 15%.
REP_DUP_LINE_CHAR_MAX_PCT = 20
REP_TOP_BIGRAM_CHAR_MAX_PCT = 20
REP_DUP_5GRAM_CHAR_MAX_PCT = 15


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition signals (Gopher / MassiveText A1.1) — the
    character-fraction family that ``gopher_quality_flags``'s line-COUNT
    rule doesn't cover:

      dup_line_char_pct   % of chars in lines occurring more than once
                          (every occurrence counts, newlines excluded)
      top_bigram_char_pct % of chars covered by the most-covering word
                          2-gram (max over grams of count*len(gram))
      dup_5gram_char_pct  % of chars in word 5-grams occurring more than
                          once (count*len summed over duplicated grams)

    plus per-rule ``*_ok`` flags at the published thresholds and an
    overall ``rep_keep``. Percentages are integer (``div``) so Spark and
    a SQL oracle agree bit-for-bit; empty documents score 0 everywhere.

    Scale shape: ONE source scan builds kind-tagged gram structs (lines /
    2-grams / 5-grams plus a sentinel so empty docs survive), ONE explode
    feeds a (id, kind, gram) count with map-side partial aggregation —
    keys are per-document, so no cross-document skew — and a second
    per-id aggregation folds the three signals in the same pass. No
    joins, no Python, O(doc length) work per document.

    Reference tie: engine-side curation surface; the reference is a codec
    kernel with no text layer (spiraldb/fsst src/lib.rs:14-17).
    """
    t = F.trim(F.col(text_col))
    toks = F.split(t, r"\s+")

    def grams_of(n: int):
        return F.when(
            (F.length(t) > 0) & (F.size(toks) >= n),
            F.transform(F.sequence(F.lit(0), F.size(toks) - n),
                        lambda i: F.array_join(F.slice(toks, i + 1, n), " ")),
        ).otherwise(F.array().cast("array<string>"))

    def tagged(kind: str, arr):
        return F.transform(arr, lambda g: F.struct(
            F.lit(kind).alias("kind"), g.alias("g")))

    lines = F.when(F.length(t) == 0,
                   F.array().cast("array<string>")).otherwise(F.split(t, r"\n"))
    # the sentinel row keeps empty/short documents in the output
    all_grams = F.concat(
        F.array(F.struct(F.lit("N").alias("kind"), F.lit("").alias("g"))),
        tagged("L", lines), tagged("2", grams_of(2)), tagged("5", grams_of(5)))

    exploded = df.select(
        F.col(id_col).alias("_rid"), F.length(t).alias("n_chars"),
        F.explode(all_grams).alias("kg"),
    ).select("_rid", "n_chars", F.col("kg.kind").alias("kind"),
             F.col("kg.g").alias("g"))

    counts = exploded.groupBy("_rid", "kind", "g").agg(
        F.count("*").alias("cnt"), F.first("n_chars").alias("n_chars"))

    covered = F.col("cnt") * F.length("g")
    dup = F.when((F.col("cnt") > 1) & (F.col("kind") == "L"), covered)
    dup5 = F.when((F.col("cnt") > 1) & (F.col("kind") == "5"), covered)
    top2 = F.when(F.col("kind") == "2", covered)
    agg = counts.groupBy("_rid").agg(
        F.first("n_chars").alias("n_chars"),
        F.coalesce(F.sum(dup), F.lit(0)).alias("_line_chars"),
        F.coalesce(F.max(top2), F.lit(0)).alias("_g2_chars"),
        F.coalesce(F.sum(dup5), F.lit(0)).alias("_g5_chars"),
    )

    out = agg
    for src, dst in (("_line_chars", "dup_line_char_pct"),
                     ("_g2_chars", "top_bigram_char_pct"),
                     ("_g5_chars", "dup_5gram_char_pct")):
        out = out.withColumn(
            dst,
            F.when(F.col("n_chars") == 0, F.lit(0))
            .otherwise(F.expr(f"({src} * 100) div n_chars")).cast("bigint"))
    return (
        out.select(F.col("_rid").alias(id_col), "n_chars",
                   "dup_line_char_pct", "top_bigram_char_pct",
                   "dup_5gram_char_pct")
        .withColumn("dup_line_char_ok",
                    F.col("dup_line_char_pct") <= REP_DUP_LINE_CHAR_MAX_PCT)
        .withColumn("top_bigram_char_ok",
                    F.col("top_bigram_char_pct") <= REP_TOP_BIGRAM_CHAR_MAX_PCT)
        .withColumn("dup_5gram_char_ok",
                    F.col("dup_5gram_char_pct") <= REP_DUP_5GRAM_CHAR_MAX_PCT)
        .withColumn("rep_keep",
                    F.col("dup_line_char_ok") & F.col("top_bigram_char_ok")
                    & F.col("dup_5gram_char_ok"))
    )
