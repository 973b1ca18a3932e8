"""Training-corpus preparation: document splitting and BPE training.

Both operators are corpus-scale Spark plans with JVM-side hot paths:

- :func:`split_docs` cuts long documents into bounded word windows (the
  pre-tokenization step before sequence packing). Pure built-in
  expressions (split/sequence/slice/posexplode), no Python in the row
  path.
- :func:`bpe_pair_counts` / :func:`bpe_train` implement byte-pair-encoding
  tokenizer training the way large-corpus BPE trainers actually work
  (Sennrich et al. 2016; HF tokenizers): the CORPUS reduces to a
  word-frequency table in one distributed pass (corpus-scale -> vocab-scale
  shuffle with map-side partial aggregation), and the merge loop runs over
  that weighted vocabulary. Pair counting is a JVM ``transform`` over
  character indexes; the iterative merge loop runs driver-side over a
  frequency-capped vocabulary (the same corpus->sample reduction the IVF
  trainer uses) — at 100 TB the corpus pass stays fully distributed and
  the driver sees only ``vocab_cap`` rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def split_docs(df: DataFrame, text_col: str = "text",
               max_words: int = 200, id_col: str = "doc_id",
               stride: int | None = None) -> DataFrame:
    """Split each document into pieces of at most ``max_words`` whitespace
    words — the window step before training-sequence packing.

    Returns (id_col, piece_id, piece_text, piece_words); documents with
    zero words produce no pieces. ``stride`` (default ``max_words``:
    disjoint windows) < ``max_words`` yields overlapping windows for
    context-continuity training. One narrow projection, no shuffle, no
    Python row path — ``split``/``sequence``/``slice``/``array_join`` are
    all whole-stage-codegen built-ins, so the operator streams at scan
    speed over 100 TB.
    """
    if max_words <= 0:
        raise ValueError(f"max_words must be positive, got {max_words}")
    step = max_words if stride is None else stride
    if step <= 0 or step > max_words:
        raise ValueError(f"stride must be in [1, max_words], got {step}")
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    base = df.select(F.col(id_col), words.alias("_words")) \
             .withColumn("_nw", F.size("_words")) \
             .filter(F.col("_nw") > 0)
    # piece i covers words [i*step+1, i*step+max_words]; the last piece
    # starts at the greatest i*step < n_words
    n_pieces = (F.floor((F.col("_nw") - 1) / step) + 1).cast("int")
    return (
        base.select(
            F.col(id_col), F.col("_words"),
            F.posexplode(F.sequence(F.lit(0), n_pieces - 1)))
        .select(
            F.col(id_col),
            F.col("pos").cast("bigint").alias("piece_id"),
            F.array_join(
                F.slice("_words", F.col("pos") * step + 1, max_words),
                " ").alias("piece_text"),
            F.least(
                F.lit(max_words).cast("bigint"),
                F.size("_words") - F.col("pos") * step
            ).alias("piece_words"))
    )


def word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — the corpus-scale -> vocab-scale
    reduction every BPE trainer starts from. One hash shuffle on the word
    with map-side partial counts; at 100 TB the shuffle moves vocabulary
    rows, not corpus rows."""
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    return (df.select(F.explode(words).alias("word"))
            .groupBy("word").agg(F.count("*").alias("freq")))


def bpe_pair_counts(df: DataFrame, text_col: str = "text",
                    k: int | None = None) -> DataFrame:
    """Frequency of every adjacent CHARACTER pair inside words, weighted by
    word frequency — the first-iteration statistic of BPE training (the
    pair a BPE trainer merges first is this table's argmax).

    Pair extraction runs over the (already reduced) word-frequency table
    via a JVM ``transform`` over character indexes — vocab-scale work, no
    Python. Returns (left, right, freq) ordered by freq desc with a
    deterministic (left, right) tiebreak; ``k`` limits to the top k pairs.
    """
    # 1-char words first: Spark's sequence(1, 0) DESCENDS instead of
    # returning empty, so they must not reach the transform
    wf = word_freqs(df, text_col).filter(F.expr("char_length(word) >= 2"))
    pairs = wf.select(
        F.col("freq"),
        F.explode(F.expr(
            "transform(sequence(1, char_length(word) - 1), "
            "i -> struct(substring(word, i, 1) AS left, "
            "substring(word, i + 1, 1) AS right))")).alias("p"))
    out = (pairs.select("p.left", "p.right", "freq")
           .groupBy("left", "right").agg(F.sum("freq").alias("freq"))
           .orderBy(F.desc("freq"), F.asc("left"), F.asc("right")))
    return out.limit(k) if k is not None else out


def bpe_reference_merges(weighted_words: list[tuple[str, int]],
                         n_merges: int) -> list[tuple[str, str, int]]:
    """Pure-Python BPE merge loop over a (word, freq) list — the classic
    Sennrich et al. 2016 algorithm. Shared by :func:`bpe_train` (which
    feeds it the distributed word-frequency reduction) and the tests
    (which feed it tiny corpora directly). Returns
    [(left_symbol, right_symbol, pair_freq), ...] in merge order; ties
    break on (left, right) lexicographic order for determinism."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, f in weighted_words:
        vocab[tuple(w)] = vocab.get(tuple(w), 0) + f
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), f = best
        merges.append((a, b, f))
        merged = a + b
        nv: dict[tuple[str, ...], int] = {}
        for syms, fr in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            nv[t] = nv.get(t, 0) + fr
        vocab = nv
    return merges


def bpe_train(df: DataFrame, text_col: str = "text", n_merges: int = 50,
              vocab_cap: int = 65536) -> DataFrame:
    """Distributed BPE tokenizer training: ONE corpus-scale pass reduces
    the corpus to (word, freq); the merge loop runs driver-side over the
    top ``vocab_cap`` words by frequency (ties broken by word for
    determinism) — the standard trainer shape (HF tokenizers train from a
    word-frequency dict, not the raw corpus). At 100 TB the collect is
    ``vocab_cap`` rows regardless of corpus size; tail-word mass beyond
    the cap is the documented approximation (cap it higher for fidelity).

    Returns (rank, left, right, freq) — the ordered merge table a
    tokenizer applies at encode time."""
    spark = df.sparkSession
    wf = (word_freqs(df, text_col)
          .orderBy(F.desc("freq"), F.asc("word")).limit(vocab_cap))
    weighted = [(r["word"], r["freq"]) for r in wf.collect()]
    merges = bpe_reference_merges(weighted, n_merges)
    rows = [(i, a, b, f) for i, (a, b, f) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, freq bigint")
