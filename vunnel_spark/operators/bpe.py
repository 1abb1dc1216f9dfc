"""Byte-pair-encoding tokenizer training as Spark aggregates (x19).

BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
with Subword Units") is the tokenizer-training workhorse of every LLM
data pipeline: start from characters, repeatedly merge the most
frequent adjacent symbol pair.  The expensive part at corpus scale is
the PAIR-COUNT aggregate, and it has a crucial shrinkage property this
module exploits: counts need only the DISTINCT-WORD table weighted by
word frequency (a Zipf-bounded dimension, millions of rows for a
trillion-token corpus), never the raw token stream.  So the plan is:

  one pass over the corpus -> (word, freq) table          [1 shuffle]
  per merge step: adjacent-pair aggregate over the word
  table -> top-1 pair to the driver (k=1 collect — the
  kmeans-model discipline) -> rewrite symbol arrays with a
  fold expression (no UDF)                                [1 shuffle each]

Each merge step's shuffle carries at most |vocab|^2 pair rows after
map-side partial aggregation; the word table itself never re-shuffles
(merge rewrite is a narrow map).  Symbols are plain strings and a merge
concatenates them — the standard BPE representation, where the product
of ("ab","c") and ("a","bc") is the SAME symbol "abc" by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: end-of-word sentinel appended as a standalone symbol, the Sennrich
#: convention that keeps "low" in "lowest" distinct from final "low".
EOW = "</w>"


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, freq) over whitespace tokens — the Zipf-bounded dimension
    all later passes run on.  Empty tokens (leading/trailing split
    artifacts, empty docs) are dropped."""
    return (
        docs.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def to_symbols(words: DataFrame) -> DataFrame:
    """(symbols: array<string>, freq): each word as its character
    symbols with the end-of-word sentinel appended."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    return words.select(F.concat(chars, F.array(F.lit(EOW))).alias("symbols"), "freq")


def pair_counts(symbol_words: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over (symbols, freq): the BPE
    objective.  Pairs explode from the bounded word table (average word
    length symbols per row), then one freq-weighted sum with map-side
    partials."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("symbols") - 1),
        lambda i: F.struct(
            F.element_at("symbols", i).alias("a"),
            F.element_at("symbols", i + 1).alias("b"),
        ),
    )
    return (
        symbol_words.filter(F.size("symbols") >= 2)
        .select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _merge_fold(a: str, b: str):
    """Column expression: greedy left-to-right rewrite of every (a, b)
    adjacency in the ``symbols`` array into the merged symbol a||b — a
    pure fold (F.aggregate), no UDF.  The just-merged symbol becomes the
    new left context, so overlapping runs resolve exactly like the
    Sennrich reference implementation ((a,a) on [a,a,a] -> [aa,a])."""
    merged = F.lit(a + b)
    return F.aggregate(
        "symbols",
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def merge_pair(symbol_words: DataFrame, a: str, b: str) -> DataFrame:
    """Greedy left-to-right rewrite of every (a, b) adjacency into the
    merged symbol a||b — a pure fold expression (F.aggregate), no UDF,
    no shuffle: the word table maps in place."""
    return symbol_words.select(_merge_fold(a, b).alias("symbols"), "freq")


def apply_merges(words: DataFrame, merges: list) -> DataFrame:
    """(word, symbols): tokenize each distinct word with a FROZEN merge
    table — the apply path of the trainer, how a pinned tokenizer
    artifact runs over a new corpus.  Input is one ``word`` column
    (typically the distinct-word dimension); each merge is one fold
    expression applied in training order, so the whole segmentation is
    a single narrow projection — no UDF, no shuffle, and the Zipf-
    bounded dimension amortizes the fold across every occurrence.

    Empty words are guarded here rather than by caller discipline:
    ``sequence(1, 0)`` DESCENDS to [1, 0] (the x17 hazard), which would
    manufacture two phantom empty-string symbols for a zero-length
    word — an empty word tokenizes to [] (or [EOW] with the sentinel).
    A NULL word stays NULL (the explicit isNotNull branch keeps the
    guard from coercing null to [] — null in, null symbols out).
    """
    chars = F.when(
        F.col("word").isNotNull() & (F.length("word") > 0),
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ),
    ).when(F.col("word").isNotNull(), F.array().cast("array<string>"))
    symbols = F.concat(chars, F.array(F.lit(EOW)))
    out = words.select("word", symbols.alias("symbols"))
    for a, b in merges:
        out = out.select("word", _merge_fold(a, b).alias("symbols"))
    return out


def bpe_train(docs: DataFrame, n_merges: int) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(a, b, count), ...] in
    merge order.  Ties break deterministically (count desc, a asc,
    b asc) so every engine and every run learns the identical merge
    table.  Driver traffic is ONE row per merge step."""
    words = to_symbols(word_counts(docs))
    # the word table is reused n_merges times: cache it once
    words = words.cache()
    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(n_merges):
            top = (
                pair_counts(words)
                .orderBy(F.desc("cnt"), "a", "b")
                .limit(1)
                .collect()
            )
            if not top:
                break
            a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
            merges.append((a, b, cnt))
            nxt = merge_pair(words, a, b).cache()
            nxt.count()  # materialize before dropping the parent
            words.unpersist()
            words = nxt
    finally:
        words.unpersist()
    return merges
