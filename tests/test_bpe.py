"""BPE trainer (operators/bpe.py) vs an independent pure-Python
reference implementation, plus degenerate-corpus behavior (the x16
lesson: the gate corpus has a 10-word minimum that masks short-doc
bugs, so exercise empty/1-char docs explicitly)."""

from __future__ import annotations

import collections

from pyspark.sql import functions as F

from vunnel_spark.operators.bpe import (
    EOW,
    bpe_train,
    merge_pair,
    pair_counts,
    word_counts,
)


def _py_bpe(texts: list[str], n_merges: int) -> list[tuple[str, str, int]]:
    """Reference BPE: dict-of-tuples, greedy left-to-right merge."""
    words = collections.Counter()
    for t in texts:
        for w in t.split():
            words[tuple(w) + (EOW,)] += 1
    merges = []
    for _ in range(n_merges):
        pairs = collections.Counter()
        for sym, freq in words.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += freq
        if not pairs:
            break
        # count desc, a asc, b asc — the deterministic tie-break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        out = collections.Counter()
        for sym, freq in words.items():
            new, i = [], 0
            for s in sym:
                if new and new[-1] == a and s == b:
                    new[-1] = a + b
                else:
                    new.append(s)
            out[tuple(new)] += freq
        words = out
    return merges


def test_bpe_train_matches_reference(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wider wide wide wide",
        "low newer wide lowest",
    ]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    got = bpe_train(docs, 6)
    want = _py_bpe(texts, 6)
    assert got == want


def test_bpe_degenerate_docs(spark):
    docs = spark.createDataFrame(
        [("",), ("   ",), ("a",), ("ab ab",)], "text string"
    )
    # word_counts drops empty tokens
    wc = {r["word"]: r["freq"] for r in word_counts(docs).collect()}
    assert wc == {"a": 1, "ab": 2}
    merges = bpe_train(docs, 2)
    # most frequent pair: ('a','b') cnt 2, then ('ab', EOW) cnt 2 —
    # tie at 2 broken by a asc: ('a','b') < ('ab',EOW)
    assert merges == _py_bpe(["", "   ", "a", "ab ab"], 2)
    assert merges[0] == ("a", "b", 2)


def test_merge_pair_is_greedy_left_to_right(spark):
    sw = spark.createDataFrame([(["a", "a", "a"], 1)], "symbols array<string>, freq long")
    out = merge_pair(sw, "a", "a").collect()[0]["symbols"]
    assert out == ["aa", "a"]  # not ["a", "aa"], not ["aa", "aa"]


def test_pair_counts_weighted_by_word_freq(spark):
    sw = spark.createDataFrame(
        [(["a", "b"], 3), (["b", "a"], 2)], "symbols array<string>, freq long"
    )
    got = {(r["a"], r["b"]): r["cnt"] for r in pair_counts(sw).collect()}
    assert got == {("a", "b"): 3, ("b", "a"): 2}


def _py_apply(word: str, merges) -> list[str]:
    """Reference greedy left-to-right apply of a frozen merge table."""
    syms = list(word) + [EOW]
    for a, b in merges:
        new = []
        for s in syms:
            if new and new[-1] == a and s == b:
                new[-1] = a + b
            else:
                new.append(s)
        syms = new
    return syms


def test_apply_merges_matches_reference(spark):
    from vunnel_spark.operators.bpe import apply_merges
    from vunnel_spark.queries.text import _BPE_FROZEN_MERGES

    words = ["key", "err", "ower", "spark", "st", "a", "sorter", "zzz",
             "ererer", "ooo", "wow", "stow"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: list(r["symbols"])
        for r in apply_merges(df, _BPE_FROZEN_MERGES).collect()
    }
    for w in words:
        assert got[w] == _py_apply(w, _BPE_FROZEN_MERGES), w


def test_apply_merges_empty_word_guard(spark):
    """sequence(1, 0) descends to [1, 0] — without the guard an empty
    word would tokenize to two phantom empty symbols + EOW (n_tok=3)
    instead of the correct [EOW]."""
    from vunnel_spark.operators.bpe import EOW, apply_merges
    from vunnel_spark.queries.text import _BPE_FROZEN_MERGES

    df = spark.createDataFrame([("",), ("a",)], "word string")
    got = {
        r["word"]: list(r["symbols"])
        for r in apply_merges(df, _BPE_FROZEN_MERGES).collect()
    }
    assert got[""] == [EOW]
    assert got["a"] == ["a", EOW]


def test_apply_merges_null_word_stays_null(spark):
    """A NULL word must propagate null symbols (the empty-word guard
    must not coerce null to [] / [EOW])."""
    from vunnel_spark.operators.bpe import apply_merges
    from vunnel_spark.queries.text import _BPE_FROZEN_MERGES

    df = spark.createDataFrame([(None,), ("ab",)], "word string")
    got = {
        r["word"]: r["symbols"]
        for r in apply_merges(df, _BPE_FROZEN_MERGES).collect()
    }
    assert got[None] is None
    assert got["ab"] is not None


def test_x23_oracle_replace_trick_matches_fold():
    """The delimiter-doubled SQL replace must merge EXACTLY what the
    greedy fold merges — pin the overlap ((a,a) on [a,a,a]) and the
    partial-symbol ([a, bc] must NOT merge under (a,b)) edge cases, per
    word, against the pure-Python reference."""
    import duckdb

    from vunnel_spark.queries.text import _BPE_FROZEN_MERGES, _bpe_apply_sql

    # include words engineered for the edge cases: 'ooo' (overlapping
    # (o,o)-shaped runs under (o,w)? no — use explicit merge table below),
    # plus corpus-shaped words for the frozen table
    words = ["key", "err", "ower", "spark", "st", "a", "sorter",
             "ererer", "wow", "stow", "ow", "owow"]
    rel = duckdb.sql(
        "SELECT word, trim(" + _bpe_apply_sql() + ") AS s FROM "
        "(SELECT unnest(" + repr(words).replace("'", "'") + ") AS word)"
    ).fetchall()
    got = {w: s.split(" ") for w, s in rel}
    for w in words:
        assert got[w] == _py_apply(w, _BPE_FROZEN_MERGES), w


def test_replace_trick_edge_cases_custom_table():
    """(a,a) on 'aaa' -> [aa, a]; (a,b) must not fire on [a, bc]."""
    import duckdb

    # hand-built: merges (a,a) then (b,c); word 'aaa' and 'abc'
    s = ("' ' || array_to_string(list_append("
         "regexp_split_to_array(word, ''), '</w>'), ' ') || ' '")
    for a, b in [("a", "a"), ("b", "c")]:
        s = (f"replace(replace(replace({s}, ' ', '  '), "
             f"' {a}  {b} ', ' {a}{b} '), '  ', ' ')")
    rel = duckdb.sql(
        f"SELECT word, trim({s}) AS s FROM "
        "(SELECT unnest(['aaa', 'abc', 'aab']) AS word)"
    ).fetchall()
    got = {w: out.split(" ") for w, out in rel}
    assert got["aaa"] == ["aa", "a", "</w>"]
    # (a,a) then (b,c): 'abc' -> a, bc, </w> — the 'a bc' adjacency must
    # NOT have been merged by the (a,b)-shaped pattern scanning inside
    # the 'bc' symbol
    assert got["abc"] == ["a", "bc", "</w>"]
    assert got["aab"] == ["aa", "b", "</w>"]
