"""Text-analysis queries over the ``documents`` table (LLM-pipeline
surface): token counting, quality scoring, fingerprinting, language-ID.
All JVM expressions except language-ID's single Arrow-batched UDF.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vunnel_spark.functions.text import (
    _LANG_PROFILES,
    avg_token_len,
    bpe_ish_token_count,
    detect_language,
    fingerprint,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from vunnel_spark.queries._util import t
from vunnel_spark.registry import register


# Registered FIRST in this module on purpose: the round-5 gate window is the
# 49 never-externally-verified queries (joins/windows/setops/scalars/
# similarity/sinks_q/multimodal) + x4 as entry #50, so the round-4 hash miss
# (word-split regex divergence) gets its fix proven at the external gate.
@register(
    "x4_document_fingerprints",
    """
    SELECT doc_id, md5(substr(text, 1, 500)) AS fingerprint FROM documents
    """,
    doc="Order-sensitive document fingerprint (functions/text.py "
        "fingerprint): md5 of the first 500 chars — no per-character "
        "arithmetic, so every Spark and DuckDB version computes "
        "bit-identical hex from identical input bytes (the r4 regex "
        "word-split and r5 codepoint-sum formulations were each "
        "engine-version-sensitive at the external gate)",
    tags=("text",),
)
def x4(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "x1_token_count_stats",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
           CAST(min(len(regexp_split_to_array(trim(text), '\\s+'))) AS INT) AS min_tokens,
           CAST(max(len(regexp_split_to_array(trim(text), '\\s+'))) AS INT) AS max_tokens
    FROM documents
    GROUP BY lang
    """,
    doc="Whitespace token counts per language (functions/text.py "
        "token_count): JVM split, no UDF",
    tags=("text",),
)
def x1(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return (
        docs.withColumn("ntok", token_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("total_tokens"),
            F.min("ntok").cast("int").alias("min_tokens"),
            F.max("ntok").cast("int").alias("max_tokens"),
        )
    )


@register(
    "x2_quality_signals",
    """
    WITH base AS (
      SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
    )
    SELECT doc_id,
           len(w) AS n_tokens,
           round(CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                 / length(text), 6) AS punct_ratio,
           round(CAST(len(list_filter(w, x -> list_contains(
                   ['the','a','of','and','to','in','is','it'], lower(x)))) AS DOUBLE)
                 / len(w), 6) AS stopword_ratio,
           round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w), 6)
             AS avg_token_len
    FROM base
    """,
    doc="Per-document quality signals (functions/text.py): punct ratio, "
        "stopword occurrence ratio, average token length — C4/Gopher-style "
        "filter inputs, all codegen expressions",
    tags=("text",),
)
def x2(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        F.round(avg_token_len(F.col("text")), 6).alias("avg_token_len"),
    )


@register(
    "x3_quality_filter",
    # Full SQL replica of quality_score + bpe_ish_token_count.  All
    # components are doubles, and no IEEE double lands exactly on a
    # 6-decimal midpoint (5e-7 * odd is not dyadic), so Spark's HALF_UP and
    # DuckDB's HALF_EVEN round(…, 6) cannot diverge here — the decimal-
    # rounding trap does not apply to double arithmetic.
    """
    WITH base AS (
      SELECT doc_id, text,
        CASE WHEN trim(text) = '' THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok,
        CASE WHEN length(text) = 0 THEN 0.0
             ELSE (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                  / length(text) END AS pr,
        CAST(COALESCE(list_sum(list_transform(
               string_split_regex(trim(lower(text)), '\\s+'),
               x -> CASE WHEN x IN ('the','a','of','and','to','in','is','it')
                         THEN 1 ELSE 0 END)), 0) AS DOUBLE)
          / len(string_split_regex(trim(lower(text)), '\\s+')) AS sw
      FROM documents
    ), scored AS (
      SELECT doc_id,
        round(least(ntok / 100.0, 1.0) * 0.5
            + greatest(0.0, 1.0 - pr * 4) * 0.3
            + (CASE WHEN sw > 0.6 THEN 0.4 WHEN sw > 0 THEN 1.0 ELSE 0.7 END) * 0.2,
          6) AS quality,
        CAST(COALESCE(list_sum(list_transform(
               regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])', 1),
               w -> greatest(1, CAST(ceil(length(w) / 4.0) AS BIGINT)))), 0)
             AS BIGINT) AS bpe_tokens
      FROM base
    )
    SELECT doc_id, quality, bpe_tokens FROM scored WHERE quality >= 0.3
    """,
    doc="Composite quality score + keep/drop filter (functions/text.py "
        "quality_score): the pipeline gate built from x2's signals; also "
        "exercises bpe-ish token estimation.  Oracle replicates the full "
        "score arithmetic in SQL, so the gate pins the exact filter "
        "semantics, not just the components",
    tags=("text",),
)
def x3(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        quality_score(F.col("text")).alias("quality"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    ).filter(F.col("quality") >= 0.3)


@register(
    "x5_language_id",
    # SQL replica of detect_language: same 500-char sample, same overlapping
    # bigram counts (list lambdas), same CJK codepoint rule, same first-wins
    # argmax order.  Profiles are interpolated from the One constant the UDF
    # uses, so the oracle cannot drift from the implementation.
    f"""
    WITH s AS (
      SELECT lang, text,
             lower(substr(text, 1, 500)) AS sample,
             substr(text, 1, 200) AS head
      FROM documents
    ), feat AS (
      SELECT lang, text,
        len(list_filter(
              list_transform(range(length(head)), i -> unicode(substr(head, i+1, 1))),
              c -> c BETWEEN 19968 AND 40959)) AS cjk,
        length(head) AS headlen,
        CASE WHEN length(sample) < 2 THEN NULL
             ELSE list_transform(range(length(sample) - 1),
                                 i -> substr(sample, i+1, 2)) END AS bg
      FROM s
    ), scores AS (
      SELECT lang, text, cjk, headlen, len(bg) AS nb,
        {", ".join(
            "len(list_filter(bg, x -> x IN ("
            + ", ".join(f"'{b}'" for b in profile)
            + f"))) AS {lang}_s"
            for lang, profile in _LANG_PROFILES.items() if profile
        )}
      FROM feat
    ), det AS (
      SELECT lang,
        CASE
          WHEN text IS NULL OR text = '' THEN NULL
          WHEN cjk > headlen * 0.2 THEN 'zh'
          WHEN nb IS NULL OR nb = 0 THEN NULL
          ELSE CASE
            {" ".join(
                f"WHEN {lang}_s = greatest("
                + ", ".join(f"{l}_s" for l in _LANG_PROFILES if _LANG_PROFILES[l])
                + f") THEN '{lang}'"
                for lang in _LANG_PROFILES if _LANG_PROFILES[lang]
            )}
          END
        END AS detected
      FROM scores
    )
    SELECT lang, detected, count(*) AS n FROM det GROUP BY lang, detected
    """,
    doc="Language-ID via character-bigram profiles (functions/text.py "
        "detect_language): one Arrow-batched pandas UDF; compared against "
        "the corpus lang labels as an accuracy side-output.  The heuristic "
        "is deterministic, so the oracle replicates it exactly in SQL "
        "(bigram counts via list lambdas, first-wins argmax)",
    tags=("text", "udf"),
)
def x5(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return (
        docs.withColumn("detected", detect_language(F.col("text")))
        .groupBy("lang", "detected")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# id offset for the planted benchmark set (beyond any real doc_id)
_BENCH_BASE = 2_000_000


@register(
    "x6_decontamination",
    f"""
    WITH bench_docs AS (
      SELECT doc_id + {_BENCH_BASE} AS doc_id, text
      FROM documents WHERE doc_id % 37 = 0
    ), train_words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
    ), bench_words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM bench_docs
    ), train_sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS s
      FROM train_words, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i) g
      WHERE len(w) >= 5
    ), bench_sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS s
      FROM bench_words, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i) g
      WHERE len(w) >= 5
    )
    SELECT t.doc_id,
           count(DISTINCT t.s) AS n_shared_ngrams,
           count(DISTINCT b.doc_id) AS n_benchmark_docs
    FROM train_sh t JOIN bench_sh b ON t.s = b.s
    GROUP BY t.doc_id
    """,
    doc="Train/eval decontamination: training docs sharing any 5-token "
        "n-gram with the benchmark set (planted as copies of every 37th "
        "doc, so ground-truth contamination exists).  The benchmark n-gram "
        "set is orders of magnitude smaller than the corpus, so the overlap "
        "join broadcasts the benchmark side — the training corpus shuffles "
        "only for the per-doc aggregate, never for pair generation",
    tags=("text", "dedup"),
)
def x6(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + _BENCH_BASE).alias("doc_id"), "text"
    )

    def shingles(df):
        w = F.split(F.trim(F.col("text")), r"\s+")
        return (
            df.select("doc_id", w.alias("w"))
            .where(F.size("w") >= 5)
            .select(
                "doc_id",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("w") - 5),
                        lambda i: F.concat_ws(" ", F.slice("w", i + 1, 5)),
                    )
                ).alias("s"),
            )
            .distinct()
        )

    tr, be = shingles(docs), shingles(bench)
    return (
        tr.join(F.broadcast(be.withColumnRenamed("doc_id", "bench_id")), "s")
        .groupBy(tr["doc_id"])
        .agg(
            F.countDistinct("s").alias("n_shared_ngrams"),
            F.countDistinct("bench_id").alias("n_benchmark_docs"),
        )
    )


@register(
    "x7_hash_stratified_sample",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
          < CASE WHEN lang = 'en' THEN '4' ELSE '8' END
    """,
    doc="Deterministic stratified Bernoulli sampling via an engine-portable "
        "content hash: keep a doc iff its md5 first hex digit falls under "
        "the per-stratum rate threshold (en 4/16, others 8/16).  ZERO "
        "shuffles — a pure filter that pushes to the scan — which is why "
        "hash-threshold sampling, not per-group top-k, is the 100 TB "
        "downsampling path; exactly reproducible across engines and runs",
    tags=("text", "sampling"),
)
def x7(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang").where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        < F.when(F.col("lang") == "en", F.lit("4")).otherwise(F.lit("8"))
    )


@register(
    "x8_vocab_topk",
    """
    WITH words AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ), counts AS (
      SELECT token, count(*) AS freq FROM words GROUP BY token
    )
    SELECT token, freq FROM counts ORDER BY freq DESC, token LIMIT 100
    """,
    doc="Corpus vocabulary: top-100 tokens by frequency with a total "
        "ordering (freq desc, token asc tie-break).  groupBy(token) gets a "
        "map-side partial aggregate; the global top-k is orderBy+limit, "
        "which Spark executes as TakeOrdered (per-partition heaps + driver "
        "merge of k rows), never a full sort shuffle",
    tags=("text",),
)
def x8(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(100)
    )


@register(
    "x9_pii_redaction",
    r"""
    WITH enriched AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or admin' || CAST(doc_id % 7 AS VARCHAR)
                  || '@test.org via http://site' || CAST(doc_id AS VARCHAR)
                  || '.test/page?id=' || CAST(doc_id AS VARCHAR) AS text
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '[a-z0-9.]+@[a-z0-9.]+')) - 1
                AS BIGINT) AS n_emails,
           CAST(len(regexp_split_to_array(text, 'https?://[^ ]+')) - 1
                AS BIGINT) AS n_urls,
           md5(regexp_replace(regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+',
                 '<EMAIL>', 'g'), 'https?://[^ ]+', '<URL>', 'g')) AS redacted_md5,
           CAST(length(regexp_replace(regexp_replace(text,
                 '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                 'https?://[^ ]+', '<URL>', 'g')) AS BIGINT) AS redacted_len
    FROM enriched
    """,
    doc="PII/URL redaction pass (LLM-pipeline scrubbing): regex-count then "
        "regex-replace emails and URLs with placeholder tags — pure "
        "Catalyst regexp_replace, zero shuffles, filter+projection pushed "
        "to the scan.  PII is injected deterministically per doc_id so the "
        "operator sees real hits; the oracle restates injection + "
        "redaction (duckdb needs the 'g' flag for global replace).  Output "
        "keeps an md5 of the redacted text so the gate hash-checks the "
        "full redacted payload without shipping it",
    tags=("text",),
)
def x9(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    email_pat = "[a-z0-9.]+@[a-z0-9.]+"
    url_pat = "https?://[^ ]+"
    enriched = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or admin"), (F.col("doc_id") % 7).cast("string"),
            F.lit("@test.org via http://site"), F.col("doc_id").cast("string"),
            F.lit(".test/page?id="), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), email_pat, "<EMAIL>"), url_pat, "<URL>"
    )
    return enriched.select(
        "doc_id",
        (F.size(F.split(F.col("text"), email_pat)) - 1).cast("long").alias("n_emails"),
        (F.size(F.split(F.col("text"), url_pat)) - 1).cast("long").alias("n_urls"),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


@register(
    "x10_repetition_signals",
    r"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      FROM documents
    ), wc AS (
      SELECT doc_id, word, count(*) AS c FROM words GROUP BY doc_id, word
    ), stats AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_words,
             count(*) AS n_distinct_words,
             CAST(max(c) AS BIGINT) AS max_word_freq
      FROM wc GROUP BY doc_id
    ), top AS (
      SELECT w.doc_id, min(w.word) AS top_word
      FROM wc w JOIN stats s ON s.doc_id = w.doc_id AND w.c = s.max_word_freq
      GROUP BY w.doc_id
    )
    SELECT s.doc_id, s.n_words, s.n_distinct_words, s.max_word_freq, t.top_word,
           s.max_word_freq * 5 >= s.n_words AS is_repetitive
    FROM stats s JOIN top t ON t.doc_id = s.doc_id
    """,
    doc="Gopher-style repetition quality signals per document: duplicate-"
        "word mass (n_words vs n_distinct_words) and top-word "
        "concentration, with the repetitive flag as integer arithmetic "
        "(max_freq*5 >= n_words, i.e. top word >= 20%) so no float "
        "rounding can diverge between engines.  Shape: word explode -> "
        "partial-aggregated groupBy(doc_id, word) -> per-doc rollup; the "
        "argmax word joins back on (doc_id, max freq) with a min(word) "
        "tie-break for determinism.  At 100 TB this is the same "
        "shingle-explode geometry as d4 — linear in corpus size, skew "
        "bounded because a doc's word count caps its group sizes",
    tags=("text",),
)
def x10(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    wc = (
        docs.select(
            "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("c").alias("max_word_freq"),
    )
    maxes = stats.select(
        F.col("doc_id").alias("m_doc_id"), F.col("max_word_freq").alias("m_freq")
    )
    top = (
        wc.join(
            maxes,
            (F.col("doc_id") == F.col("m_doc_id")) & (F.col("c") == F.col("m_freq")),
        )
        .groupBy("doc_id")
        .agg(F.min("word").alias("top_word"))
    )
    return stats.join(top, "doc_id").select(
        "doc_id", "n_words", "n_distinct_words", "max_word_freq", "top_word",
        (F.col("max_word_freq") * 5 >= F.col("n_words")).alias("is_repetitive"),
    )


@register(
    "x11_sequence_packing",
    r"""
    WITH tok AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), cum AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS tokens_before
      FROM tok
    )
    SELECT doc_id, n_tokens,
           CAST(tokens_before // 512 AS BIGINT) AS start_seq,
           CAST(tokens_before % 512 AS BIGINT) AS start_offset,
           CAST((tokens_before + n_tokens - 1) // 512 AS BIGINT) AS end_seq,
           CAST((tokens_before + n_tokens - 1) // 512
                - tokens_before // 512 + 1 AS BIGINT) AS n_seqs
    FROM cum
    """,
    doc="Training-sequence packing planner (GPT-style concat-and-chunk): "
        "documents concatenate in doc_id order and chunk into 512-token "
        "sequences; each doc learns which sequence(s) it lands in and at "
        "what offset.  The naive form is a GLOBAL window cumsum — a "
        "single-partition scan that dies at 100 TB.  This plan is the "
        "distributed two-phase prefix sum instead: docs bucket by doc_id "
        "range, the cumsum runs per-bucket (hash-partitioned window), and "
        "each bucket's exclusive prefix comes from a tiny per-bucket "
        "total aggregate (rows = #buckets) broadcast back.  The oracle "
        "states the same arithmetic as the plain global cumsum duckdb can "
        "afford at gate scale",
    tags=("text", "window"),
)
def x11(spark, sf_dir):
    from pyspark.sql import Window

    CTX = 512
    BUCKET = 1000  # docs per bucket; at 100 TB pick ~1e6 rows per bucket
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
        F.expr(f"doc_id div {BUCKET}").alias("bucket"),
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = tok.withColumn(
        "local_before", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    # tiny frame: one row per bucket; its global window is #buckets rows,
    # not #docs rows, so the single-partition sort is trivially cheap
    w_bucket = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    prefixes = (
        tok.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bucket_total"))
        .withColumn(
            "bucket_before", F.coalesce(F.sum("bucket_total").over(w_bucket), F.lit(0))
        )
        .select("bucket", "bucket_before")
    )
    gb = F.col("bucket_before") + F.col("local_before")
    return (
        local.join(F.broadcast(prefixes), "bucket")
        .withColumn("tokens_before", gb)
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"tokens_before div {CTX}").alias("start_seq"),
            (F.col("tokens_before") % CTX).alias("start_offset"),
            F.expr(f"(tokens_before + n_tokens - 1) div {CTX}").alias("end_seq"),
            (
                F.expr(f"(tokens_before + n_tokens - 1) div {CTX}")
                - F.expr(f"tokens_before div {CTX}")
                + 1
            ).alias("n_seqs"),
        )
    )


@register(
    "x12_mixture_sampling",
    """
    WITH tagged AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 < 5 THEN 'common'
                  WHEN doc_id % 10 < 8 THEN 'mid'
                  ELSE 'rare' END AS src_group
      FROM documents
    ), c AS (
      SELECT src_group, count(*) AS n FROM tagged GROUP BY src_group
    ), w AS (
      SELECT src_group, n, CAST(floor(sqrt(n)) AS BIGINT) AS wt FROM c
    ), tot AS (
      SELECT CAST(sum(wt) AS BIGINT) AS tw FROM w
    )
    SELECT d.doc_id, d.src_group
    FROM tagged d JOIN w USING (src_group) CROSS JOIN tot
    WHERE ((d.doc_id * 2654435761) % 4294967296) * tot.tw * w.n
          < 300 * w.wt * 4294967296
    """,
    doc="Per-source mixture sampling (sqrt-temperature reweighting, the "
        "multi-corpus mixing step of a pretraining pipeline): source "
        "weights are floor(sqrt(count)), each doc keeps with probability "
        "min(1, B*w_s/(W*c_s)) via a deterministic multiplicative-hash "
        "Bernoulli draw.  EVERY quantity is integer arithmetic — weights "
        "floored, the keep test cross-multiplied — so no pow()/float "
        "summation can diverge between engines or runs.  Shape: tiny "
        "per-source count aggregate broadcast back onto a pure scan+filter "
        "(the x7 zero-shuffle sampling path, now with data-derived rates). "
        "the keep test runs in DECIMAL(38,0) so the "
        "products stay exact at any corpus size (a BIGINT form overflows "
        "once h*W*c crosses 9.2e18)",
    tags=("text", "sampling"),
)
def x12(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 5, F.lit("common"))
        .when(F.col("doc_id") % 10 < 8, F.lit("mid"))
        .otherwise(F.lit("rare"))
        .alias("src_group"),
    )
    w = (
        tagged.groupBy("src_group")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("wt", F.floor(F.sqrt(F.col("n"))).cast("long"))
    )
    tot = w.agg(F.sum("wt").cast("long").alias("tw"))
    # DECIMAL(38,0), not BIGINT: doc_id * 2654435761 overflows a long for
    # ids >= ~3.5e9 (ANSI crash at corpus scale); values are identical to
    # the narrow arithmetic wherever both are defined, so the oracle's
    # BIGINT form still hash-matches on test-scale ids
    dec = "decimal(38,0)"
    h = F.pmod(F.col("doc_id").cast(dec) * F.lit(2654435761), F.lit(4294967296))
    return (
        tagged.join(F.broadcast(w), "src_group")
        .crossJoin(F.broadcast(tot))
        .filter(
            h * F.col("tw").cast(dec) * F.col("n").cast(dec)
            < F.lit(300) * F.col("wt").cast(dec) * F.lit(4294967296)
        )
        .select("doc_id", "src_group")
    )


@register(
    "x13_unigram_logprob_filter",
    r"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
      FROM documents
    ), freq AS (
      SELECT word, count(*) AS c FROM words GROUP BY word
    ), tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq),
    scored AS (
      SELECT w.doc_id,
             round(avg(ln(t.n) - ln(f.c)), 6) AS avg_nll,
             count(*) AS n_tokens
      FROM words w JOIN freq f USING (word), tot t
      GROUP BY w.doc_id
    )
    SELECT doc_id, avg_nll, CAST(n_tokens AS BIGINT) AS n_tokens,
           avg_nll <= 8.0 AS kept
    FROM scored
    """,
    doc="Pseudo-perplexity quality filter (the public CCNet-style LM "
        "filter with a corpus-unigram proxy model): per-token negative "
        "log-likelihood -ln(freq/N) averaged per document — documents "
        "full of corpus-rare tokens (boilerplate ids, garbled text) "
        "score high and are dropped.  Shape: token explode -> vocab "
        "frequency aggregate (a vocab-sized dim, broadcastable at any "
        "corpus scale) -> token-frequency join -> per-doc average; the "
        "corpus total rides a 1-row broadcast like x8/x12.  The kept "
        "flag compares the ROUNDED score so both engines decide from "
        "identical values",
    tags=("text",),
)
def x13(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"),
    )
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").cast("double").alias("n"))
    scored = (
        words.join(freq, "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log(F.col("n")) - F.log(F.col("c"))), 6).alias("avg_nll"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )
    return scored.select(
        "doc_id", "avg_nll", "n_tokens", (F.col("avg_nll") <= 8.0).alias("kept")
    )


@register(
    "x16_gopher_repetition",
    r"""
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
    ), g AS (
      SELECT doc_id, len(w) AS n,
             list_transform(generate_series(1, greatest(len(w) - 1, 1)),
                            i -> array_to_string(w[i:i+1], ' ')) AS g2,
             list_transform(generate_series(1, greatest(len(w) - 4, 1)),
                            i -> array_to_string(w[i:i+4], ' ')) AS g5,
             length(array_to_string(w, ' ')) AS total_chars
      FROM base
    ), cnt AS (
      SELECT doc_id, gram, count(*) AS cnt
      FROM (SELECT doc_id, unnest(g2) AS gram FROM g)
      GROUP BY 1, 2
    ), top AS (
      SELECT doc_id, gram, cnt,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, gram DESC) AS rn
      FROM cnt
    )
    SELECT g.doc_id,
           CASE WHEN g.n < 2 THEN 0.0
                ELSE round(t.cnt * length(t.gram) / g.total_chars, 6)
           END AS top2_char_frac,
           CASE WHEN g.n < 5 THEN 0.0
                ELSE round(1 - CAST(len(list_distinct(g5)) AS DOUBLE) / len(g5), 6)
           END AS dup5_frac,
           (CASE WHEN g.n < 2 THEN 0.0
                 ELSE round(t.cnt * length(t.gram) / g.total_chars, 6)
            END) <= 0.20
           AND (CASE WHEN g.n < 5 THEN 0.0
                     ELSE round(1 - CAST(len(list_distinct(g5)) AS DOUBLE) / len(g5), 6)
                END) <= 0.15 AS kept
    FROM g JOIN top t ON t.doc_id = g.doc_id AND t.rn = 1
    """,
    doc="Repetition-based quality rules from Gopher (Rae et al. 2021, "
        "arXiv:2112.11446 §A1.1): per-document fraction of characters "
        "covered by the most frequent word 2-gram, and fraction of "
        "duplicated 5-grams, each gating a keep decision.  Both signals "
        "are PURE per-row array expressions, so the whole query is a "
        "zero-shuffle scan+project (plan-asserted in tests/test_plans.py) "
        "whose per-document cost is O(m log m) in the token count m: the "
        "top bigram is array_sort + ONE aggregate() pass carrying "
        "(prev, run, best) — equal grams are adjacent after the sort, so "
        "a running max over run lengths IS the argmax, with count ties "
        "breaking to the lexicographically larger gram exactly like the "
        "oracle's cnt DESC, gram DESC rank-1 row.  (Round 6 shipped "
        "transform(array_distinct(g2), g -> size(filter(g2, ...))) here "
        "— O(d^2) per document, invisible on the fixture but ~10^9 "
        "comparisons for one 50k-token web doc: a straggler-killer.  The "
        "sort+scan is the bounded form; the oracle deliberately uses "
        "only unnest/group/window constructs proven at prior external "
        "gates, never struct-typed list_aggregate.)  The kept flag "
        "compares ROUNDED values so both engines decide from identical "
        "doubles",
    tags=("text",),
)
def x16(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    # split once into a named column (r14 split-once lesson — the
    # inlined form re-split the text per gram inside both lambdas)
    arr = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_w")
    )
    w = F.col("_w")
    n = F.size(w)
    # upper bounds clamped to >= 1: sequence(1, 0) DESCENDS to [1, 0]
    # and slice(w, 0, k) throws — the short-doc outputs are already
    # forced to 0.0 by the n-guards below, but the gram arrays must be
    # safe to EVALUATE regardless (codegen subexpression elimination may
    # compute them outside the CASE branches)
    g2 = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(w, i, 2)),
    )
    g5 = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 4, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(w, i, 5)),
    )
    # most-frequent bigram in O(m log m): sort so equal grams are
    # adjacent, then one linear scan tracking the current run and the
    # best (count, gram) seen.  Ascending scan order means a later gram
    # that TIES the best count is lexicographically larger, matching the
    # oracle's cnt DESC, gram DESC rank-1 pick.
    def _scan_step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = (run > acc["best_cnt"]) | (
            (run == acc["best_cnt"]) & (x > acc["best_gram"])
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best_cnt"]).alias("best_cnt"),
            F.when(better, x).otherwise(acc["best_gram"]).alias("best_gram"),
        )

    top = F.aggregate(
        F.array_sort(g2),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best_cnt"),
            F.lit("").alias("best_gram"),
        ),
        _scan_step,
    )
    total_chars = F.length(F.concat_ws(" ", w))
    top2_frac = F.when(n < 2, F.lit(0.0)).otherwise(
        F.round(top["best_cnt"] * F.length(top["best_gram"]) / total_chars, 6)
    )
    dup5_frac = F.when(n < 5, F.lit(0.0)).otherwise(
        F.round(1 - F.size(F.array_distinct(g5)) / F.size(g5), 6)
    )
    return arr.select(
        "doc_id",
        top2_frac.alias("top2_char_frac"),
        dup5_frac.alias("dup5_frac"),
    ).withColumn(
        "kept", (F.col("top2_char_frac") <= 0.20) & (F.col("dup5_frac") <= 0.15)
    )


def _bigram_nll_scored(docs):
    """(doc_id, avg_nll, n_bigrams): the x17 add-one-smoothed bigram-LM
    scorer, shared by x17 (threshold filter) and x22 (CCNet terciles)."""
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # Split ONCE into a named column: `w` inlined by value re-executes
    # the whole-text split at every reference — twice per bigram inside
    # the transform lambda plus the size() uses, i.e. O(tokens) splits
    # per document (the r14 CVSS tree-duplication lesson; x17 measured
    # 13.9 s at sf0.1 with the inlined form).  CollapseProject keeps the
    # producer separate because the split is non-cheap and multiply
    # referenced.
    arr = docs.select("doc_id", w.alias("_w"))
    # docs under 2 tokens have no bigrams: filter BEFORE building the
    # index sequence — sequence(1, size-1) DESCENDS to [1, 0] when
    # size==1 and element_at(w, 0) throws in every Spark build (the
    # oracle's generate_series(1, 0) is empty and just omits the doc)
    pairs = arr.filter(F.size("_w") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("_w"), i).alias("w1"),
                    F.element_at(F.col("_w"), i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = docs.select(F.explode(w).alias("word")).agg(
        F.countDistinct("word").cast("double").alias("v")
    )
    return (
        pairs.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.log((F.col("c1") + F.col("v")) / (F.col("c2") + 1))), 6
            ).alias("avg_nll"),
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        )
    )



@register(
    "x17_bigram_perplexity",
    r"""
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      FROM documents
    ), pairs AS (
      SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      FROM base, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) g
    ), c2 AS (
      SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1
    ), vocab AS (
      SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v
      FROM (SELECT unnest(w) AS word FROM base)
    ), scored AS (
      SELECT p.doc_id,
             round(avg(ln((c1.c1 + vocab.v) / (c2.c2 + 1))), 6) AS avg_nll,
             CAST(count(*) AS BIGINT) AS n_bigrams
      FROM pairs p JOIN c2 USING (w1, w2) JOIN c1 USING (w1), vocab
      GROUP BY p.doc_id
    )
    SELECT doc_id, avg_nll, n_bigrams, avg_nll <= 3.0 AS kept FROM scored
    """,
    doc="Corpus-trained bigram-LM quality scoring — the CCNet-style "
        "(Wenzek et al. 2020, arXiv:1911.00359) perplexity bucketing "
        "shape with an add-one-smoothed bigram model in place of the "
        "external KenLM: P(w2|w1) = (C(w1 w2)+1)/(C1(w1)+V), per-doc "
        "avg negative log-likelihood.  Two count aggregates train the "
        "model (the bigram table is vocab-bounded, NOT corpus-bounded — "
        "at 100 TB it shuffles on the ngram key once and is then a dim "
        "table), scoring re-joins per-doc bigrams to the counts on the "
        "same ngram key (AQE broadcasts when the vocab is small; at web "
        "vocab the equi-join stays co-keyed), and the vocab size rides "
        "a 1-row broadcast like x13's corpus total.  Upgrade over "
        "x13's unigram proxy: context-sensitive, catches shuffled-word "
        "garbage that unigram frequency cannot",
    tags=("text",),
)
def x17(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    scored = _bigram_nll_scored(docs)
    return scored.withColumn("kept", F.col("avg_nll") <= 3.0)


#: fixed BM25 evaluation queries — three drawn from the corpus vocabulary,
#: one with an absent term (idf of a zero-df term never contributes)
_BM25_QUERIES = [
    (1, "spark table scan"),
    (2, "hash join merge"),
    (3, "slow window sort"),
    (4, "fast value zzzmissing"),
]
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 5


@register(
    "x18_bm25_retrieval",
    f"""
    WITH q(query_id, qtext) AS (
      VALUES {", ".join(f"({i}, '{s}')" for i, s in _BM25_QUERIES)}
    ), qterms AS (
      SELECT query_id, unnest(regexp_split_to_array(qtext, ' ')) AS word FROM q
    ), words AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM words GROUP BY 1
    ), df AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY 1
    ), g AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ), scored AS (
      SELECT qt.query_id, tf.doc_id,
             sum(
               ln(1 + (g.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({_BM25_K1} + 1)
               / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / g.avgdl))
             ) AS score
      FROM qterms qt
      JOIN tf ON tf.word = qt.word
      JOIN df ON df.word = qt.word
      JOIN dl ON dl.doc_id = tf.doc_id, g
      GROUP BY 1, 2
    ), ranked AS (
      SELECT query_id, doc_id, round(score, 6) AS score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(score, 6) DESC, doc_id) AS rank
      FROM scored
    )
    SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {_BM25_TOPK}
    """,
    doc="BM25 lexical retrieval (Robertson & Zaragoza 2009, the Lucene "
        "ln(1+...) idf form; k1=1.2, b=0.75): top-5 documents per query "
        "for a fixed query set — the exact-scoring lexical baseline "
        "beside the ANN family's dense retrieval (n1-n9).  Scale shape: "
        "term frequencies are ONE (doc_id, word) aggregate (the "
        "inverted-index posting list, shuffled on the term key), the "
        "query-term probe equi-joins postings on that same key, the "
        "df/idf join is left to AQE (the probe side is bounded by the "
        "query terms and broadcasts; a forced broadcast of df would "
        "ship the whole vocab), and N/avgdl ride a 1-row "
        "broadcast like x13's total; per-query top-k is a "
        "|queries|-partition window, never a global sort.  Ranking ties "
        "break on the ROUNDED score then doc_id, so both engines emit "
        "the identical top-5 (a query term absent from the corpus "
        "contributes nothing — query 4 pins that path)",
    tags=("text", "similarity"),
)
def x18(spark, sf_dir):
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    words = docs.select("doc_id", F.explode(w).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    df_ = words.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    g = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    qterms = spark.createDataFrame(
        [(i, t_) for i, s in _BM25_QUERIES for t_ in s.split(" ")],
        "query_id int, word string",
    )
    idf = F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        qterms.join(tf, "word")
        # no broadcast hint on df_: at web vocab the full df table is
        # huge, while the (qterms x tf) side is bounded by the query
        # terms — AQE broadcasts the small side at runtime
        .join(df_, "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(g))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * F.col("tf") * (_BM25_K1 + 1) / denom), 6).alias("score"))
    )
    win = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("int"))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select("query_id", "doc_id", "score", "rank")
    )


@register(
    "x19_bpe_pair_stats",
    r"""
    WITH words AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      FROM documents
    ), wf AS (
      SELECT word, count(*) AS freq FROM words
      WHERE length(word) > 0 GROUP BY word
    ), inner_pairs AS (
      SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                    i -> substr(word, i, 2))) AS pair, freq
      FROM wf WHERE length(word) >= 2
    ), all_pairs AS (
      SELECT substr(pair, 1, 1) AS pair_a, substr(pair, 2, 1) AS pair_b,
             freq
      FROM inner_pairs
      UNION ALL
      SELECT substr(word, length(word), 1) AS pair_a, '</w>' AS pair_b,
             freq
      FROM wf
    ), counts AS (
      SELECT pair_a, pair_b, CAST(sum(freq) AS BIGINT) AS cnt
      FROM all_pairs GROUP BY 1, 2
    )
    SELECT pair_a, pair_b, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, pair_a, pair_b)
                AS BIGINT) AS rank
    FROM counts ORDER BY cnt DESC, pair_a, pair_b LIMIT 20
    """,
    doc="BPE tokenizer-training pair statistics (operators/bpe.py; "
        "Sennrich et al. 2016): the top-20 adjacent character-pair "
        "frequencies — including the '</w>' end-of-word sentinel pair — "
        "that drive the first merge decision, with the deterministic "
        "tie-break (count desc, pair asc) the iterative trainer "
        "(bpe_train, unit-tested against an independent pure-Python "
        "BPE) uses for every step.  The scale property the operator "
        "exploits: pair counts need only the Zipf-bounded DISTINCT-WORD "
        "table weighted by frequency, never the raw token stream — one "
        "corpus pass builds (word, freq), each merge step is one "
        "|vocab|-bounded pair aggregate with map-side partials and a "
        "k=1 driver collect (the kmeans-model discipline), and the "
        "merge rewrite is a pure fold expression (F.aggregate), no UDF, "
        "no reshuffle of the word table",
    tags=("text", "bpe"),
)
def x19(spark, sf_dir):
    from vunnel_spark.operators.bpe import pair_counts, to_symbols, word_counts

    docs = t(spark, sf_dir, "documents")
    counts = pair_counts(to_symbols(word_counts(docs)))
    # Top-20 FIRST via orderBy+limit — planned as TakeOrderedAndProject
    # (per-partition heaps + driver merge of 20-row candidates), so the
    # full distinct-pair frame (10^7-10^8 rows at web scale) never
    # single-partition-sorts.  Rank is then attached WITHOUT a window:
    # fold the 20 survivors into one sorted array (struct ordering
    # (-cnt, pair_a, pair_b) = the query's ORDER BY) and posexplode —
    # no WindowExec anywhere in the plan, so no unpartitioned-window
    # hazard can regress in under this query's name.
    top = (
        counts.select(
            F.col("a").alias("pair_a"),
            F.col("b").alias("pair_b"),
            F.col("cnt").cast("bigint").alias("cnt"),
        )
        .orderBy(F.desc("cnt"), "pair_a", "pair_b")
        .limit(20)
    )
    packed = top.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("cnt")).alias("negcnt"),
                    F.col("pair_a"),
                    F.col("pair_b"),
                    F.col("cnt"),
                )
            )
        ).alias("xs")
    )
    return packed.select(
        F.posexplode("xs").alias("i", "s")
    ).select(
        F.col("s.pair_a").alias("pair_a"),
        F.col("s.pair_b").alias("pair_b"),
        F.col("s.cnt").alias("cnt"),
        (F.col("i") + 1).cast("bigint").alias("rank"),
    )


@register(
    "x20_dsir_importance",
    r"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      FROM documents
    ), w AS (
      SELECT doc_id, word FROM words WHERE length(word) > 0
    ), raw AS (
      SELECT word, count(*) AS cr FROM w GROUP BY 1
    ), tgt AS (
      SELECT w.word, count(*) AS ct
      FROM w JOIN documents d USING (doc_id)
      WHERE d.lang = 'en' GROUP BY 1
    ), consts AS (
      SELECT CAST(sum(cr) AS DOUBLE) AS n_raw,
             CAST(count(*) AS DOUBLE) AS v,
             (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) FROM tgt) AS n_tgt
      FROM raw
    ), scored AS (
      SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             avg(ln(coalesce(t.ct, 0) + 1.0) - ln(r.cr + 1.0)) AS s
      FROM w
      JOIN raw r USING (word)
      LEFT JOIN tgt t USING (word)
      GROUP BY 1
    )
    SELECT doc_id, n_tokens,
           round(s + ln(c.n_raw + c.v) - ln(c.n_tgt + c.v), 6) + 0.0 AS logratio,
           round(s + ln(c.n_raw + c.v) - ln(c.n_tgt + c.v), 6) + 0.0 >= 0.0 AS kept
    FROM scored, consts c
    """,
    doc="DSIR-style importance weighting for domain-targeted data "
        "selection (Xie et al. 2023, 'Data Selection for Language "
        "Models via Importance Resampling'), with the paper's hashed "
        "n-gram bag reduced to the unigram bag: per-document importance "
        "= average over tokens of ln p_target(w) - ln p_raw(w) under "
        "add-1-smoothed unigram models (target = the 'en' slice, raw = "
        "the whole corpus; smoothing denominator = raw vocab), kept = "
        "score >= 0, decided from the ROUNDED score so both engines "
        "agree (the x13 discipline).  Shape: ONE token explode feeds "
        "both frequency dims (each vocab-bounded, AQE-broadcastable), "
        "per-doc avg is one doc-keyed shuffle, and the three scalar "
        "constants ride a 1-row broadcast (whitelisted BNLJ); the "
        "length-normalizing avg replaces the paper's sum so scores are "
        "comparable across documents without a separate length model",
    tags=("text", "sampling"),
)
def x20(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    w = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
        )
        .filter(F.length("word") > 0)
    )
    raw = w.groupBy("word").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        w.join(docs.filter(F.col("lang") == "en").select("doc_id"), "doc_id")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    consts = raw.agg(
        F.sum("cr").cast("double").alias("n_raw"),
        F.count(F.lit(1)).cast("double").alias("v"),
    ).crossJoin(
        F.broadcast(
            tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("double").alias("n_tgt"))
        )
    )
    scored = (
        w.join(raw, "word")
        .join(tgt, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.avg(
                F.log(F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                - F.log(F.col("cr") + 1.0)
            ).alias("s"),
        )
    )
    # + 0.0 normalizes IEEE negative zero: a score an epsilon below zero
    # rounds to -0.0, which one engine keeps signed and the other does
    # not — the gate's canonical form prints them differently.
    logratio = (
        F.round(
            F.col("s") + F.log(F.col("n_raw") + F.col("v"))
            - F.log(F.col("n_tgt") + F.col("v")),
            6,
        )
        + F.lit(0.0)
    )
    return (
        scored.crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            "n_tokens",
            logratio.alias("logratio"),
            (logratio >= 0.0).alias("kept"),
        )
    )


@register(
    "x21_boilerplate_phrases",
    r"""
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM base, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
      WHERE len(w) >= 3
    ), n AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
    ), b AS (
      SELECT s FROM sh, n GROUP BY s, n.n_docs
      HAVING count(DISTINCT doc_id) >= 0.05 * n.n_docs
    ), per AS (
      SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_boiler
      FROM sh LEFT JOIN b USING (s) GROUP BY sh.doc_id
    )
    SELECT doc_id, n_shingles, n_boiler,
           round(n_boiler / CAST(n_shingles AS DOUBLE), 6) AS boiler_frac,
           2 * n_boiler <= n_shingles AS kept
    FROM per
    """,
    doc="C4-style boilerplate detection (Raffel et al. 2020 drop "
        "repeated lines; here word-3-gram phrases since the corpus is "
        "single-line): a phrase is boilerplate when it appears in >= 5% "
        "of documents, and each doc reports the fraction of its shingle "
        "positions covered by boilerplate, kept when <= half (decided "
        "on exact integers, 2*n_boiler <= n_shingles, so both engines "
        "agree).  Shape: one shingle explode feeds a distinct-doc count "
        "per phrase (map-side partials, phrase-keyed shuffle), the "
        "boilerplate dim is corpus-frequency-bounded and re-joins the "
        "shingle stream on the SAME phrase key (co-keyed, no second "
        "shuffle of the big side; AQE broadcasts it when small), and "
        "the doc-keyed rollup is the only other exchange.  The 5% bar "
        "rides the 1-row doc count like x13's corpus total",
    tags=("text", "dedup"),
)
def x21(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # split once into a named column — the inlined form re-split the
    # whole text ~3x per shingle (see _bigram_nll_scored's note; x21
    # measured 19.5 s at sf0.1 with the inlined form)
    arr = docs.select("doc_id", w.alias("_w"))
    sh = arr.filter(F.size("_w") >= 3).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("_w"), i),
                    F.element_at(F.col("_w"), i + 1),
                    F.element_at(F.col("_w"), i + 2),
                ),
            )
        ).alias("s"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    boiler = (
        sh.groupBy("s")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") >= 0.05 * F.col("n_docs"))
        .select("s", F.lit(True).alias("is_boiler"))
    )
    per = (
        sh.join(boiler, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("is_boiler"), 1).otherwise(0)
            ).cast("bigint").alias("n_boiler"),
        )
    )
    return per.select(
        "doc_id", "n_shingles", "n_boiler",
        F.round(F.col("n_boiler") / F.col("n_shingles"), 6).alias("boiler_frac"),
        (2 * F.col("n_boiler") <= F.col("n_shingles")).alias("kept"),
    )


@register(
    "x22_perplexity_buckets",
    r"""
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      FROM documents
    ), pairs AS (
      SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      FROM base, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) g
    ), c2 AS (
      SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1
    ), vocab AS (
      SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v
      FROM (SELECT unnest(w) AS word FROM base)
    ), scored AS (
      SELECT p.doc_id,
             round(avg(ln((c1.c1 + vocab.v) / (c2.c2 + 1))), 6) AS avg_nll
      FROM pairs p JOIN c2 USING (w1, w2) JOIN c1 USING (w1), vocab
      GROUP BY p.doc_id
    ), cuts AS (
      SELECT percentile_disc(0.33) WITHIN GROUP (ORDER BY avg_nll) AS cut1,
             percentile_disc(0.67) WITHIN GROUP (ORDER BY avg_nll) AS cut2
      FROM scored
    )
    SELECT CASE WHEN avg_nll <= cut1 THEN 'head'
                WHEN avg_nll <= cut2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(min(avg_nll), 6) AS min_nll,
           round(max(avg_nll), 6) AS max_nll
    FROM scored, cuts GROUP BY 1
    """,
    doc="CCNet head/middle/tail perplexity bucketing (Wenzek et al. "
        "2020): docs split into corpus-relative terciles of the x17 "
        "bigram-LM score.  Cut points use percentile_disc (the SQL-"
        "standard 'smallest value with cdf >= p'), which both engines "
        "define identically and which returns an actual MEMBER of the "
        "rounded score set — no interpolation arithmetic to diverge "
        "between engines.  Scale: Spark's exact percentile aggregate "
        "keeps distinct-value->count state, and the score column is "
        "rounded to 6 places, so state is value-granularity-bounded "
        "(the i9 mergeable-quantile discipline), not corpus-bounded; "
        "the 2-value cut row rides a 1-row broadcast (whitelisted "
        "BNLJ), and min/max per bucket are accumulation-order-free",
    tags=("text", "sampling"),
)
def x22(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    scored = _bigram_nll_scored(docs).select("doc_id", "avg_nll")
    cuts = scored.agg(
        F.expr(
            "percentile_disc(0.33) WITHIN GROUP (ORDER BY avg_nll)"
        ).alias("cut1"),
        F.expr(
            "percentile_disc(0.67) WITHIN GROUP (ORDER BY avg_nll)"
        ).alias("cut2"),
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .withColumn(
            "bucket",
            F.when(F.col("avg_nll") <= F.col("cut1"), "head")
            .when(F.col("avg_nll") <= F.col("cut2"), "middle")
            .otherwise("tail"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.min("avg_nll"), 6).alias("min_nll"),
            F.round(F.max("avg_nll"), 6).alias("max_nll"),
        )
    )


#: the FROZEN tokenizer artifact for x23: the first 8 merges bpe_train
#: learns on the sf0.01 corpus (deterministic tie-break, see
#: operators/bpe.py) — pinned as a literal the way a production pipeline
#: pins a trained tokenizer, so the apply path is SF-portable and the
#: oracle can restate it.
_BPE_FROZEN_MERGES = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
]


def _bpe_apply_sql() -> str:
    """DuckDB expression applying the frozen merges to column ``word``.

    Representation: symbols joined by single spaces, flanked by one
    space.  Each merge is replace(replace(replace(s, ' ', '  '),
    ' a  b ', ' ab '), '  ', ' ') — doubling the delimiters first makes
    consecutive matches not share a space, so one left-to-right global
    replace merges exactly the pairs the greedy fold merges (the
    (a,a)-on-[a,a,a] and [a,bc] edge cases are pinned in
    tests/test_bpe.py)."""
    s = ("' ' || array_to_string(list_append("
         "regexp_split_to_array(word, ''), '</w>'), ' ') || ' '")
    for a, b in _BPE_FROZEN_MERGES:
        s = f"replace(replace(replace({s}, ' ', '  '), ' {a}  {b} ', ' {a}{b} '), '  ', ' ')"
    return s


@register(
    "x23_bpe_encode",
    rf"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      FROM documents
    ), w AS (
      SELECT doc_id, word FROM words WHERE length(word) > 0
    ), dim AS (
      SELECT DISTINCT word FROM w
    ), tok AS (
      SELECT word,
             CAST(len(regexp_split_to_array(trim({{APPLY}}), ' '))
                  AS BIGINT) AS n_tok
      FROM dim
    ), per AS (
      SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(t.n_tok) AS BIGINT) AS n_tokens
      FROM w JOIN tok t USING (word) GROUP BY w.doc_id
    )
    SELECT doc_id, n_words, n_tokens,
           round(n_tokens / CAST(n_words AS DOUBLE), 6) AS tokens_per_word
    FROM per
    """.replace("{APPLY}", _bpe_apply_sql()),
    doc="BPE tokenizer APPLY — the serving half of x19's trainer "
        "(Sennrich et al. 2016): segment every document with the frozen "
        "8-merge table _BPE_FROZEN_MERGES via operators/bpe.py "
        "apply_merges (greedy left-to-right fold per merge, pure "
        "F.aggregate expressions, no UDF), reporting per-doc word/token "
        "counts and fertility (tokens per word, an exact-integer "
        "ratio).  Scale: segmentation runs on the DISTINCT-word "
        "dimension (Zipf-bounded — millions of rows for a trillion-"
        "token corpus), then re-joins the doc-word stream on the word "
        "key (AQE broadcasts the dim when small), so the fold cost "
        "amortizes across every occurrence; the oracle restates the "
        "fold as delimiter-doubled string replaces",
    tags=("text", "bpe"),
)
def x23(spark, sf_dir):
    from vunnel_spark.operators.bpe import apply_merges

    docs = t(spark, sf_dir, "documents")
    wd = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.length("word") > 0)
    dim = wd.select("word").distinct()
    tok = apply_merges(dim, _BPE_FROZEN_MERGES).select(
        "word", F.size("symbols").cast("bigint").alias("n_tok")
    )
    per = (
        wd.join(tok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    return per.select(
        "doc_id", "n_words", "n_tokens",
        F.round(F.col("n_tokens") / F.col("n_words"), 6).alias("tokens_per_word"),
    )


#: chunking geometry for x24 — 32-token windows, stride 24 (8-token
#: overlap), the RAG/pretraining fixed-context window shape
_CHUNK_C, _CHUNK_S = 32, 24


@register(
    "x24_chunk_windows",
    rf"""
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w,
             len(regexp_split_to_array(trim(text), '\s+')) AS n
      FROM documents
      WHERE length(trim(text)) > 0
    ), g AS (
      SELECT doc_id, w, n,
             CASE WHEN n <= {_CHUNK_C} THEN 1
                  ELSE 1 + (n - {_CHUNK_C} + {_CHUNK_S} - 1) // {_CHUNK_S}
             END AS n_chunks
      FROM base
    ), ch AS (
      SELECT doc_id, CAST(k AS INT) AS chunk_idx,
             1 + k * {_CHUNK_S} AS start, w, n
      FROM g, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS k) u
    )
    SELECT doc_id, chunk_idx,
           CAST(least(start + {_CHUNK_C} - 1, n) - start + 1 AS INT)
             AS n_tokens,
           w[start] AS first_tok,
           w[least(start + {_CHUNK_C} - 1, n)] AS last_tok
    FROM ch
    """,
    doc="Fixed-context window chunking with overlap — the RAG/"
        "pretraining document splitter: 32-token windows at stride 24 "
        "(8-token overlap), short docs one chunk, the final chunk "
        "truncated at the document end.  Chunk count and boundaries are "
        "pure integer arithmetic on the token count, so both engines "
        "enumerate identical chunks.  Scale: one narrow projection — "
        "sequence+posexplode over per-doc counts, no shuffle at all "
        "before any downstream consumer; the chunk stream inherits the "
        "scan's partitioning (this is the shape x11 packs and n-family "
        "embeds downstream)",
    tags=("text",),
)
def x24(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    w = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(w)
    n_chunks = F.when(n <= _CHUNK_C, F.lit(1)).otherwise(
        1 + F.floor((n - _CHUNK_C + _CHUNK_S - 1) / _CHUNK_S).cast("int")
    )
    ch = docs.select(
        "doc_id", w.alias("w"), n.alias("n"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "_k"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (1 + F.col("_k") * _CHUNK_S).alias("start"),
        "w", "n",
    )
    end = F.least(F.col("start") + _CHUNK_C - 1, F.col("n"))
    return ch.select(
        "doc_id", "chunk_idx",
        (end - F.col("start") + 1).cast("int").alias("n_tokens"),
        F.element_at("w", F.col("start").cast("int")).alias("first_tok"),
        F.element_at("w", end.cast("int")).alias("last_tok"),
    )


@register(
    "x25_unicode_nfc_keys",
    r"""
    WITH raw AS (
      SELECT doc_id,
             text || ' e' || chr(769) || ' ' || chr(8491) || ' '
                  || chr(4352) || chr(4449) AS raw
      FROM documents
    ), n AS (
      SELECT doc_id, raw, nfc_normalize(raw) AS norm FROM raw
    )
    SELECT doc_id,
           CAST(length(raw) AS INT) AS len_raw,
           CAST(length(norm) AS INT) AS len_norm,
           md5(norm) AS norm_key,
           length(raw) <> length(norm) AS composed
    FROM n
    """,
    doc="Unicode NFC canonical-composition keys (functions/text.py "
        "nfc_normalize) — the normalize-before-hash stage of a text "
        "dedup pipeline: every doc gets a suffix of decomposed "
        "e+COMBINING ACUTE (U+0301), ANGSTROM SIGN (U+212B, an NFC "
        "singleton), and a Hangul jamo pair (U+1100 U+1161), so the "
        "normalizer must actually compose (length shrinks by 2: the "
        "e+accent pair and the jamo pair each fuse; the angstrom is a "
        "1:1 singleton remap) and "
        "the md5 over the normalized UTF-8 is the dedup key.  The "
        "oracle runs DuckDB's native nfc_normalize against the UDF's "
        "unicodedata NFC — two independent Unicode implementations "
        "agreeing BY VALUE on every row.  Scale: one Arrow-batched "
        "projection, no shuffle",
    tags=("text", "udf"),
)
def x25(spark, sf_dir):
    from vunnel_spark.functions.text import nfc_normalize

    docs = t(spark, sf_dir, "documents")
    suffix = " e\u0301 \u212b \u1100\u1161"  # decomposed: e+combining acute, angstrom, jamo
    raw = F.concat(F.col("text"), F.lit(suffix))
    n = docs.select(
        "doc_id", raw.alias("raw"), nfc_normalize(raw).alias("norm")
    )
    return n.select(
        "doc_id",
        F.length("raw").cast("int").alias("len_raw"),
        F.length("norm").cast("int").alias("len_norm"),
        F.md5(F.col("norm").cast("binary")).alias("norm_key"),
        (F.length("raw") != F.length("norm")).alias("composed"),
    )


#: packing geometry for x27 — 128-token training sequences; one EOD
#: token is charged per document (the GPT-style concat separator)
_PACK_B = 128


@register(
    "x27_sequence_packing",
    r"""
    WITH sk AS (
      SELECT GREATEST(1, COUNT(*) // 5000) AS k FROM documents
    ), d AS (
      SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END + 1 AS BIGINT) AS n_tokens,
             doc_id % (32 * k) AS shard_id
      FROM documents, sk
    ), c AS (
      SELECT doc_id, shard_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard_id ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM d
    )
    SELECT CAST(shard_id AS INT) AS shard_id, doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           CAST(cum_before // 128 AS BIGINT) AS start_seq,
           CAST((cum_before + n_tokens - 1) // 128 AS BIGINT) AS end_seq,
           CAST(cum_before % 128 AS INT) AS start_offset,
           CAST((cum_before + n_tokens - 1) // 128
                - cum_before // 128 + 1 AS INT) AS n_seqs
    FROM c
    """,
    doc="Concat-then-chunk sequence packing — the GPT-style pretraining "
        "batch layout x24's per-document chunker does NOT cover: "
        "documents concatenate (one EOD token each) into a per-shard "
        "token stream that is cut into fixed 128-token training "
        "sequences, so a document knows which sequences it lands in "
        "(start_seq/end_seq/start_offset) and how many it straddles.  "
        "One running-sum window per shard computes the whole layout.  "
        "Scale: shards derive from corpus size (doc_id % (32 * k), the "
        "debian2 discipline) so per-shard stream length — and the "
        "sequential window-cumsum a single task must walk — stays "
        "BOUNDED as the corpus grows; one hash exchange on shard_id and "
        "nothing else.  A fixed shard count would serialize the cumsum "
        "at 100 TB — the same class as a fixed synthesis id space",
    tags=("text", "window"),
)
def x27(spark, sf_dir):
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    k = int(max(1, docs.count() // 5000))
    n_words = F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    d = docs.select(
        "doc_id",
        (n_words + 1).cast("long").alias("n_tokens"),
        (F.col("doc_id") % (32 * k)).alias("shard_id"),
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.select(
        "doc_id", "shard_id", "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("cum_before"),
    )
    return c.select(
        F.col("shard_id").cast("int").alias("shard_id"),
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.expr(f"cum_before div {_PACK_B}").alias("start_seq"),
        F.expr(f"(cum_before + n_tokens - 1) div {_PACK_B}").alias("end_seq"),
        (F.col("cum_before") % _PACK_B).cast("int").alias("start_offset"),
        (
            F.expr(f"(cum_before + n_tokens - 1) div {_PACK_B}")
            - F.expr(f"cum_before div {_PACK_B}")
            + 1
        ).cast("int").alias("n_seqs"),
    )
