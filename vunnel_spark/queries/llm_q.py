"""End-to-end LLM pretrain-corpus pipeline DAG (llm1).

The provider-DAG discipline (nvd1/rhel1/... — one query that chains a
whole pipeline so the gate verifies the COMPOSITION, not just the
parts) applied to the LLM-data surface: quality filter (x3's scorer) →
language filter (x5's detector) → exact dedup keep-lowest-id (d1's
digest groupBy) → deterministic per-source cap (the RefinedWeb-style
domain quota, ordered by a portable md5 permutation) → per-source
rollup.  Every stage reuses the exact arithmetic its standalone query
already gate-proved, so a hash mismatch here isolates the WIRING —
filter ordering, column propagation through the dedup window, the cap's
tie-breaks — rather than any one operator.

Scale notes: quality/token scoring is scan-fused codegen; language-ID
is one Arrow-batched pandas UDF projection; the dedup window partitions
by the sha256 digest (raw text never shuffles twice — at 100 TB the
digest is the shuffle key); the per-source cap window partitions by
source (bounded per-group frames, no global sort anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from vunnel_spark.functions.text import (
    _LANG_PROFILES,
    bpe_ish_token_count,
    detect_language,
    quality_score,
)
from vunnel_spark.queries._util import DUP_BASE as _DUP_BASE, t
from vunnel_spark.registry import register

_CAP = 200  # max docs kept per source after filtering+dedup

# corpus with synthetic exact duplicates (every 5th doc re-appended under
# a new id, same source) so the dedup stage has real work — the d1
# fixture pattern, with `source` carried through for the cap stage
_CORPUS_SQL = f"""
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + {_DUP_BASE} AS doc_id, source, text
      FROM documents WHERE doc_id % 5 = 0
"""


def _with_exact_dups_src(docs: DataFrame) -> DataFrame:
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + _DUP_BASE
    )
    return docs.unionByName(dups)


@register(
    "llm1_pretrain_corpus_dag",
    # Stage SQL is x3's quality/bpe arithmetic + x5's bigram detector
    # verbatim (both individually gate-proved), then d1's group-by-text
    # dedup and a row_number cap ordered by the md5 hex of the id — the
    # only hash both engines render identically (oracle-portability
    # postmortems: no xxhash64 in oracles).  unicode() below is the
    # deliberate full-codepoint CJK rule mirrored from the UDF's ord()
    # (waived in tests/test_registry_lint.py::_CODEPOINT_WAIVERS).
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    base AS (
      SELECT doc_id, source, text,
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
      FROM corpus
    ), scored AS (
      SELECT doc_id, source, text,
        round(least(ntok / 100.0, 1.0) * 0.5
            + greatest(0.0, 1.0 - pr * 4) * 0.3
            + (CASE WHEN sw > 0.6 THEN 0.4 WHEN sw > 0 THEN 1.0 ELSE 0.7 END) * 0.2,
          6) AS quality,
        CAST(COALESCE(list_sum(list_transform(
               regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])', 1),
               w -> greatest(1, CAST(ceil(length(w) / 4.0) AS BIGINT)))), 0)
             AS BIGINT) AS bpe_tokens
      FROM base
    ), passing AS (
      SELECT doc_id, source, text, quality, bpe_tokens,
             lower(substr(text, 1, 500)) AS sample,
             substr(text, 1, 200) AS head
      FROM scored WHERE quality >= 0.3
    ), feat AS (
      SELECT doc_id, source, text, quality, bpe_tokens,
        len(list_filter(
              list_transform(range(length(head)), i -> unicode(substr(head, i+1, 1))),
              c -> c BETWEEN 19968 AND 40959)) AS cjk,
        length(head) AS headlen,
        CASE WHEN length(sample) < 2 THEN NULL
             ELSE list_transform(range(length(sample) - 1),
                                 i -> substr(sample, i+1, 2)) END AS bg
      FROM passing
    ), scores AS (
      SELECT doc_id, source, text, quality, bpe_tokens, cjk, headlen,
        len(bg) AS nb,
        {", ".join(
            "len(list_filter(bg, x -> x IN ("
            + ", ".join(f"'{b}'" for b in profile)
            + f"))) AS {lang}_s"
            for lang, profile in _LANG_PROFILES.items() if profile
        )}
      FROM feat
    ), det AS (
      SELECT doc_id, source, text, quality, bpe_tokens,
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
    ), en AS (
      SELECT doc_id, source, quality, bpe_tokens, text
      FROM det WHERE detected = 'en'
    ), dedup AS (
      SELECT doc_id, source, quality, bpe_tokens FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY text) AS keep_id FROM en)
      WHERE doc_id = keep_id
    ), capped AS (
      SELECT source, quality, bpe_tokens FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM dedup)
      WHERE rn <= {_CAP}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(bpe_tokens) AS BIGINT) AS sum_tokens,
           round(CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS avg_quality
    FROM capped GROUP BY source
    """,
    doc="End-to-end LLM pretrain-corpus DAG: quality filter (x3's "
        "scorer) -> language filter (x5's detector UDF) -> exact dedup "
        "keep-lowest-id (d1's digest groupBy) -> deterministic "
        "per-source cap of 200 by md5-permuted order (RefinedWeb-style "
        "domain quota) -> per-source rollup (docs, BPE-ish tokens, mean "
        "quality).  The provider-DAG discipline applied to the LLM "
        "surface: every stage reuses gate-proved arithmetic, so a "
        "mismatch isolates the composition wiring",
    tags=("llm", "dedup", "text", "udf"),
)
def llm1(spark, sf_dir):
    docs = _with_exact_dups_src(
        t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        quality_score(F.col("text")).alias("quality"),
        bpe_ish_token_count(F.col("text")).cast("bigint").alias("bpe_tokens"),
    ).filter(F.col("quality") >= 0.3)
    en = scored.withColumn("detected", detect_language(F.col("text"))).filter(
        F.col("detected") == "en"
    )
    # exact dedup: min id per sha256 digest — text shuffles once, keyed
    # by the 32-byte digest (the oracle partitions by text itself; equal
    # modulo sha256 collision)
    w_dup = Window.partitionBy(F.sha2(F.col("text"), 256))
    dedup = (
        en.withColumn("keep_id", F.min("doc_id").over(w_dup))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "source", "quality", "bpe_tokens")
    )
    # per-source quota: deterministic md5 permutation, bounded frames
    w_cap = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    capped = dedup.withColumn("rn", F.row_number().over(w_cap)).filter(
        F.col("rn") <= _CAP
    )
    # avg over raw doubles is accumulation-order-sensitive: Spark's
    # partial-sum merge order varies run to run, and a ~1e-16 wobble
    # occasionally crosses a 6-decimal rounding boundary (observed as a
    # one-in-a-few-runs hash flip at sf0.1).  quality is already
    # rounded to 6 decimals, so sum exact integer MICRO-units and
    # divide once — the b1 exact-integer-cents discipline for means.
    micro = F.round(F.col("quality") * 1000000).cast("bigint")
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("bpe_tokens").cast("bigint").alias("sum_tokens"),
        F.round(
            F.sum(micro).cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("avg_quality"),
    )


@register(
    "llm2_media_corpus_dag",
    # Stage SQL is m7's closed-form PNG feature arithmetic (gate-proved)
    # feeding d1's keep-lowest-id dedup shape, keyed on the FEATURE
    # tuple instead of a text digest, then the per-source rollup.
    f"""
    WITH corpus AS (
      SELECT doc_id, source, doc_id AS base FROM documents
      UNION ALL
      SELECT doc_id + {_DUP_BASE} AS doc_id, source, doc_id AS base
      FROM documents WHERE doc_id % 5 = 0
    ), xs AS (SELECT x FROM generate_series(0, 23) AS t(x)),
    feats AS (
      SELECT doc_id AS media_id, source,
             CAST(base % 16 + 8 AS INT) AS width,
             CAST(base % 8 + 8 AS INT) AS height,
             round((SELECT avg((base + x) % 256) FROM xs
                    WHERE x < base % 16 + 8), 4) AS mr,
             round(CAST((7 * base) % 256 AS DOUBLE), 4) AS mg,
             round(CAST((13 * base) % 256 AS DOUBLE), 4) AS mb
      FROM corpus
    ), ranked AS (
      SELECT media_id, source, width,
             row_number() OVER (
               PARTITION BY width, height, mr, mg, mb
               ORDER BY media_id) AS rn
      FROM feats
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_media,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(sum(CASE WHEN rn = 1 THEN width ELSE 0 END) AS BIGINT)
             AS kept_width_sum
    FROM ranked GROUP BY source
    """,
    doc="End-to-end MULTIMODAL corpus pipeline DAG — llm1's composition "
        "discipline on the media surface: synthesize a PNG corpus with "
        "synthetic exact duplicates (every 5th doc re-encoded under a "
        "new media_id with IDENTICAL pixels via the pixel_col split in "
        "synthesize_png_media_table), REAL-decode features in "
        "mapInPandas (m7's codec path), dedup keep-lowest-id on the "
        "feature tuple (the content-defined key: byte-identical images "
        "collapse, as do genuine mod-256 gradient collisions), and roll "
        "up per source.  A hash mismatch isolates the WIRING — id/pixel "
        "decoupling, feature rounding before the dedup key, survivor "
        "attribution — since decode arithmetic (m7) and the dedup "
        "window (d1) are independently gate-proved.  Scale: decode is "
        "shuffle-free mapInPandas; the dedup window partitions by the "
        "feature key (bounded groups, never a global sort); the rollup "
        "is one source-keyed exchange",
    tags=("multimodal", "dedup", "pipeline", "udf"),
)
def llm2(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_png_media_table,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    dups = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _DUP_BASE).alias("doc_id"),
        "source",
        F.col("doc_id").alias("base"),
    )
    corpus = docs.withColumn("base", F.col("doc_id")).unionByName(dups)
    media = synthesize_png_media_table(corpus, pixel_col="base")
    feats = image_features(media).select(
        "media_id", "width", "height",
        F.round("mean_r", 4).alias("mr"),
        F.round("mean_g", 4).alias("mg"),
        F.round("mean_b", 4).alias("mb"),
    )
    ranked = feats.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("width", "height", "mr", "mg", "mb").orderBy(
                "media_id"
            )
        ),
    ).join(corpus.select(F.col("doc_id").alias("media_id"), "source"),
           "media_id")
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_media"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_unique"),
        F.sum(F.when(F.col("rn") == 1, F.col("width")).otherwise(0))
        .cast("bigint").alias("kept_width_sum"),
    )
