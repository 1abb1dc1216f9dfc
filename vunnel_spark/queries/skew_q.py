"""Skew-handling queries (generalized analytics surface): explicit
salting over the skewed ``documents.lang`` key (~44% of the corpus is
'en' by construction — TESTDATA.md).  Salting is result-transparent, so
both queries oracle against the PLAIN (unsalted) SQL — the gate proves
the rewrite changes the shuffle shape, not the answer, and the plan pins
(tests/test_plans.py) prove the shape actually changed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vunnel_spark.operators.joins import salted_join
from vunnel_spark.operators.skew import salted_agg
from vunnel_spark.queries._util import t
from vunnel_spark.registry import register

_BUCKETS = 8


@register(
    "h1_salted_skew_agg",
    """
    SELECT lang, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
           max(n_chars) AS max_n_chars
    FROM documents GROUP BY lang
    """,
    doc="Two-phase salted aggregation over the skewed lang key "
        "(operators/skew.py salted_agg): phase 1 groups by (lang, salt) so "
        "the hot key's rows spread across 8 reducers, phase 2 re-aggregates "
        "the tiny per-salt partials on lang.  Decomposable aggregates only "
        "(count/sum/max) — result identical to plain GROUP BY, which is the "
        "oracle.  The plan pin asserts both Exchanges and that the first "
        "hashes on (lang, _salt)",
    tags=("skew",),
)
def h1(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return salted_agg(
        docs, ["lang"], salt_src="doc_id",
        sum_cols=("n_chars",), max_cols=("n_chars",),
    )


@register(
    "h2_salted_skew_join",
    """
    WITH dim AS (
      SELECT lang, count(*) AS lang_total, CAST(floor(avg(n_chars)) AS BIGINT) AS lang_avg_chars
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang, dim.lang_total, dim.lang_avg_chars
    FROM documents d JOIN dim USING (lang)
    """,
    doc="Replicate-and-salt skewed equi-join (operators/joins.py "
        "salted_join): every document joins its per-lang dim row; the big "
        "side salts deterministically on doc_id, the 5-row dim explodes x8 "
        "so each (lang, salt) bucket finds its row, and the merge hint "
        "keeps the demo in the sort-merge regime (the dim-too-big-to-"
        "broadcast case salting exists for).  Result — and oracle — is the "
        "plain join",
    tags=("skew",),
)
def h2(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    dim = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("lang_total"),
        F.floor(F.avg("n_chars")).cast("long").alias("lang_avg_chars"),
    )
    return salted_join(
        docs.select("doc_id", "lang"), dim, on=["lang"],
        salt_src="doc_id", n_salts=_BUCKETS,
    ).select("doc_id", "lang", "lang_total", "lang_avg_chars")
