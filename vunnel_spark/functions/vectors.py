"""Vector math over array<float> embedding columns — pure Catalyst.

Dot products / norms / cosine via F.zip_with + F.aggregate: stays in
the JVM, no Python crossing, and (critically for oracle comparison)
accumulates left-to-right in double precision — the same order DuckDB's
list functions use, so results match bit-for-bit before rounding.

r14 physical-form adjudication (measured, /tmp A/B at sf0.1, 800k
pairs, interleaved 5-rep): the HOF fold IS the right execution form.
A statically unrolled ``0.0D + t1 + ... + t64`` chain — whether built
via the Column API or one SQL text — ran 3-5x SLOWER than the fold
(0.6-1.1 s vs 2.9-3.2 s for the same hoisted-norm dot), and wide
kernels (the 3072-term LSH projection) additionally blow janino's
64 KB method limit / HotSpot's huge-method JIT threshold and fall back
to interpreted flat-tree eval (12-20 s vs the fold's 2-4 s).  The
fold's per-element loop over the primitive array data stays small
enough for the JIT; keep it.  What DOES pay on the pair scorers is
ALGEBRA, not form: hoist the pair-invariant norms to the sides
(operators/similarity.py) so each pair evaluates one 64-element dot
fold instead of three.

At 100 TB scale the brute-force form is the verification baseline; the
LSH-bucketed form in operators/similarity.py is the scale path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm2(a: Column) -> Column:
    """Squared L2 norm."""
    return F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )


def cosine_hoisted(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with PRE-COMPUTED squared norms (``na``/``nb`` =
    ``norm2`` of each side, projected onto the side frames BEFORE the
    candidate join).  Bit-identical to the unhoisted form — the same
    norm2 doubles flow into the same sqrt(na*nb) product — but each
    candidate pair evaluates one dot fold instead of three folds:
    norms are per-ROW facts, recomputing them per PAIR was pure waste
    (guide §2.3, shuffle/evaluate lightweight per-row facts once).
    Measured 3x per-pair on the sf0.1 800k-pair scorer.
    """
    return dot(a, b) / F.sqrt(na * nb)
