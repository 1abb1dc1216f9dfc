"""Join strategy helper for scale: skew salting.

``salted_join`` is explicit salt expansion for a HOT key joining a
dimension that is too big to broadcast — a knob AQE cannot always turn
for you.  AQE's skew-join splitting handles sort-merge skew within a
stage, but a single pathological key (one CVE ID with 10^8 affected
rows) still lands on one reducer for aggregations downstream; salting
spreads it across ``n_salts`` tasks.

The other such knob, bucketed co-location, is a write-time layout:
``sinks/bucketed.write_bucketed``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | Sequence[str],
    n_salts: int = 8,
    how: str = "inner",
    salt_src: str | None = None,
    merge_hint: bool = False,
) -> DataFrame:
    """Equi-join with the big side salted and the small side exploded.

    big gains a random-ish (hash-derived, deterministic) salt in
    [0, n_salts); small is replicated n_salts times.  The join key becomes
    (on, salt) so a skewed hot key spreads across n_salts partitions.
    Replication cost: |small| * n_salts rows shuffled — use only when
    ``small`` is modest but above the broadcast threshold.

    ``salt_src`` names a single (ideally unique) column to derive the
    salt from; default is a hash of the whole row.  ``merge_hint`` pins
    the sort-merge strategy — the dim-too-big-to-broadcast regime the
    operator exists for (an auto-broadcast would silently drop the salt
    spread being demonstrated/tested).

    ``how`` is restricted to 'inner'/'left' (left = big side preserved):
    any outer mode that preserves the *small* side would emit each
    unmatched small-side row once per salt replica — n_salts phantom rows.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' only (got {how!r}): "
            "outer modes preserving the small side would emit its unmatched "
            "rows once per salt replica"
        )
    on_cols = [on] if isinstance(on, str) else list(on)
    src = [F.col(salt_src)] if salt_src else [F.col(c) for c in big.columns]
    salted_big = big.withColumn("_salt", F.pmod(F.xxhash64(*src), F.lit(n_salts)))
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    if merge_hint:
        salted_small = salted_small.hint("merge")
    out = salted_big.join(salted_small, [*on_cols, "_salt"], how)
    return out.drop("_salt")
