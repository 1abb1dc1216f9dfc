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
    salt_src: str,
    n_salts: int = 8,
) -> DataFrame:
    """Equi-join with the big side salted and the small side exploded.

    big gains a random-ish (hash-derived, deterministic) salt in
    [0, n_salts) from its ``salt_src`` column (ideally unique); small is
    replicated n_salts times.  The join key becomes
    (on, salt) so a skewed hot key spreads across n_salts partitions.
    Replication cost: |small| * n_salts rows shuffled — use only when
    ``small`` is modest but above the broadcast threshold.

    The join is pinned to sort-merge — the dim-too-big-to-broadcast
    regime the operator exists for (an auto-broadcast would silently
    drop the salt spread being demonstrated/tested).

    Inner only: an outer mode preserving the small side would emit each
    unmatched small-side row once per salt replica.
    """
    on_cols = [on] if isinstance(on, str) else list(on)
    salted_big = big.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts)))
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).hint("merge")
    out = salted_big.join(salted_small, [*on_cols, "_salt"])
    return out.drop("_salt")
