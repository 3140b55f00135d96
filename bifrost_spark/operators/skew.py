"""Skew mitigation for hot-key joins and aggregations.

AQE's skew-join splitting (on by default, session.py) handles most skew by
splitting oversized SMJ partitions at runtime.  Salting is the explicit
fallback for the cases AQE cannot fix — a broadcast-ineligible join where a
handful of keys dominate (power-law user ids, null-heavy foreign keys):

* large side: append a random-but-deterministic salt 0..S-1 to the key
  (derived from row content via xxhash64 — reproducible under task retry,
  unlike rand());
* small side: replicate each row S times, one per salt value;
* join on (key, salt) → the hot key's rows spread over S partitions.

S multiplies the small side, so salt only the keys that need it: the
``hot_keys`` variant salts a known hot set and passes everything else
through the plain join (the hybrid real pipelines use).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bifrost_spark.operators.vectors import sql_literal


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    num_salts: int = 8,
    how: str = "inner",
    salt_source: tuple[str, ...] | None = None,
) -> DataFrame:
    """Equi-join with the large side salted and the small side replicated.

    ``salt_source`` names large-side columns to derive the salt from
    (defaults to all columns) — deterministic, so retried tasks produce
    identical output.

    Only ``inner`` and ``left`` are supported: under right/full outer, an
    unmatched small-side row would surface once per salt replica (wrong
    multiplicity vs the unsalted join).  For those, salt the reversed join
    or dedupe unmatched replicas explicitly.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r}: "
            "outer flavors would emit each unmatched small-side row "
            f"{num_salts}× (one per salt replica)"
        )
    src = [F.col(c) for c in (salt_source or large.columns)]
    salted_large = large.withColumn(
        "__salt", F.pmod(F.xxhash64(*src), F.lit(num_salts)).cast("int")
    )
    # shuffle_hash: the S×-replicated small side would otherwise fall under
    # the broadcast threshold and be collected and hashed on the driver
    # (360k rows for q_join_skew_salted at sf0.03), which undoes the salting
    salted_small = small.withColumn(
        "__salt", F.explode(F.expr(sql_literal(list(range(num_salts)))))
    ).hint("shuffle_hash")
    return salted_large.join(salted_small, [on, "__salt"], how).drop("__salt")


def salted_join_hot_keys(
    large: DataFrame,
    small: DataFrame,
    on: str,
    hot_keys: list,
    num_salts: int = 8,
) -> DataFrame:
    """Hybrid: salt ONLY the hot keys; the long tail joins normally.

    Small-side replication cost is |hot_keys|·S rows instead of |small|·S.
    Find hot keys with a cheap pre-aggregation sample:
    ``large.groupBy(on).count().orderBy(desc("count")).limit(k)``.
    """
    is_hot = F.col(on).isin(hot_keys)
    hot = salted_join(large.filter(is_hot), small.filter(is_hot), on, num_salts)
    cold = large.filter(~is_hot).join(small.filter(~is_hot), on)
    return hot.unionByName(cold)
