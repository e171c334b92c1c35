"""Skew mitigation: salted joins for hot keys.

AQE's skew-join (`spark.sql.adaptive.skewJoin.enabled`, on in
session.py) splits oversized SortMergeJoin partitions at runtime and is
the FIRST line of defense — use it and do nothing. Salting is the
manual fallback for the cases AQE can't fix: a broadcast-ineligible
build side, aggregation-before-join on the hot key, or a stream-static
join where runtime re-planning is unavailable. The transformation is
classic: spray the big side's rows across S sub-keys, replicate the
small side S×, join on (key, salt) — identical result, hot key spread
over S partitions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _check_outer(how: str) -> None:
    """Salting replicates the small side per salt value; replicas whose
    salt no big row happens to carry would survive a right/full outer
    join as spurious null-extended rows — reject those join types."""
    if how.lower().replace("_", "") in {"right", "rightouter", "full",
                                        "fullouter", "outer"}:
        raise ValueError(
            f"how={how!r}: salted joins preserve row-identity only for "
            f"inner/left/semi/anti joins (small-side salt replicas would "
            f"surface as extra null-extended rows in right/full outer)")


def salted_join(big: DataFrame, small: DataFrame, key: str,
                salt: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``key`` with the hot-key spray.

    ``big`` rows get a uniform salt in [0, S); ``small`` rows are
    replicated once per salt value; the join keys on (key, salt). The
    result is row-identical to the plain join (salt columns dropped) —
    only the partitioning of the shuffle changes: a key holding X% of
    the big side now occupies S partitions instead of one. Cost: the
    small side shuffles S× its size — keep S near the skew factor, not
    higher."""
    _check_outer(how)
    big_s = big.withColumn("_salt",
                           F.pmod(F.monotonically_increasing_id(), F.lit(salt)))
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    out = big_s.join(small_s, [key, "_salt"], how)
    return out.drop("_salt")


def hotkey_salted_join(big: DataFrame, small: DataFrame, key: str,
                       salt: int = 8, hot_fraction: float = 0.05,
                       how: str = "inner") -> DataFrame:
    """Salted join with HOT-KEY ISOLATION — the form a warehouse runs.

    Uniform salting (``salted_join``) replicates the entire small side
    ``salt``×, which at 100 TB multiplies a possibly-large dimension for
    the benefit of a handful of keys. This variant first measures the
    big side's key histogram (one map-side-combined count aggregation),
    marks keys holding more than ``hot_fraction`` of the rows as hot
    (broadcast — the hot set is tiny by construction: at most
    ``1/hot_fraction`` keys can exceed the threshold), and then:

    * hot-key rows: big side sprayed over ``salt`` sub-keys, small side
      replicated ``salt``× — but only its hot-key rows;
    * cold-key rows: plain equi-join, no replication, no spray.

    Result is row-identical to the plain join. Extra cost over it: one
    count agg over the big side's key column and ``salt``× replication
    of only the small side's hot rows — both independent of the small
    side's total size.

    Implementation is ONE join with a data-dependent salt, not a
    hot/cold union: a union would scan each (possibly expensive,
    uncached) input once per branch, doubling the upstream map work.
    Hot-tagged big rows get a uniform salt, cold rows salt 0; the small
    side explodes to all ``salt`` values for hot keys and just [0] for
    cold ones — same pairs, one pass per side. The total row count
    comes from the histogram itself (``sum(_n)``), not a second scan.
    """
    _check_outer(how)
    from ..seams import checkpoint_seam
    counts = checkpoint_seam(
        big.groupBy(key).agg(F.count(F.lit(1)).alias("_n")))
    total = counts.agg(F.sum("_n")).collect()[0][0] or 0
    hot = (counts.where(F.col("_n") > total * hot_fraction)
           .select(key).withColumn("_hot", F.lit(True)))

    big_s = (big.join(F.broadcast(hot), key, "left")
             .withColumn("_salt",
                         F.when(F.col("_hot").isNotNull(),
                                F.pmod(F.monotonically_increasing_id(),
                                       F.lit(salt))).otherwise(F.lit(0)))
             .drop("_hot"))
    salt_values = F.when(
        F.col("_hot").isNotNull(),
        F.array(*[F.lit(i) for i in range(salt)])
    ).otherwise(F.array(F.lit(0)))
    small_s = (small.join(F.broadcast(hot), key, "left")
               .withColumn("_salt", F.explode(salt_values))
               .drop("_hot"))
    return big_s.join(small_s, [key, "_salt"], how).drop("_salt")
