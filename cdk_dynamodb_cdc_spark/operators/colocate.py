"""Join skew utilities: manual skew salting and a key-skew profile
(SURVEY.md §2B "Partitioning & shuffle").

Pre-shuffled (bucketed) tables need no helper here: Spark's own
``bucketBy(...).saveAsTable`` / ``spark.table`` persist and read one,
and two tables bucketed the same way join with zero exchange.

* :func:`salted_join` — explicit salt-and-replicate for joins whose
  key distribution is too skewed even for AQE's skew-join splitting
  (AQE splits oversized SHUFFLE partitions, but a single monster key
  still lands in one task; salting splits the key itself). The
  skewed side gets a deterministic salt in [0, n); the other side is
  replicated n times; the join runs on (key, salt) and the result
  equals the plain join exactly (verified by pytest).

Neither helper is used implicitly: AQE handles moderate skew and
broadcast handles small sides for free, so reach for these only when
a profile shows the shuffle or a straggler task dominating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    *,
    skewed_key: str,
    other_key: str,
    n_salt: int,
    how: str = "inner",
) -> DataFrame:
    """Equi join where `skewed[skewed_key]` has pathological hot keys.

    The skewed side is salted DETERMINISTICALLY — salt = xxhash64 of
    the whole row pmod n_salt — so a hot key's rows spread across
    n_salt shuffle partitions instead of one straggler task. The other
    side is replicated n_salt times (explode of a literal range; cost
    = n_salt copies of the SMALL side, which is the side you must
    choose `other` to be). Join condition becomes (key, salt); the
    extra column never escapes.

    Deterministic salting (not rand()) keeps retried tasks and
    re-executed stages producing identical partitioning — a
    nondeterministic salt can double-count rows when a stage retries
    after a fetch failure.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(n_salt))
    left = skewed.withColumn("__salt", salt.cast("int"))
    right = other.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(n_salt)])),
    )
    cond = (left[skewed_key] == right[other_key]) & (
        left["__salt"] == right["__salt"]
    )
    out = left.join(right, cond, how)
    return out.drop("__salt")


def key_skew_profile(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Diagnostic: per-key row counts plus each key's share of the
    table — the number you look at before deciding between broadcast,
    AQE, and :func:`salted_join`. One aggregation, map-side partial."""
    total = df.count()
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("share", F.col("n_rows") / F.lit(float(total)))
        .orderBy(F.col("n_rows").desc(), F.col(key))
        .limit(top)
    )
