"""Skew-mitigation primitives: salted two-phase aggregation and a salted
join for hot keys.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.*`) handles most
runtime skew transparently; these operators cover the two cases it cannot:

* a single hot GROUP key whose partial aggregate still funnels into one
  reducer (AQE cannot split a hash-aggregate's key), and
* a hot JOIN key against a mid-sized build side that is too big to
  broadcast (AQE skew-split only helps sort-merge joins where both sides
  can be divided; replicating the build rows for a salted equi-join is
  the classic fallback).

Both are pure DataFrame compositions: deterministic salts, no UDFs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _default_salt(df: DataFrame, salt_buckets: int) -> Column:
    """Deterministic per-row salt: pmod(hash(<all columns>), n).

    Deterministic on purpose — `spark_partition_id` or `rand()` would be
    nondeterministic under task retries. LIMITATION: rows that are full
    duplicates hash identically, so a hot key made of *identical* rows
    does not spread; pass `salt=` a finer expression (e.g. hash of a
    unique id, or `pmod(hash(id), n)`) in that case. MapType columns are
    excluded (F.hash cannot analyse them)."""
    cols = [
        F.col(f.name)
        for f in df.schema.fields
        if not f.dataType.typeName().startswith("map")
    ]
    if not cols:
        raise ValueError(
            "default salt needs at least one non-map column; pass salt= explicitly"
        )
    return F.pmod(F.hash(*cols), F.lit(salt_buckets))


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 32,
    salt: Column | None = None,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    `aggs` maps output name -> (source column, fn) where fn is one of
    ``sum | count | min | max`` (the re-aggregatable commutative monoids;
    avg = sum/count composed by the caller). Phase 1 groups by
    (keys..., salt) — the hot key's rows spread over `salt_buckets`
    reducers and map-side combine still applies; phase 2 merges the
    per-salt partials, at most `salt_buckets` rows per key.

    `salt` overrides the default whole-row hash (see `_default_salt` for
    its duplicate-row limitation); any deterministic int expression in
    [0, salt_buckets) works — hash of a unique id is the usual choice."""
    mergers = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    firsts = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for name, (_src, fn) in aggs.items():
        if fn not in mergers:
            raise ValueError(f"salted_agg supports {sorted(mergers)}, got {fn!r}")
    if salt is None:
        salt = _default_salt(df, salt_buckets)
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(*[firsts[fn](src).alias(name) for name, (src, fn) in aggs.items()])
    )
    return phase1.groupBy(*keys).agg(
        *[mergers[fn](name).alias(name) for name, (_src, fn) in aggs.items()]
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to hot keys on the (large) `left` side.

    The left side gets a deterministic per-row salt in [0, n); the right
    side is REPLICATED n times (explode of a literal sequence — a narrow
    n-fold fan-out of the smaller side, no shuffle amplification of the
    big side), and the join runs on (on..., salt). A hot left key now
    spreads over n reducers instead of one.

    Use when the right side is too large to broadcast but small enough to
    replicate n-fold; `how` supports inner/left joins (semantics preserved
    because every left row matches exactly one replica salt). The salt
    is a whole-row hash (see `_default_salt` for its duplicate-row
    limitation)."""
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    lsalted = left.withColumn("_salt", _default_salt(left, salt_buckets))
    rsalted = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = lsalted.join(rsalted, [*on, "_salt"], how)
    return out.drop("_salt")
