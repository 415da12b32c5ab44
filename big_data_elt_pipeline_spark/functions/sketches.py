"""Mergeable distinct-count sketches (Apache DataSketches HLL via Spark's
built-in ``hll_sketch_agg`` family) — the 100 TB pattern this module exists
for is PERSIST-THEN-MERGE:

build per-partition (e.g. per-day, per-month) sketches ONCE, store the
binary sketch column next to the rollup, and answer any later
distinct-count question — arbitrary date ranges, region unions, cumulative
curves — by MERGING stored kilobyte sketches instead of rescanning the
fact table. Distinct counts don't sum (|A ∪ B| != |A| + |B|), so without
sketches every new range is a full shuffle of raw keys; with them it is a
metadata-sized aggregation. HLL union is lossless for HLL state: the
merged sketch's registers are the pairwise max, so merge(sketch(A),
sketch(B)) == sketch(A ∪ B) EXACTLY — re-merging stored sketches gives
bit-identical estimates to a from-scratch build over the union (pinned in
tests/test_sketches.py).

All aggregates here are JVM-side and map-side combinable: one shuffle of
(group, register-state), never of raw values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# log2 of HLL register count. 12 → 4096 registers ≈ 1.6 kB per sketch and
# ~1.6% relative standard error — the storage/accuracy trade documented by
# DataSketches; callers override per column cardinality.
DEFAULT_LG_K = 12


def distinct_sketch(value_col: str | Column, lg_k: int = DEFAULT_LG_K) -> Column:
    """Aggregate expression: binary HLL sketch of the column's distincts."""
    return F.hll_sketch_agg(value_col, F.lit(lg_k))


def build_sketch_table(
    df: DataFrame, group_cols: list[str], value_col: str, lg_k: int = DEFAULT_LG_K
) -> DataFrame:
    """One sketch row per group: (group_cols..., sketch, n_rows).

    This is the relation a lakehouse gold table would persist alongside
    its additive measures — the row count merges by SUM, the distinct
    count by ``union_sketch``.
    """
    return df.groupBy(*group_cols).agg(
        distinct_sketch(value_col, lg_k).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def estimate(sketch_col: str | Column = "sketch") -> Column:
    """Point estimate (long) from a sketch column."""
    return F.hll_sketch_estimate(sketch_col)


def union_sketch(sketch_col: str | Column = "sketch") -> Column:
    """Aggregate expression: the union of stored sketches, to one row or
    per coarser group. ``allowDifferentLgConfigK`` stays False: silently
    unioning sketches built at different precisions is a data bug, not a
    merge."""
    return F.hll_union_agg(sketch_col, F.lit(False))


# --------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005): mergeable frequency
# sketch — est(key) = min over d hash rows of the (row, bucket) counter,
# always >= the true count (overestimates come only from collisions).
# --------------------------------------------------------------------------

# depth x width = 4 x 1024 counters (32 kB of bigints): error <= e*N/width
# with prob 1 - exp(-depth) over the hash draw. Width is a power of two so
# bucketing is exact bigint math end to end.
CMS_DEPTH = 4
CMS_WIDTH = 1 << 10
_CMS_M = 1 << 20
# distinct multiplicative-hash rows (odd constants, decorrelated)
CMS_PERMS = (
    (2654435761, 17),
    (2246822519, 257),
    (3266489917, 4099),
    (668265263, 65537),
)


def cms_bucket(hash_col: Column, j: int) -> Column:
    """Bucket of hash row ``j`` for a 32-bit key hash: pre-modded
    multiplicative hash into ``CMS_WIDTH`` buckets (products stay < 2^52 —
    no bigint overflow at any key cardinality)."""
    a, c = CMS_PERMS[j]
    return (
        (hash_col % F.lit(_CMS_M) * F.lit(a) + F.lit(c)) % F.lit(_CMS_M)
    ) % F.lit(CMS_WIDTH)


def cms_build(
    rel: DataFrame, hash_col: str = "h", cnt_col: str = "cnt"
) -> DataFrame:
    """Counter table (j, bucket, c) from a (key_hash, count) relation.

    One generator explode (×depth, map-only) + one groupBy(j, bucket) —
    partial aggregation collapses every counter map-side, so the exchange
    is ≤ depth × width rows per partition regardless of input size. The
    counter table is mergeable by construction: summing counters of two
    corpora IS the sketch of their union (pinned in tests).
    """
    rows = rel.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        cms_bucket(F.col(hash_col), j).alias("bucket"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("rb"),
        F.col(cnt_col),
    )
    return (
        rows.groupBy(F.col("rb.j").alias("j"), F.col("rb.bucket").alias("bucket"))
        .agg(F.sum(cnt_col).cast("long").alias("c"))
    )


def cms_estimate(
    keys: DataFrame, counters: DataFrame, hash_col: str = "h"
) -> DataFrame:
    """Point estimates for a key relation: join each key's ``depth``
    buckets against the broadcast counter table (≤ depth × width rows —
    kilobytes), take the row-wise min. Missing counters count as 0 (keys
    never inserted). Appends an ``est`` column; input columns pass
    through."""
    est = F.array(
        *[
            F.struct(F.lit(j).alias("j"), cms_bucket(F.col(hash_col), j).alias("bucket"))
            for j in range(CMS_DEPTH)
        ]
    )
    probes = keys.select("*", F.explode(est).alias("rb"))
    return (
        probes.join(
            F.broadcast(counters),
            (F.col("rb.j") == F.col("j")) & (F.col("rb.bucket") == F.col("bucket")),
            "left",
        )
        .groupBy(*keys.columns)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0).cast("long"))).alias("est"))
    )
