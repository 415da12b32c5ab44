"""Core column-expression helpers.

Everything here is a plain Catalyst expression (no Python UDFs), so it stays
inside whole-stage codegen and scales to any data size.

Cross-engine exactness: the driver's correctness gate hash-compares our
Spark results against DuckDB. Floating-point SUMs are order-dependent, and
Spark's partial aggregation order differs from DuckDB's — so any ``SUM`` of
doubles can drift in the last bits. ``money_sum`` therefore casts each row
to ``decimal(18,4)`` (deterministic per-row rounding; per-row products of
2-decimal inputs are exactly representable at scale 4), sums exactly in
decimal, and casts the total back to double. This is also the right choice
at 100 TB: decimal partial aggregation is still map-side combinable and
adds no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY_DECIMAL = "decimal(18,4)"


def money_sum(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent exact SUM of a monetary double column."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(MONEY_DECIMAL)).cast("double")
    return out.alias(alias) if alias else out


def money_avg(col: Column | str, alias: str | None = None) -> Column:
    """Exact-sum / count average (deterministic double division at the end)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(MONEY_DECIMAL)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def fixed_sum(col: Column | str, alias: str | None = None, scale: float = 1e8) -> Column:
    """Order-independent SUM of *arbitrary* computed doubles.

    ``money_sum`` relies on inputs being decimal-clean; score-derived values
    (products of normalized doubles) are not, and casting them to decimal
    diverges across engines (Spark rounds the shortest decimal repr, DuckDB
    rounds the binary value — they disagree ~1e-17 of the time, 1 ulp per
    hit). ``floor(v*scale + 0.5)`` instead uses only IEEE ops that every
    engine computes bit-identically; the integers then sum exactly in
    decimal(38,0). SQL mirror:
    ``CAST(SUM(CAST(floor(v * 1e8 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e8``.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = (
        F.sum(F.floor(c * F.lit(scale) + F.lit(0.5)).cast("decimal(38,0)")).cast("double")
        / F.lit(scale)
    )
    return out.alias(alias) if alias else out


def clip(col: Column, lo: float | None = None, hi: float | None = None) -> Column:
    """pandas ``Series.clip`` as least/greatest composition (SURVEY §2.8 F6)."""
    out = col
    if lo is not None:
        out = F.greatest(out, F.lit(float(lo)))
    if hi is not None:
        out = F.least(out, F.lit(float(hi)))
    return out


def minmax_norm(col: Column, mn: float, mx: float) -> Column:
    """True min-max normalization with degenerate→0.0 guard.

    Canonical semantics from the reference's pandas helper
    (``flows/gold_transformation.py:55-61``); its Spark variant's x/q95
    shortcut is a documented divergence we do NOT copy (SURVEY §2.8 F7).
    ``mn``/``mx`` are driver-side scalars collected in one agg action —
    cheaper at scale than an unpartitioned window.
    """
    if mx is None or mn is None or mx <= mn:
        return F.lit(0.0)
    return (col - F.lit(float(mn))) / F.lit(float(mx) - float(mn))


def safe_div(num: Column, den: Column, default: float = 0.0) -> Column:
    """Division with 0/NULL-denominator guard (pandas ``replace({0: NA})``
    idiom, ``flows/gold_transformation.py:157-159``)."""
    return F.when(den.isNotNull() & (den != 0), num / den).otherwise(F.lit(default))


def bucketize(col: Column, mn: float, mx: float, n_bins: int) -> Column:
    """Equal-width histogram bucket id in [0, n_bins-1] matching
    ``pd.cut(x, bins=n)`` EXACTLY, interior edges included (SURVEY §2.4 A9).

    pandas bins by ``searchsorted`` against ``np.linspace(mn, mx, n+1)``
    edges (right-closed; the padded leftmost edge makes bucket 0 include
    the min). Dividing by the bin width instead — the previous formula —
    disagrees by one bucket when a value sits exactly on an interior edge,
    because ``(x-mn)/w`` and the linspace edge round differently in the
    last ulp. So: reproduce pandas' arithmetic. Each interior edge is
    ``i*step + mn`` with ``step = (mx-mn)/n`` (numpy's own formula, same
    IEEE ops), inlined as a literal; the bucket id is the count of interior
    edges strictly below x — identical to ``searchsorted(side='left') - 1``.
    Values on an edge land LEFT (right-closed), min→0, max→n-1, and
    out-of-range values clamp like the old formula did. NULL and NaN inputs
    yield NULL (pd.cut assigns them code -1 / missing, not a bucket — the
    when/otherwise ladder would otherwise silently coerce NULL to bucket 0
    and NaN, greatest under Spark ordering, to n_bins-1). n_bins-1
    compares, pure codegen, no shuffle. SQL mirror: same CASE-sum with
    edges spelled ``(i * ((mx-mn)/n)) + mn``.
    """
    null_in = col.isNull() | F.isnan(col.cast("double"))
    if not mx > mn:
        return F.when(null_in, F.lit(None)).otherwise(F.lit(0)).cast("int")
    step = (float(mx) - float(mn)) / n_bins
    out: Column = F.lit(0)
    for i in range(1, n_bins):
        out = out + F.when(col > F.lit(i * step + float(mn)), F.lit(1)).otherwise(F.lit(0))
    return F.when(null_in, F.lit(None)).otherwise(out).cast("int")


def ordered_md5(*fields: str) -> Column:
    """Aggregate: md5 over a group's rows in sorted ``fields`` order, each
    row spelled as its fields joined by ``:`` and the rows joined by
    ``,``. The index audits' order-independent content hash; their SQL
    oracles spell the identical string."""
    return F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list(F.struct(*fields))),
                lambda s: F.concat_ws(
                    ":", *[s[f].cast("string") for f in fields]
                ),
            ),
        )
    )


def count_sum(col: Column | str) -> Column:
    """SUM of a count column as a long that is 0, not NULL, over no rows."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.sum(c), F.lit(0)).cast("long")
