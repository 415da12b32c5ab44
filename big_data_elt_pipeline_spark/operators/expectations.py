"""Declarative data expectations: rule set -> one-pass audit + quarantine.

The generic form of what ``silver.quality_audit`` and
``pipeline.golden_check`` do ad hoc (reference parity:
``flows/silver_build_clean.py`` counters and the gold sanity gate) — and
what dbt tests / Great Expectations express externally — as an ENGINE
operator:

- ``audit(df, rules)``: ONE fused aggregate pass (every rule a
  conditional count — map-side combinable, zero extra scans) returning a
  long (rule, violations, n_rows) table. Referential rules add one
  broadcast/hash join against the dimension's key projection, not a scan
  per rule.
- ``quarantine(df, rules)``: (valid, invalid) split where ``invalid``
  carries a ``_violations`` array naming every failed rule — the
  row-level routing form (write valid to silver, invalid to a dead-letter
  table). Both frames derive from one annotated plan, so Spark computes
  the rule columns once.

Rules are plain Column predicates (TRUE = pass), so anything Catalyst
can express is a rule; builders below cover the common cases. NULL
predicate results count as violations (a rule that cannot evaluate did
not pass) — the same convention both frames use, so audit counts ==
quarantine row memberships by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def not_null(col: str) -> tuple[str, Column]:
    return f"not_null_{col}", F.col(col).isNotNull()


def in_range(col: str, lo=None, hi=None) -> tuple[str, Column]:
    c = F.col(col)
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (c >= F.lit(lo))
    if hi is not None:
        pred = pred & (c <= F.lit(hi))
    return f"in_range_{col}", pred


def matches(col: str, pattern: str, name: str | None = None) -> tuple[str, Column]:
    return name or f"matches_{col}", F.col(col).rlike(pattern)


def refers_to(
    df: DataFrame, col: str, dim: DataFrame, key: str
) -> tuple[DataFrame, tuple[str, Column]]:
    """Referential integrity as a JOIN-derived flag: left-join the
    dimension's distinct key projection (broadcast when dimension-sized)
    and test the matched marker. Returns (annotated_frame, rule) —
    callers pass the ANNOTATED frame to audit/quarantine so the flag
    column exists. One join serves the rule for every row; no per-rule
    scans."""
    marker = f"__ref_{col}_{key}"
    keys = dim.select(F.col(key).alias(f"__k_{marker}")).distinct().withColumn(
        marker, F.lit(True)
    )
    annotated = df.join(
        keys, df[col] == keys[f"__k_{marker}"], "left"
    ).drop(f"__k_{marker}")
    return annotated, (f"refers_to_{col}", F.col(marker).isNotNull())


def _pass(pred: Column) -> Column:
    # NULL predicate = not a pass; coalesce keeps the convention explicit
    return F.coalesce(pred, F.lit(False))


def audit(df: DataFrame, rules: list[tuple[str, Column]]) -> DataFrame:
    """One-pass violation counts: (rule, violations, n_rows) per rule."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, pred in rules:
        aggs.append(
            F.sum((~_pass(pred)).cast("long")).alias(f"__viol_{name}")
        )
    row = df.agg(*aggs).first()
    spark = df.sparkSession
    return spark.createDataFrame(
        [(name, int(row[f"__viol_{name}"]), int(row["__n"])) for name, _ in rules],
        "rule string, violations long, n_rows long",
    )


def quarantine(df: DataFrame, rules: list[tuple[str, Column]]) -> tuple[DataFrame, DataFrame]:
    """(valid, invalid): invalid rows carry ``_violations`` — every failed
    rule's name, in rule order. One annotated plan feeds both outputs."""
    viol = F.array_compact(
        F.array(*[
            F.when(~_pass(pred), F.lit(name)) for name, pred in rules
        ])
    )
    annotated = df.withColumn("_violations", viol)
    ref_markers = [c for c in df.columns if c.startswith("__ref_")]
    valid = annotated.filter(F.size("_violations") == 0).drop("_violations", *ref_markers)
    invalid = annotated.filter(F.size("_violations") > 0).drop(*ref_markers)
    return valid, invalid
