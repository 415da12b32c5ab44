"""Mergeable HLL distinct-count sketches: the persist-then-merge contract.

Sketch VALUES are engine-defined (no DuckDB oracle possible — see the
kpis_approx registration), so the contract is pinned here instead:
1. merging stored per-group sketches equals a from-scratch sketch of the
   union — BIT-IDENTICAL estimate, not merely close (HLL union is a
   register-wise max, lossless for HLL state);
2. every estimate lands within the lg_k-documented error of its exact
   twin;
3. fixed data → fixed estimates (register maxes commute, so partial
   aggregation order cannot change the result).
"""

import pytest

from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.functions import sketches as SK
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def fact(spark):
    from big_data_elt_pipeline_spark.plans.queries import _fact

    return _fact(spark, SF_SMOKE).select("mois", "id_client").localCheckpoint()


def test_merge_of_stored_sketches_equals_direct_build(spark, fact):
    monthly = SK.build_sketch_table(fact, ["mois"], "id_client")
    merged_est = monthly.agg(SK.union_sketch().alias("sketch")).select(
        SK.estimate().alias("e")
    ).first().e
    direct_est = fact.agg(SK.distinct_sketch("id_client").alias("sketch")).select(
        SK.estimate().alias("e")
    ).first().e
    assert merged_est == direct_est  # lossless merge: exactly equal, not ~equal


def test_estimates_within_hll_error_of_exact(spark, fact):
    exact = {
        r.mois: r.d
        for r in fact.groupBy("mois").agg(F.countDistinct("id_client").alias("d")).collect()
    }
    est = {
        r.mois: r.e
        for r in SK.build_sketch_table(fact, ["mois"], "id_client")
        .select("mois", SK.estimate().alias("e"))
        .collect()
    }
    assert set(est) == set(exact)
    for mois, d in exact.items():
        # lg_k=12 → RSE ~1.6%; 5x slack keeps the bound meaningful but stable
        assert abs(est[mois] - d) <= max(3, 0.08 * d), (mois, est[mois], d)


def test_sketch_estimates_deterministic(spark, fact):
    q = lambda: sorted(
        SK.build_sketch_table(fact, ["mois"], "id_client")
        .select("mois", SK.estimate().alias("e"))
        .collect()
    )
    assert q() == q()


def test_registered_query_shape(spark):
    from big_data_elt_pipeline_spark.plans import queries as Q

    df = Q.spark_queries()["hll_monthly_distinct"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows[-1].mois == "ALL"  # 'ALL' sorts after digit-leading months
    months = [r.mois for r in rows[:-1]]
    assert months == sorted(months) and len(months) >= 3
    total = next(r for r in rows if r.mois == "ALL")
    assert sum(r.n_orders for r in rows[:-1]) == total.n_orders  # additive measure sums
    # r11 bounded-assertion shape: exact distincts + in-bound booleans
    assert all(r.exact_clients > 0 for r in rows)
    assert all(r.hll_within_bound for r in rows)


def test_overlap_estimate_contract(spark):
    """sketch_overlap_triage's inclusion-exclusion estimate: pins the raw
    per-pair estimates (deterministic — DataSketches register state is a
    pure function of the input set) against the exact intersections
    within the query's documented 0.05 x union bound, and pins the
    merge identity the triage relies on: merge(sketch_a, sketch_b)
    estimates what a direct sketch of the union estimates. (In SPARSE
    mode the two are bit-identical — the module test pins that on the
    fact table; at this cardinality the HLL is DENSE, where the union
    gadget's register path may differ from the direct build by a
    sub-percent reseating — so the dense-mode contract is a 2% band,
    with the end-to-end error still governed by the 0.05-union bound
    above.)"""
    from big_data_elt_pipeline_spark.functions import text as TX

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rel = docs.select(
        (F.col("doc_id") % 3).cast("int").alias("shard"),
        F.explode(TX.word_shingles(F.col("text"), 3)).alias("s"),
    ).distinct()
    sk = SK.build_sketch_table(rel, ["shard"], "s")
    a, b = sk.alias("a"), sk.alias("b")
    est = {
        (r.sa, r.sb): (r.ea, r.eb, r.eu)
        for r in a.join(b, F.col("a.shard") < F.col("b.shard")).select(
            F.col("a.shard").alias("sa"), F.col("b.shard").alias("sb"),
            F.hll_sketch_estimate("a.sketch").alias("ea"),
            F.hll_sketch_estimate("b.sketch").alias("eb"),
            F.hll_sketch_estimate(
                F.hll_union("a.sketch", "b.sketch")
            ).alias("eu"),
        ).collect()
    }
    exact = {
        (pa, pb): r
        for pa, pb in ((0, 1), (0, 2), (1, 2))
        for r in [
            rel.filter(F.col("shard").isin(pa, pb))
            .groupBy("s")
            .agg(F.count_distinct("shard").alias("k"))
            .agg(
                F.count(F.lit(1)).alias("u"),
                F.sum((F.col("k") == 2).cast("long")).alias("i"),
            )
            .first()
        ]
    }
    for pair, (ea, eb, eu) in est.items():
        ex = exact[pair]
        assert abs((ea + eb - eu) - ex.i) <= 0.05 * ex.u
        # merged stored sketches == direct union sketch, bit-identical
        direct = (
            rel.filter(F.col("shard").isin(*pair))
            .agg(SK.distinct_sketch("s").alias("sk"))
            .select(F.hll_sketch_estimate("sk")).first()[0]
        )
        assert abs(eu - direct) <= 0.02 * direct
