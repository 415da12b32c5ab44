"""ML + multimodal queries.

``multimodal_features`` runs real ``mapInPandas`` plumbing yet stays
oracle-checkable because the stub codec is deterministic (md5-derived).
The two pyspark.ml fits (``ml_kmeans_segments``,
``ml_repurchase_predictor``) are iterative with engine-defined
optimizers — no SQL form for their raw outputs — so they carry
bounded-assertion oracles (r12): the oracle replays the deterministic
census of their input split and asserts a quality floor (ARI vs the
exact-arithmetic twin / exact-kernel AUC) the fit must clear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.operators import multimodal as MM
from big_data_elt_pipeline_spark.plans.queries import _D, _REF_SQL, _fact, _ref_date, register
from big_data_elt_pipeline_spark.sources.tpch import read_table

_MM_SQL = """
WITH media AS (
    SELECT doc_id AS media_id, encode(text) AS payload, md5(text) AS h
    FROM documents
)
SELECT media_id,
       CAST(octet_length(payload) AS BIGINT) AS n_bytes,
       h AS content_hash,
       CAST(('0x' || substr(h, 1, 4))::BIGINT % 1920 AS INTEGER) AS fake_width,
       CAST(('0x' || substr(h, 5, 4))::BIGINT % 1080 AS INTEGER) AS fake_height
FROM media
"""


@register("multimodal_features", _MM_SQL)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    media = MM.to_media_table(docs, "doc_id", "text", mime="text/plain")
    return MM.extract_features(media)


_CENTERED_SQL = """
WITH clients AS (
    SELECT c_custkey AS id_client, n_name AS pays
    FROM customer JOIN nation ON c_nationkey = n_nationkey
),
achats AS (
    SELECT o_custkey AS id_client,
           CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS montant
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
f AS (SELECT a.montant, coalesce(c.pays, 'Inconnu') AS pays
      FROM achats a LEFT JOIN clients c USING (id_client))
SELECT pays, montant,
       montant - quantile_cont(montant, 0.5) OVER (PARTITION BY pays) AS centered
FROM f
"""


@register("grouped_center", _CENTERED_SQL)
def q_grouped_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas``: per-country median-centering.

    The per-group pandas computation (median via linear interpolation) is
    bit-identical to the SQL window form — proving the grouped-map UDF
    path produces engine-grade results, not just approximations. At scale
    this is one shuffle on the group key; each group materializes as one
    Arrow batch (groups must fit executor memory — the documented
    applyInPandas constraint).
    """
    import pandas as pd

    from big_data_elt_pipeline_spark.plans.queries import _fact

    fact = _fact(spark, sf_dir).select("pays", "montant")

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        med = pdf["montant"].median()
        return pdf.assign(centered=pdf["montant"] - med)

    return fact.groupBy("pays").applyInPandas(
        center, schema="pays string, montant double, centered double"
    )


_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("tpch_q1_sql", _TPCH_Q1)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL API surface: the engine accepts raw Spark SQL over temp
    views (Catalyst produces the same plan as the DataFrame API). The
    oracle is the identical statement run by DuckDB."""
    from big_data_elt_pipeline_spark.sources.tpch import read_table

    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_TPCH_Q1)


_PROFILE_COLS = [
    ("doc_id", "bigint"),
    ("text", "string"),
    ("lang", "string"),
    ("source", "string"),
    ("n_chars", "bigint"),
]

_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", '{t}' AS dtype, count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM documents"""
    for c, t in _PROFILE_COLS
)


@register("profile_documents", _PROFILE_SQL)
def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data profile of the documents table (nulls, cardinality,
    ranges per column) — the N-column oracle is N scans in SQL, ONE in
    the engine."""
    from big_data_elt_pipeline_spark.operators.profiling import profile_table

    return profile_table(read_table(spark, sf_dir, "documents"))


@register("calendar_dense_monthly", """
WITH achats AS (
    SELECT CAST(l_shipdate AS TIMESTAMP) AS date_achat,
           CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS montant
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
cam AS (
    SELECT strftime(date_achat, '%Y-%m') AS mois,
           CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca
    FROM achats GROUP BY 1
),
bounds AS (
    SELECT date_trunc('month', min(date_achat)) AS lo,
           date_trunc('month', max(date_achat)) AS hi
    FROM achats
),
months AS (
    SELECT strftime(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)), '%Y-%m') AS mois
    FROM bounds
)
SELECT months.mois, coalesce(ca, 0.0) AS ca, ca IS NULL AS was_gap
FROM months LEFT JOIN cam ON months.mois = cam.mois
ORDER BY months.mois
""")
def q_calendar_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling with a generated dimension: sequence+explode builds the
    dense month calendar (generator surface), left join fills revenue 0s —
    the standard dense-time-series reshape."""
    from big_data_elt_pipeline_spark.functions.core import money_sum
    from big_data_elt_pipeline_spark.plans.queries import _silver_frames

    _, achats = _silver_frames(spark, sf_dir)
    cam = achats.groupBy(F.date_format("date_achat", "yyyy-MM").alias("mois")).agg(
        money_sum("montant", "ca")
    )
    bounds = achats.agg(
        F.date_trunc("month", F.min("date_achat")).alias("lo"),
        F.date_trunc("month", F.max("date_achat")).alias("hi"),
    )
    months = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))).alias("m")
    ).select(F.date_format("m", "yyyy-MM").alias("mois"))
    return (
        months.join(cam, "mois", "left")
        .select(
            "mois",
            F.coalesce("ca", F.lit(0.0)).alias("ca"),
            F.col("ca").isNull().alias("was_gap"),
        )
        .orderBy("mois")
    )


# Bounded-assertion promotion of the two pyspark.ml fits (r11 verdict
# #6 — the kpis_approx discipline): their optimizers are engine-defined,
# so raw scores/labels can never hash cross-engine, but a QUALITY BOUND
# computed by an exact kernel can. Floors sit well under the measured
# values at both fixture SFs (AUC 0.603/0.649, ARI 0.417/0.439 at
# sf0.001/sf0.01) — they assert "the fit works", not a leaderboard.
_AUC_FLOOR = 0.55
_ARI_FLOOR = 0.25

_ML_PREDICTOR_SQL = _D + f""",
{_REF_SQL},
past AS (
    SELECT DISTINCT id_client FROM fact, refd
    WHERE date_achat < refd.ref - INTERVAL 90 DAY
),
fut AS (
    SELECT DISTINCT id_client FROM fact, refd
    WHERE date_achat >= refd.ref - INTERVAL 90 DAY
)
SELECT CAST(count(*) AS BIGINT) AS n_clients,
       CAST(sum(CASE WHEN f.id_client IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pos,
       CAST(sum(CASE WHEN f.id_client IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_neg,
       CAST({_AUC_FLOOR} AS DOUBLE) AS auc_floor,
       TRUE AS auc_above_floor
FROM past p LEFT JOIN fut f ON p.id_client = f.id_client
"""


@register("ml_repurchase_predictor", _ML_PREDICTOR_SQL)
def q_ml_predictor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised repurchase predictor under HASH evidence: the
    time-split labeled frame and the pyspark.ml LogisticRegression fit
    are unchanged; the returned relation is the label-split census plus
    an AUC-floor boolean computed by the EXACT rank-sum kernel
    (``classify.roc_auc`` — measured bit-equal to pyspark.ml's
    BinaryClassificationEvaluator on both fixtures). The oracle replays
    the census from the raw tables and asserts the bound, so the driver
    hash certifies the leakage-free split AND that the fit clears the
    floor; a degenerate single-class split nulls the AUC and fails the
    compare. Scored per-client output stays available via
    ``ml.predictor.fit_predict`` (pytest-pinned)."""
    from big_data_elt_pipeline_spark.ml.predictor import fit_predict, labeled_features
    from big_data_elt_pipeline_spark.ml.segmentation import compact_fit_input
    from big_data_elt_pipeline_spark.operators import classify as CL

    fact = _fact(spark, sf_dir)
    ref = _ref_date(spark, sf_dir)
    # eager checkpoint (r14 optimization, the rfm/q15 idiom): the labeled
    # frame is dimension-sized, but its lineage is the full fact build —
    # without the checkpoint the StandardScaler fit, the LR fit's instance
    # derivation, the model transform and the exact-AUC kernel each replay
    # the fact scan+joins. evaluate=False skips the discarded
    # BinaryClassificationEvaluator pass (the exact kernel below is the
    # one the query returns).
    labeled = labeled_features(fact, ref, holdout_days=90).localCheckpoint(
        eager=True
    )
    # compact_fit_input (guide §2.2): every LBFGS round is one Spark job
    # over this dimension-sized frame — coalescing the checkpointed
    # blocks turns ~32 near-empty tasks per round into the few the row
    # count justifies, without touching production-scale inputs
    scored, _auc = fit_predict(compact_fit_input(labeled), evaluate=False)
    return CL.roc_auc(scored, score_col="p_repurchase", label_col="label").select(
        (F.col("n_pos") + F.col("n_neg")).cast("bigint").alias("n_clients"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        F.lit(_AUC_FLOOR).cast("double").alias("auc_floor"),
        (F.col("auc") >= _AUC_FLOOR).alias("auc_above_floor"),
    )


_ML_KMEANS_SQL = _D + f"""
SELECT CAST(count(DISTINCT id_client) AS BIGINT) AS n_clients,
       CAST(5 AS INTEGER) AS k,
       CAST({_ARI_FLOOR} AS DOUBLE) AS ari_floor,
       TRUE AS ari_above_floor
FROM fact
"""


@register("ml_kmeans_segments", _ML_KMEANS_SQL)
def q_ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans segmentation under HASH evidence: the pyspark.ml pipeline
    fit is unchanged; the returned relation compares its segment labels
    against the deterministic exact-arithmetic Lloyd twin
    (``ml.segmentation.fixed_point_segments`` — the value-hashable
    ``kmeans_centroids`` algorithm, applied to the same standardized RFM
    features) via Adjusted Rand Index, asserting ARI >= floor (measured
    0.417/0.439 at the fixtures; chance = ~0). The oracle replays the
    client census and asserts the bound — so the driver hash certifies
    the feature build AND that the engine-defined fit lands on
    substantially the same partition as the audit-grade form. Raw
    assignments stay available via ``ml.segmentation.kmeans_segment``
    (pytest-pinned)."""
    from big_data_elt_pipeline_spark.ml.segmentation import (
        compact_fit_input,
        fixed_point_segments,
        kmeans_segment,
        rfm_features,
        segment_agreement,
    )

    fact = _fact(spark, sf_dir)
    ref = _ref_date(spark, sf_dir)
    # eager checkpoint: the per-client RFM relation (dimension-sized)
    # feeds BOTH the ml fit and the twin — without it the fact groupBy
    # re-runs in every consumer
    rfm = rfm_features(fact, ref).localCheckpoint(eager=True)
    # evaluate=False: the silhouette float is discarded here — the ARI
    # bound below is the query's quality evidence (guide §1.2).
    # compact_fit_input (guide §2.2): each Lloyd round is one job over
    # this dimension-sized frame — fewer, fuller tasks per round.
    # impute=False: the RFM aggregate cannot produce nulls (counts and
    # maxes over non-null fact rows), so the Imputer stage is the
    # identity; its median fit alone cost half the pipeline fit (r15,
    # guide §1.2). Assignments are bit-identical with or without it.
    assigned, _silhouette = kmeans_segment(
        compact_fit_input(rfm), k=5, seed=42, evaluate=False, impute=False
    )
    twin = fixed_point_segments(rfm, k=5)
    return segment_agreement(assigned, twin).select(
        F.col("n_clients").cast("bigint").alias("n_clients"),
        F.lit(5).cast("int").alias("k"),
        F.lit(_ARI_FLOOR).cast("double").alias("ari_floor"),
        (F.col("ari") >= _ARI_FLOOR).alias("ari_above_floor"),
    )


_TPCH_Q3 = """
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@register("tpch_q3", _TPCH_Q3)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping-priority shape, adapted to this corpus's
    columns): 3-way join -> decimal-exact revenue rollup -> top-10.

    DataFrame-API form with the join order the optimizer should pick:
    the segment-filtered ``customer`` is dimension-sized -> explicit
    ``broadcast`` (no shuffle of orders for the first join); the
    orders->lineitem join shuffles on orderkey once; ties in the top-10
    are broken (o_orderdate, l_orderkey) so LIMIT is deterministic."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.sources.tpch import read_table

    cutoff = "1998-06-01 00:00:00"
    cust = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_TPCH_Q18 = """
WITH big AS (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200
)
SELECT c_name, o_custkey AS c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(sum(l_quantity) AS DOUBLE) AS total_qty
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_name, o_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


@register("tpch_q18", _TPCH_Q18)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers, reference columns adapted):
    group-by-HAVING qualifier -> semi-join into the fact -> re-aggregate ->
    deterministic top-100. Covers the having-pushdown + semi-join plan no
    other gated query exercises (round-4 verdict prescription 6).

    Scale shape: the qualifier is ONE shuffle of lineitem's (orderkey,
    quantity) projection — the narrowest possible relation — with the
    HAVING applied map-side after partial aggregation; the surviving
    order-key set is a tiny fraction (sum(qty) > 200 keeps ~6% of orders
    here), so the semi-join against orders broadcasts it under AQE rather
    than shuffling orders. The final per-order rollup re-joins lineitem on
    the already-partitioned orderkey, and the top-100 is
    TakeOrderedAndProject (no global sort), tie-broken (o_totalprice desc,
    o_orderdate, o_orderkey) so LIMIT is deterministic.
    """
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.sources.tpch import read_table

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 200)
        .select("l_orderkey")
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("c_name", "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .select(
            "c_name",
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey", "o_orderdate", "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


_TPCH_Q16 = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 7, 10, 15, 20, 25, 30)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register("tpch_q16", _TPCH_Q16)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier-count-by-part, adapted: lineitem plays
    partsupp — this corpus has no partsupp table — and the excluded-
    supplier predicate is ``s_acctbal < 0`` since supplier carries no
    comment column): anti-join + countDistinct, the plan family no other
    gated query covers (round-4 verdict prescription 6).

    Scale shape: the excluded-supplier set is dimension-sized and filtered
    BEFORE the anti-join, so it broadcasts (BroadcastNestedLoop never
    appears — the join is a broadcast-hash left_anti on suppkey); part is
    filtered by brand/type/size then broadcast into the fact; the only
    lineitem shuffle is the final (brand, type, size) rollup, whose
    partial countDistinct dedups map-side. Group count is bounded by
    |brands|x|types|x|sizes| — tiny at any corpus scale.
    """
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.sources.tpch import read_table

    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = (
        read_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & ~F.col("p_type").startswith("PROMO")
            & F.col("p_size").isin(1, 4, 7, 10, 15, 20, 25, 30)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_TPCH_Q13 = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("tpch_q13", _TPCH_Q13)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution; the comment
    NOT-LIKE predicate adapted to ``o_orderpriority <> '1-URGENT'`` — this
    corpus carries no comment column): outer join preserving zero-order
    customers -> per-customer count -> distribution of counts. The only
    gated query whose aggregate must SEE rows that the join produced from
    nothing (the NULL-extended side).

    Scale shape: orders pre-aggregates to (custkey, count) BEFORE meeting
    customer — the filtered fact collapses by one shuffle on o_custkey and
    only the count relation (one row per active customer) joins the
    customer table on its own key. The distribution groupBy has at most
    |max orders per customer| groups — single-digit partitions of a few
    hundred rows at any corpus scale."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.sources.tpch import read_table

    ocnt = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c_count"))
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        cust.join(ocnt, cust.c_custkey == ocnt.o_custkey, "left")
        .select(F.coalesce(F.col("c_count"), F.lit(0)).cast("bigint").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_TPCH_Q17 = """
WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#2'),
li AS (
    SELECT l_partkey, l_quantity, l_extendedprice
    FROM lineitem JOIN bp ON p_partkey = l_partkey
),
av AS (
    SELECT l_partkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty
    FROM li GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
FROM li JOIN av USING (l_partkey)
WHERE l_quantity < 0.2 * avg_qty
"""


@register("tpch_q17", _TPCH_Q17)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): a correlated
    per-part average subquery, decorrelated the way a columnar engine
    should — per-part avg computed once as its own aggregate, joined back
    to the fact. The avg is decimal-sum / count (exact, order-independent
    addition, then ONE double division) so the comparison threshold is
    bit-identical in any engine; quantities are integral so no precision
    is lost in the snap.

    Scale shape: the brand filter cuts part to dimension size ->
    broadcast semi-reduction of lineitem BEFORE any aggregation (the fact
    is scanned once per consumer but only brand rows survive the scan
    filter's broadcast join); the per-part avg is one shuffle of the
    narrow (partkey, qty) projection; joining the avg back is a broadcast
    (|brand parts| rows). Nothing ever shuffles the full lineitem."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.sources.tpch import read_table

    bp = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#2")
        .select("p_partkey")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li_b = li.join(F.broadcast(bp), li.l_partkey == bp.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    av = li_b.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        li_b.join(F.broadcast(av), "l_partkey")
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


_TPCH_Q22 = """
WITH avg_bal AS (
    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS v
    FROM customer WHERE c_acctbal > 0
),
recent AS (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-09-01 00:00:00'
)
SELECT c_nationkey AS cntrycode, CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT v FROM avg_bal)
  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
GROUP BY c_nationkey
ORDER BY cntrycode
"""


@register("tpch_q22", _TPCH_Q22)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity — dormant above-average
    customers; cntrycode stand-in = c_nationkey and the no-orders test is
    date-windowed, since this corpus has no phone column and every
    customer has SOME order): scalar-subquery threshold + anti-join +
    rollup. The scalar average is computed in ONE Spark action (decimal
    sum / count — order-independent) and inlined as a literal, the same
    collect-then-inline discipline every scored query here uses; the SQL
    oracle computes it in a CTE — same double, same comparisons.

    Scale shape: the threshold agg is a map-side-combinable scan of one
    column; the anti-join shuffles only (custkey) projections — at
    cluster scale the recent-orders key set is the small side after its
    date filter and broadcasts under AQE; the final rollup has
    |nations| groups."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.sources.tpch import read_table

    cutoff = "1998-09-01 00:00:00"
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("v")
        )
        .first()[0]
    )
    recent = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(cutoff).cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.filter(F.col("c_acctbal") > F.lit(avg_bal))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


_TPCH_Q5 = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register("tpch_q5", _TPCH_Q5)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): the snowflake MULTI-HOP
    join — region -> nation -> customer -> orders -> lineitem -> supplier —
    with the classic correlated predicate ``s_nationkey = c_nationkey``
    (revenue only counts when the supplier is local to the customer),
    which no other gated query exercises.

    Scale shape: region+nation collapse to a broadcast dimension of
    |nations-in-region| rows BEFORE touching any fact; customer joins
    that broadcast map-side; orders arrive date-pruned from the scan; the
    only big shuffles are orders⋈customer on custkey and the orderkey
    join into lineitem; supplier is dimension-sized and broadcasts, with
    the nationkey correlation applied as part of that map-side join (no
    extra shuffle). Final rollup has |nations| groups."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.sources.tpch import read_table

    region = (
        read_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    dim = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    cust = (
        read_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(dim), F.col("c_nationkey") == dim.n_nationkey)
        .select("c_custkey", "c_nationkey", "n_name")
    )
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@register("image_features", None)  # real binary codec path — rows-only
def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the registry: deterministic per-doc P6
    PPM gradients (dimensions and blue channel derived from doc_id)
    synthesized in one mapInPandas pass, decoded by the numpy PPM codec in
    another — the image twin of ``audio_features``, closing the last
    media modality with a working codec (compressed formats keep the
    honest PIL gate). Channel-mean correctness is pinned analytically in
    tests/test_ml_multimodal.py; the driver records the rows-only check."""
    from collections.abc import Iterator

    import pandas as pd

    from big_data_elt_pipeline_spark.operators import multimodal as MM

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {
                    "media_id": b["doc_id"],
                    "payload": [
                        MM.synth_ppm(
                            width=16 + int(i) % 17,
                            height=8 + int(i) % 11,
                            g_const=int(i) % 256,
                            b_value=(int(i) * 7) % 256,
                        )
                        for i in b["doc_id"]
                    ],
                }
            )

    payloads = docs.mapInPandas(synth, schema="media_id long, payload binary")
    media = MM.to_media_table(payloads, "media_id", "payload", mime="image/x-portable-pixmap")
    return MM.extract_image_features(media).orderBy("media_id")


@register("audio_features", None)  # real binary codec path — rows-only
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the registry: deterministic per-doc sine
    WAVs (freq/duration derived from doc_id) synthesized in one
    mapInPandas pass, then decoded by the stdlib-wave codec in another —
    the full binary-column round trip (synthesize -> opaque payload ->
    decode -> typed features). Feature correctness is pinned by the
    analytic test (sine RMS = A/sqrt(2), tests/test_ml_multimodal.py);
    the driver records the rows-only check."""
    from collections.abc import Iterator

    import pandas as pd

    from big_data_elt_pipeline_spark.operators import multimodal as MM

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {
                    "media_id": b["doc_id"],
                    "payload": [
                        MM.synth_wav(
                            freq_hz=100.0 + float(i % 400),
                            duration_s=0.05 + (i % 5) * 0.025,
                            rate=8000,
                            amp=0.5,
                        )
                        for i in b["doc_id"]
                    ],
                }
            )

    payloads = docs.mapInPandas(synth, schema="media_id long, payload binary")
    media = MM.to_media_table(payloads, "media_id", "payload", mime="audio/wav")
    return MM.extract_audio_features(media).orderBy("media_id")


# --------------------------------------------------------------------------
# Round-6 TPC-H plan families. Each query adds a plan SHAPE no other gated
# query exercises; columns are adapted to this corpus where the classic
# column is absent (noted per query). Decimal-snapped sums keep the DuckDB
# comparison bit-exact (functions/core.py rationale).
# --------------------------------------------------------------------------

_TPCH_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           l_extendedprice * (1.0 - l_discount) AS volume
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1997-12-31 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("tpch_q7", _TPCH_Q7)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): the SYMMETRIC nation-pair disjunction —
    both endpoint dimensions join broadcast, then one residual OR filter
    over the pair, a shape (disjunction across two different join branches)
    nothing else covers.

    Scale shape: nation is broadcast into supplier and customer (both
    dimension-sized, themselves broadcast into the facts), so the only
    shuffles are lineitem<->orders on orderkey and orders<->customer on
    custkey; the pair predicate runs map-side after both endpoints are
    attached. Restricting nation to the two named ones BEFORE the joins
    shrinks supplier/customer to ~2/25ths so even those broadcasts are
    minimal."""
    pair = ("NATION_1", "NATION_2")
    nat = (
        read_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select("n_nationkey", "n_name")
    )
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        read_table(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp"),
            F.lit("1997-12-31 00:00:00").cast("timestamp"),
        )
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_TPCH_Q8 = """
SELECT o_year,
       CAST(CAST(sum(CASE WHEN nation = 'NATION_7' THEN volume ELSE 0 END)
                 AS DECIMAL(18,4))
            / CAST(sum(volume) AS DECIMAL(18,4)) AS DOUBLE) AS mkt_share
FROM (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           l_extendedprice * (1.0 - l_discount) AS volume,
           n2.n_name AS nation
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1997-12-31 00:00:00'
      AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


@register("tpch_q8", _TPCH_Q8)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): the RATIO-OF-CONDITIONAL-SUMS
    aggregate (share of one nation inside a regional total) on top of the
    deepest snowflake in the registry — part, supplier-nation, and
    customer-nation-region all feeding one fact.

    Scale shape: every non-fact input is filtered to dimension size and
    broadcast (type-filtered part, region-restricted customer, supplier
    with its nation name attached); lineitem<->orders on orderkey is the
    single big shuffle, and the final agg has |years| groups. The
    numerator/denominator pair computes in ONE pass via conditional
    aggregation — not two plans joined."""
    part = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    asia_keys = (
        read_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    nation = read_table(spark, sf_dir, "nation")
    cust = (
        read_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(asia_keys),
                    nation.n_regionkey == asia_keys.r_regionkey,
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp"),
            F.lit("1997-12-31 00:00:00").cast("timestamp"),
        )
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("nation") == "NATION_7", vol).otherwise(F.lit(0.0))
                ).cast("decimal(18,4)")
                / F.sum(vol).cast("decimal(18,4)")
            ).cast("double").alias("mkt_share")
        )
        .orderBy("o_year")
    )


_TPCH_Q10 = """
SELECT c_custkey, c_name,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("tpch_q10", _TPCH_Q10)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): fact-filter -> 3-way enrich ->
    wide GROUP BY carrying descriptive payload columns -> top-20. The wide
    grouping key (4 payload columns ride the aggregation) is the shape
    delta vs Q3's narrow key.

    Scale shape: the returnflag + date predicates prune lineitem/orders at
    the scan; customer+nation broadcast; one orderkey shuffle, one
    custkey-grouped agg sized |customers with returns|, then top-20."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nat = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue")
        )
        .select(
            "c_custkey", "c_name", "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"), "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_TPCH_Q14 = """
SELECT CAST(100.00 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1.0 - l_discount)
                                   ELSE 0 END) AS DECIMAL(18,4))
            / CAST(sum(l_extendedprice * (1.0 - l_discount)) AS DECIMAL(18,4))
            AS DOUBLE) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
"""


@register("tpch_q14", _TPCH_Q14)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): GLOBAL scalar ratio over a broadcast
    dimension join — conditional numerator and unconditional denominator
    in one ungrouped aggregate (Q8 does it per-group; the degenerate
    no-key form plans differently: partial_agg -> single-partition final,
    no exchange-by-key at all).

    Scale shape: month predicate prunes the scan; part broadcasts;
    map-side partial aggregation collapses every partition to one row
    before the single-row final — the whole query moves |partitions|
    rows."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
                ).cast("decimal(18,4)")
                / F.sum(vol).cast("decimal(18,4)")
            ).cast("double").alias("promo_revenue")
        )
    )


_TPCH_Q15 = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@register("tpch_q15", _TPCH_Q15)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): a reused VIEW consumed twice — once for
    the max scalar, once for the equality filter — the
    scalar-subquery-against-own-aggregate shape. The revenue rollup is
    computed ONCE (cached) rather than re-planned per consumer; equality
    on the decimal-snapped double is exact, so the tie semantics (all
    suppliers at the max) survive the engine boundary.

    Scale shape: the rollup is one suppkey-grouped shuffle of the pruned
    scan; the max is a single-row broadcast joined map-side; supplier is
    dimension-sized and broadcast.

    Cache lifecycle: the rollup cache is owned by THIS function — the
    final few-row result is eagerly localCheckpoint'ed and the rollup
    unpersisted before returning, so repeated invocations leak nothing
    (the checkpoint block is result-sized: the suppliers tied at max,
    typically 1 row)."""
    rev = (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("total_revenue")
        )
        .persist()
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
        .join(F.broadcast(supp), rev.supplier_no == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
        .localCheckpoint(eager=True)
    )
    rev.unpersist()
    return out


_TPCH_Q19 = """
SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 21)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 40)
"""


@register("tpch_q19", _TPCH_Q19)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the DISJUNCTIVE join predicate —
    three OR'd conjunct groups mixing columns from BOTH sides. The
    derivable prefix (brand/size disjunction over part alone, quantity
    envelope over lineitem alone) is applied pre-join so each side's scan
    prunes; the cross-side residual runs inside the broadcast join.
    Catalyst does extract such single-side disjuncts itself (CNF
    conversion is in the optimizer), but stating them explicitly keeps
    the pushdown visible and scan-level regardless of optimizer
    thresholds.

    Scale shape: part shrinks to the 3-brand union and broadcasts; the
    quantity envelope [1, 40] prunes lineitem at the scan; no shuffle at
    all — broadcast join then single-row agg."""
    cases = [
        ("Brand#12", 15, 1.0, 21.0),
        ("Brand#23", 25, 10.0, 30.0),
        ("Brand#3", 35, 20.0, 40.0),
    ]
    part_pred = None
    for brand, size_hi, _, _ in cases:
        c = (F.col("p_brand") == brand) & F.col("p_size").between(1, size_hi)
        part_pred = c if part_pred is None else (part_pred | c)
    part = (
        read_table(spark, sf_dir, "part")
        .filter(part_pred)
        .select("p_partkey", "p_brand", "p_size")
    )
    qty_lo = min(c[2] for c in cases)
    qty_hi = max(c[3] for c in cases)
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(qty_lo, qty_hi)
    ).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    residual = None
    for brand, size_hi, lo, hi in cases:
        c = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & (F.col("l_quantity") >= lo)
            & (F.col("l_quantity") <= hi)
        )
        residual = c if residual is None else (residual | c)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(residual)
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue")
        )
    )


_TPCH_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("tpch_q4", _TPCH_Q4)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): EXISTS against the fact
    = LEFT SEMI join from orders INTO lineitem — the semi-into-bigger-table
    direction (tpch_q18's semi goes the other way, qualifier into fact).
    Classic Q4 tests l_commitdate < l_receiptdate; this corpus ships
    neither column, so the existence predicate is adapted to
    ``l_returnflag = 'R'`` — the PLAN (date-pruned scan -> semi join ->
    tiny priority rollup) is the point.

    Scale shape: the returnflag filter prunes lineitem before the semi
    join; semi-join payload is orderkey alone (no lineitem columns
    survive), one orderkey shuffle; final agg has 5 groups."""
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_orderpriority")
    returned = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_TPCH_Q11 = """
WITH value_by_part AS (
    SELECT l_partkey,
           CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4)))
                AS DOUBLE) AS part_value
    FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM value_by_part
WHERE part_value > (
    SELECT CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4)))
                AS DOUBLE) * 0.0006
    FROM lineitem
)
ORDER BY part_value DESC, l_partkey
"""


@register("tpch_q11", _TPCH_Q11)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): HAVING against a FRACTION-OF-
    GLOBAL-TOTAL scalar subquery — the grouped rollup filtered by an
    aggregate of the SAME source at a different grain. Classic Q11 uses
    partsupp (absent here); the value concentration runs over lineitem
    (part_value = extendedprice x quantity), keeping the identical plan:
    one grouped agg + one global agg, threshold joined as a broadcast
    scalar.

    Scale shape: both aggregates are map-side-partial over one scan
    lineage; the global total is a single-row broadcast; no driver
    round-trip (the threshold never leaves the JVM)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", (F.col("l_extendedprice") * F.col("l_quantity")).alias("v")
    )
    by_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("v").cast("decimal(18,4)")).cast("double").alias("part_value")
    )
    threshold = li.agg(
        (F.sum(F.col("v").cast("decimal(18,4)")).cast("double") * F.lit(0.0006))
        .alias("thr")
    )
    return (
        by_part.join(F.broadcast(threshold), by_part.part_value > F.col("thr"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


_TPCH_Q12 = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@register("tpch_q12", _TPCH_Q12)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / late lines): a CROSS-TABLE theta
    residual on an equi-join (l_shipdate >= o_orderdate + 60 days — the
    late-shipment predicate can only evaluate AFTER the join) feeding a
    two-counter conditional aggregation. Classic Q12 compares
    commit/receipt dates and groups by shipmode; absent here, the lateness
    predicate is shipdate-vs-orderdate and the group key l_linestatus —
    same plan: equi-join with non-equi residual, CASE-sum pivot.

    Scale shape: the equi key (orderkey) drives the one shuffle; the
    residual runs inside the join; the year predicate prunes the lineitem
    scan; 2-3 result groups."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_TPCH_Q6 = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("tpch_q6", _TPCH_Q6)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the PURE-SCAN aggregate —
    no join at all; the query IS its pushdown. Every predicate (date
    range, discount band, quantity cap) must reach the parquet scan and
    the plan must collapse to scan -> partial agg -> single-row final;
    the plan test pins all three PushedFilters.

    Scale shape: at 100 TB this is the min-round-trip query — zero
    exchanges beyond the single-row final; with a date-partitioned or
    shipdate-clustered layout the scan prunes to 1/7 of the files before
    a row is read."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount"))
                  .cast("decimal(18,4)")).cast("double").alias("revenue")
        )
    )


_TPCH_Q21 = """
WITH late AS (
    SELECT l_orderkey, l_suppkey
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
      AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
)
SELECT s_name, count(*) AS numwait
FROM late l1
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
)
AND NOT EXISTS (
    SELECT 1 FROM late l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@register("tpch_q21", _TPCH_Q21)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    SEMI-PLUS-ANTI pair against the SAME relation with an INEQUALITY in
    each correlation — l1 must have a co-supplier on the order (semi,
    suppkey <>) and must be the ONLY late one (anti on the late set,
    suppkey <>). No other query combines existential and negated-
    existential self-correlation. Classic Q21's lateness is
    receiptdate > commitdate (columns absent); adapted to
    l_shipdate >= o_orderdate + 60 days on finished ('F') orders.

    Scale shape: the late set derives from one orderkey equi-join; both
    the semi and the anti are orderkey equi-joins with the suppkey
    inequality as residual (never a cross product); supplier broadcasts
    into the final 100-group rollup."""
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.alias("l1")
    other_sup = li.select("l_orderkey", "l_suppkey").alias("l2")
    has_other = l1.join(
        other_sup,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    only_late = has_other.alias("l1").join(
        late.alias("l3"),
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        only_late.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Round 7: the last three TPC-H decorrelation shapes (r6 verdict #2) —
# Q2 (correlated scalar-min over a snowflake), Q20 (nested semi-join with
# a per-(part,supplier) scalar threshold), Q9 (LIKE-filtered multi-join
# profit rollup). This corpus has no partsupp table, so lineitem plays it
# (the q16/q17 convention): ps_supplycost = min unit price ever charged
# for the (part, supplier) pair, ps_availqty = total quantity the pair
# ever supplied.
# --------------------------------------------------------------------------

_TPCH_Q2 = """
WITH ps AS (
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           min(l_extendedprice / l_quantity) AS ps_supplycost
    FROM lineitem GROUP BY 1, 2
),
eu AS (
    SELECT s_suppkey, s_name, s_acctbal, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
),
costs AS (
    SELECT ps_partkey, ps_suppkey, ps_supplycost, s_name, s_acctbal, n_name
    FROM ps JOIN eu ON ps_suppkey = s_suppkey
),
mn AS (
    SELECT ps_partkey AS mk, min(ps_supplycost) AS min_cost
    FROM costs GROUP BY ps_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       ps_supplycost AS supplycost
FROM part
JOIN costs ON p_partkey = ps_partkey
JOIN mn ON ps_partkey = mk AND ps_supplycost = min_cost
WHERE p_type = 'STANDARD' AND p_size <= 10
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, ps_suppkey
LIMIT 100
"""


@register("tpch_q2", _TPCH_Q2)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): the CORRELATED SCALAR-MIN
    subquery — "the supplier whose cost equals the minimum cost for that
    part among suppliers of one region" — decorrelated as a per-part min
    aggregate joined back on (part, cost). The one decorrelation shape the
    registry lacked (r6 verdict #2); equality on the min is exact because
    both sides are the SAME double (min over identical values), the q15
    convention.

    Scale shape: supplier⋈nation⋈region collapses to a region-filtered
    dimension and broadcasts into the (part,supplier) cost relation; the
    cost relation itself is ONE groupBy shuffle of the pruned two-column
    lineitem scan; the per-part min is a second keyed shuffle of the
    already-dimension-sized cost relation, and qualifying parts broadcast.
    Nothing correlated re-executes per row — the classic unnest.
    """
    ps = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity"))
            .alias("ps_supplycost")
        )
    )
    nation = read_table(spark, sf_dir, "nation")
    eu_keys = (
        read_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    eu = (
        read_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(F.broadcast(eu_keys),
                            nation.n_regionkey == eu_keys.r_regionkey)
                .select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = (
        read_table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
        .select("p_partkey", "p_type")
    )
    # restrict costs to qualifying parts BEFORE the min: the per-part min
    # is unaffected by dropping other parts, and the min's shuffle then
    # moves |qualifying parts| x |region suppliers| rows, not all pairs
    costs = (
        ps.join(F.broadcast(eu), ps.ps_suppkey == eu.s_suppkey)
        .join(F.broadcast(part), ps.ps_partkey == part.p_partkey)
    )
    mn = costs.groupBy(F.col("ps_partkey").alias("mk")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        costs.join(
            mn,
            (costs.ps_partkey == mn.mk)
            & (costs.ps_supplycost == mn.min_cost),
        )
        .select("s_acctbal", "s_name", "n_name",
                F.col("ps_partkey").alias("p_partkey"), "p_type",
                F.col("ps_supplycost").alias("supplycost"), "ps_suppkey")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey",
                 "ps_suppkey")
        .limit(100)
        .drop("ps_suppkey")
    )


_TPCH_Q20 = """
WITH redp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
avail AS (
    SELECT l_partkey AS pk, l_suppkey AS sk,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               AS ps_availqty
    FROM lineitem JOIN redp ON l_partkey = p_partkey
    GROUP BY 1, 2
),
yr AS (
    SELECT l_partkey AS pk, l_suppkey AS sk,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty96
    FROM lineitem JOIN redp ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2
),
qual AS (
    SELECT DISTINCT avail.sk AS sk
    FROM avail JOIN yr ON avail.pk = yr.pk AND avail.sk = yr.sk
    WHERE ps_availqty > 2.5 * qty96
)
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN qual ON s_suppkey = sk
WHERE n_name = 'NATION_9'
ORDER BY s_name
"""


@register("tpch_q20", _TPCH_Q20)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): the NESTED SEMI-JOIN
    with a PER-(part,supplier) SCALAR THRESHOLD — suppliers of red-named
    parts whose standing stock (ps_availqty: all-time supplied quantity,
    the partsupp proxy) comfortably exceeds what 1996 drew down
    (> 2.5x the 1996 shipments for that exact pair; the factor makes the
    threshold genuinely discriminating on this corpus: 739 of 8746 pairs
    pass at sf0.01). The correlated scalar subquery decorrelates into a
    keyed aggregate joined on the SAME (part, supplier) key; missing-pair
    semantics (no 1996 rows -> NULL threshold -> excluded) are exactly the
    inner join's.

    Scale shape: the red-part dimension broadcasts into both lineitem
    rollups; the two (partkey, suppkey)-keyed aggregates share one
    partitioning, so AQE plans the threshold join shuffle-free on the
    pre-partitioned relations; the surviving supplier-key set is
    dimension-sized and joins the supplier table broadcast. The final
    DISTINCT runs on supplier keys only.
    """
    redp = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
        .join(F.broadcast(redp), F.col("l_partkey") == F.col("p_partkey"))
    )
    qsum = F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
    avail = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(qsum.alias("ps_availqty"))
    yr = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(qsum.alias("qty96"))
    )
    qual = (
        avail.join(yr, ["pk", "sk"])
        .filter(F.col("ps_availqty") > F.lit(2.5) * F.col("qty96"))
        .select("sk")
        .distinct()
    )
    nat = (
        read_table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_9")
        .select("n_nationkey", "n_name")
    )
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    return (
        supp.join(qual, supp.s_suppkey == qual.sk)
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


_TPCH_Q9 = """
WITH ps AS (
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           floor(min(l_extendedprice / l_quantity) * 100.0) / 100.0
               AS ps_supplycost
    FROM lineitem GROUP BY 1, 2
)
SELECT nation, o_year,
       CAST(sum(CAST(amount AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
FROM (
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           l_extendedprice * (1.0 - l_discount)
               - ps_supplycost * l_quantity AS amount
    FROM lineitem
    JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE 'red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@register("tpch_q9", _TPCH_Q9)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): the LIKE-filtered multi-join
    profit rollup — profit per (supplier nation, order year) where profit
    = revenue minus supply cost, the cost coming from the (part, supplier)
    partsupp proxy (min unit price, the q2 relation).

    Scale shape: the oracle's ps self-join (rollup lineitem, join it back
    to lineitem on the pair key = TWO pair-keyed exchanges) is computed
    here as a WINDOW min over (l_partkey, l_suppkey) — one exchange gives
    every row its pair's supplycost in place, no self-join. The red-part
    filter broadcasts and prunes the fact BEFORE that shuffle; supplier⋈
    nation broadcasts; the orderkey join against the date-pruned orders
    scan is the single remaining big shuffle; the final agg has |nations|
    x |years| groups. Per-row amounts quantize to DECIMAL(18,4) before the
    order-independent exact decimal sum (the q19 convention).

    Why the supplycost is FLOORED TO CENTS: the raw min unit price is a
    rational p/q; for power-of-two quantity ratios, cost*qty lands
    EXACTLY on a 4-dp decimal tie (e.g. ...87305), where Spark's
    shortest-string double->decimal cast (HALF_UP on the printed tie) and
    DuckDB's binary-value rounding disagree — measured 23/60k rows
    flipping one 1e-4 unit. floor() has no tie mode: both engines floor
    the SAME double identically, cost becomes an exact cents value, and
    every amount sits within 1 ulp of an exact 4-dp decimal — never near
    a tie — so the quantization is engine-independent by construction.
    """
    from pyspark.sql import Window

    redp = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                "l_extendedprice", "l_discount")
        .join(F.broadcast(redp), F.col("l_partkey") == F.col("p_partkey"))
    )
    w = Window.partitionBy("l_partkey", "l_suppkey")
    li = li.withColumn(
        "ps_supplycost",
        F.floor(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).over(w)
            * F.lit(100.0)
        ) / F.lit(100.0),
    )
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "nation")
                .select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    amount = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(amount.cast("decimal(18,4)")).cast("double")
            .alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )
