"""End-to-end medallion run on CSVs derived from the test corpus, plus the
gold stage's plan shape, job budget and error path."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark import io as eio
from big_data_elt_pipeline_spark import pipeline as P
from big_data_elt_pipeline_spark import schemas
from big_data_elt_pipeline_spark.operators import gold
from big_data_elt_pipeline_spark.session import pinned_rdds
from big_data_elt_pipeline_spark.sources import tpch
from tests.conftest import SF_SMOKE

# the sinks whose output is bounded by a calendar, country, product,
# segment or bucket key: sorted in one partition, never range-partitioned
BOUNDED_SINKS = [
    "ca_monthly", "ca_country", "ca_product", "segment_summary",
    "cohort_first_purchase", "daily", "weekly", "distribution", "monthly_growth",
]


def _job_count(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("lake"))
    src = f"{tmp}/sources"
    clients = tpch.clients_df(spark, SF_SMOKE)
    achats = tpch.achats_df(spark, SF_SMOKE)
    (clients.coalesce(1).write.mode("overwrite")
     .option("header", True).csv(f"{src}/clients.csv"))
    (achats.coalesce(1).write.mode("overwrite")
     .option("header", True).option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
     .csv(f"{src}/achats.csv"))
    jobs0 = _job_count(spark)
    result = P.run_medallion(spark, src, f"{tmp}/lake",
                             min_date="1990-01-01", max_amount=1e9)
    return tmp, result, _job_count(spark) - jobs0


def test_medallion_runs_and_counts(spark, lake):
    tmp, result, _ = lake
    assert result["bronze_rows"]["achats"] == 6000
    assert result["gold_rows"]["fact_achats"] == 6000  # clean corpus: no drops
    assert result["gold_rows"]["dim_clients"] == 150
    assert result["seconds"]["total"] > 0


def test_golden_check_green(spark, lake):
    tmp, _, _ = lake
    assert P.golden_check(spark, f"{tmp}/lake") == []


def test_gold_matches_direct_computation(spark, lake):
    tmp, _, _ = lake
    from big_data_elt_pipeline_spark import io as eio
    from big_data_elt_pipeline_spark.operators import gold

    clients = tpch.clients_df(spark, SF_SMOKE)
    achats = tpch.achats_df(spark, SF_SMOKE)
    direct = gold.sales_by(gold.build_fact(achats, clients), "mois", "mois").toPandas()
    from_lake = (
        eio.read_parquet(spark, f"{tmp}/lake/gold/ca_monthly")
        .orderBy("mois").toPandas()
    )
    assert direct.sort_values("mois").reset_index(drop=True).equals(
        from_lake.sort_values("mois").reset_index(drop=True)
    )


def test_distribution_labels_written(spark, lake):
    tmp, _, _ = lake
    from big_data_elt_pipeline_spark import io as eio

    dist = eio.read_parquet(spark, f"{tmp}/lake/gold/distribution").toPandas()
    assert set(dist.columns) == {"bucket", "count", "bucket_label"}
    assert dist.bucket_label.str.match(r"^\(.+, .+\]$").all()
    assert dist["count"].sum() == 6000


def test_medallion_job_budget(lake):
    """The jobs the fixture's own run fired, its 13 sink row counts
    included: footer-inference reads, extra driver actions or range sorts
    creeping back into the medallion pass show up here."""
    _, _, jobs = lake
    assert jobs <= 87, jobs  # 83 measured; 96 with inferred sink read-backs


def test_bounded_sinks_have_no_range_sort(spark, lake):
    """Planning only: the nine bounded sinks' executed plans carry no
    range exchange (hence no range-sampling job), and monthly_growth's
    unpartitioned window adds no exchange to its ca_monthly input."""
    tmp, _, _ = lake
    clients = eio.read_parquet(spark, f"{tmp}/lake/silver/clients", schemas.CLIENTS_SILVER)
    achats = eio.read_parquet(spark, f"{tmp}/lake/silver/achats", schemas.ACHATS_SILVER)
    fact = gold.build_fact(achats, clients)
    ref = dt.datetime(2020, 1, 1)
    features = gold.build_client_features(fact, clients, ref)
    fact_sinks, score_sinks = P.gold_sinks(clients, fact, features, ref, (1.0, 2.0))
    assert set(fact_sinks) | set(score_sinks) == set(P.GOLD_TABLES + P.SERVING_TABLES)
    t = gold.ScoreThresholds(*[1.0] * len(gold.ScoreThresholds._fields))
    sinks = {**fact_sinks, **{n: b(t) for n, b in score_sinks.items()}}

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "rangepartitioning" in plan(fact.orderBy("jour")).lower()  # the probe bites
    for name in BOUNDED_SINKS:
        assert "rangepartitioning" not in plan(sinks[name]).lower(), name
    assert (plan(sinks["monthly_growth"]).count("Exchange")
            == plan(sinks["ca_monthly"]).count("Exchange"))


def test_lake_schemas_match_contract(spark, lake):
    """The explicit-schema lake reads trust ``schemas.py``: what bronze and
    silver wrote must infer to the same field names and types."""
    tmp, _, _ = lake

    def fields(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    for layer, contract in [
        ("bronze/clients", schemas.CLIENTS_RAW), ("bronze/achats", schemas.ACHATS_RAW),
        ("silver/clients", schemas.CLIENTS_SILVER), ("silver/achats", schemas.ACHATS_SILVER),
    ]:
        inferred = eio.read_parquet(spark, f"{tmp}/lake/{layer}").schema
        assert fields(inferred) == fields(contract), layer


def _silver_lake(spark, root, n_purchases: int) -> str:
    lake = f"{root}/lake"
    clients = [(1, "a", "a@x", dt.date(2020, 1, 1), "France"),
               (2, "b", "b@x", dt.date(2020, 2, 1), "Spain")]
    achats = [(i, 1 + i % 2, dt.datetime(2021, 1, 1 + i), 10.0 + i, "Livre")
              for i in range(n_purchases)]
    eio.write_parquet(spark.createDataFrame(clients, schemas.CLIENTS_SILVER),
                      f"{lake}/silver/clients")
    eio.write_parquet(spark.createDataFrame(achats, schemas.ACHATS_SILVER),
                      f"{lake}/silver/achats")
    return lake


def test_gold_error_path_frees_caches(spark, tmp_path, monkeypatch):
    """Degenerate input fails loudly at call time, and no failure leaves
    the fact or features cache pinned: not the no-dates ValueError of the
    scalar action, and not an error raised inside the thresholds task,
    which reaches the caller."""
    pinned = pinned_rdds(spark)
    empty = _silver_lake(spark, tmp_path / "empty", n_purchases=0)
    with pytest.raises(ValueError, match="no valid purchase dates"):
        P.gold_transform(spark, empty)
    assert pinned_rdds(spark) - pinned == set()

    def boom(features, horizon_days=gold.HORIZON_DAYS):
        raise RuntimeError("thresholds failed")

    monkeypatch.setattr(gold, "compute_score_thresholds", boom)
    small = _silver_lake(spark, tmp_path / "small", n_purchases=3)
    with pytest.raises(RuntimeError, match="thresholds failed"):
        P.gold_transform(spark, small)
    assert pinned_rdds(spark) - pinned == set()
