"""Silver cleaning rules on dirty reference-shaped fixtures (FIXTURES.md).

Exercises every rule the TPC-H corpus (clean by construction) cannot:
coerce-to-null drops, date bounds, email predicate, amount bounds,
deterministic dedup, orphan semi-join purge, one-pass quality counters.
"""

import datetime as dt

import pytest

from big_data_elt_pipeline_spark.operators import silver
from big_data_elt_pipeline_spark.schemas import ACHATS_RAW, CLIENTS_RAW

MAXD = dt.date(2025, 1, 1)


@pytest.fixture(scope="module")
def dirty_clients(spark):
    rows = [
        ("1", "  Alice  ", " ALICE@EX.COM ", "2020-05-01", " france"),
        ("2", "Bob", "bob-at-nowhere", "2021-01-01", "spain"),      # bad email
        ("3", "Carol", "c@ex.com", "not-a-date", "Italy"),          # bad date
        ("4", "Dan", "d@ex.com", "1999-12-31", "Italy"),            # < 2000
        ("5", "Eve", "e@ex.com", "2030-01-01", "Italy"),            # future
        ("junk", "Frank", "f@ex.com", "2020-01-01", "Italy"),       # bad id
        (None, "Gil", "g@ex.com", "2020-01-01", "Italy"),           # null id
        ("8", "Hugo", "h@ex.com", "2020-01-01", "germany"),
        ("8", "Hugo2", "h2@ex.com", "2020-02-01", "germany"),       # dup id
    ]
    return spark.createDataFrame(rows, CLIENTS_RAW)


@pytest.fixture(scope="module")
def dirty_achats(spark):
    rows = [
        ("10", "1", "2024-03-01 10:00:00", "50.0", " blender "),
        ("11", "1", "2024-03-02 10:00:00", "-5.0", "Oven"),         # <= 0
        ("12", "1", "2024-03-03 10:00:00", "20000", "Oven"),        # > 10000
        ("13", "8", "bad-ts", "10.0", "Oven"),                      # bad date
        ("14", "999", "2024-03-04 10:00:00", "10.0", "Oven"),       # orphan
        ("junk", "1", "2024-03-05 10:00:00", "10.0", "Oven"),       # bad id
        ("16", "1", "2024-03-06 10:00:00", "10.0", None),           # null produit
        ("17", "8", "2024-03-07 10:00:00", "30.0", "Tv"),
        ("17", "8", "2024-03-08 10:00:00", "40.0", "Tv"),           # dup keep-last
    ]
    return spark.createDataFrame(rows, ACHATS_RAW)


def test_clean_clients_rules(spark, dirty_clients):
    out = silver.clean_clients(dirty_clients, max_date=MAXD).toPandas()
    assert sorted(out.id_client) == [1, 8]
    alice = out[out.id_client == 1].iloc[0]
    assert alice.nom == "Alice"                      # trimmed
    assert alice.email == "alice@ex.com"             # trim+lower
    assert alice.pays == "France"                    # trim+initcap
    assert str(alice.date_inscription) == "2020-05-01"


def test_clean_clients_dedup_deterministic(spark, dirty_clients):
    # keep-first = ascending payload tie-break: Hugo < Hugo2
    out = silver.clean_clients(dirty_clients, max_date=MAXD).toPandas()
    assert out[out.id_client == 8].iloc[0].nom == "Hugo"


def test_clean_achats_rules(spark, dirty_clients, dirty_achats):
    clients = silver.clean_clients(dirty_clients, max_date=MAXD)
    out = silver.clean_achats(
        dirty_achats, valid_clients=clients, max_date=MAXD
    ).toPandas()
    assert sorted(out.id_achat) == [10, 17]
    assert out[out.id_achat == 10].iloc[0].produit == "Blender"  # trim+initcap
    # dup id_achat keeps the "last" (max payload): montant 40.0
    assert out[out.id_achat == 17].iloc[0].montant == 40.0


def test_clean_achats_no_orphans(spark, dirty_clients, dirty_achats):
    clients = silver.clean_clients(dirty_clients, max_date=MAXD)
    out = silver.clean_achats(dirty_achats, valid_clients=clients, max_date=MAXD)
    client_ids = {r.id_client for r in clients.select("id_client").collect()}
    assert {r.id_client for r in out.select("id_client").collect()} <= client_ids


def test_quality_audit_one_pass(spark, dirty_achats):
    row = silver.quality_audit(dirty_achats, kind="achats").first()
    assert row.initial_rows == 9
    assert row.dropped_bad_id == 1
    assert row.dropped_bad_date == 1
    assert row.dropped_bad_amount == 2
    assert row.dropped_bad_product == 1


def test_quality_audit_uses_the_run_amount_bound(spark, dirty_achats):
    """The audit flags amounts against the bound the clean applies: with
    ``max_amount=1e9`` the 20,000 purchase is kept, so only the
    non-positive amount counts as dropped."""
    row = silver.quality_audit(dirty_achats, kind="achats", max_amount=1e9).first()
    assert row.dropped_bad_amount == 1
    kept = silver.clean_achats(dirty_achats, max_date=MAXD, max_amount=1e9)
    assert kept.filter("montant > 10000").count() == 1


def test_require_columns_raises(spark, dirty_achats):
    from big_data_elt_pipeline_spark.schemas import require_columns

    with pytest.raises(ValueError, match="missing required columns"):
        require_columns(dirty_achats.drop("montant"), ["montant"], "achats")


def test_unpinned_max_date_matches_data_max_bound(spark, dirty_clients, dirty_achats):
    """An unpinned ``max_date`` applies no upper bound, which keeps exactly
    the rows a bound one day past the data max keeps: that bound is the
    max of the very expressions the cleans filter on. No wall clock is
    involved, and the future-dated (2030) client survives."""
    from pyspark.sql import functions as F

    def data_max(raw, col):
        return raw.select(F.max(F.try_to_timestamp(col).try_cast("date"))).first()[0]

    hi = max(data_max(dirty_clients, "date_inscription"),
             data_max(dirty_achats, "date_achat")) + dt.timedelta(days=1)
    assert hi == dt.date(2030, 1, 2)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    clients = silver.clean_clients(dirty_clients)
    assert rows(clients) == rows(silver.clean_clients(dirty_clients, max_date=hi))
    assert clients.filter("id_client = 5").count() == 1
    achats = silver.clean_achats(dirty_achats, valid_clients=clients)
    pinned = silver.clean_achats(
        dirty_achats, valid_clients=silver.clean_clients(dirty_clients, max_date=hi),
        max_date=hi,
    )
    assert rows(achats) == rows(pinned)
    assert len(rows(achats)) == 2  # ids 10 and 17, as under the 2025 bound


def test_pipeline_default_bound_deterministic(spark, dirty_clients, dirty_achats, tmp_path):
    """Two medallion runs on the same input (max_date unset) are bit-equal:
    an unpinned run applies no upper bound, and no bound reads the wall
    clock."""
    from big_data_elt_pipeline_spark import pipeline as P

    src = str(tmp_path / "src")
    dirty_clients.write.option("header", True).csv(f"{src}/clients.csv")
    dirty_achats.write.option("header", True).csv(f"{src}/achats.csv")
    outs = []
    for run in range(2):
        lake = str(tmp_path / f"lake{run}")
        P.run_medallion(spark, src, lake, count_rows=False)
        outs.append(
            sorted(map(tuple, spark.read.parquet(f"{lake}/silver/achats").collect()))
        )
    assert outs[0] == outs[1]
    # the future-dated client (2030) survives: no upper bound when unpinned
    clients0 = spark.read.parquet(str(tmp_path / "lake0") + "/silver/clients")
    assert clients0.filter("id_client = 5").count() == 1
