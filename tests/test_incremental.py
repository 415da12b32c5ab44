"""Incremental gold refresh == full batch recompute, bit for bit."""

from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.functions.core import money_sum
from big_data_elt_pipeline_spark.sources import tpch
from big_data_elt_pipeline_spark.streaming.incremental import incremental_ca_monthly
from tests.conftest import SF_SMOKE


def test_incremental_matches_batch(spark, tmp_path):
    achats = tpch.achats_df(spark, SF_SMOKE)
    tmp = str(tmp_path)
    incr = incremental_ca_monthly(
        spark, achats, f"{tmp}/src", f"{tmp}/state", chunks=3
    ).toPandas()
    batch = (
        achats.groupBy(F.date_format("date_achat", "yyyy-MM").alias("mois"))
        .agg(money_sum("montant", "ca"), F.count(F.lit(1)).alias("n"))
        .orderBy("mois")
        .toPandas()
    )
    assert len(incr) == len(batch)
    m = batch.merge(incr, on="mois", suffixes=("_b", "_i"))
    assert (m.ca_b.values == m.ca_i.values).all()  # bit-identical
    assert (m.n_b == m.n_i).all()


def test_incremental_ran_multiple_batches(spark, tmp_path):
    """The staging really produced multiple micro-batches (not one big
    fold) — otherwise the merge path is untested."""
    import pathlib

    achats = tpch.achats_df(spark, SF_SMOKE)
    tmp = str(tmp_path)
    incremental_ca_monthly(spark, achats, f"{tmp}/src", f"{tmp}/state", chunks=4)
    chunks = list(pathlib.Path(f"{tmp}/src/data").glob("__chunk=*"))
    assert len(chunks) == 4
