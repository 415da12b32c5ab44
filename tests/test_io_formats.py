"""Source/sink format coverage: ORC and JSON round-trips, lakehouse stubs."""

import pytest
from pyspark.sql import types as T

from big_data_elt_pipeline_spark import io as eio
from big_data_elt_pipeline_spark.sources import tpch
from tests.conftest import SF_SMOKE


def test_orc_roundtrip(spark, tmp_path):
    clients = tpch.clients_df(spark, SF_SMOKE)
    tmp = str(tmp_path)
    eio.write_orc(clients, f"{tmp}/clients")
    back = eio.read_orc(spark, f"{tmp}/clients")
    assert back.count() == clients.count()
    assert back.schema == clients.schema


def test_json_roundtrip_with_schema(spark, tmp_path):
    clients = tpch.clients_df(spark, SF_SMOKE).select("id_client", "nom", "pays")
    tmp = str(tmp_path)
    clients.write.mode("overwrite").json(f"{tmp}/clients")
    schema = T.StructType(
        [
            T.StructField("id_client", T.LongType()),
            T.StructField("nom", T.StringType()),
            T.StructField("pays", T.StringType()),
        ]
    )
    back = eio.read_json(spark, f"{tmp}/clients", schema)
    assert back.count() == clients.count()
    assert back.schema == schema


def test_lakehouse_stub_raises_helpfully(spark):
    with pytest.raises(NotImplementedError, match="connector jars"):
        eio.read_lakehouse(spark, "delta", "/tmp/nowhere")
    with pytest.raises(ValueError, match="unknown lakehouse format"):
        eio.read_lakehouse(spark, "csvx", "/tmp/nowhere")
