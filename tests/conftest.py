import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Cap the suite's JVM heap. Its live set is small, but under a 48g heap
# G1 keeps growing the heap instead of collecting: on a 15 GB, 4-vCPU VM
# the Spark JVM reached 15 GB RSS and was OOM-killed two thirds of the
# way through the suite. An explicit setting wins over the session's
# host-derived default.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from big_data_elt_pipeline_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    from big_data_elt_pipeline_spark.plans.compare import duckdb_connection

    return duckdb_connection(SF_SMOKE)


def _base_index(spark, name: str, path: str) -> dict:
    """Build the base index ``name`` at ``path`` over the sf0.001 corpus:
    ``ann_*`` IVF-PQ over the embeddings, ``text_*`` BM25 over the
    documents; ``full`` is the whole corpus, ``half`` the ids up to
    max // 2, ``half_appended`` that base plus an append of the rest,
    ``no_64_80`` every vector outside [64, 80). All with n_files=4."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators import ann_index as AIX
    from big_data_elt_pipeline_spark.operators import text_index as TIX

    kind, part = name.split("_", 1)
    key, table = ("vec_id", "embeddings") if kind == "ann" else ("doc_id", "documents")
    corpus = spark.read.parquet(f"{SF_SMOKE}/{table}.parquet").select(
        key, "embedding" if kind == "ann" else "text"
    )
    mid = corpus.agg(F.max(key)).first()[0] // 2
    rows = {
        "full": F.lit(True),
        "half": F.col(key) <= mid,
        "half_appended": F.col(key) <= mid,
        "no_64_80": ~((F.col(key) >= 64) & (F.col(key) < 80)),
    }[part]
    build, append = (
        (AIX.build_ivfpq_index, AIX.append_to_index)
        if kind == "ann"
        else (TIX.build_text_index, TIX.append_to_text_index)
    )
    meta = build(corpus.filter(rows), path, n_files=4)
    if part == "half_appended":
        append(corpus.filter(~rows), path, n_files=4)
    return meta


@pytest.fixture(scope="session")
def index_copy(spark, tmp_path_factory):
    """``index_copy(name, dest)`` puts a private copy of the base index
    ``name`` (see ``_base_index``) at ``dest`` and returns the metadata
    its build returned. Each base is built once per session: manifests
    hold commit-relative file paths, so a copied tree is a valid index
    with the same versions, and a test mutates only its own copy."""
    built: dict[str, tuple[str, dict]] = {}

    def copy(name: str, dest: str) -> dict:
        if name not in built:
            src = str(tmp_path_factory.mktemp(name) / "index")
            built[name] = (src, _base_index(spark, name, src))
        shutil.copytree(built[name][0], dest)
        return built[name][1]

    return copy
