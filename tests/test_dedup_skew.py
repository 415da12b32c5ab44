"""Skew-hardened survivor selection (r7 verdict #1): the groupBy
min-struct form must be BIT-IDENTICAL to the rejected rank-1 window form
— including on a corpus where ONE content hash repeats ~1e5x (web
boilerplate, the shape that serializes the window form into a single
task) — and invariant under input partitioning."""

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.operators import dedup as D


def _window_form(wins):
    """The REJECTED survivor-selection shape (pre-r8), kept here as the
    reference the shipped form is compared against: a rank-1 window
    partitioned by content hash. A window partition is sorted whole
    inside one task, so a boilerplate hash repeated millions of times
    serializes the corpus-sized shuffle into a single straggler."""
    worder = Window.partitionBy("h").orderBy("doc_id", "off")
    return (
        wins.withColumn("rn", F.row_number().over(worder))
        .filter(F.col("rn") > 1)
        .select("doc_id", "off")
    )


def _hot_docs(spark, n_docs=900, n_tokens=131):
    """Every doc = the same token repeated: every 16-token window in the
    corpus carries the SAME hash -> n_docs * (n_tokens - 15) occurrences
    of one hash (~1e5 at the defaults)."""
    text = " ".join(["tok"] * n_tokens)
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )


def _mixed_docs(spark):
    """Planted repeats at misaligned offsets plus unique filler."""
    rows = []
    shared = " ".join(f"s{i}" for i in range(40))
    for d in range(60):
        uniq = " ".join(f"u{d}_{i}" for i in range(d % 25))
        if d % 3 == 0:
            rows.append((d, f"{uniq} {shared}"))
        elif d % 3 == 1:
            rows.append((d, f"{shared} {uniq}"))
        else:
            rows.append((d, uniq))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _sorted(df):
    return (
        df.toPandas()
        .sort_values(["doc_id", "off"])
        .reset_index(drop=True)
    )


def test_agg_form_equals_window_form_hot_key(spark):
    wins = D.window_table(_hot_docs(spark), "doc_id", "text", 16, 1)
    agg = _sorted(D._non_survivor_windows(wins))
    win = _sorted(_window_form(wins))
    assert len(agg) == 900 * (131 - 15) - 1  # all but the one survivor
    pd.testing.assert_frame_equal(agg, win)


def test_agg_form_equals_window_form_mixed(spark):
    wins = D.window_table(_mixed_docs(spark), "doc_id", "text", 16, 1)
    agg = _sorted(D._non_survivor_windows(wins))
    win = _sorted(_window_form(wins))
    assert len(agg) > 0
    pd.testing.assert_frame_equal(agg, win)


def test_survivor_selection_partitioning_invariant(spark):
    wins = D.window_table(_mixed_docs(spark), "doc_id", "text", 16, 1)
    a = _sorted(D._non_survivor_windows(wins.repartition(7)))
    b = _sorted(D._non_survivor_windows(wins.repartition(3, "doc_id")))
    pd.testing.assert_frame_equal(a, b)


def test_block_dedup_hot_key_audit(spark):
    # 400 docs x 50 identical 32-token blocks = 20k occurrences of one
    # md5; survivor = min (doc_id, block_idx) -> doc 0 keeps exactly its
    # first block, every other block/doc is a repeat
    docs = _hot_docs(spark, n_docs=400, n_tokens=32 * 50)
    out = D.block_dedup(docs).toPandas().sort_values("doc_id")
    assert (out["n_blocks"] == 50).all()
    assert out.iloc[0]["kept_blocks"] == 1
    assert (out.iloc[1:]["kept_blocks"] == 0).all()


def test_block_dedup_zero_kept_docs_present(spark):
    # a doc whose EVERY block repeats elsewhere must still appear with
    # kept_blocks = 0 (the left join + coalesce path)
    rows = [
        (1, " ".join(f"a{i}" for i in range(64))),
        (2, " ".join(f"a{i}" for i in range(64))),  # full duplicate of 1
        (3, " ".join(f"b{i}" for i in range(32))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        D.block_dedup(docs)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[1, "kept_blocks"] == 2
    assert out.loc[2, "kept_blocks"] == 0
    assert out.loc[3, "kept_blocks"] == 1
