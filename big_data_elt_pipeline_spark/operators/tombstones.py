"""Generation-scoped tombstones: the one delete protocol shared by the
persisted indexes (``ann_index`` keyed on ``vec_id``, ``text_index``
keyed on ``doc_id``).

Every index row carries ``gen``, the write generation of its batch
(deterministic under the single-writer contract). ``{path}/tombstones``
holds ``(<key>, upto_gen)`` rows; a tombstone kills rows of that key
with ``gen <= upto_gen`` ONLY (Lucene's segment-scoped deletes), so
re-appending an updated row coexists with its own tombstone — the
delete+append update shape works WITHOUT an intervening compaction, and
compaction folds exactly the dead generations.

Readers never take the latest tombstones: the index's publish row
(``state`` / ``stats``) records the version of every table it
references, the tombstones included, so a delete becomes visible
atomically at that publish. ``read_live`` is the one reader of that
snapshot; the publish row is the only version a reader can name. -1
means no unfolded delete; a rebuild truncates the table and publishes
-1, so tombstones of a previous index generation can never hide new
rows.
The anti-join is broadcast: tombstones accumulated between compactions
must stay dimension-sized (the Delta deletion-vector assumption).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark import lakehouse as LH


def next_gen(table: str) -> int:
    """Generation for a rebuild of ``table``: one past its latest commit,
    so rebuilt rows outrank every tombstone a previous index generation
    could have pinned (the rebuild also truncates them; the stamp keeps
    generations monotone across it)."""
    prior = LH.table_versions(table)
    return (prior[-1] + 1) if prior else 0


def pinned(
    spark: SparkSession, path: str, version: int | None
) -> DataFrame | None:
    """The tombstone relation at the publish-row-recorded ``version``, or
    None when it records -1 (no unfolded delete) or the table is absent."""
    if version is None or version < 0:
        return None
    if not LH.table_versions(f"{path}/tombstones"):
        return None
    return LH.read_table(spark, f"{path}/tombstones", version)


def latest(spark: SparkSession, path: str) -> int:
    """Version of the LATEST tombstone snapshot — what a replay repair
    re-publishes. A truncated (empty) snapshot is -1: every fold is
    complete."""
    tv = LH.table_versions(f"{path}/tombstones")
    tomb = pinned(spark, path, tv[-1] if tv else -1)
    if tomb is None or tomb.limit(1).count() == 0:
        return -1
    return tv[-1]


def read_live(
    spark: SparkSession,
    path: str,
    table: str,
    p: dict,
    key: str,
    keep_in: tuple[str, list] | None = None,
) -> DataFrame:
    """``{path}/{table}`` as the publish row ``p`` names it: read at
    ``p[f"{table}_version"]`` with dead generations dropped by the
    tombstones at ``p["tombstones_version"]`` — the one snapshot a reader
    of a persisted index can see. ``keep_in=(column, values)`` opens
    only the files whose recorded range holds a value
    (``lakehouse.read_table_pruned_in``)."""
    table_path, version = f"{path}/{table}", p[f"{table}_version"]
    if keep_in is None:
        rel = LH.read_table(spark, table_path, version)
    else:
        rel = LH.read_table_pruned_in(spark, table_path, *keep_in, version=version)
    return anti(rel, pinned(spark, path, p["tombstones_version"]), key)


def anti(rel: DataFrame, tomb: DataFrame | None, key: str) -> DataFrame:
    """Drop ``rel`` rows (carrying ``key`` + ``gen``) whose key is
    tombstoned AT OR BELOW the row's generation; rows a later
    append/update re-added survive."""
    if tomb is None:
        return rel
    t = F.broadcast(
        tomb.select(
            F.col(key).alias("__t_key"), F.col("upto_gen").alias("__t_upto")
        )
    )
    return rel.join(
        t,
        (F.col(key) == F.col("__t_key")) & (F.col("gen") <= F.col("__t_upto")),
        "left_anti",
    )


def n_ids(tomb: DataFrame | None, key: str) -> int:
    """Distinct tombstoned keys (the audits' pending physical fold)."""
    return 0 if tomb is None else tomb.select(key).distinct().count()


def truncate(spark: SparkSession, path: str) -> None:
    """Overwrite the tombstones to empty (physical fold complete or full
    rebuild). Pinned readers keep resolving their recorded version; only
    the latest snapshot empties."""
    if LH.table_versions(f"{path}/tombstones"):
        empty = LH.read_table(spark, f"{path}/tombstones").limit(0)
        LH.write_table(empty, f"{path}/tombstones", mode="overwrite")


def split(
    batch: DataFrame, id_col: str, live: DataFrame, key: str
) -> tuple[DataFrame, int, int]:
    """Split a mutation batch against the ``live`` relation:
    ``(victims, n_live, n_new)`` — the batch's distinct keys that are
    already live, their count, and the count of the rest. The key set
    and the victims are checkpointed (the victims feed the writes that
    follow)."""
    batch_ids = batch.select(
        F.col(id_col).cast("long").alias(key)
    ).distinct().localCheckpoint(eager=True)
    victims = batch_ids.join(
        live.select(key), key, "left_semi"
    ).localCheckpoint(eager=True)
    n_live = victims.count()
    return victims, n_live, batch_ids.count() - n_live


def append(
    victims: DataFrame,
    path: str,
    key: str,
    upto: int,
    txn: tuple[str, int] | None = None,
) -> tuple[int, bool]:
    """Tombstone ``victims`` up to generation ``upto`` (the current data
    generation — every live row's gen is at or below it). Returns
    ``(version, fresh)``: a txn-replayed commit resolves to the latest
    version with ``fresh`` False."""
    rows = victims.select(key, F.lit(upto).cast("long").alias("upto_gen"))
    v = LH.write_table(rows, f"{path}/tombstones", mode="append", txn=txn)
    if v == -1:
        return LH.table_versions(f"{path}/tombstones")[-1], False
    return v, True


def append_upsert(
    victims: DataFrame,
    path: str,
    key: str,
    upto: int,
    n_victims: int,
    prior: int,
    txn: tuple[str, int] | None = None,
) -> tuple[int, bool]:
    """The tombstone step of an upsert: ``(version the publish row
    records, fresh)``. Under a txn the commit is UNCONDITIONAL (an empty
    victims frame for a pure-insert batch): the replay of a completed
    epoch — whose keys are live by then — must txn-skip here, not commit
    a fresh tombstone batch that kills them. A pure-insert batch still
    publishes the ``prior`` version (the empty commit exists only for
    the txn log)."""
    if n_victims == 0 and txn is None:
        return prior, False
    v, fresh = append(victims, path, key, upto, txn)
    return (v if n_victims > 0 else prior), fresh
