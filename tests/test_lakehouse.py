"""Manifest-snapshot lakehouse emulation: commit log, time travel,
snapshot isolation (immutable files + explicit-file-list reads)."""

import pytest
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark import io as eio
from big_data_elt_pipeline_spark import lakehouse as lh


@pytest.fixture(autouse=True)
def _exact_range_boundaries(spark):
    """Pin clustered-write layout determinism for these tests:
    ``repartitionByRange`` draws its range boundaries from a reservoir
    sample seeded by the underlying RDD id, so the file layout of a
    clustered write depends on how many RDDs the shared session created
    BEFORE the test — the z-order pruning assertions flaked once per
    ~full-suite run on boundary wobble. A sample size >= the rows per
    input partition keeps every row, making boundaries exact population
    quantiles (deterministic) regardless of session history. Test-only:
    engine defaults stay untouched — at 100 TB sampled boundaries are the
    correct (and only affordable) behavior, and the operator contract
    nowhere promises a byte-stable layout."""
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "8192")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    )


def test_append_overwrite_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    assert lh.write_table(_df(spark, 0, 5), path, "append") == 0
    assert lh.write_table(_df(spark, 5, 8), path, "append") == 1
    assert lh.write_table(_df(spark, 100, 102), path, "overwrite") == 2

    assert sorted(r.id for r in lh.read_table(spark, path, 0).collect()) == list(range(5))
    assert sorted(r.id for r in lh.read_table(spark, path, 1).collect()) == list(range(8))
    assert sorted(r.id for r in lh.read_table(spark, path, 2).collect()) == [100, 101]
    # default = latest
    assert sorted(r.id for r in lh.read_table(spark, path).collect()) == [100, 101]
    assert lh.table_versions(path) == [0, 1, 2]


def test_snapshot_isolation_across_concurrent_commits(spark, tmp_path):
    """A snapshot DataFrame resolved at version N returns the same rows
    even after later appends AND a later overwrite — the files it pinned
    are never mutated or deleted."""
    path = str(tmp_path / "t")
    lh.write_table(_df(spark, 0, 5), path, "append")
    snap = lh.read_table(spark, path, 0)
    before = sorted(r.id for r in snap.collect())

    lh.write_table(_df(spark, 5, 50), path, "append")
    lh.write_table(_df(spark, 900, 903), path, "overwrite")

    # the old snapshot is stable; a fresh read sees the overwrite
    assert sorted(r.id for r in snap.collect()) == before == list(range(5))
    assert sorted(r.id for r in lh.read_table(spark, path).collect()) == [900, 901, 902]
    # and the pre-overwrite history is still reachable by version
    assert sorted(r.id for r in lh.read_table(spark, path, 1).collect()) == list(range(50))


def test_read_lakehouse_serves_manifest_tables(spark, tmp_path):
    path = str(tmp_path / "t")
    lh.write_table(_df(spark, 0, 3), path, "append")
    lh.write_table(_df(spark, 3, 6), path, "append")
    # first-class manifest format
    assert eio.read_lakehouse(spark, "manifest", path, version=0).count() == 3
    # delta jars are absent on this image — the manifest log at the same
    # path still serves the table (and its history)
    assert eio.read_lakehouse(spark, "delta", path).count() == 6
    assert eio.read_lakehouse(spark, "delta", path, version=0).count() == 3


def test_read_lakehouse_still_raises_without_a_log(spark, tmp_path):
    with pytest.raises(NotImplementedError, match="connector jars"):
        eio.read_lakehouse(spark, "delta", str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="unknown lakehouse format"):
        eio.read_lakehouse(spark, "parquetish", str(tmp_path))


def test_overwrite_with_empty_frame_keeps_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    lh.write_table(_df(spark, 0, 3), path, "append")
    lh.write_table(_df(spark, 0, 0), path, "overwrite")
    out = lh.read_table(spark, path)
    assert out.count() == 0
    assert out.columns == ["id", "val"]
    assert lh.read_table(spark, path, 0).count() == 3


def test_schema_evolution_additive_append(spark, tmp_path):
    """Additive evolution: an append may introduce a column (older files
    read it as NULL via the merged-schema scan); a pre-evolution snapshot
    keeps the old schema; changing an existing column's type is rejected
    (Delta-style enforcement) unless the table is overwritten."""
    path = str(tmp_path / "t")
    lh.write_table(_df(spark, 0, 3), path, "append")
    widened = _df(spark, 3, 6).withColumn("src", F.lit("batch2"))
    lh.write_table(widened, path, "append")

    out = lh.read_table(spark, path)
    assert set(out.columns) == {"id", "val", "src"}
    rows = {r.id: r.src for r in out.collect()}
    assert rows[0] is None and rows[3] == "batch2"
    # time travel before the evolution: old schema, no phantom column
    assert set(lh.read_table(spark, path, 0).columns) == {"id", "val"}

    # type change rejected on append...
    retyped = _df(spark, 6, 7).withColumn("val", F.col("val").cast("string"))
    with pytest.raises(ValueError, match="additive-only"):
        lh.write_table(retyped, path, "append")
    # ...but an explicit overwrite replaces the schema
    v = lh.write_table(retyped, path, "overwrite")
    assert lh.read_table(spark, path).schema["val"].dataType.typeName() == "string"
    # and the pre-overwrite merged snapshot is still reachable
    assert lh.read_table(spark, path, v - 1).count() == 6


def test_compact_preserves_history_and_tightens_layout(spark, tmp_path):
    """OPTIMIZE: many small append commits -> one clustered overwrite.
    Rows identical, pre-compaction snapshots still readable, and the new
    layout actually skips files for a narrow predicate."""
    path = str(tmp_path / "t")
    for lo in range(0, 100, 10):  # 10 tiny interleaved appends
        lh.write_table(_df(spark, lo, lo + 10), path, "append")
    before = sorted(r.id for r in lh.read_table(spark, path).collect())
    v = lh.compact_table(spark, path, cluster_by=["id"], n_files=4)
    assert v == 10
    after = sorted(r.id for r in lh.read_table(spark, path).collect())
    assert after == before == list(range(100))
    assert len(lh.live_files(path)) == 4
    # old snapshot still resolves (its files were not touched)
    assert lh.read_table(spark, path, 0).count() == 10
    # compacted layout prunes
    kept, skipped = lh.prune_files(path, "id", lo=5, hi=7)
    assert len(kept) == 1 and len(skipped) == 3


def test_vacuum_checkpoints_log_and_reclaims_files(spark, tmp_path):
    """Vacuum keeps the last N versions time-travelable via a consolidated
    checkpoint manifest, deletes older manifests and their exclusive data
    files, and never touches files the retained versions still need."""
    path = str(tmp_path / "t")
    lh.write_table(_df(spark, 0, 10), path, "append")          # v0
    lh.write_table(_df(spark, 10, 20), path, "append")         # v1
    lh.write_table(_df(spark, 100, 110), path, "overwrite")    # v2 (orphans v0/v1 files)
    lh.write_table(_df(spark, 110, 120), path, "append")       # v3

    out = lh.vacuum(path, retain_versions=2)
    assert out["deleted_manifests"] == 2  # v0, v1 dropped
    assert out["deleted_files"] > 0       # their data reclaimed
    assert lh.table_versions(path) == [2, 3]
    # retained versions read exactly as before (v2 is now a checkpoint)
    assert sorted(r.id for r in lh.read_table(spark, path, 2).collect()) == list(range(100, 110))
    assert sorted(r.id for r in lh.read_table(spark, path).collect()) == list(range(100, 120))
    # stats survived the checkpoint consolidation -> pruning still works
    kept, _ = lh.prune_files(path, "id", lo=100, hi=101)
    assert kept
    # dropped history is gone
    import pytest as _pytest
    with _pytest.raises(ValueError):
        lh.read_table(spark, path, 0)


def test_vacuum_noop_within_retention(spark, tmp_path):
    path = str(tmp_path / "t")
    lh.write_table(_df(spark, 0, 5), path, "append")
    assert lh.vacuum(path, retain_versions=3) == {
        "deleted_files": 0, "deleted_manifests": 0,
    }
    assert lh.read_table(spark, path).count() == 5


def test_stream_ingest_commits_per_batch(spark, tmp_path):
    """Streaming → manifest table: one atomic commit per micro-batch;
    version history replays the stream prefix-by-prefix and the final
    table equals the batch union."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    path = str(tmp_path / "t")
    _df(spark, 0, 4).coalesce(1).write.mode("append").parquet(src)
    _df(spark, 4, 9).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("id long, val long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = lh.stream_ingest(stream, path, checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    versions = lh.table_versions(path)
    assert len(versions) == 2  # one commit per micro-batch
    assert lh.read_table(spark, path).count() == 9
    v0 = lh.read_table(spark, path, versions[0]).count()
    assert v0 in (4, 5)  # one whole file, whichever arrived first
    # replaying history: each version adds exactly one batch
    assert lh.read_table(spark, path, versions[1]).count() == 9


def test_cluster_by_write_enables_file_skipping(spark, tmp_path):
    """Delta-style data skipping: a range-clustered write gives each file
    a tight min/max range recorded in the manifest, and a narrow
    predicate read opens only the overlapping files — never the rest."""
    path = str(tmp_path / "t")
    lh.write_table(_df(spark, 0, 1000), path, "append", cluster_by=["id"], n_files=4)
    kept, skipped = lh.prune_files(path, "id", lo=10, hi=20)
    assert len(kept) + len(skipped) == 4
    assert len(kept) == 1 and len(skipped) == 3, (kept, skipped)

    out = lh.read_table_pruned(spark, path, "id", lo=10, hi=20)
    rows = sorted(r.id for r in out.collect())
    assert rows == list(range(10, 21))
    # pruned read == full-scan filter (skipping loses nothing)
    full = sorted(
        r.id for r in lh.read_table(spark, path).filter("id between 10 and 20").collect()
    )
    assert rows == full


def test_file_skipping_respects_snapshots_and_unclustered_commits(spark, tmp_path):
    """Stats fold per-version like the file list itself; appends without
    clustering still record footer stats; files lacking stats for the
    probed column are always kept (absence never loses rows). Checked
    for both predicate forms: the range and the value set."""
    path = str(tmp_path / "t")
    lh.write_table(_df(spark, 0, 100), path, "append", cluster_by=["id"], n_files=2)
    lh.write_table(_df(spark, 100, 200), path, "append", cluster_by=["id"], n_files=2)

    # version 0 snapshot: only the first commit's files are candidates
    kept_v0, skip_v0 = lh.prune_files(path, "id", lo=150, hi=160, version=0)
    assert kept_v0 == [] and len(skip_v0) == 2
    assert lh.read_table_pruned(spark, path, "id", 150, 160, version=0).count() == 0
    # latest: exactly one of the four files overlaps [150, 160]
    kept, skipped = lh.prune_files(path, "id", lo=150, hi=160)
    assert len(kept) == 1 and len(skipped) == 3
    assert lh.read_table_pruned(spark, path, "id", 150, 160).count() == 11

    # a column with no recorded stats prunes nothing
    kept_all, skipped_none = lh.prune_files(path, "nope", lo=0, hi=1)
    assert len(kept_all) == 4 and skipped_none == []

    # value-set form: a file is kept exactly when its range holds a value
    stats = lh.live_file_stats(path)
    vals = [5, 150, 151]
    kept_in, skipped_in = lh.prune_files_in(path, "id", vals)
    assert sorted(kept_in) == sorted(
        f for f, s in stats.items()
        if any(s["id"][0] <= v <= s["id"][1] for v in vals)
    )
    assert len(kept_in) == 2 and len(skipped_in) == 2
    # it skips files only: every row of the kept files comes back
    got = lh.read_table_pruned_in(spark, path, "id", vals)
    assert got.count() == spark.read.parquet(*kept_in).count() > len(vals)
    # nothing kept: an empty frame with the table schema
    empty = lh.read_table_pruned_in(spark, path, "id", [150], version=0)
    assert empty.count() == 0
    assert empty.schema == lh.read_table(spark, path, 0).schema
    # files without stats for the column are kept; the one with stats
    # that holds no value is skipped
    extra = _df(spark, 500, 510).withColumn("extra", F.col("id")).coalesce(1)
    lh.write_table(extra, path, "append")
    kept_x, skipped_x = lh.prune_files_in(path, "extra", [0])
    assert len(kept_x) == 4 and len(skipped_x) == 1


def test_string_and_date_stats_prune(spark, tmp_path):
    """ISO-formatted date stats and plain string stats both carry a total
    order through the JSON manifest, so lexicographic pruning is valid."""
    path = str(tmp_path / "t")
    df = spark.range(0, 300).selectExpr(
        "id", "date_add(date '2024-01-01', cast(id as int)) as d",
        "format_string('k%04d', cast(id as int)) as s",
    )
    lh.write_table(df, path, "append", cluster_by=["d"], n_files=3)
    kept, skipped = lh.prune_files(path, "d", lo="2024-01-05", hi="2024-01-10")
    assert len(kept) == 1 and len(skipped) == 2
    out = lh.read_table_pruned(spark, path, "d", "2024-01-05", "2024-01-10")
    assert out.count() == 6
    kept_s, skipped_s = lh.prune_files(path, "s", lo="k0000", hi="k0010")
    assert len(kept_s) == 1 and len(skipped_s) == 2


def test_timestamp_stats_prune_and_boundary_equality(spark, tmp_path):
    """Timestamp columns carry stats (the write pins TIMESTAMP_MICROS —
    Spark's INT96 default has none) stored as NAIVE ISO strings, so a
    bound exactly equal to a file's min/max keeps the file: pruning at the
    edge must never lose the boundary rows."""
    path = str(tmp_path / "t")
    df = spark.range(0, 96).selectExpr(
        "id", "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,cast(id as int)) as ts"
    )
    lh.write_table(df, path, "append", cluster_by=["ts"], n_files=4)
    stats = sorted(lh.live_file_stats(path).values(), key=lambda s: s["ts"][0])
    assert all("+" not in s["ts"][0] for s in stats), stats  # naive ISO
    # probe exactly [file1.max, file2.min]: both edge files must be kept
    lo, hi = stats[1]["ts"][1], stats[2]["ts"][0]
    kept, skipped = lh.prune_files(path, "ts", lo=lo, hi=hi)
    assert len(kept) == 2 and len(skipped) == 2, (stats, kept, skipped)
    out = lh.read_table_pruned(spark, path, "ts", lo, hi)
    full = lh.read_table(spark, path).filter(
        (F.col("ts") >= lo) & (F.col("ts") <= hi)
    )
    assert sorted(r.id for r in out.collect()) == sorted(r.id for r in full.collect())
    assert out.count() == 2  # the two boundary rows exactly


def test_txn_commit_is_idempotent(spark, tmp_path):
    """Delta-style txn tags: re-delivering the same (app_id, epoch) — the
    crash-between-commit-and-checkpoint scenario — is a no-op; a different
    epoch or a different app commits normally."""
    path = str(tmp_path / "t")
    assert lh.write_table(_df(spark, 0, 4), path, "append", txn=("app", 0)) == 0
    # replay of epoch 0: skipped, no new version, no duplicate rows
    assert lh.write_table(_df(spark, 0, 4), path, "append", txn=("app", 0)) == -1
    assert lh.table_versions(path) == [0]
    assert lh.read_table(spark, path).count() == 4
    # next epoch and a different app both land
    assert lh.write_table(_df(spark, 4, 6), path, "append", txn=("app", 1)) == 1
    assert lh.write_table(_df(spark, 6, 7), path, "append", txn=("other", 0)) == 2
    assert lh.read_table(spark, path).count() == 7


def test_txn_epoch_replayed_after_vacuum_is_skipped(spark, tmp_path):
    """Vacuum drops the manifests that carry the txn tags, so its
    checkpoint keeps the highest epoch per app id (Delta's txnVersion):
    a re-delivered epoch at or below it is skipped, across two vacuums,
    while a new epoch and another app's epoch 0 still land."""
    path = str(tmp_path / "t")
    for epoch in range(3):
        lh.write_table(_df(spark, epoch, epoch + 1), path, "append", txn=("app", epoch))
    lh.write_table(_df(spark, 3, 4), path, "append", txn=("other", 5))
    lh.vacuum(path, retain_versions=1)
    assert lh.table_versions(path) == [3]
    assert lh.write_table(_df(spark, 0, 1), path, "append", txn=("app", 0)) == -1
    assert lh.write_table(_df(spark, 9, 10), path, "append", txn=("app", 3)) == 4
    # the second vacuum folds the first checkpoint's epochs forward
    lh.vacuum(path, retain_versions=1)
    assert lh.table_versions(path) == [4]
    for txn in [("app", 1), ("app", 3), ("other", 5)]:
        assert lh.write_table(_df(spark, 0, 1), path, "append", txn=txn) == -1, txn
    assert lh.write_table(_df(spark, 7, 8), path, "append", txn=("new", 0)) == 5
    assert sorted(r.id for r in lh.read_table(spark, path).collect()) == [0, 1, 2, 3, 7, 9]


def test_stream_ingest_replayed_epoch_not_duplicated(spark, tmp_path):
    """Simulated crash-replay: after stream_ingest finishes, committing the
    first epoch's batch again under the stream's txn app id (exactly what a
    restarted query would do before its checkpoint advanced) leaves the
    table unchanged."""
    src = str(tmp_path / "src")
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    _df(spark, 0, 4).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("id long, val long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = lh.stream_ingest(stream, path, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert lh.read_table(spark, path).count() == 4

    # the replayed foreachBatch call: same app id (derived from ckpt), epoch 0
    replay = lh.write_table(
        _df(spark, 0, 4), path, "append", txn=(f"stream_ingest:{ckpt}", 0)
    )
    assert replay == -1
    assert lh.read_table(spark, path).count() == 4
    assert lh.table_versions(path) == [0]


def test_zorder_layout_prunes_on_every_clustered_column(spark, tmp_path):
    """Z-order vs linear clustering on two independent uniform columns:
    lexicographic layout gives tight file ranges only for the LEADING
    column (a predicate on y alone prunes ~nothing), while the Morton
    layout must prune well on BOTH axes — and pruned reads stay
    row-identical to a full-scan filter."""
    df = (
        spark.range(0, 20000)
        .select(
            F.col("id"),
            ((F.col("id") * 2654435761) % 20000).cast("double").alias("x"),
            ((F.col("id") * 40503) % 20000).cast("double").alias("y"),
        )
    )
    lin, zor = str(tmp_path / "lin"), str(tmp_path / "zor")
    lh.write_table(df, lin, cluster_by=["x", "y"], n_files=16)
    lh.write_table(df, zor, cluster_by=["x", "y"], n_files=16, zorder=True)
    assert len(lh.live_files(zor)) >= 8

    lo, hi = 4000.0, 5000.0  # 5% slice on the NON-leading column
    _, lin_skip_y = lh.prune_files(lin, "y", lo, hi)
    _, zor_skip_y = lh.prune_files(zor, "y", lo, hi)
    assert len(zor_skip_y) > len(lin_skip_y), (len(zor_skip_y), len(lin_skip_y))
    assert len(zor_skip_y) >= len(lh.live_files(zor)) // 2  # skips most files

    _, zor_skip_x = lh.prune_files(zor, "x", lo, hi)  # leading axis prunes too
    assert len(zor_skip_x) >= len(lh.live_files(zor)) // 2

    for col in ("x", "y"):
        pruned = lh.read_table_pruned(spark, zor, col, lo, hi)
        full = lh.read_table(spark, zor).filter(F.col(col).between(lo, hi))
        assert pruned.count() == full.count() > 0


def test_zorder_key_degenerate_and_null_columns(spark):
    """Constant and NULL columns collapse to cell 0 instead of dividing by
    zero; the key stays a non-null long for every row."""
    df = spark.range(0, 100).select(
        F.col("id").cast("double").alias("x"),
        F.lit(7.0).alias("c"),
        F.when(F.col("id") % 2 == 0, F.col("id").cast("double")).alias("n"),
    )
    keyed = lh.zorder_key(df, ["x", "c", "n"])
    assert keyed.filter(F.col("__zkey").isNull()).count() == 0
    assert keyed.select("__zkey").distinct().count() > 1


def test_merge_upsert_semantics_and_history(spark, tmp_path):
    """MERGE: matched keys update, new keys insert, untouched keys stay;
    the merge is one atomic overwrite version and the pre-merge snapshot
    time-travels unchanged."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, name string, v double"
    )
    v0 = lh.write_table(base, path)
    src = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k int, name string, v double"
    )
    v1 = lh.merge_table(spark, path, src, ["k"])
    got = {r.k: (r.name, r.v) for r in lh.read_table(spark, path).collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    old = {r.k: (r.name, r.v) for r in lh.read_table(spark, path, v0).collect()}
    assert old == {1: ("a", 10.0), 2: ("b", 20.0), 3: ("c", 30.0)}
    assert v1 > v0

    # snapshot sync: absent keys are deleted
    lh.merge_table(spark, path, src, ["k"], delete_missing=True)
    assert {r.k for r in lh.read_table(spark, path).collect()} == {2, 4}

    with pytest.raises(ValueError, match="duplicate merge keys"):
        lh.merge_table(spark, path, src.unionByName(src), ["k"])


def test_table_changes_append_fast_path_and_overwrite_diff(spark, tmp_path):
    """CDF: append-only ranges serve the feed straight from commit files
    (insert-only); ranges crossing an overwrite fall back to the multiset
    snapshot diff, and applying the feed reconciles the snapshots."""
    path = str(tmp_path / "t")
    df = lambda rows: spark.createDataFrame(rows, "k int, v string")
    v0 = lh.write_table(df([(1, "a"), (2, "b")]), path)
    v1 = lh.write_table(df([(3, "c")]), path)  # append
    feed = lh.table_changes(spark, path, v0, v1)
    assert [(r.k, r.v, r._change_type) for r in feed.collect()] == [(3, "c", "insert")]

    v2 = lh.merge_table(spark, path, df([(2, "B"), (4, "d")]), ["k"])  # overwrite
    feed2 = lh.table_changes(spark, path, v1, v2)
    got = {(r.k, r.v, r._change_type) for r in feed2.collect()}
    assert got == {(2, "B", "insert"), (4, "d", "insert"), (2, "b", "delete")}

    # reconciliation: from_snapshot + inserts - deletes == to_snapshot
    old = lh.read_table(spark, path, v1)
    ins = feed2.filter(F.col("_change_type") == "insert").drop("_change_type")
    dels = feed2.filter(F.col("_change_type") == "delete").drop("_change_type")
    rebuilt = old.unionByName(ins).exceptAll(dels)
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, lh.read_table(spark, path, v2).collect())
    )

    # empty range: no changes
    assert lh.table_changes(spark, path, v2, v2).count() == 0


def test_zorder_key_interleave_decodes_exactly(spark):
    """The Morton key must be the exact bit interleave of the scaled
    cells: decode it back per row and compare against a direct numpy
    interleave of the same affine grid mapping."""
    import numpy as np

    df = spark.range(0, 512).select(
        (F.col("id") % 31).cast("double").alias("x"),
        (F.col("id") % 17).cast("double").alias("y"),
    )
    rows = lh.zorder_key(df, ["x", "y"], bits=8).collect()
    for r in rows:
        # mirror of the engine mapping: floor((v-lo)/(hi-lo)*255) in doubles
        cx = min(int(np.floor(r.x / 30.0 * 255.0)), 255)
        cy = min(int(np.floor(r.y / 16.0 * 255.0)), 255)
        expect = 0
        for b in range(8):
            expect |= ((cx >> b) & 1) << (2 * b)
            expect |= ((cy >> b) & 1) << (2 * b + 1)
        assert r["__zkey"] == expect, (r.x, r.y, r["__zkey"], expect)
