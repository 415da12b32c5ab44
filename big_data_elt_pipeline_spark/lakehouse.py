"""Minimal manifest-snapshot table format over parquet (time travel).

The real lakehouse connectors (Delta/Iceberg/Hudi) are absent from this
image's classpath, but their core mechanism — an append-only COMMIT LOG
whose entries list immutable data files, so any historical version is
reconstructable — is engine-independent and small. This module implements
that mechanism directly over parquet, mirroring Delta's ``_delta_log``
design (public: the "Delta Lake: High-Performance ACID Table Storage"
VLDB'20 paper):

- ``<table>/_manifest/<version>.json`` — one JSON commit per version:
  ``{"version": N, "mode": "append"|"overwrite", "files": [...]}``.
- ``<table>/data/commit-<version>/part-*.parquet`` — immutable files; an
  overwrite LOGICALLY removes prior files (they drop out of the live set)
  but never deletes bytes, which is exactly what makes time travel and
  snapshot isolation free.
- Readers resolve the live file set by folding commits 0..version
  (overwrite resets, append extends) and hand Spark an explicit file list
  — a snapshot is immune to concurrent writers by construction.
- Commits are atomic via write-temp + ``os.rename`` onto the versioned
  manifest name; a rename collision means a concurrent writer won the
  version — optimistic retry with the next number (Delta's protocol).
- Each commit records per-file column (min, max) folded from the parquet
  footers, and this module alone decides which files a predicate can
  skip (Delta-style DATA SKIPPING: whole files provably outside it are
  never opened). Two predicate forms share one live-file walk: a range
  ``lo <= column <= hi`` (``prune_files`` / ``read_table_pruned``, which
  also filters rows) and a value set ``column IN values``
  (``prune_files_in`` / ``read_table_pruned_in``, files only — the
  persisted indexes' probed cells and query terms). ``cluster_by``
  range-clusters a write so those ranges are tight.
- ``txn=(app_id, epoch)`` tags make commits idempotent under streaming
  replay (Delta's txnAppId/txnVersion protocol).

At 100 TB nothing here changes: manifests stay KB-sized per commit (file
lists, not data), readers prune by reading the log only, and the data
files are ordinary partitioned parquet.
"""

from __future__ import annotations

import bisect
import json
import os
import pathlib
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _manifest_dir(path: str) -> pathlib.Path:
    return pathlib.Path(path) / "_manifest"


def table_versions(path: str) -> list[int]:
    md = _manifest_dir(path)
    if not md.is_dir():
        return []
    return sorted(
        int(p.stem) for p in md.glob("*.json") if p.stem.isdigit()
    )


def is_manifest_table(path: str) -> bool:
    return bool(table_versions(path))


def _read_commit(path: str, version: int) -> dict:
    with open(_manifest_dir(path) / f"{version}.json") as f:
        return json.load(f)


def _live_commit_versions(path: str, version: int | None = None) -> list[int]:
    """The commit versions whose files are visible at ``version`` — i.e.
    everything since (and including) the last overwrite at or before it."""
    versions = table_versions(path)
    if not versions:
        raise FileNotFoundError(f"no manifest log at {path!r}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in log (have {versions})")
    out: list[int] = []
    for v in versions:
        if v > version:
            break
        if _read_commit(path, v)["mode"] == "overwrite":
            out = []
        out.append(v)
    return out


def live_files(path: str, version: int | None = None) -> list[str]:
    """Fold the commit log into the file set visible at ``version``
    (default: latest). Paths are absolute."""
    files: list[str] = []
    for v in _live_commit_versions(path, version):
        commit = _read_commit(path, v)
        files.extend(os.path.join(path, f) for f in commit["files"])
    return files


def _enforce_schema(path: str, df: DataFrame) -> None:
    """Delta-style schema enforcement with ADDITIVE evolution: an append
    may introduce new columns (older files read them as NULL under the
    merged-schema scan) but may not change the type of an existing column
    — that would corrupt every reader; replacing a type requires an
    explicit ``overwrite``."""
    versions = table_versions(path)
    if not versions:
        return
    prev = {
        f["name"]: json.dumps(f["type"], sort_keys=True)
        for f in _read_commit(path, versions[-1])["schema"]["fields"]
    }
    new = {
        f["name"]: json.dumps(f["type"], sort_keys=True)
        for f in json.loads(df.schema.json())["fields"]
    }
    clashes = {c for c in prev.keys() & new.keys() if prev[c] != new[c]}
    if clashes:
        raise ValueError(
            f"append would change the type of column(s) {sorted(clashes)}; "
            "schema evolution is additive-only — use mode='overwrite' to "
            "replace the table schema"
        )


def _txn_committed(path: str, txn: tuple[str, int]) -> bool:
    """True iff a commit carrying this ``(app_id, epoch)`` transaction tag
    is already in the log, or a vacuum checkpoint records an epoch at or
    above it for the app id — the Delta txnAppId/txnVersion idempotence
    check, folded over manifests (KB-sized; no data read)."""
    app_id, epoch = txn
    for v in table_versions(path):
        c = _read_commit(path, v)
        if c.get("txn_app_id") == app_id and c.get("txn_epoch") == epoch:
            return True
        if epoch <= c.get("txns", {}).get(app_id, -1):
            return True
    return False


def _file_stats(file_path: str) -> dict[str, list]:
    """Per-file column (min, max) folded over the parquet FOOTER row-group
    statistics — a KB-sized metadata read, no data pages touched. Values
    are kept only when they survive a JSON round-trip with a total order:
    ints/floats/strs/bools as-is, date/timestamp as ISO strings (ISO-8601
    sorts lexicographically, so string compare at prune time is correct).
    Columns without usable stats (arrays, binary, all-null) are absent —
    readers treat absent as "cannot prune"."""
    import pyarrow.parquet as pq

    def _portable(v):
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, (int, float, str)) and not isinstance(v, bool):
            return v
        if getattr(v, "tzinfo", None) is not None:
            # TIMESTAMP_MICROS stats come back tz-aware (UTC, matching the
            # pinned session TZ); drop the "+00:00" suffix so the stored
            # string compares lexicographically against naive ISO bounds —
            # with it, a bound equal to a file's min would mis-skip the file
            v = v.replace(tzinfo=None)
        iso = getattr(v, "isoformat", None)
        return iso() if iso else None

    out: dict[str, list] = {}
    md = pq.ParquetFile(file_path).metadata
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            mn, mx = _portable(st.min), _portable(st.max)
            if mn is None or mx is None:
                continue
            name = col.path_in_schema
            if name in out:
                out[name] = [min(out[name][0], mn), max(out[name][1], mx)]
            else:
                out[name] = [mn, mx]
    return out


def zorder_key(df: DataFrame, cols: list[str], bits: int | None = None) -> DataFrame:
    """Append a ``__zkey`` column: the Morton (Z-order) interleaving of the
    cluster columns' bits — the multi-dimensional layout key behind Delta's
    ``OPTIMIZE ... ZORDER BY``.

    Linear (lexicographic) clustering gives tight per-file ranges only for
    the LEADING column; every trailing column spans its full range within
    each file, so data skipping on it prunes nothing. Interleaving bits
    makes each file a quad/oct-tree cell — a narrow predicate on ANY of
    the clustered columns skips most files.

    Mechanics: each column is affinely scaled to a ``bits``-wide integer
    grid using its (min, max) — computed in ONE agg action over the frame
    (Delta samples for the same purpose); NULLs map to cell 0. The bit
    interleave is a closed-form JVM expression (shift/and/sum — codegen,
    no UDF). ``bits`` defaults to the widest grid that keeps the key in a
    signed 64-bit long (62 // n_cols, capped at 16)."""
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    n = len(cols)
    if bits is None:
        bits = min(16, 62 // n)
    if bits * n > 62:
        raise ValueError(f"{bits} bits x {n} cols overflows a signed long")
    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.min(F.col(c).cast("double")).alias(f"mn{i}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"mx{i}"))
    row = df.agg(*aggs).first()
    top = (1 << bits) - 1
    scaled = []
    for i, c in enumerate(cols):
        lo, hi = row[f"mn{i}"], row[f"mx{i}"]
        if lo is None or hi is None or hi == lo:
            scaled.append(F.lit(0).cast("long"))
            continue
        cell = F.floor(
            (F.col(c).cast("double") - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(top))
        ).cast("long")
        scaled.append(F.coalesce(F.least(F.greatest(cell, F.lit(0)), F.lit(top)), F.lit(0)))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            z = z + F.shiftright(s, b).bitwiseAND(F.lit(1)).cast("long") * F.lit(
                1 << (b * n + i)
            )
    return df.withColumn("__zkey", z)


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    txn: tuple[str, int] | None = None,
    cluster_by: list[str] | None = None,
    n_files: int | None = None,
    zorder: bool = False,
) -> int:
    """Commit ``df`` as a new table version; returns the version number.

    Data lands in a commit-private directory first, then the manifest
    rename publishes it — readers can never observe a half-written commit.

    ``txn=(app_id, epoch)`` makes the commit IDEMPOTENT (Delta's
    txnAppId/txnVersion protocol): if the log already holds a commit with
    the same tag, the write is a no-op returning -1. This is what gives
    ``stream_ingest`` exactly-once table contents — a crash between the
    data write and the streaming checkpoint advance makes the engine
    re-deliver the same epoch, and the replayed commit is skipped instead
    of duplicating rows.

    ``cluster_by`` range-clusters the rows across files (repartitionByRange
    + sortWithinPartitions) before writing, Delta OPTIMIZE-style: each
    data file then covers a tight value range of the cluster keys, which
    is what makes the per-file min/max statistics (recorded in every
    commit from the parquet footers) actually selective —
    ``read_table_pruned`` skips whole files whose range cannot match a
    predicate, never opening their data pages. ``n_files`` bounds the
    clustered file count (defaults to the session's shuffle partitions).
    At 100 TB the stats fold stays metadata-only (KB-sized footers); a
    distributed writer would collect the same min/max from its write
    tasks instead of re-opening footers, as Delta does — same manifest
    contract either way.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if txn is not None and _txn_committed(path, txn):
        return -1
    if mode == "append":
        _enforce_schema(path, df)
    if cluster_by and zorder:
        # multi-dimensional layout: range-cluster on the Morton key so
        # EVERY clustered column gets tight per-file min/max, then drop
        # the key (a projection — file-internal order is preserved)
        keyed = zorder_key(df, cluster_by)
        k = keyed["__zkey"]
        df = (
            keyed.repartitionByRange(n_files, k) if n_files else keyed.repartitionByRange(k)
        ).sortWithinPartitions(k).drop("__zkey")
    elif cluster_by:
        cols = [df[c] for c in cluster_by]
        df = (
            df.repartitionByRange(n_files, *cols) if n_files else df.repartitionByRange(*cols)
        ).sortWithinPartitions(*cols)
    root = pathlib.Path(path)
    commit_id = uuid.uuid4().hex[:12]
    data_rel = f"data/commit-{commit_id}"
    # Spark's default INT96 parquet timestamps carry NO min/max statistics,
    # which would silently disable data skipping on time columns — the most
    # common pruning axis. Pin the modern micros physical type for the
    # commit (runtime conf; restored after the write).
    sess = df.sparkSession
    prev_ts = sess.conf.get("spark.sql.parquet.outputTimestampType", "INT96")
    sess.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        df.write.mode("errorifexists").parquet(str(root / data_rel))
    finally:
        sess.conf.set("spark.sql.parquet.outputTimestampType", prev_ts)
    files = sorted(
        f"{data_rel}/{p.name}"
        for p in (root / data_rel).glob("*.parquet")
    )
    stats = {f: _file_stats(str(root / f)) for f in files}
    md = _manifest_dir(path)
    md.mkdir(parents=True, exist_ok=True)
    while True:
        versions = table_versions(path)
        version = (versions[-1] + 1) if versions else 0
        if txn is not None and _txn_committed(path, txn):
            return -1  # concurrent replay won the race inside the retry loop
        commit: dict = {
            "version": version,
            "mode": mode,
            "files": files,
            "stats": stats,
            "schema": json.loads(df.schema.json()),
        }
        if txn is not None:
            commit["txn_app_id"], commit["txn_epoch"] = txn[0], int(txn[1])
        payload = json.dumps(commit)
        fd, tmp = tempfile.mkstemp(dir=md, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        target = md / f"{version}.json"
        try:
            os.link(tmp, target)  # atomic publish: fails iff version taken
        except FileExistsError:
            os.unlink(tmp)
            continue  # lost the race — retry with the next version
        os.unlink(tmp)
        return version


def read_table(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Snapshot read at ``version`` (default latest): an explicit-file-list
    parquet scan, so later commits — even overwrites — cannot change what
    this DataFrame returns.

    When the live commits carry more than one schema (additive evolution:
    an append introduced columns), the scan merges footer schemas so older
    files surface the new columns as NULL; single-schema snapshots skip
    the mergeSchema footer pass (it reads every footer up front — real
    cost on a 100 TB table, pointless when schemas are uniform)."""
    files = live_files(path, version)
    if not files:
        # overwrite-with-empty commit: reconstruct from the logged schema
        from pyspark.sql import types as T

        versions = [v for v in table_versions(path) if version is None or v <= version]
        schema = T.StructType.fromJson(_read_commit(path, versions[-1])["schema"])
        return spark.createDataFrame([], schema)
    schemas = {
        json.dumps(_read_commit(path, v)["schema"], sort_keys=True)
        for v in _live_commit_versions(path, version)
    }
    reader = spark.read
    if len(schemas) > 1:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*files)


def compact_table(
    spark: SparkSession,
    path: str,
    cluster_by: list[str] | None = None,
    n_files: int | None = None,
    zorder: bool = False,
) -> int:
    """OPTIMIZE: rewrite the table's live rows as ONE overwrite commit —
    fewer, larger, optionally range-clustered (``zorder=True`` for the
    multi-column Morton layout) files — small-file compaction + layout
    optimization in one step, like Delta ``OPTIMIZE ... ZORDER``.
    History is untouched: the rewrite is just the next version, old
    snapshots still resolve to the old files, and readers mid-scan keep
    their pinned file lists. Returns the new version."""
    df = read_table(spark, path)
    return write_table(
        df, path, mode="overwrite", cluster_by=cluster_by, n_files=n_files, zorder=zorder
    )


def merge_table(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    delete_missing: bool = False,
) -> int:
    """MERGE INTO (upsert): rows of ``source`` replace target rows with the
    same key, new keys insert, and ``delete_missing=True`` turns the merge
    into a full snapshot sync (target keys absent from the source are
    dropped) — the Delta/Iceberg MERGE semantics over the manifest table.

    Mechanics: surviving target rows = target ANTI-JOIN source keys (plus
    nothing when snapshot-syncing), union the source, commit as ONE
    overwrite — so readers see the merge atomically and time travel keeps
    the pre-merge version intact. Keys must be unique within ``source``
    (enforced — a dup key would make the merge nondeterministic).

    At 100 TB: this is the copy-on-write strategy (rewrite whole table =
    simplest correct form; real engines narrow the rewrite to files whose
    key ranges overlap the source — exactly what the per-file min/max
    stats in this manifest enable as a future optimization). The anti-join
    shuffles on the merge key; a small source broadcasts under AQE.

    Each call reads the CURRENT committed version and writes one new
    commit, so chained merges are naturally materialized between waves —
    unlike plan-stacking on a lazy DataFrame (see ``operators/scd.py``),
    merge #k+1 never re-executes merge #k's joins. A source built by
    transforming this table's own read should be checkpointed first if
    its lineage is expensive.
    """
    if not key_cols:
        raise ValueError("merge_table needs at least one key column")
    dups = (
        source.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
    )
    if dups.limit(1).count():
        raise ValueError(f"source holds duplicate merge keys on {key_cols}")
    target = read_table(spark, path)
    if delete_missing:
        survivors = target.limit(0)
    else:
        survivors = target.join(source.select(*key_cols), key_cols, "left_anti")
    merged = survivors.select(target.columns).unionByName(
        source.select(target.columns)
    )
    return write_table(merged, path, mode="overwrite")


def table_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """CHANGE DATA FEED between two snapshots: every row with a
    ``_change_type`` column (``insert`` / ``delete``; an update appears as
    its delete+insert pair) such that applying the feed to the
    ``from_version`` snapshot yields the ``to_version`` snapshot exactly.

    Fast path: when no overwrite commit lies in ``(from, to]``, the delta
    is append-only — the feed is just the files of the intervening
    commits, read directly (NO diff computation, the at-scale case for an
    ingest log). Otherwise the diff is computed as two EXCEPT ALLs of the
    snapshots — multiset semantics, so duplicate rows count correctly.
    """
    versions = table_versions(path)
    if to_version is None:
        to_version = versions[-1]
    if from_version not in versions or to_version not in versions:
        raise ValueError(f"versions must be committed (have {versions})")
    if from_version > to_version:
        raise ValueError("from_version must be <= to_version")
    between = [v for v in versions if from_version < v <= to_version]
    if all(_read_commit(path, v)["mode"] == "append" for v in between):
        files: list[str] = []
        for v in between:
            files.extend(os.path.join(path, f) for f in _read_commit(path, v)["files"])
        if not files:
            return read_table(spark, path, to_version).limit(0).withColumn(
                "_change_type", F.lit("insert")
            )
        return spark.read.parquet(*files).withColumn("_change_type", F.lit("insert"))
    old = read_table(spark, path, from_version)
    new = read_table(spark, path, to_version)
    inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
    deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
    return inserts.unionByName(deletes)


def vacuum(path: str, retain_versions: int = 1) -> dict:
    """Reclaim storage: keep the most recent ``retain_versions`` versions
    time-travelable and delete everything older — data files referenced
    ONLY by dropped versions, and the dropped manifests themselves.

    Because append commits list only their own files, the fold needs every
    manifest since the last overwrite; so before deleting, the earliest
    RETAINED version's manifest is rewritten as a CONSOLIDATED checkpoint
    (mode=overwrite, full live file list + folded stats at that version) —
    Delta's log-checkpoint mechanism, which is what makes dropping the log
    prefix safe. The checkpoint also keeps, per txn app id of the dropped
    commits, the highest epoch (``txns``), so an epoch the engine
    re-delivers after a vacuum is still skipped. Returns
    {"deleted_files": n, "deleted_manifests": n}.
    """
    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    versions = table_versions(path)
    if len(versions) <= retain_versions:
        return {"deleted_files": 0, "deleted_manifests": 0}
    cutoff = versions[-retain_versions]
    keep_files: set[str] = set()
    for v in versions:
        if v >= cutoff:
            keep_files.update(live_files(path, v))
    # checkpoint the cutoff version: consolidated overwrite manifest
    cut_live = live_files(path, cutoff)
    cut_stats = live_file_stats(path, cutoff)
    commit = _read_commit(path, cutoff)
    txns: dict[str, int] = {}
    for v in versions[:-retain_versions]:
        c = _read_commit(path, v)
        tags = dict(c.get("txns", {}))
        if "txn_app_id" in c:
            tags[c["txn_app_id"]] = c["txn_epoch"]
        for app_id, epoch in tags.items():
            txns[app_id] = max(epoch, txns.get(app_id, -1))
    if txns:
        commit["txns"] = txns
    commit.update(
        mode="overwrite",
        files=[os.path.relpath(f, path) for f in cut_live],
        stats={os.path.relpath(f, path): cut_stats.get(f, {}) for f in cut_live},
    )
    md = _manifest_dir(path)
    fd, tmp = tempfile.mkstemp(dir=md, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        f.write(json.dumps(commit))
    os.replace(tmp, md / f"{cutoff}.json")  # atomic swap onto the manifest

    deleted_files = 0
    root = pathlib.Path(path)
    for data_dir in (root / "data").glob("commit-*"):
        for p in data_dir.glob("*.parquet"):
            if str(p) not in keep_files:
                p.unlink()
                deleted_files += 1
        if not any(data_dir.glob("*.parquet")):
            shutil.rmtree(data_dir)  # with the writer's _SUCCESS and .crc files
    deleted_manifests = 0
    for v in versions:
        if v < cutoff:
            (md / f"{v}.json").unlink()
            deleted_manifests += 1
    return {"deleted_files": deleted_files, "deleted_manifests": deleted_manifests}


def live_file_stats(path: str, version: int | None = None) -> dict[str, dict]:
    """(abs file path -> column stats) for the live set at ``version``.
    Files from commits predating the stats field map to ``{}``."""
    versions = table_versions(path)
    if version is None:
        version = versions[-1] if versions else None
    stats: dict[str, dict] = {}
    for v in versions:
        if version is not None and v > version:
            break
        commit = _read_commit(path, v)
        if commit["mode"] == "overwrite":
            stats = {}
        cstats = commit.get("stats", {})
        for f in commit["files"]:
            stats[os.path.join(path, f)] = cstats.get(f, {})
    return stats


def _split_live(path: str, column: str, keep, version: int | None):
    """Split the live file set at ``version`` into (kept, skipped): a file
    is skipped only when it records a ``column`` range and ``keep(range)``
    is False — files without stats for the column are always kept
    (absence never loses rows)."""
    stats = live_file_stats(path, version)
    kept, skipped = [], []
    for f in live_files(path, version):
        rng = stats.get(f, {}).get(column)
        (kept if rng is None or keep(rng) else skipped).append(f)
    return kept, skipped


def _scan(spark: SparkSession, path: str, files: list[str], version: int | None) -> DataFrame:
    """Scan of the kept ``files``; none kept is an EMPTY frame with the
    table schema, never a full-snapshot fallback."""
    if not files:
        return read_table(spark, path, version).limit(0)
    return spark.read.parquet(*files)


def prune_files(
    path: str,
    column: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> tuple[list[str], list[str]]:
    """Split the live file set into (kept, skipped) for the predicate
    ``lo <= column <= hi`` using the manifest min/max stats — the Delta
    data-skipping read path. A file is skipped only when its recorded
    range PROVABLY cannot overlap [lo, hi]; files without stats for the
    column are always kept."""
    return _split_live(
        path, column,
        lambda rng: (lo is None or rng[1] >= lo) and (hi is None or rng[0] <= hi),
        version,
    )


def prune_files_in(
    path: str, column: str, values, version: int | None = None
) -> tuple[list[str], list[str]]:
    """(kept, skipped) for the predicate ``column IN values``: a file is
    kept iff its recorded range holds at least one value, or it has no
    stats for the column. One manifest fold and one bisect per file for
    the whole set (a ``prune_files`` loop per value would re-parse every
    commit once per value)."""
    vals = sorted(set(values))

    def holds(rng) -> bool:
        i = bisect.bisect_left(vals, rng[0])
        return i < len(vals) and vals[i] <= rng[1]

    return _split_live(path, column, holds, version)


def read_table_pruned(
    spark: SparkSession,
    path: str,
    column: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read with manifest-level file skipping, then the residual
    row filter in Spark (stats prune whole files; the filter is still
    needed inside kept files). With a ``cluster_by`` write layout this
    reads a small fraction of the table's files for a narrow predicate —
    the at-scale point of the stats: partition-style pruning without
    committing to one physical partition column."""
    kept, _ = prune_files(path, column, lo, hi, version)
    df = _scan(spark, path, kept, version)
    c = F.col(column)
    if lo is not None:
        df = df.filter(c >= lo)
    if hi is not None:
        df = df.filter(c <= hi)
    return df


def read_table_pruned_in(
    spark: SparkSession, path: str, column: str, values, version: int | None = None
) -> DataFrame:
    """Snapshot read opening only the files ``prune_files_in`` keeps, in
    path order. It skips files only and adds no row filter: the callers'
    equi-joins against the value set already apply the predicate."""
    kept, _ = prune_files_in(path, column, values, version)
    return _scan(spark, path, sorted(kept), version)


def stream_ingest(
    df_stream, path: str, checkpoint_dir: str | None = None
):
    """Streaming ingestion INTO a manifest table: each micro-batch lands
    as one atomic versioned commit, so the table history IS the batch
    history — any prefix of the stream is reconstructable via
    ``read_table(version=N)``, and a reader mid-ingest sees only whole
    commits (the same snapshot isolation as batch writes).

    Returns the started ``StreamingQuery``; callers drive it
    (``processAllAvailable``/``awaitTermination``) and stop it.

    Exactly-once: each micro-batch commit is tagged ``txn=(app_id,
    epoch)`` where ``app_id`` is stable across restarts of the same
    logical stream (derived from the checkpoint dir — the engine's unit
    of replay) — so an epoch re-delivered after a crash between
    ``write_table`` and the checkpoint advance is skipped, not
    re-appended. Without a checkpoint there is no replay, hence no tag.
    """
    txn_app = f"stream_ingest:{checkpoint_dir}" if checkpoint_dir is not None else None

    def _commit(batch: DataFrame, epoch: int) -> None:
        txn = (txn_app, int(epoch)) if txn_app is not None else None
        write_table(batch, path, mode="append", txn=txn)

    writer = df_stream.writeStream.outputMode("append").foreachBatch(_commit)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
