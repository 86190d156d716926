"""The graft versioned table format and its Delta/Iceberg interop from
Python. For the SQL surface (CREATE TABLE ... USING graft, MERGE, time
travel, CALL procedures), register a catalog via connect(conf={...})
and use spark.sql — this module wraps the programmatic API."""
from pyspark.sql import DataFrame


def _seq(spark, values):
    return spark._jvm.PythonUtils.toSeq(list(values))


class GraftTable(object):
    """Versioned parquet table (commit log + immutable snapshot dirs):
    append / merge / delete, time travel, history, vacuum."""

    def __init__(self, spark, jtable):
        self._spark = spark
        self._j = jtable

    @staticmethod
    def create(spark, path, df, partition_by=None):
        j = spark._jvm.graft.sources.GraftTable.create(
            spark._jsparkSession, path, df._jdf,
            _seq(spark, partition_by or []))
        return GraftTable(spark, j)

    @staticmethod
    def load(spark, path):
        j = spark._jvm.graft.sources.GraftTable.load(
            spark._jsparkSession, path)
        return GraftTable(spark, j)

    @property
    def root(self):
        return self._j.root()

    def read(self):
        return DataFrame(self._j.read(), self._spark)

    def read_version(self, version):
        return DataFrame(self._j.readVersion(int(version)), self._spark)

    def latest_version(self):
        return self._j.latestVersion()

    def history(self):
        return DataFrame(self._j.history(), self._spark)

    def append(self, df):
        return self._j.append(df._jdf)

    def overwrite(self, df):
        return self._j.overwrite(df._jdf)

    def merge(self, source_df, key_cols):
        """MERGE (upsert) by key columns: source wins on match."""
        return self._j.merge(source_df._jdf, _seq(self._spark, key_cols))

    def delete(self, condition_col):
        """Row-level delete; condition_col is a pyspark Column."""
        return self._j.delete(condition_col._jc)

    def vacuum(self, retain_from_version):
        # vacuumAsJava returns java.util.List directly -- converting the
        # Scala Seq gateway-side via CollectionConverters.asJava depends
        # on py4j overload resolution picking the list()-able variant
        return list(self._j.vacuumAsJava(int(retain_from_version)))

    # ------------------------------------------------ format interop

    def export_delta(self, target):
        """One-shot copy export as a standalone Delta table."""
        return self._spark._jvm.graft.sources.DeltaInterop.exportSnapshot(
            self._j, target)

    def export_iceberg(self, target):
        """One-shot copy export as a standalone Iceberg v1 table."""
        return self._spark._jvm.graft.sources.IcebergInterop.exportSnapshot(
            self._j, target)

    def mirror_to_delta(self, checkpoint_interval=10):
        """Zero-copy: publish this table's live state + history as a
        Delta log inside the table root (idempotent incremental sync);
        every checkpoint_interval-th version also lands a parquet
        checkpoint (0 disables)."""
        return self._spark._jvm.graft.sources.DeltaInterop.mirrorToDelta(
            self._j, int(checkpoint_interval))

    def mirror_to_iceberg(self):
        """Zero-copy: publish as Iceberg metadata inside the table root."""
        return self._spark._jvm.graft.sources.IcebergInterop.mirrorToIceberg(self._j)

    def expire_snapshots(self, keep_last):
        """Iceberg expire_snapshots analog for the mirror: retain the
        newest keep_last snapshots, delete expired manifest lists /
        unreferenced manifests / old metadata versions. Returns the
        number of files deleted."""
        return self._spark._jvm.graft.sources.IcebergInterop.expireSnapshots(
            self._j, int(keep_last))

    def cleanup_delta_log(self, keep_versions=30):
        """Delta log-retention analog for the mirror: delete JSON commits
        (and superseded checkpoints) covered by the newest checkpoint,
        keeping at least the last keep_versions. Returns the number of
        files deleted."""
        return self._spark._jvm.graft.sources.DeltaInterop.cleanupMirrorLog(
            self._j, int(keep_versions))


_SOURCE_FORMAT = "graft.sources.v2.GraftSource"


def read_stream(spark, path, skip_change_commits=False,
                max_commits_per_trigger=None, max_bytes_per_trigger=None):
    """Streaming read of a GraftTable: tails the commit log, one
    micro-batch per new commit range (the Delta streaming-source
    analog). `skip_change_commits=True` passes overwrite/delete commits
    through silently instead of failing the query;
    `max_commits_per_trigger` bounds per-batch admission by commit
    count, `max_bytes_per_trigger` by the admitted commits' added bytes
    (at least one commit always admits; the tighter bound wins)."""
    r = spark.readStream.format(_SOURCE_FORMAT)
    if skip_change_commits:
        r = r.option("skipChangeCommits", "true")
    if max_commits_per_trigger is not None:
        r = r.option("maxCommitsPerTrigger", str(int(max_commits_per_trigger)))
    if max_bytes_per_trigger is not None:
        r = r.option("maxBytesPerTrigger", str(int(max_bytes_per_trigger)))
    return r.load(path)


def write_stream(df, path, checkpoint_location, partition_by=None,
                 output_mode="append", trigger_available_now=False):
    """Exactly-once streaming sink into a GraftTable: batch 0 creates
    the table, every micro-batch lands as one commit stamped with the
    query id + batch id, so a batch replayed after a crash between the
    table commit and the checkpoint write is skipped. Returns the
    started StreamingQuery."""
    w = (df.writeStream.format(_SOURCE_FORMAT)
         .option("checkpointLocation", checkpoint_location)
         .outputMode(output_mode))
    if partition_by:
        w = w.partitionBy(*list(partition_by))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start(path)


def _opt_long(spark, v):
    """Scala Option[Long] across the gateway (None -> Option.empty;
    boxing forced to java.lang.Long so the Scala side unboxes cleanly)."""
    opt = spark._jvm.scala.Option
    if v is None:
        return opt.empty()
    return opt.apply(spark._jvm.java.lang.Long.valueOf(str(int(v))))


def read_delta(spark, path, version_as_of=None):
    """Open a Delta table dependency-free (JSON log + v1 parquet
    checkpoints + v2 checkpoints with sidecars + deletion vectors +
    name- and id-mode column mapping). Optional versionAsOf travel."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return DataFrame(dx.readDelta(
        spark._jsparkSession, path, _opt_long(spark, version_as_of),
        spark._jvm.scala.Option.empty()), spark)


def read_delta_where(spark, path, column, value, version_as_of=None):
    """Open ONE partition of a Delta table by metadata-only pruning:
    `column` is a partition column, `value` its canonical log string
    (None selects the null partition)."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return DataFrame(dx.readDeltaWhere(
        spark._jsparkSession, path, column, value,
        _opt_long(spark, version_as_of)), spark)


def read_delta_changes(spark, path, from_version, to_version):
    """Change Data Feed read of a FOREIGN Delta table: one row per
    changed row per commit in [from_version, to_version], with
    _change_type / _commit_version / _commit_timestamp columns. cdc
    actions are authoritative; commits without them fall back to
    add=insert / remove=delete (ambiguous update rewrites refuse)."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return DataFrame(dx.readDeltaChanges(
        spark._jsparkSession, path, int(from_version), int(to_version)),
        spark)


def read_delta_stream(spark, path, skip_change_commits=False,
                      max_commits_per_trigger=None,
                      starting_version=None):
    """Streaming read of a FOREIGN Delta table: tails its _delta_log,
    batch 0 = the complete snapshot, later batches = appended files
    per commit. Change commits (removes / deletion vectors) fail the
    stream unless skip_change_commits=True skips them. Requires a
    column-mapping-free table. starting_version (N or "latest") skips
    the initial snapshot and tails commits from N on."""
    r = spark.readStream.format("graft.sources.v2.DeltaSource")
    if skip_change_commits:
        r = r.option("skipChangeCommits", "true")
    if max_commits_per_trigger is not None:
        r = r.option("maxCommitsPerTrigger", str(int(max_commits_per_trigger)))
    if starting_version is not None:
        r = r.option("startingVersion", str(starting_version))
    return r.load(path)


def read_iceberg_stream(spark, path, skip_change_commits=False,
                        max_snapshots_per_trigger=None,
                        starting_snapshot_id=None):
    """Streaming read of an Iceberg table (foreign or a graft mirror):
    tails its snapshot history, batch 0 = the complete snapshot, later
    batches = files added by append snapshots. Non-append snapshots
    (overwrite/delete/replace, or delete files) fail the stream unless
    skip_change_commits=True skips them."""
    r = spark.readStream.format("graft.sources.v2.IcebergSource")
    if skip_change_commits:
        r = r.option("skipChangeCommits", "true")
    if max_snapshots_per_trigger is not None:
        r = r.option("maxSnapshotsPerTrigger",
                     str(int(max_snapshots_per_trigger)))
    if starting_snapshot_id is not None:
        r = r.option("startingSnapshotId", str(starting_snapshot_id))
    return r.load(path)


def read_iceberg(spark, path, snapshot_id=None):
    """Open an Iceberg v1/v2/v3 table dependency-free, including v2
    merge-on-read position AND equality deletes, v3 Puffin deletion
    vectors and column initial-defaults (pre-add files fill the
    declared default), field-id renames when the files carry parquet
    field ids, and partition-spec evolution (per-manifest spec
    resolution); refuses v4+. Optional snapshot-id time travel."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return DataFrame(ix.readIceberg(
        spark._jsparkSession, path, _opt_long(spark, snapshot_id),
        spark._jvm.scala.Option.empty()), spark)


def read_iceberg_where(spark, path, field, grain, snapshot_id=None):
    """Open ONE partition of an Iceberg table by metadata-only pruning:
    `field` is a partition-spec field (identity column or transform
    field like 'ts_day'), `grain` its value ('2024-03-02' for day,
    '2024-03' for month, raw value for identity/truncate; None selects
    the null partition)."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return DataFrame(ix.readIcebergWhere(
        spark._jsparkSession, path, field, grain,
        _opt_long(spark, snapshot_id)), spark)

def append_to_delta(df, path, merge_schema=False):
    """APPEND a DataFrame to an existing Delta table (foreign or
    mirrored) via the optimistic conditional-put commit protocol.
    Honors identity partition layouts and name-/id-mode column mapping
    (physical names + parquet field ids); CHECK constraints and
    invariants are enforced over the input; generated columns the
    input omits are COMPUTED from their stored expression (supplied
    values are check-on-write verified); identity columns the input
    omits are ASSIGNED (monotone beyond the recorded high watermark,
    which the commit advances; supplied values need the column's
    allowExplicit); unknown writer features refuse.
    merge_schema=True widens the table with the input's extra columns
    in the same commit (Delta's mergeSchema option). Returns the
    committed version."""
    jvm = df.sparkSession._jvm
    dx = jvm.graft.sources.DeltaInterop
    return dx.appendToDelta(df._jdf, path, jvm.scala.Option.empty(),
                            bool(merge_schema))


def append_to_delta_txn(df, path, app_id, txn_version):
    """IDEMPOTENT append carrying a setTransaction watermark: an append
    whose (app_id, txn_version) is at-or-below the table's recorded
    watermark is a no-op returning the current version — Delta's
    txnAppId/txnVersion exactly-once contract. Use from foreachBatch
    with the stream's batch id as txn_version for exactly-once
    streaming into a foreign Delta table."""
    dx = df.sparkSession._jvm.graft.sources.DeltaInterop
    return dx.appendToDeltaTxn(df._jdf, path, app_id, int(txn_version))


def last_delta_txn_version(spark, path, app_id):
    """The app_id's last committed setTransaction version at path, or
    -1 when the app never committed."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.lastDeltaTxnVersion(spark._jsparkSession, path, app_id)


def delete_from_delta(spark, path, condition_col):
    """Row-level DELETE from an existing Delta table with copy-on-write
    rewrites: partition-only predicates are metadata-only (files
    removed whole, no scan), general predicates rewrite the partially-
    matched files; CDF tables get authoritative cdc files on rewriting
    commits. `condition_col` is a pyspark Column. Returns the committed
    (or, for a no-match delete, the current) version."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.deleteFromDelta(spark._jsparkSession, path,
                              condition_col._jc)


def append_to_iceberg(df, path, merge_schema=False):
    """APPEND a DataFrame to an existing file-based Iceberg table as a
    fast-append snapshot (format v1 AND v2 — v2 appends maintain the
    spec's sequence-number bookkeeping, so existing merge-on-read
    deletes keep applying only to older data). Omitted columns with a
    declared v3 write-default are filled at write time. Writes
    field-id-stamped parquet laid out per the table's default
    partition spec. Returns the committed snapshot id."""
    jvm = df.sparkSession._jvm
    ix = jvm.graft.sources.IcebergInterop
    return ix.appendToIceberg(df._jdf, path, jvm.scala.Option.empty(),
                              bool(merge_schema))


def read_delta_cdf_stream(spark, path, max_commits_per_trigger=None):
    """STREAMING Change Data Feed of a Delta table: per-trigger batches
    of _change_type / _commit_version / _commit_timestamp-tagged rows
    (batch 0 = the snapshot as inserts at the pinned version)."""
    r = (spark.readStream.format("graft.sources.v2.DeltaSource")
         .option("readChangeFeed", "true"))
    if max_commits_per_trigger is not None:
        r = r.option("maxCommitsPerTrigger", str(int(max_commits_per_trigger)))
    return r.load(path)


def append_to_iceberg_txn(df, path, app_id, txn_version):
    """IDEMPOTENT Iceberg append: the exactly-once watermark lives in
    table properties (graft.txn.<app_id>), robust to snapshot expiry.
    A replayed epoch at-or-below the watermark commits nothing."""
    ix = df.sparkSession._jvm.graft.sources.IcebergInterop
    return ix.appendToIcebergTxn(df._jdf, path, app_id,
                                 int(txn_version))


def last_iceberg_txn_version(spark, path, app_id):
    """The app_id's last committed exactly-once watermark, or -1."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.lastIcebergTxnVersion(spark._jsparkSession, path, app_id)


def delete_from_iceberg(spark, path, condition_col):
    """Row-level DELETE from a file-based Iceberg format-v2 table as a
    merge-on-read position-delete snapshot (Spark's own MoR DELETE
    shape): cost proportional to the deleted row count, no data file
    rewritten. `condition_col` is a pyspark Column. Returns the
    committed (or, for a no-match delete, the current) snapshot id."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.deleteFromIceberg(spark._jsparkSession, path,
                                condition_col._jc)


def update_delta(spark, path, condition_col, assignments):
    """Row-level UPDATE of an existing Delta table with copy-on-write
    rewrites: `assignments` is a dict of column -> pyspark Column, each
    evaluated against the PRE-update row (swaps work). CDF tables get
    update_preimage/update_postimage cdc files. Returns the committed
    (or, for a no-match update, the current) version."""
    jvm = spark._jvm
    m = jvm.scala.collection.immutable.HashMap()
    for k, v in assignments.items():
        m = m.updated(k, v._jc)
    dx = jvm.graft.sources.DeltaInterop
    return dx.updateDelta(spark._jsparkSession, path, condition_col._jc,
                          m)


def merge_delta(source_df, path, keys):
    """MERGE (upsert) a source DataFrame into an existing Delta table
    on `keys` — the protocol shape of `MERGE INTO ... WHEN MATCHED THEN
    UPDATE SET * WHEN NOT MATCHED THEN INSERT *`: matched target rows
    are replaced by their source row (copy-on-write, only the files
    holding matched rows rewritten), unmatched source rows are
    inserted, and CDF tables get update_preimage/update_postimage/
    insert cdc files. Source keys must be unique. Returns the
    committed version."""
    spark = source_df.sparkSession
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.mergeDelta(source_df._jdf, path, _seq(spark, keys))


def optimize_delta(spark, path, target_file_bytes=128 << 20,
                   zorder_by=None):
    """OPTIMIZE (bin-packing compaction) of an existing Delta table:
    per partition, files smaller than target_file_bytes are bin-packed
    into fewer larger files, and deletion vectors are materialized
    away. All remove+add actions carry dataChange=false, so CDF reads
    and streaming tails skip the commit. zorder_by=[cols] switches to
    OPTIMIZE ZORDER BY: every live file rewritten, rows range-clustered
    by (partition cols, Z-value) so predicates on any Z column touch
    few files. Returns the committed (or, when nothing needs
    compacting, the current) version."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.optimizeDelta(spark._jsparkSession, path,
                            int(target_file_bytes),
                            _seq(spark, zorder_by or []))


def cluster_by_delta(spark, path, cols):
    """DECLARE liquid clustering on an existing Delta table (the
    `ALTER TABLE ... CLUSTER BY (cols)` verb): one metadata commit
    writes the delta.clustering domain and upgrades the protocol to
    the clusteredTable writer feature. A later optimize_delta with no
    zorder_by re-clusters by the declared columns; checkpoints and
    clones carry the domain. Clustered tables are unpartitioned per
    the protocol. Returns the committed version."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.clusterByDelta(spark._jsparkSession, path,
                             _seq(spark, cols))


def clone_delta(spark, source, target):
    """SHALLOW CLONE a Delta table: a new table at target whose v0
    commit re-declares the source's protocol/schema/partitioning and
    adds every live source file BY ABSOLUTE URI — zero data copied.
    The clone then evolves independently (mutations write clone-local
    files; the source is never touched, and VACUUM of either root
    cannot see the other). Returns the clone's version (0)."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.cloneDelta(spark._jsparkSession, source, target)


def checkpoint_delta(spark, path):
    """Write a classic parquet checkpoint (+ _last_checkpoint) for an
    existing Delta table at its current version, carrying the full
    protocol, metaData identity, active adds (with deletion vectors),
    remove tombstones and setTransaction watermarks. Returns the
    checkpointed version."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.checkpointDelta(spark._jsparkSession, path)


def cleanup_delta_log(spark, path, retain_versions=0):
    """Delete JSON commits (and superseded checkpoints) the newest
    classic checkpoint already covers — Delta's metadata-cleanup
    maintenance step. Time travel to the cleaned versions stops
    working. Returns the number of files deleted."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.cleanupDeltaLog(spark._jsparkSession, path,
                              int(retain_versions))


def vacuum_delta(spark, path, retention_ms=7 * 24 * 3600 * 1000):
    """VACUUM a Delta table: physically delete files the current
    version no longer references and that are older than retention_ms.
    Active data files, their deletion vectors, and hidden dirs
    (_delta_log, _change_data) are never touched. Returns the number
    of files deleted."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.vacuumDelta(spark._jsparkSession, path, int(retention_ms))


def expire_iceberg_snapshots(spark, path, keep_last):
    """Expire old snapshots of any file-based Iceberg table: retain the
    last keep_last snapshots (plus current), publish trimmed metadata
    via the conditional-put protocol, then delete expired manifest
    lists / orphaned manifests / old metadata versions. Returns the
    number of files deleted."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.expireIcebergSnapshots(spark._jsparkSession, path,
                                     int(keep_last))


def convert_parquet_to_delta(spark, path):
    """CONVERT an existing plain-parquet directory (flat or
    hive-partitioned) into a Delta table in place — no data moves; a
    version-0 log registers the files. Returns the file count."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.convertParquetToDelta(spark._jsparkSession, path)


def convert_parquet_to_iceberg(spark, path):
    """CONVERT an existing plain-parquet directory into an Iceberg v1
    table in place (the migrate/add_files shape): hive dirs become an
    identity partition spec and the metadata declares
    schema.name-mapping.default for id-less files. Returns the file
    count."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.convertParquetToIceberg(spark._jsparkSession, path)


def merge_iceberg(source_df, path, keys):
    """MERGE (upsert) a source DataFrame into a file-based Iceberg
    format-v2 table on `keys` as ONE atomic merge-on-read overwrite
    snapshot: position deletes retire the matched target row versions,
    new data files carry the replacements + inserts laid out per the
    default partition spec (an upsert that changes a partition source
    column migrates the row). Source keys must be unique. Returns the
    committed snapshot id."""
    spark = source_df.sparkSession
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.mergeIceberg(source_df._jdf, path, _seq(spark, keys))


def compact_iceberg(spark, path, target_file_bytes=128 << 20,
                    zorder_by=None):
    """Compact a file-based Iceberg format-v2 table (rewrite_data_files
    analog) at manifest granularity: data manifests whose live files
    are all sub-target are folded into right-sized files with all
    current deletes applied, and fully-consumed position-delete
    manifests are dropped, in one replace snapshot. Returns the
    committed (or current) snapshot id."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.compactIceberg(spark._jsparkSession, path,
                             int(target_file_bytes),
                             _seq(spark, zorder_by or []))


def update_iceberg(spark, path, condition_col, assignments):
    """Row-level UPDATE of a file-based Iceberg format-v2 table as ONE
    atomic merge-on-read overwrite snapshot (position deletes + new
    data files laid out per the default partition spec — updates that
    change a partition source column move rows to their new
    partitions). `assignments` is a dict of column -> pyspark Column
    evaluated against the pre-update row. Returns the committed (or,
    for a no-match update, the current) snapshot id."""
    jvm = spark._jvm
    m = jvm.scala.collection.immutable.HashMap()
    for k, v in assignments.items():
        m = m.updated(k, v._jc)
    ix = jvm.graft.sources.IcebergInterop
    return ix.updateIceberg(spark._jsparkSession, path, condition_col._jc,
                            m)


def read_iceberg_changes(spark, path, from_snapshot_id, to_snapshot_id=None):
    """Incremental APPEND scan of a file-based Iceberg table: the rows
    added by every snapshot after from_snapshot_id (exclusive) up to
    to_snapshot_id (inclusive; default current), tagged _snapshot_id +
    1-based _change_ordinal. Rewrite (replace/compaction) snapshots
    contribute nothing; row-level changes in the range refuse."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return DataFrame(ix.readIcebergChanges(
        spark._jsparkSession, path, int(from_snapshot_id),
        _opt_long(spark, to_snapshot_id)), spark)


def read_iceberg_changelog(spark, path, from_snapshot_id,
                           to_snapshot_id=None):
    """ROW-LEVEL changelog of a file-based Iceberg table — the CDF twin
    of read_iceberg_changes that DECODES change snapshots instead of
    refusing: appends emit their added rows as 'insert', merge-on-read
    position-delete snapshots decode the struck rows as 'delete' with
    one as-of-previous scan, and copy-on-write / equality-delete / v3
    deletion-vector snapshots decode exactly by lineage diff.
    Compactions stay invisible. Rows are tagged _change_type /
    _snapshot_id / _change_ordinal."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return DataFrame(ix.readIcebergChangelog(
        spark._jsparkSession, path, int(from_snapshot_id),
        _opt_long(spark, to_snapshot_id)), spark)


def read_iceberg_changelog_stream(spark, path, starting_snapshot_id=None):
    """Streaming changelog of an Iceberg table
    (option('readChangeFeed', 'true') on the Iceberg source): batch 0
    is the complete snapshot as inserts, later batches decode each
    snapshot's row-level changes (see read_iceberg_changelog).
    starting_snapshot_id (id or 'latest') skips batch 0 and streams
    changes strictly after it."""
    r = (spark.readStream.format("graft.sources.v2.IcebergSource")
         .option("readChangeFeed", "true"))
    if starting_snapshot_id is not None:
        r = r.option("startingSnapshotId", str(starting_snapshot_id))
    return r.load(path)


def restore_delta(spark, path, version):
    """RESTORE a Delta table to an earlier version in ONE metadata
    commit: removes files live now but absent then, re-adds files live
    then but absent now (original partitionValues + deletionVector).
    Vacuumed files and cross-schema restores refuse loudly. Returns
    the committed version."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.restoreDelta(spark._jsparkSession, path, int(version))


def rollback_iceberg(spark, path, snapshot_id):
    """Roll an Iceberg table back to a RETAINED snapshot (Iceberg's
    set_current_snapshot): one metadata-only commit, zero data I/O; the
    rolled-over history stays time-travelable until expiry. Returns the
    published metadata version."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.rollbackIceberg(spark._jsparkSession, path,
                              int(snapshot_id))


def tag_iceberg(spark, path, name, snapshot_id=None):
    """TAG a retained snapshot (default: current) — an immutable named
    pointer that PINS its snapshot against expire_iceberg_snapshots
    while the tag lives. Returns the tagged snapshot id."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.tagIceberg(spark._jsparkSession, path, name,
                         _opt_long(spark, snapshot_id))


def branch_iceberg(spark, path, name, snapshot_id=None):
    """Create a BRANCH ref at a retained snapshot (default: current) —
    a durable named read point, pinned against expiry like a tag.
    Returns the snapshot id."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.branchIceberg(spark._jsparkSession, path, name,
                            _opt_long(spark, snapshot_id))


def drop_iceberg_ref(spark, path, name):
    """Drop a tag/branch ref; its snapshot stays retained until the
    next expire_iceberg_snapshots."""
    ix = spark._jvm.graft.sources.IcebergInterop
    ix.dropIcebergRef(spark._jsparkSession, path, name)


def iceberg_ref_snapshot(spark, path, name):
    """Resolve a ref name to its snapshot id ('main' = current). Use
    with read_iceberg(spark, path, snapshot_id=...) for tag reads."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.icebergRefSnapshot(spark._jsparkSession, path, name)


def remove_orphan_iceberg_files(spark, path,
                                older_than_ms=3 * 24 * 3600 * 1000):
    """Delete data-area files referenced by NO retained snapshot and
    older than older_than_ms (Iceberg's remove_orphan_files; the age
    gate protects in-flight writers). metadata/ is never touched;
    dual-published roots refuse. Returns the number deleted."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.removeOrphanIcebergFiles(spark._jsparkSession, path,
                                       int(older_than_ms))


def delta_history(spark, path):
    """DESCRIBE HISTORY of a foreign Delta table: one row per retained
    commit, newest first — version, commit timestamp (monotonically
    adjusted), operation, engine_info."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return DataFrame(dx.deltaHistory(spark._jsparkSession, path), spark)


def delta_version_at_timestamp(spark, path, ts_millis):
    """The Delta version current at a wall-clock instant (TIMESTAMP AS
    OF): the last retained commit at-or-before ts_millis. Before the
    earliest retained commit refuses."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.deltaVersionAtTimestamp(spark._jsparkSession, path,
                                      int(ts_millis))


def read_delta_as_of_timestamp(spark, path, ts_millis):
    """TIMESTAMP AS OF read of a foreign Delta table."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return DataFrame(dx.readDeltaAsOfTimestamp(
        spark._jsparkSession, path, int(ts_millis)), spark)


def iceberg_history(spark, path):
    """Snapshot history of a file-based Iceberg table, newest first:
    snapshot_id, parent_id, timestamp_ms, operation, is_current."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return DataFrame(ix.icebergHistory(spark._jsparkSession, path), spark)


def iceberg_snapshot_at_timestamp(spark, path, ts_millis):
    """The snapshot current at a wall-clock instant per the table's
    snapshot log (rollbacks append entries, so this resolves to what a
    reader actually saw then)."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.icebergSnapshotAtTimestamp(spark._jsparkSession, path,
                                         int(ts_millis))


def read_iceberg_as_of_timestamp(spark, path, ts_millis):
    """TIMESTAMP AS OF read of a file-based Iceberg table."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return DataFrame(ix.readIcebergAsOfTimestamp(
        spark._jsparkSession, path, int(ts_millis)), spark)


def _smap(spark, d):
    m = spark._jvm.scala.collection.immutable.HashMap()
    for k, v in (d or {}).items():
        m = m.updated(k, v)
    return m


def add_column_to_delta(spark, path, name, ddl_type):
    """ALTER TABLE ... ADD COLUMN on a foreign Delta table: one
    metadata-only commit appending a NULLABLE column (ddl_type is a DDL
    string like 'bigint'); old files null-fill it, appends must then
    include it. Column-mapped tables get a fresh mapping id + physical
    name. Returns the committed version."""
    jvm = spark._jvm
    dt = jvm.org.apache.spark.sql.types.DataType.fromDDL(ddl_type)
    dx = jvm.graft.sources.DeltaInterop
    return dx.addColumnToDelta(spark._jsparkSession, path, name, dt)


def set_delta_properties(spark, path, props):
    """SET TBLPROPERTIES on a foreign Delta table (one metadata-only
    commit; identity/schema/layout preserved)."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.setDeltaProperties(spark._jsparkSession, path,
                                 _smap(spark, props))


def unset_delta_properties(spark, path, keys):
    """UNSET TBLPROPERTIES on a foreign Delta table."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.unsetDeltaProperties(spark._jsparkSession, path,
                                   _seq(spark, keys))


def add_column_to_iceberg(spark, path, name, ddl_type):
    """ALTER TABLE ... ADD COLUMN on a file-based Iceberg table: one
    metadata-only commit appending an OPTIONAL primitive column with
    the next field id. Returns the published metadata version."""
    jvm = spark._jvm
    dt = jvm.org.apache.spark.sql.types.DataType.fromDDL(ddl_type)
    ix = jvm.graft.sources.IcebergInterop
    return ix.addColumnToIceberg(spark._jsparkSession, path, name, dt)


def rename_iceberg_column(spark, path, old, new):
    """ALTER TABLE ... RENAME COLUMN on a file-based Iceberg table —
    field ids never change, so every existing data file keeps reading
    under the new name."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.renameIcebergColumn(spark._jsparkSession, path, old, new)


def set_iceberg_properties(spark, path, props):
    """SET TBLPROPERTIES on a file-based Iceberg table."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.setIcebergProperties(spark._jsparkSession, path,
                                   _smap(spark, props))


def remove_iceberg_properties(spark, path, keys):
    """UNSET TBLPROPERTIES on a file-based Iceberg table."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.removeIcebergProperties(spark._jsparkSession, path,
                                      _seq(spark, keys))


def convert_delta_to_iceberg(spark, path):
    """UniForm-shape dual publication: write Iceberg metadata INSIDE a
    foreign Delta table's root, listing the current snapshot's live
    files (identity partition spec + name mapping). Zero data copied;
    the directory then reads as both formats. Refuses deletion-vector
    carriers and column-mapped tables. Returns the Iceberg snapshot."""
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.convertDeltaToIceberg(spark._jsparkSession, path)


def convert_iceberg_to_delta(spark, path):
    """Reverse UniForm: write a Delta log INSIDE a file-based Iceberg
    table's root listing the current snapshot's live files (partition
    values recovered from the manifests). Refuses live merge-on-read
    deletes and renamed histories. Returns the Delta version (0)."""
    dx = spark._jvm.graft.sources.DeltaInterop
    return dx.convertIcebergToDelta(spark._jsparkSession, path)


def _obj_array(spark, items):
    gw = spark.sparkContext._gateway
    arr = gw.new_array(gw.jvm.java.lang.Object, len(items))
    for i, it in enumerate(items):
        arr[i] = it
    return arr


def _str_array(spark, items):
    gw = spark.sparkContext._gateway
    arr = gw.new_array(gw.jvm.java.lang.String, len(items))
    for i, it in enumerate(items):
        arr[i] = it
    return arr


def merge_source(spark, name):
    """The SOURCE row's `name` column inside merge-clause conditions
    and SET expressions (bare names are the TARGET row's values)."""
    from pyspark.sql.column import Column as PyColumn
    return PyColumn(spark._jvm.graft.sources.MergeBridge.source(name))


def _build_clauses(spark, clauses, family):
    """clauses: list of dicts — {"action": "update"|"delete"|"insert",
    "condition": Column|None, "set": {name: Column}}."""
    mb = spark._jvm.graft.sources.MergeBridge
    out = []
    for c in clauses or []:
        action = c.get("action")
        cond = c.get("condition")
        jcond = cond._jc if cond is not None else None
        set_items = list((c.get("set") or {}).items())
        names = _str_array(spark, [k for k, _ in set_items])
        values = _obj_array(spark, [v._jc for _, v in set_items])
        if family == "matched" and action == "update":
            out.append(mb.matchedUpdate(jcond, names, values))
        elif family == "matched" and action == "delete":
            out.append(mb.matchedDelete(jcond))
        elif family == "not_matched" and action == "insert":
            out.append(mb.notMatchedInsert(jcond))
        elif family == "by_source" and action == "update":
            out.append(mb.bySourceUpdate(jcond, names, values))
        elif family == "by_source" and action == "delete":
            out.append(mb.bySourceDelete(jcond))
        else:
            raise ValueError(
                "unsupported %s clause action: %r" % (family, action))
    return _obj_array(spark, out)


def merge_delta_clauses(source_df, path, keys, matched=None,
                        not_matched=None, not_matched_by_source=None):
    """FULL-CLAUSE MERGE into a foreign Delta table: conditional WHEN
    MATCHED UPDATE (partial SET via {"set": {...}}, source row reached
    with merge_source) / DELETE, conditional NOT MATCHED INSERT, and
    NOT MATCHED BY SOURCE UPDATE/DELETE (full-sync). Each clause is a
    dict: {"action": ..., "condition": Column|None, "set": {...}}.
    First matching clause of a family wins, like SQL MERGE. Returns
    the committed Delta version."""
    spark = source_df.sparkSession
    mb = spark._jvm.graft.sources.MergeBridge
    return mb.runDelta(
        source_df._jdf, path, _str_array(spark, list(keys)),
        _build_clauses(spark, matched, "matched"),
        _build_clauses(spark, not_matched, "not_matched"),
        _build_clauses(spark, not_matched_by_source, "by_source"))


def merge_iceberg_clauses(source_df, path, keys, matched=None,
                          not_matched=None, not_matched_by_source=None):
    """FULL-CLAUSE MERGE into a file-based Iceberg v2/v3 table — the
    merge_delta_clauses semantics in ONE atomic merge-on-read
    overwrite snapshot (v2: position deletes; v3: merged deletion
    vectors). Returns the committed snapshot id."""
    spark = source_df.sparkSession
    mb = spark._jvm.graft.sources.MergeBridge
    return mb.runIceberg(
        source_df._jdf, path, _str_array(spark, list(keys)),
        _build_clauses(spark, matched, "matched"),
        _build_clauses(spark, not_matched, "not_matched"),
        _build_clauses(spark, not_matched_by_source, "by_source"))


def write_iceberg_statistics(spark, path, columns=None, nominal=4096):
    """Publish a Puffin table-statistics file for the CURRENT snapshot
    (one apache-datasketches-theta-v1 NDV sketch blob per eligible
    column) and commit the spec's `statistics` metadata entry, so a
    stock engine's CBO reads graft-computed NDVs. Returns
    {column: ndv estimate}."""
    ix = spark._jvm.graft.sources.IcebergInterop
    cols = _seq(spark, columns or [])
    jmap = ix.writeIcebergStatistics(spark._jsparkSession, path, cols,
                                     nominal)
    out = {}
    it = jmap.iterator()
    while it.hasNext():
        e = it.next()
        out[e._1()] = e._2()
    return out


def read_iceberg_statistics_ndv(spark, path):
    """Read the current snapshot's published NDVs back — decoded from
    the theta sketches themselves, through the Puffin footer."""
    ix = spark._jvm.graft.sources.IcebergInterop
    jmap = ix.readIcebergStatisticsNdv(spark._jsparkSession, path)
    out = {}
    it = jmap.iterator()
    while it.hasNext():
        e = it.next()
        out[e._1()] = e._2()
    return out


def delete_from_iceberg_by_key(key_rows_df, path):
    """KEYED DELETE on a file-based Iceberg v2 table as a pure
    EQUALITY-DELETE commit (content 2, the Flink-CDC shape): every
    table row equal to some key row on ALL the key columns is struck,
    with NO detection scan — cost is the key rows themselves. A later
    re-insert of the same key survives (the spec's sequence-number
    guard). Returns the committed snapshot id."""
    spark = key_rows_df.sparkSession
    ix = spark._jvm.graft.sources.IcebergInterop
    return ix.deleteFromIcebergByKey(key_rows_df._jdf, path)


def read_iceberg_filtered(spark, path, condition_col):
    """Filtered Iceberg read with MANIFEST-LEVEL file skipping: the
    condition applies as a normal filter AND its AND-conjuncts prune
    the planned file list by each manifest entry's column bounds before
    any file opens — O(candidate files) planning on bounds-carrying
    tables, on top of parquet row-group skipping."""
    from pyspark.sql import DataFrame
    ix = spark._jvm.graft.sources.IcebergInterop
    return DataFrame(ix.readIcebergFiltered(
        spark._jsparkSession, path, condition_col._jc), spark)


def read_delta_filtered(spark, path, condition_col):
    """Filtered Delta read with PER-FILE stats skipping: the condition
    applies as a normal filter AND its AND-conjuncts prune the planned
    file list by each add action's stats min/max before any file opens
    — O(candidate files) planning on stats-carrying tables."""
    from pyspark.sql import DataFrame
    dx = spark._jvm.graft.sources.DeltaInterop
    return DataFrame(dx.readDeltaFiltered(
        spark._jsparkSession, path, condition_col._jc), spark)
