package graft.storage

import java.nio.charset.StandardCharsets
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/** Table options mirroring the reference's FDW options
  * (`/root/reference/cstore_fdw.h:26-46`, validator
  * `cstore_fdw.c:1273-1340`).
  *
  * - `compression`: `none | snappy | zstd | gzip` (reference: `none | pglz`,
  *   `cstore_fdw.h:43-46`; parquet codecs are the Spark-native superset —
  *   BASELINE.md row 3 shows zstd beating pglz).
  * - `stripeRowCount`: rows per stripe → parquet row-group row limit
  *   (default 150,000, bounds 1,000–10,000,000 — `cstore_fdw.h:34,38-39`).
  * - `blockRowCount`: rows per block → parquet page row limit (default
  *   10,000, bounds 1,000–100,000 — `cstore_fdw.h:35,40-41`).
  * - `sortBy`: cluster each written file on these columns (single-key
  *   skip-index locality — reference `README.md:282-294`).
  * - `zorderBy`: cluster each batch on the interleaved-bit Z-value of
  *   these columns instead, so the file-level zone maps stay tight on
  *   EVERY listed column, not just a prefix — multi-dimensional file
  *   pruning the reference's single-sort load order can't give.
  * - `bloomFilterColumns`: write parquet bloom filters for these
  *   columns — row-group-level point-lookup skipping on high-cardinality
  *   columns whose min/max ranges are too wide for zone maps.
  * - `bucketBy`/`bucketCount`: hash-bucket every written file on one
  *   column — each data file holds rows of exactly one bucket
  *   (`bucket = floorMod(key, n)` for integral keys, `floorMod(crc32(utf8),
  *   n)` for strings; null keys land in bucket 0). Two graft tables
  *   bucketed the same way join WITHOUT a shuffle: the scan reports
  *   `KeyGroupedPartitioning` and Spark plans a storage-partitioned join
  *   (enable `spark.sql.sources.v2.bucketing.enabled`) — at 100 TB the
  *   fact-fact join stops being an exchange of the whole table. Every
  *   rewrite path (append, compaction, COW DML) routes rows by the same
  *   value-deterministic function, so the invariant survives maintenance.
  */
final case class GraftTableOptions(
    compression: String = "zstd",
    stripeRowCount: Long = 150000L,
    blockRowCount: Long = 10000L,
    sortBy: Seq[String] = Seq.empty,
    zorderBy: Seq[String] = Seq.empty,
    bloomFilterColumns: Seq[String] = Seq.empty,
    bucketBy: Seq[String] = Seq.empty,
    bucketCount: Int = 0,
    // DELETE strategy: "copy-on-write" rewrites every touched file (read
    // cost zero afterwards); "merge-on-read" records deleted positions in
    // per-file deletion-vector sidecars (delete cost ∝ rows deleted — the
    // sparse-delete path at 100 TB), with reads filtering dead positions
    // until a rewrite materializes them. Settable via ALTER.
    deleteMode: String = "copy-on-write",
    // CHECK constraints: name -> boolean SQL expression over the table's
    // columns. Enforced at the COMMIT boundary of every write that
    // introduces row VALUES (append/COPY/stream/INSERT, COW UPDATE/MERGE,
    // delta DML, MOR update) by one scan of the staged files — cost ∝
    // data written, never table size; a violating write commits NOTHING.
    // SQL CHECK semantics: NULL passes, only FALSE violates. Managed via
    // `check.<name>` table properties; adding one to a non-empty table
    // validates existing data first (Delta's ADD CONSTRAINT contract).
    checks: Map[String, String] = Map.empty,
    // Ingest hygiene: when ≥ this many committed files are below the
    // small-file threshold after an append, the appender runs an
    // incremental compactSmall OUTSIDE its commit (opportunistic,
    // best-effort — a compaction failure never fails the append). 0 =
    // disabled (default). At 100 TB this keeps a trickle ingest from
    // degenerating into millions of KB files without any scheduled
    // maintenance job — the tail is folded as it forms, cost ∝ tail.
    autoCompactMinFiles: Int = 0) {

  def validate(): Unit = {
    require(autoCompactMinFiles == 0 || autoCompactMinFiles >= 2,
      s"auto_compact_min_files must be 0 (disabled) or >= 2, got $autoCompactMinFiles")
    checks.foreach { case (name, e) =>
      require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '_'), s"invalid CHECK constraint name '$name'")
      require(e.trim.nonEmpty, s"CHECK constraint '$name' has an empty expression")
    }
    require(deleteMode == "copy-on-write" || deleteMode == "merge-on-read",
      s"invalid delete_mode '$deleteMode' (copy-on-write | merge-on-read)")
    require(GraftTableOptions.codecs.contains(compression),
      s"invalid compression '$compression' (one of ${GraftTableOptions.codecs.mkString(", ")})")
    // Bounds from cstore_fdw.h:38-41.
    require(stripeRowCount >= 1000L && stripeRowCount <= 10000000L,
      s"stripe_row_count $stripeRowCount out of range [1000, 10000000]")
    require(blockRowCount >= 1000L && blockRowCount <= 100000L,
      s"block_row_count $blockRowCount out of range [1000, 100000]")
    require(blockRowCount <= stripeRowCount,
      s"block_row_count $blockRowCount exceeds stripe_row_count $stripeRowCount")
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sort_by and zorder_by are mutually exclusive clustering policies")
    require(zorderBy.isEmpty || zorderBy.size >= 2,
      "zorder_by needs at least two columns (use sort_by for one)")
    require(bucketBy.size <= 1,
      "bucket_by takes exactly one column")
    require(bucketBy.isEmpty == (bucketCount == 0),
      "bucket_by and bucket_count must be set together")
    require(bucketCount == 0 || (bucketCount >= 2 && bucketCount <= 65536),
      s"bucket_count $bucketCount out of range [2, 65536]")
    require(bucketBy.isEmpty || zorderBy.isEmpty,
      "bucket_by and zorder_by are mutually exclusive (sort_by composes: rows sort within each bucket)")
  }
}

object GraftTableOptions {
  val codecs = Set("none", "uncompressed", "snappy", "zstd", "gzip", "lz4")
}

/** A columnar analytics table: append-only parquet data + a small JSON
  * metadata file, replacing the reference's data file + `.footer` pair
  * (`cstore_fdw.h:55`, `README.md:127-133`).
  *
  * Semantics reproduced from the reference:
  * - append-only loads; no UPDATE/DELETE (`README.md:157-158`)
  * - atomic visibility via metadata write-to-temp + rename
  *   (`cstore_writer.c:344-357`) — readers list only files recorded in the
  *   committed metadata, so a crashed writer leaves no torn reads
  * - empty tables are queryable right after create
  *   (`cstore_fdw.c:218-271`, `input/create.source:47-49`)
  * - exact row count from footers without touching data
  *   (`cstore_reader.c:401-434`)
  * - `ALTER TABLE ADD COLUMN [DEFAULT const]` / `DROP COLUMN` without
  *   rewriting old stripes: reader synthesizes default/NULL
  *   (`cstore_reader.c:1224-1292`)
  * - `ALTER COLUMN TYPE` only for implicitly coercible types
  *   (`cstore_fdw.c:717-769`)
  *
  * The data dir is any Hadoop-FS URI (`file:`, `hdfs:`, `s3a:`, …):
  * every metadata, listing, size, and delete operation goes through the
  * `FileSystem` resolved from the location, and each append writes new
  * files (one per shuffle partition), so writers never rewrite history
  * and readers scale by file-level parallelism. Cross-process writer
  * exclusion uses an OS file lock for `file:` tables; on filesystems
  * without POSIX locks (object stores) concurrent writers from
  * *different* processes must be serialized externally — the same
  * single-writer caveat the reference documents (`TODO.md:25-28`) —
  * while writers within one JVM are always serialized by the per-table
  * monitor.
  */
final class GraftTable private (
    val spark: SparkSession,
    val location: String,
    private var meta: GraftTable.Meta) {

  import GraftTable._

  def schema: StructType = meta.currentSchema
  def options: GraftTableOptions = meta.options

  /** Dropped-column tombstones pending a full rewrite (see the
    * `droppedCols` field doc). */
  def droppedColumns: Seq[String] = meta.droppedCols

  /** Columns some committed file may physically lack (evolved or
    * no-default-ADDed) — the set that holds footer aggregate pushdown
    * refused until a full rewrite. */
  def pendingEvolutionColumns: Seq[String] =
    meta.defaults.collect { case (k, null) => k }.toSeq.sorted

  /** Parquet codec name for this table's `compression` option — for
    * writers outside the storage package (the SQL row-level write). */
  def parquetCodec: String = GraftTable.codecName(meta.options.compression)
  def defaults: Map[String, Any] = meta.defaults

  /** True when any column may be SYNTHESIZED at read time for files
    * that physically lack it (post-ALTER defaults) — footer-statistic
    * shortcuts (aggregate pushdown) are unsound then. */
  def hasSynthesizedColumns: Boolean = meta.defaults.nonEmpty

  // ---- read path -----------------------------------------------------

  /** DataFrame over the table, with schema-evolution projection.
    *
    * ADD COLUMN defaults are synthesized exactly like the reference's
    * reader (`cstore_reader.c:1224-1292`): only stripes that PREDATE the
    * ALTER — i.e. files physically lacking the column — get the default;
    * rows appended afterwards keep their stored values, including
    * explicit NULLs. The mechanism is Spark's existence-default schema
    * metadata (`EXISTS_DEFAULT`), which the parquet reader consults only
    * when a requested column is absent from a file's footer, so the
    * pre/post-ALTER distinction is the physical presence of the column —
    * no per-row expression and no watermark bookkeeping needed. The same
    * enriched schema feeds the DSv2 scan, keeping both read paths
    * identical. */
  def read(): DataFrame = {
    val files = dataFiles()
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        meta.currentSchema)
    } else {
      applyDvs(spark.read.schema(readSchema()).parquet(files: _*), meta.dvs)
        .select(meta.currentSchema.fields.map(f =>
          col(f.name).as(f.name, f.metadata)).toIndexedSeq: _*)
    }
  }

  /** Filter merge-on-read deleted positions out of a raw parquet read.
    * Must run BEFORE any projection — the `_metadata` struct the filter
    * reads resolves only on the source relation. A no-op (returns `df`
    * unchanged, no filter in the plan) when no read file carries a
    * vector. */
  private def applyDvs(df: DataFrame, dvs: Map[String, GraftTable.DvEntry]): DataFrame =
    DeletionVectors.applyDvs(df, GraftTable.dvAbsByPath(location, dvs),
      new org.apache.spark.util.SerializableConfiguration(GraftTable.hadoopConf()))

  /** Current schema with existence-default metadata attached — the schema
    * both read paths (Scala API and DSv2 scan) must use. */
  def readSchema(): StructType =
    GraftTable.withExistenceDefaults(meta.currentSchema, meta.defaults)

  // ---- snapshot reads (time travel) ----------------------------------
  //
  // Every metadata commit archives its state under _graft_history, so
  // any retained version is a consistent snapshot: its file list and
  // schema as of that commit. Data files are immutable once committed
  // (appends add batch dirs; compact writes NEW files and only vacuum
  // reclaims), so a snapshot stays readable until expireHistory +
  // vacuum reclaim it — the Delta/Iceberg retention model, absent in
  // the reference (whose footer rename keeps exactly one version).

  /** Current commit version. */
  def version: Long = meta.version

  /** Archived (version, rowCount, fileCount) triples, ascending. A
    * snapshot NEWER than the current pointer is a crashed commit's
    * orphan (history is written before the pointer rename) — it was
    * never committed, so it is not listed and cannot be read. */
  def history(): Seq[(Long, Long, Int)] = {
    refreshMeta()
    GraftTable.historyVersions(location).filter(_ <= meta.version).map { v =>
      val m = GraftTable.readHistoryMeta(location, v)
      (v, m.rowCount, m.files.size)
    }
  }

  /** Read the table AS OF `version` — schema and files of that commit. */
  def readVersion(version: Long): DataFrame = {
    refreshMeta()
    require(version <= meta.version,
      s"version $version was never committed (current is ${meta.version}; " +
        "a newer archive file is a crashed commit's orphan)")
    val m = GraftTable.readHistoryMeta(location, version)
    requireSnapshotReadable(version, m)
    val files = m.files.map(f => s"$location/$f")
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        m.currentSchema)
    } else {
      applyDvs(
        spark.read.schema(GraftTable.withExistenceDefaults(m.currentSchema, m.defaults))
          .parquet(files: _*),
        m.dvs)
        .select(m.currentSchema.fields.map(f =>
          col(f.name).as(f.name, f.metadata)).toIndexedSeq: _*)
    }
  }

  /** Every data file a snapshot references must still exist — reading
    * a snapshot whose files were reclaimed (vacuum after expiry, or
    * truncate) fails with this clear error, on the Scala and the SQL
    * (catalog/DSv2) paths alike. */
  private[graft] def requireSnapshotReadable(version: Long,
      m: GraftTable.Meta): Unit = {
    val (fs, _) = GraftTable.fsAndPath(location)
    (m.files ++ m.dvs.values.map(_.path)).map(f => s"$location/$f")
      .find(f => !fs.exists(new HPath(f))).foreach { gone =>
        throw new IllegalStateException(
          s"snapshot v$version references $gone, reclaimed by vacuum/truncate — " +
            "expired snapshots cannot be read")
      }
  }

  /** Drop archived snapshots, keeping the newest `keepLast` (the current
    * version always survives). Returns the number expired. After
    * expiry, [[vacuum]] may reclaim data files only they referenced. */
  def expireHistory(keepLast: Int): Int = withTableLock {
    expireHistoryLocked(keepLast, None)
  }

  /** Shared expiry body; runs UNDER the table lock. When `olderThanMs`
    * is given, the age cutoff is translated to a keep-last window HERE,
    * against the same history listing the deletes will run over — were
    * it computed outside the lock (as age-based expiry once did), a
    * commit landing between the scan and the lock would shift the
    * window and expire a snapshot still inside the requested age. */
  private def expireHistoryLocked(keepLastReq: Int,
      olderThanMs: Option[Long]): Int = {
    refreshMeta()
    // ONE history listing serves both the age→keepLast translation and
    // the expiry partition below — on an object store a LIST is a
    // network round-trip and this all runs under the table lock
    val (committed, newer) =
      GraftTable.historyVersions(location).partition(_ <= meta.version)
    val (fs, _) = GraftTable.fsAndPath(location)
    val keepLast = olderThanMs match {
      case None => keepLastReq
      case Some(ageMs) =>
        val cutoff = System.currentTimeMillis() - ageMs
        // count the OLD prefix (history ages monotonically with version:
        // claims are ordered, and mtime is the claim time). takeWhile
        // stops at the FIRST young-looking archive, so writer clock skew
        // can only make expiry conservative (keep more), never expire a
        // snapshot younger than the cutoff.
        val oldCount = committed.takeWhile { v =>
          try fs.getFileStatus(GraftTable.historyPath(location, v))
            .getModificationTime < cutoff
          catch { case _: Exception => false }
        }.size
        math.max(1, committed.size - oldCount)
    }
    require(keepLast >= 1, "keepLast must be >= 1")
    // A snapshot newer than the refreshed head is NOT automatically
    // residue under the CAS protocol: a parseable one is a commit that
    // landed after our refresh (possible on lock-less filesystems where
    // the table lock doesn't reach other processes) and must be left
    // alone; only an UNPARSEABLE-and-stale file is a crashed writer's
    // partial claim — drop it so it neither counts toward keepLast nor
    // pins its batch dir forever.
    // orphan claims go through the LEASED reclaim (re-check inside the
    // lease), never a bare check→delete: between our staleness check
    // and the delete another writer may have reclaimed the version and
    // committed a real snapshot there — deleting it would lose that
    // commit and leave a hole that pins lagging readers forever
    val reclaimed = newer.count { v =>
      val p = GraftTable.historyPath(location, v)
      GraftTable.isStaleBrokenClaim(fs, p) && GraftTable.reclaimStaleClaim(fs, p)
    }
    // The pointer file is a best-effort read CACHE and may lag the log
    // (pointer writes are swallowed on failure in commitMutation).
    // Expiring a version above a lagging pointer punches a hole
    // walkToHead cannot cross: readers silently regress to the stale
    // pointer state, and a commit rebased on that state re-claims an
    // expired version number, forking the log. So: refresh the pointer
    // to head FIRST (a failure aborts expiry — nothing deleted yet),
    // then never expire at or above the version the pointer file
    // actually records.
    GraftTable.writeMetaAtomic(location, meta)
    val pointerV = GraftTable.pointerVersion(location).getOrElse(meta.version)
    val expire = committed.dropRight(keepLast)
      .filter(v => v != meta.version && v < pointerV)
    expire.foreach(v => fs.delete(GraftTable.historyPath(location, v), false))
    expire.size + reclaimed
  }

  /** Age-based retention — the form an operator actually schedules
    * ("keep a week of snapshots"): expire every snapshot whose COMMIT
    * TIME (the archive file's modification time, assigned at the
    * version claim) is older than `olderThanMs` before now. The newest
    * snapshot and the current version always survive, whatever their
    * age, so the table always has at least one restorable state; the
    * pointer-refresh and stale-claim disciplines are [[expireHistory]]'s
    * (this routes through it by computing the equivalent keepLast).
    * Returns the number expired. */
  def expireHistoryOlderThan(olderThanMs: Long): Int = withTableLock {
    require(olderThanMs >= 0, "olderThanMs must be >= 0")
    // the cutoff→keepLast translation runs inside expireHistoryLocked,
    // under the same lock acquisition as the deletes — a commit cannot
    // land between the age scan and the expiry window it produced
    expireHistoryLocked(1, Some(olderThanMs))
  }

  /** RESTORE the table to the state of snapshot `toVersion` — the
    * rollback the snapshot archive makes one commit away (Delta's
    * RESTORE shape; the reference's footer rename keeps exactly one
    * version, so its only rollback is PG transaction abort before the
    * rename). History is never rewritten: restore is a NEW commit whose
    * schema/options/files/zone-maps/deletion-vectors are the snapshot's,
    * so every pre-restore state stays time-travelable and a mistaken
    * restore is itself restorable. Two fields survive from the CURRENT
    * state rather than rolling back: `nextBatchId` (monotone, so
    * post-restore appends can never collide with batch dirs written
    * after the snapshot — those files stay on disk for the retained
    * newer snapshots) and `streamTxn` (the exactly-once ingest
    * watermark; rolling it back would re-admit batches a restarted
    * stream's checkpoint already committed, i.e. duplicates).
    *
    * Stream visibility: a restore that RESURRECTS rows — re-introduces
    * a file some intermediate commit removed, or rolls a deletion
    * vector back to a smaller cardinality — is marked `change_commit`,
    * because the append-log contract cannot represent re-appearing rows
    * (the file stream fails on it with guidance, or skips it under
    * `skipChangeCommits`). A pure rollback of appends (snapshot files ⊆
    * current files, vectors unchanged) commits as an ordinary
    * row-shrinking commit, which the stream correctly emits nothing
    * for. Returns the new current version. */
  def restore(toVersion: Long): Long = withTableLock {
    refreshMeta()
    require(toVersion <= meta.version,
      s"cannot restore to v$toVersion: never committed (current is ${meta.version})")
    val m = GraftTable.readHistoryMeta(location, toVersion)
    requireSnapshotReadable(toVersion, m)
    commitMutation { cur =>
      // Resurrection test must compare vector IDENTITY, not cardinality:
      // two sidecars of equal cardinality can hold different position
      // sets (delete {1,2} vs {1,9}), and restoring across them
      // resurrects a row. A differing entry always marks the commit —
      // conservative is safe (the stream fails/skips); missing a
      // resurrection is not. An IDENTICAL entry (same sidecar path)
      // provably serves the same live set.
      val resurrects = m.files.exists { f =>
        !cur.files.contains(f) || m.dvs.get(f) != cur.dvs.get(f)
      }
      cur.copy(
        currentSchema = m.currentSchema,
        options = m.options,
        files = m.files,
        rowCount = m.rowCount,
        defaults = m.defaults,
        fileStats = m.fileStats,
        fileLens = m.fileLens,
        dvs = m.dvs,
        droppedCols = m.droppedCols,
        changeCommit = resurrects)
    }
    meta.version
  }

  /** Exact row count from parquet footers only — no data pages touched
    * (`cstore_reader.c:401-434` CStoreTableRowCount). Spark's parquet
    * scan of count() already reads only footers; this is the direct
    * metadata variant for catalog use. */
  def rowCountFromMetadata(): Long = meta.rowCount

  /** Committed data files as LOCATION-RELATIVE paths — the form the
    * metadata, zone maps, and deletion vectors key on. */
  def relFiles: Seq[String] = meta.files

  /** Per-segment manifest introspection — the metadata layer's sibling
    * of the `files` layout-health report: for each live segment, its
    * added/removed file counts, the count of FILES carrying stats
    * entries, how many of those are DEAD (stranded by rewrites — the
    * same file grain as the compaction trigger, so dead/stats IS the
    * trigger's fraction), and on-disk bytes. Driver-side and bounded by
    * the segment-count cap; empty for inline (≤ InlineStatsMax files)
    * tables. Surfaced as `CALL g.system.manifest('db.t')`. */
  def manifestReport(): Seq[(String, Long, Long, Long, Long, Long)] = {
    refreshMeta()
    val (fs, _) = GraftTable.fsAndPath(location)
    val fileSet = meta.files.toSet
    meta.manifest.map { rel =>
      val seg = GraftTable.readSegment(location, rel)
      val bytes = fs.getFileStatus(new HPath(s"$location/$rel")).getLen
      (rel, seg.added.size.toLong, seg.removed.size.toLong,
        seg.stats.size.toLong,
        seg.stats.keysIterator.count(!fileSet(_)).toLong, bytes)
    }
  }

  /** Footer row count of one committed file (zone-map cache when
    * available, else one footer read) — feeds the `files` introspection
    * procedure. */
  def fileRowCount(rel: String): Long =
    meta.fileStats.get(rel).flatMap(_.values.headOption).map(_.rows)
      .getOrElse(footerInfo(s"$location/$rel")._1)

  /** Rows masked by merge-on-read deletion vectors — still PHYSICALLY
    * present in committed files (a rewrite reclaims them) but already
    * excluded from [[rowCountFromMetadata]], which is LIVE (MOR deletes
    * decrement it): physical rows = rowCountFromMetadata() + this.
    * Metadata only, no scan. */
  def deletedRowCount(): Long = meta.dvs.values.map(_.card).sum

  /** The table's declared `sort_by` clustering keys (empty =
    * unclustered) — lets maintenance callers decide whether
    * [[compactOverlapping]] applies without trial-and-error. */
  def clusteredBy: Seq[String] = meta.options.sortBy

  /** On-disk bytes of committed data + metadata, the
    * `cstore_table_size(regclass)` UDF (`cstore_fdw.c:1183-1229`). Data
    * file bytes come from the manifest's recorded lengths; only the
    * deletion-vector sidecars and the pointer file are stat'ed. */
  def tableSize(): Long = {
    val (fs, _) = fsAndPath(location)
    val dvBytes = meta.dvs.values
      .map(e => fs.getFileStatus(new HPath(s"$location/${e.path}")).getLen).sum
    val metaBytes = fs.getFileStatus(metaPath(location)).getLen
    committedFileLens.map(_._2).sum + dvBytes + metaBytes
  }

  // ---- write path ----------------------------------------------------

  /** Batch append (reference write path `cstore_writer.c:210-370`):
    * buffered columnar write with per-block stats + compression — all
    * native to the parquet writer; stripe/block sizing maps to row-group/
    * page row limits. Returns rows written (COPY returns a row count,
    * `cstore_fdw.c:313-327`).
    *
    * Writers are serialized by a per-table lock — a JVM monitor plus an
    * OS file lock on the table directory — the reference's table-level
    * writer lock (`cstore_fdw.c:560-564`). Metadata is re-read under the
    * lock, and batch directories carry a random suffix, so concurrent
    * appends from separate GraftTable instances (e.g. two DSv2 INSERTs,
    * or two driver processes) never clobber each other's files or drop
    * each other's committed file lists. The row count comes from the
    * parquet footers just written — no second scan of the data. */
  def append(df: DataFrame): Long = {
    val n = appendInternal(df, None)
    maybeAutoCompact()
    n
  }

  /** Schema-EVOLVING append (Delta's `mergeSchema` writer option): any
    * column the incoming batch carries that the table lacks is ADDED —
    * nullable, no default — in the SAME atomic commit as the data files,
    * so "new fields appeared upstream" never silently drops data (the
    * plain [[append]] aligns to the table schema and discards unknown
    * columns, the safe-but-lossy default) and never leaves a
    * schema-without-rows or rows-without-schema intermediate state.
    * Existing rows read the new columns as NULL (parquet missing-column
    * semantics — exactly the reference's post-ADD behavior for stripes
    * written before the ALTER, `cstore_reader.c:1224-1292`). A
    * concurrent ALTER aborts the commit (retryable), same guard as the
    * plain append. */
  def appendMergeSchema(df: DataFrame): Long = {
    val n = appendInternal(df, None, mergeSchema = true)
    maybeAutoCompact()
    n
  }

  /** Streaming append with exactly-once semantics: `(queryId, batchId)`
    * identifies the micro-batch, and a batch at or below the table's
    * committed watermark for that query is a checkpoint REPLAY — it
    * returns 0 without writing. The watermark rides in the same metadata
    * commit as the file list, so "rows visible" and "batch recorded" are
    * one atomic rename and a crash between them is impossible — the
    * transactional half of Structured Streaming's exactly-once contract
    * (the source side is the checkpoint). */
  def appendStream(df: DataFrame, queryId: String, batchId: Long): Long = {
    val n = appendInternal(df, Some((queryId, batchId)))
    maybeAutoCompact()
    n
  }

  /** [[appendStream]] with [[appendMergeSchema]]'s evolution: the form a
    * RESTARTED pipeline uses when its upstream grew a field — the first
    * post-restart batch adds the column atomically with its rows (and
    * with the exactly-once watermark), every later batch is a plain
    * append in the evolved shape. */
  def appendStreamMergeSchema(df: DataFrame, queryId: String, batchId: Long): Long = {
    val n = appendInternal(df, Some((queryId, batchId)), mergeSchema = true)
    maybeAutoCompact()
    n
  }

  /** Opportunistic ingest hygiene (`auto_compact_min_files` option):
    * after an append, when the small-file tail has grown past the
    * threshold, fold it with [[compactSmall]]. Runs OUTSIDE the
    * append's commit — the rows are already durable and visible; the
    * compaction is its own (row-preserving, stream-invisible) commit,
    * and a failure here never fails the append that triggered it. */
  private def maybeAutoCompact(): Unit = {
    val minFiles = meta.options.autoCompactMinFiles
    if (minFiles <= 0) return
    try {
      val (fs, _) = GraftTable.fsAndPath(location)
      // the TRIGGER check stats only the recent tail of the file list
      // (appends extend it at the end, which is where an ingest's small
      // files accumulate) — O(minFiles) metadata RPCs per append, never
      // O(table files); compactSmall's own full sweep runs only when a
      // compaction is actually warranted
      val probe = meta.files.takeRight(math.max(64, 4 * minFiles))
      val smallBytes = 32L << 20
      val smallSizes = probe.map(r =>
        fs.getFileStatus(new HPath(s"$location/$r")).getLen).filter(_ < smallBytes)
      // Count alone is NOT a safe trigger: compactSmall's merged output
      // can itself stay under the threshold (small or trickle-ingest
      // tables), re-count as small, and be re-rewritten on every append
      // — with min_files=2 that is quadratic write amplification over
      // the whole small set. Two sufficient conditions gate the fire:
      //  - graduation: the merged output would clear the small
      //    threshold (sum >= smallBytes) and leave the tail for good; or
      //  - tiering: the tail has at least DOUBLED past its largest
      //    member (sum >= 2*max, the LSM tiered-compaction rule) — a
      //    previous compaction output of size S is only rewritten once
      //    ANOTHER S bytes of newcomers accumulated, so each byte is
      //    rewritten O(log tailBytes) times, never per-append.
      if (smallSizes.size >= minFiles &&
          (smallSizes.sum >= smallBytes || smallSizes.sum >= 2 * smallSizes.max))
        compactSmall()
    } catch { case _: Exception => () } // best-effort maintenance
  }

  /** Forget a streaming pipeline's committed-batch watermark. Needed
    * when a checkpoint directory is WIPED and its path reused: batch
    * numbering restarts at 0, which the stale watermark would otherwise
    * classify as replays and silently skip. */
  def resetStreamTxn(queryId: String): Unit = withTableLock {
    refreshMeta()
    commitMutation(base => base.copy(streamTxn = base.streamTxn - queryId))
  }

  private def appendInternal(df: DataFrame,
      txn: Option[(String, Long)],
      mergeSchema: Boolean = false): Long = withTableLock {
    refreshMeta()
    val replayed = txn.exists { case (qid, bid) =>
      meta.streamTxn.get(qid).exists(_ >= bid)
    }
    if (replayed) 0L else appendLocked(df, txn, mergeSchema)
  }

  /** Write one batch dir with the table's sizing/codec options, sort_by
    * clustering, and the TIMESTAMP_MICROS override. Returns the new dir.
    *
    * Timestamps are written as INT64 TIMESTAMP_MICROS, not Spark's
    * default INT96: INT96 footer stats don't order like instants, so
    * they can never feed the zone maps (the reference skips on
    * timestamps too, `cstore_writer.c:845-849`). prepareWrite reads
    * the session conf, so the flip is visible session-wide for the
    * duration of the write; the table lock only serializes writers of
    * ONE table, so the flip+write+restore is additionally serialized
    * on a process-global lock — otherwise a concurrent graft write to
    * another table could observe the restore mid-job and emit INT96
    * (losing its zone maps). A concurrent NON-graft parquet write on
    * the same session may still observe MICROS instead of INT96; that
    * direction is benign (MICROS is the post-INT96-deprecation
    * default and reads back identically). */
  private def writeBatchDir(df: DataFrame): String = {
    // sort_by option: cluster rows within each written file so the
    // per-page/row-group min-max ranges are narrow - the reference's
    // "skip indexes are most effective on sorted load order" guidance
    // (reference README.md:282-294, BASELINE.md row 5) as a table
    // property instead of a caller obligation. zorder_by instead
    // range-partitions the batch on an interleaved-bit Z-value so the
    // zone maps stay tight on every listed column.
    // bucket_by routes every row to its hash bucket and writes via
    // partitionBy, so each FILE holds exactly one bucket (the dir name
    // carries the id). The route key is a pure function of the column
    // VALUE, so compaction and COW rewrites through this writer re-bucket
    // correctly for free. sort_by composes: rows sort within each bucket.
    val clustered =
      if (meta.options.bucketBy.nonEmpty) {
        val bc = meta.options.bucketBy.head
        val b = GraftTable.bucketIdColumn(
          meta.currentSchema(bc).dataType, col(bc), meta.options.bucketCount)
        df.withColumn(GraftTable.BucketCol, b)
          .repartition(meta.options.bucketCount, col(GraftTable.BucketCol))
          .sortWithinPartitions(
            (GraftTable.BucketCol +: meta.options.sortBy).map(col): _*)
      }
      else if (meta.options.zorderBy.nonEmpty) zorderCluster(df)
      else if (meta.options.sortBy.isEmpty) df
      else df.sortWithinPartitions(meta.options.sortBy.map(col): _*)
    val batchDir = s"$location/data/batch-${meta.nextBatchId}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val hasTs = meta.currentSchema.fields.exists(_.dataType == TimestampType)
    val otsKey = "spark.sql.parquet.outputTimestampType"
    // parquet-mr's per-column bloom-filter switch; readers (Spark's
    // included) consult the filter during row-group elimination, so a
    // point lookup on a high-cardinality column skips row groups whose
    // min/max range is too wide for the zone maps to refute.
    def writeOptions: Map[String, String] = Map(
      "compression" -> codecName(meta.options.compression),
      "parquet.block.size" -> (meta.options.stripeRowCount * 64).toString,
      "parquet.page.row.count.limit" -> meta.options.blockRowCount.toString) ++
      meta.options.bloomFilterColumns.map(c =>
        s"parquet.bloom.filter.enabled#$c" -> "true")
    def runClassic(): Unit = {
      val w = writeOptions.foldLeft(clustered.write) { case (acc, (k, v)) =>
        acc.option(k, v)
      }
      val wp =
        if (meta.options.bucketBy.nonEmpty) w.partitionBy(GraftTable.BucketCol)
        else w
      wp.mode(SaveMode.Overwrite).parquet(batchDir)
    }
    // Tables with a declared-collation column write through
    // [[org.apache.spark.sql.graft.WitnessWrite]]: the SAME parquet
    // write (options, bucket partitioning, committer) plus a
    // WriteTaskStatsTracker harvesting the collation-order witnesses
    // per file IN the write job — removing the second column-pruned
    // read that previously doubled ingest I/O on collated columns
    // (VERDICT r12 "what's wrong" #1). Uncollated tables (the common
    // case) keep the plain DataFrameWriter path. Any failure falls
    // back to the classic write + re-read harvest — slower, never
    // wrong.
    def run(): Unit = {
      val collFields = collatedFields
      if (collFields.isEmpty) runClassic()
      else {
        val collNamesIds = collFields.toSeq.map(f =>
          f.name -> GraftTable.collatedType(f.dataType).get.collationId)
        val partCol =
          if (meta.options.bucketBy.nonEmpty) Some(GraftTable.BucketCol)
          else None
        try {
          pendingWitnesses = org.apache.spark.sql.graft.WitnessWrite
            .writeWithWitnesses(clustered, batchDir, writeOptions, partCol,
              collNamesIds)
        } catch { case scala.util.control.NonFatal(e) =>
          GraftTable.WriteLog.warn(
            s"witness-tracked write failed (${e.getMessage}); falling back " +
              "to the classic write + re-read harvest")
          pendingWitnesses = Map.empty
          val (fs, _) = GraftTable.fsAndPath(batchDir)
          fs.delete(new HPath(batchDir), true)
          runClassic()
        }
      }
    }
    if (hasTs) GraftTable.writeConfLock.synchronized {
      val prevOts = spark.conf.get(otsKey)
      spark.conf.set(otsKey, "TIMESTAMP_MICROS")
      try run() finally spark.conf.set(otsKey, prevOts)
    } else run()
    batchDir
  }

  /** Cluster a batch on the Morton (Z-order) curve of the `zorderBy`
    * columns: each column is bucketed into 2^6 rank buckets by its batch
    * quantiles, bucket bits are interleaved into one Z-value, and the
    * batch is range-partitioned + sorted on it. Each output file then
    * covers a contiguous Z-range — a small hyper-rectangle union — so
    * its min/max zone maps are tight on EVERY Z column and a predicate
    * on any of them file-prunes (single-column sort only serves its
    * prefix). Costs one extra quantile pass over the batch at load time
    * — the skip-index-build tradeoff the reference accepts at load too
    * (`cstore_writer.c:845-849`).
    *
    * The quantile pass re-executes the caller's plan once; callers
    * appending an expensive transformation should persist it first
    * (same eager-input contract as d5's documentation). */
  private def zorderCluster(df: DataFrame): DataFrame = {
    val zcols = meta.options.zorderBy
    val bits = 6
    val buckets = 1 << bits
    // monotone numeric view of each column (quantiles + bucketing must
    // use the same mapping)
    def asNum(c: String): Column = meta.currentSchema(c).dataType match {
      case DateType => col(c).cast("int").cast("double")
      case _ => col(c).cast("double")
    }
    val proj = df.select(zcols.map(c => asNum(c).as(c)): _*)
    val probes = (1 until buckets).map(_.toDouble / buckets).toArray
    val cuts = proj.stat.approxQuantile(zcols.toArray, probes, 0.01)
    val bucketCols = zcols.zip(cuts).map { case (c, bs) =>
      val distinctCuts = bs.distinct.sorted
      if (distinctCuts.isEmpty) lit(0)
      else distinctCuts.map(b => when(asNum(c) >= b, 1).otherwise(0)).reduce(_ + _)
    }
    val n = bucketCols.size
    val z = (for {
      j <- 0 until bits
      (b, i) <- bucketCols.zipWithIndex
    } yield shiftleft(shiftright(b, j).bitwiseAND(lit(1)), j * n + (n - 1 - i)))
      .reduce(_ + _)
    val parts = math.max(1, df.rdd.getNumPartitions)
    df.withColumn("__graft_z", z)
      .repartitionByRange(parts, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
  }

  /** The CHECK-constraint commit gate: one scan of the STAGED files
    * only (cost ∝ data written, never table size) before the metadata
    * commit — a violating row refuses the WHOLE write and nothing
    * becomes visible. SQL CHECK semantics: NULL passes, only FALSE
    * violates. Every path that introduces row values runs through this
    * (append/COPY/stream/INSERT, COW UPDATE/MERGE, the delta DML
    * commit, MOR UPDATE); row-preserving rewrites (compact, recluster,
    * DELETE's carried rows) skip it — their rows already passed. */
  private def enforceChecks(stagedFiles: Seq[String], schema: StructType,
      what: String): Unit = {
    val checks = meta.options.checks
    if (checks.isEmpty || stagedFiles.isEmpty) return
    val df = spark.read.schema(schema).parquet(stagedFiles: _*)
    val cols = checks.toSeq.map { case (n, e) => n -> (expr(e) === lit(false)) }
    val row = df.filter(cols.map(_._2).reduce(_ || _))
      .select(cols.map { case (n, c) => c.as(n) }: _*)
      .limit(1).collect()
    if (row.nonEmpty) {
      val hit = cols.map(_._1).filter(n =>
        java.lang.Boolean.TRUE.equals(row.head.getAs[Boolean](n)))
      throw new IllegalArgumentException(
        s"$what on $location refused: a row violates CHECK constraint" +
          (if (hit.size > 1) "s " else " ") +
          hit.map(n => s"'$n' (${checks(n)})").mkString(", "))
    }
  }

  private def appendLocked(df: DataFrame, txn: Option[(String, Long)],
      mergeSchema: Boolean = false): Long = {
    val schemaBefore = meta.currentSchema
    // schema evolution: novel incoming columns join the schema (nullable,
    // null-default) and commit WITH the files; the batch is written in
    // the evolved shape so its own rows carry real values
    val novel: Seq[StructField] =
      if (!mergeSchema) Seq.empty
      else {
        // novelty matches the session's resolution rules: under the
        // default case-INSENSITIVE resolution, a batch column differing
        // only in case is the EXISTING column (committing both would
        // make every later read fail Spark's duplicate-column check)
        val caseSensitive =
          spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
        def key(n: String) = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
        val existing = schemaBefore.fieldNames.map(key).toSet
        val dropped = meta.droppedCols.map(key).toSet
        val out = df.schema.fields.toSeq.filterNot(f => existing(key(f.name)))
        out.find(f => dropped(key(f.name))).foreach { f =>
          throw new IllegalArgumentException(
            s"column '${f.name}' was DROPPED but committed files still carry its " +
              "data; compact() or recluster() first to materialize the drop, " +
              "or use a new name")
        }
        out.map(f => StructField(f.name, f.dataType, nullable = true))
      }
    val schemaAtWrite =
      if (novel.isEmpty) schemaBefore else StructType(schemaBefore.fields ++ novel)
    val batchDir = writeBatchDir(alignTo(df, schemaAtWrite))
    val newFiles = listParquetFiles(batchDir)
    try enforceChecks(newFiles, schemaAtWrite, "append")
    catch { case e: Throwable =>
      // refused data never commits; reclaim the staged batch eagerly
      // (a crash here still leaves only vacuum-able residue)
      val (fs, _) = GraftTable.fsAndPath(location)
      try fs.delete(new HPath(batchDir), true) catch { case _: Exception => () }
      throw e
    }
    val infos = footerInfosRel(newFiles)
    val n = infos.map(_._2._1).sum
    val committed = commitMutation { base =>
      // the batch was written against the schema observed under the
      // lock; if a concurrent writer ALTERed between our write and our
      // claim, committing the old-shape files could corrupt reads (e.g.
      // a type change) — fail clearly; the orphan batch dir is vacuum's
      // to reclaim. A schema-evolving append additionally publishes its
      // evolved schema in this same commit.
      require(base.currentSchema == schemaBefore,
        s"concurrent schema change during append to $location — retry the append")
      txn.foreach { case (qid, bid) =>
        // a replay detected only at REBASE time (a zombie driver's twin
        // committed the batch after our front-door check) is the same
        // no-op the front door returns — failing the live query here
        // would break appendStream's idempotence contract
        if (base.streamTxn.get(qid).exists(_ >= bid))
          throw new GraftTable.CommitSuperseded(
            s"stream batch $bid for query $qid was committed concurrently")
      }
      base.copy(
        currentSchema = schemaAtWrite,
        files = base.files ++ infos.map(_._1),
        rowCount = base.rowCount + n,
        nextBatchId = base.nextBatchId + 1,
        fileStats = base.fileStats ++ infos.collect {
          case (rel, (_, st)) if st.nonEmpty => rel -> st
        },
        // evolved columns record a NULL default: the entry marks "older
        // files lack this column", which refuses footer aggregate
        // pushdown (pre-evolution footers have no stats for it) — same
        // rule as ALTER ADD COLUMN
        defaults = base.defaults ++ novel.map(_.name -> (null: Any)),
        streamTxn = txn.fold(base.streamTxn) { case (qid, bid) =>
          base.streamTxn + (qid -> bid)
        })
    }
    if (!committed) {
      // the batch dir was never referenced by any commit; reclaim it
      // now rather than leaving it to vacuum
      try { val (fs, _) = GraftTable.fsAndPath(location)
        fs.delete(new HPath(batchDir), true) } catch { case _: Exception => () }
      return 0L
    }
    n
  }

  /** Row count + per-column zone map of a just-written file, from its
    * parquet footer only — the reference reads its own footer after load
    * (`cstore_writer.c:344-357`); a full re-scan would double load I/O.
    * Min/max/null stats are merged across the file's row groups and
    * become the table's file-level skip list.
    *
    * A column's entry is recorded only when EVERY row group contributed
    * usable stats. Parquet omits or empties chunk stats in real layouts —
    * an all-null chunk has `hasNonNullValue == false`, and parquet-mr
    * drops binary min/max wider than 4KB — and a `sort_by` load clusters
    * nulls into a leading all-null row group, so merging just the blocks
    * that do have stats would record `nulls = 0` (or too-tight min/max)
    * for a file that still holds nulls / out-of-range values, and
    * `refutes()` would silently prune matching rows. */
  private def footerInfo(file: String)
      : (Long, Map[String, GraftTable.ColFileStats], Long) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val rows = r.getRecordCount
      val byCol = scala.collection.mutable.Map[String, GraftTable.ColFileStats]()
      val unusable = scala.collection.mutable.Set[String]()
      val eligible = meta.currentSchema.fields
        .filter(f => GraftTable.zoneMapEligible(f.dataType)).map(_.name).toSet
      r.getFooter.getBlocks.forEach { block =>
        block.getColumns.forEach { cc =>
          val name = cc.getPath.toDotString
          val st = cc.getStatistics
          if (eligible.contains(name)) {
            val dt = meta.currentSchema(name).dataType
            // INT96 timestamps carry stats, but their byte order does not
            // order like instants — only INT64 parquet timestamps prune.
            val primOk = dt match {
              case TimestampType | TimestampNTZType =>
                cc.getPrimitiveType.getPrimitiveTypeName ==
                  org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
              case _ => true
            }
            val usable = primOk && st != null && !st.isEmpty && st.hasNonNullValue
            if (!usable) {
              // A chunk whose whole value domain is null IS fully
              // described when its null count is trustworthy: min/max
              // don't exist, but no non-null value can hide in it.
              val allNull = st != null && !st.isEmpty && st.isNumNullsSet &&
                st.getNumNulls == block.getRowCount && !st.hasNonNullValue
              if (allNull) {
                val merged = byCol.get(name) match {
                  case None => GraftTable.ColFileStats(null, null, st.getNumNulls, rows)
                  case Some(prev) => prev.copy(
                    nulls = if (prev.nulls < 0) -1L else prev.nulls + st.getNumNulls,
                    rows = rows)
                }
                byCol.put(name, merged)
              } else unusable += name
            } else {
              val mn = GraftTable.statToString(dt, st.genericGetMin)
              val mx = GraftTable.statToString(dt, st.genericGetMax)
              val nulls = if (st.isNumNullsSet) st.getNumNulls else -1L
              val merged = byCol.get(name) match {
                case None => GraftTable.ColFileStats(mn, mx, nulls, rows)
                case Some(prev) =>
                  val pMin =
                    if (prev.min == null) mn
                    else if (GraftTable.compareStat(dt, mn, prev.min).exists(_ < 0)) mn
                    else prev.min
                  val pMax =
                    if (prev.max == null) mx
                    else if (GraftTable.compareStat(dt, mx, prev.max).exists(_ > 0)) mx
                    else prev.max
                  GraftTable.ColFileStats(pMin, pMax,
                    if (nulls < 0 || prev.nulls < 0) -1L else prev.nulls + nulls,
                    rows)
              }
              byCol.put(name, merged)
            }
          }
        }
      }
      // (Collation-order WITNESS bounds are NOT harvested here:
      // footerInfo is the pure footer-metadata reader — every commit
      // path harvests witnesses through [[footerInfosRel]]'s single
      // grouped job instead.)
      (rows, (byCol -- unusable).toMap, in.getLength)
    } finally r.close()
  }

  private def collatedFields: Array[StructField] =
    meta.currentSchema.fields
      .filter(f => GraftTable.collatedType(f.dataType).isDefined)

  /** One grouped aggregate computing the collation-order min/max of
    * every collated column for EVERY file in `files`: row layout is
    * (_file, min₁, max₁, min₂, max₂, …) keyed here by the file's
    * canonical URI path. One Spark job regardless of file count — the
    * per-commit witness harvest.
    *
    * Since round 13 this re-read is the FALLBACK only: collated
    * batches write through [[org.apache.spark.sql.graft.WitnessWrite]],
    * whose `WriteTaskStatsTracker` harvests the same witnesses inside
    * the write job itself (the per-file hook the observe API lacks),
    * so the normal commit pays ZERO extra read. This pass still covers
    * batches the tracker could not (its own failure fallback), keeping
    * every commit path sound either way. */
  private def collWitnessRows(files: Seq[String])
      : Map[String, org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.{min => fMin, max => fMax, col => fCol, input_file_name}
    val collFields = collatedFields
    if (collFields.isEmpty || files.isEmpty) return Map.empty
    val sub = org.apache.spark.sql.types.StructType(collFields.toSeq)
    val aggs = collFields.flatMap(f =>
      Seq(fMin(fCol(s"`${f.name}`")), fMax(fCol(s"`${f.name}`")))).toSeq
    spark.read.schema(sub).parquet(files: _*)
      .groupBy(input_file_name().as("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => new HPath(r.getString(0)).toUri.getPath -> r)
      .toMap
  }

  /** Witnesses harvested by the LAST tracked write ([[writeBatchDir]]'s
    * collated branch), keyed by [[org.apache.spark.sql.graft
    * .WitnessWrite.fileKey]]; consumed (and cleared) by the next
    * [[footerInfosRel]]. Writers are serialized by the table lock, and
    * every commit path harvests stats right after its write, so the
    * handoff window holds exactly one batch. */
  private var pendingWitnesses
      : Map[String, IndexedSeq[Option[(String, String)]]] = Map.empty

  /** Byte lengths harvested by [[footerInfosRel]] since the last
    * commit, keyed by rel path; [[commitMutation]] records the ones its
    * commit references in `Meta.fileLens` and clears the map. Same
    * single-writer handoff as [[pendingWitnesses]]; entries of a write
    * that never commits are dropped (batch paths are unique). */
  private var footerLens: Map[String, Long] = Map.empty

  /** Batched stat harvest for a commit's new files — THE chokepoint
    * every commit path (append/COPY/INSERT, COW rewrites, MERGE,
    * compaction, the delta commit) passes its written files through:
    * per-file footer reads (metadata only) plus the collation
    * witnesses — taken from the WRITE JOB's own harvest
    * ([[pendingWitnesses]]) when the batch came through the tracked
    * writer, with the single-job re-read ([[collWitnessRows]]) as the
    * fallback for any file the tracker did not cover.
    *
    * A file holding no rows is deleted here (with its `.crc` sidecar)
    * and left out of the result, so no commit ever references one:
    * Spark's writer emits a schema-only file from task 0 whenever that
    * task's split is empty, and a committed 0-row file carries no zone
    * map, so every filtered scan would keep it. Returns
    * `(relativePath, info)` for the files with rows, in input order —
    * the shape every commit path's `infos` wants; their byte lengths
    * go to [[footerLens]]. */
  private def footerInfosRel(files: Seq[String])
      : Seq[(String, (Long, Map[String, GraftTable.ColFileStats]))] = {
    val collFields = collatedFields
    val tracked: Map[String, IndexedSeq[Option[(String, String)]]] =
      if (collFields.isEmpty) Map.empty
      else files.flatMap(f =>
        pendingWitnesses.get(
          org.apache.spark.sql.graft.WitnessWrite.fileKey(f)).map(f -> _))
        .toMap
    pendingWitnesses = Map.empty
    val (withRows, empty) = files.map(f => f -> footerInfo(f)).partition(_._2._1 > 0L)
    if (empty.nonEmpty) {
      val (fs, _) = fsAndPath(location)
      empty.foreach { case (f, _) =>
        val p = new HPath(f)
        fs.delete(p, false)
        fs.delete(new HPath(p.getParent, s".${p.getName}.crc"), false)
      }
    }
    val witnesses = collWitnessRows(withRows.map(_._1).filterNot(tracked.contains))
    withRows.map { case (f, (rows, base, len)) =>
      val rel = relativize(f, location)
      footerLens += rel -> len
      val merged = tracked.get(f) match {
        case Some(opts) =>
          base ++ collFields.toSeq.zip(opts).flatMap { case (cf, o) =>
            val st = GraftTable.collatedType(cf.dataType).get
            o.map { case (mn, mx) =>
              GraftTable.collStatKey(cf.name, st) ->
                GraftTable.ColFileStats(mn, mx, -1L, rows)
            }
          }
        case None => witnesses.get(new HPath(f).toUri.getPath) match {
          case Some(w) =>
            base ++ collFields.zipWithIndex.flatMap { case (cf, i) =>
              val st = GraftTable.collatedType(cf.dataType).get
              val (mn, mx) = (w.getString(1 + 2 * i), w.getString(2 + 2 * i))
              if (mn != null && mx != null)
                Some(GraftTable.collStatKey(cf.name, st) ->
                  GraftTable.ColFileStats(mn, mx, -1L, rows))
              else None
            }
          case None => base
        }
      }
      rel -> ((rows, merged))
    }
  }

  /** The committed files that could still contain rows matching every
    * filter — the file-level analog of the reference's
    * `SelectedBlockMask` (`cstore_reader.c:744-806`): a file is dropped
    * only when its zone map REFUTES a pushed filter. Files without
    * recorded stats (pre-feature appends, unsupported types) are always
    * kept. */
  def prunedFiles(filters: Seq[Filter]): Seq[String] =
    prunedRels(filters).map(f => s"$location/$f")

  /** [[prunedFiles]] with each kept file's byte length — the scan's
    * planning input, read from the manifest alone. */
  def prunedFileLens(filters: Seq[Filter]): Seq[(String, Long)] =
    fileLensOf(prunedRels(filters))

  private def prunedRels(filters: Seq[Filter]): Seq[String] =
    if (filters.isEmpty) meta.files
    else meta.files.filterNot { rel =>
      bucketRefutes(rel, filters) ||
      (meta.fileStats.get(rel) match {
        case Some(st) => filters.exists(f => GraftTable.refutes(meta.currentSchema, st, f))
        case None => false
      })
    }

  /** Zone-map-pruned read NET OF DELETION VECTORS: the file subset
    * surviving `filters` (file-level refutation only — residual row
    * filtering stays with the caller, exactly as with [[prunedFiles]]),
    * read under the current schema with merge-on-read deleted positions
    * filtered out. Probe-style consumers that read pruned subsets
    * directly (the persisted ANN indexes) must route through this
    * method rather than a raw parquet read — a raw read would
    * resurrect rows the moment the table carries vectors (e.g. after
    * [[graft.operators.Similarity.deleteFromIndex]]'s merge-on-read
    * erasure). Returns an empty frame with the table schema when every
    * file is refuted. */
  def readPruned(filters: Seq[Filter]): DataFrame = {
    val files = prunedFiles(filters)
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], readSchema())
    else {
      val prefix = s"$location/"
      val relSet = files.map(f => f.stripPrefix(prefix)).toSet
      applyDvs(spark.read.schema(readSchema()).parquet(files: _*),
        meta.dvs.view.filterKeys(relSet).toMap)
        .select(meta.currentSchema.fields.map(f =>
          col(f.name).as(f.name, f.metadata)).toIndexedSeq: _*)
    }
  }

  /** Best single column to DECLARE for runtime group filtering when the
    * table carries no clustering option. Spark's row-level runtime
    * filtering builds ONE IN-subquery over ALL declared attributes; a
    * multi-column (struct) IN has no V1 translation, so declaring every
    * column guarantees zero pruning. A single column always translates —
    * rank the columns by how well their per-file zone-map intervals
    * actually separate files: score = mean over files of (file interval
    * width / global width) ≈ the fraction of files a uniformly random
    * point value keeps. A monotonic insert key (an id assigned in append
    * order) scores ~1/nFiles; a shuffled or low-cardinality column
    * scores ~1. Footer-stat arithmetic only — no data is read. The
    * reference's analog decision is which stripe min/max to trust for
    * block skipping (`cstore_reader.c:744-806`).
    *
    * A single-file table still gets a column (every candidate ties at
    * score 1; schema order wins): pruning is moot there, but a declared
    * translatable column keeps the empty-IN short-circuit — a
    * pure-insert MERGE refutes the file instead of rewriting it — and
    * avoids planning a struct-IN filter that can never apply. */
  def bestRuntimeFilterColumn(): Option[String] = {
    val files = meta.files
    def num(dt: DataType, s: String): Option[Double] =
      if (s == null) None
      else try dt match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
             TimestampType | TimestampNTZType => Some(s.toLong.toDouble)
        case FloatType | DoubleType =>
          val d = s.toDouble
          if (d.isNaN || d.isInfinite) None else Some(d)
        case _: DecimalType => Some(BigInt(s).toDouble)
        case _ => None
      } catch { case _: NumberFormatException => None }
    val scored = meta.currentSchema.fields.toSeq.flatMap { f =>
      val ranges = files.flatMap { rel =>
        meta.fileStats.get(rel).flatMap(_.get(f.name)).flatMap { st =>
          for { mn <- num(f.dataType, st.min); mx <- num(f.dataType, st.max) }
            yield (mn, mx)
        }
      }
      // every file must carry a usable interval — a stats-less file is
      // always kept, which would flatter the column's score
      if (ranges.size != files.size) None
      else {
        val width = ranges.map(_._2).max - ranges.map(_._1).min
        if (!(width > 0) || width.isInfinite) None
        else Some(f.name -> ranges.map(r => (r._2 - r._1) / width).sum / ranges.size)
      }
    }
    // stable sort: schema order breaks ties
    scored.sortBy(_._2).headOption.map(_._1)
  }

  /** Bucket pruning: on a bucket_by table the zone maps are USELESS for
    * the bucket column itself (bucket k%n makes every file span ~the full
    * key range), but an equality/IN predicate prunes by the route
    * function directly — `k = v` can only live in bucket(v)'s files, so a
    * point lookup reads 1/n of the table however the values interleave.
    * Conservative: any shape but Equal/In on the bucket column, a null
    * probe, or a value of unexpected runtime type keeps the file. */
  private def bucketRefutes(rel: String,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Boolean =
    meta.options.bucketBy.headOption.exists { bc =>
      // same collation discipline as the zone maps: bucket routing
      // hashes BINARY bytes, so an equality under a non-binary string
      // collation (where distinct byte strings can compare equal) must
      // never refute a bucket
      val binaryKey = meta.currentSchema.fields.find(_.name == bc).forall(f =>
        f.dataType match {
          case st: org.apache.spark.sql.types.StringType =>
            st == org.apache.spark.sql.types.StringType
          case _ => true
        })
      binaryKey && GraftTable.fileBucket(rel).exists { fileB =>
        val n = meta.options.bucketCount
        def bucketOf(v: Any): Option[Int] = v match {
          case null => None
          case b: Byte => Some(GraftTable.bucketOfLong(b.toLong, n))
          case s: Short => Some(GraftTable.bucketOfLong(s.toLong, n))
          case i: Int => Some(GraftTable.bucketOfLong(i.toLong, n))
          case l: Long => Some(GraftTable.bucketOfLong(l, n))
          case s: String => Some(GraftTable.bucketOfUtf8(
            s.getBytes(java.nio.charset.StandardCharsets.UTF_8), n))
          case d: java.sql.Date => Some(GraftTable.bucketOfLong(
            org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong, n))
          case d: java.time.LocalDate => Some(GraftTable.bucketOfLong(d.toEpochDay, n))
          case _ => None
        }
        filters.exists {
          case org.apache.spark.sql.sources.EqualTo(c, v) if c == bc =>
            bucketOf(v).exists(_ != fileB)
          case org.apache.spark.sql.sources.In(c, vs) if c == bc && vs.nonEmpty =>
            val bs = vs.toSeq.map(bucketOf)
            bs.forall(_.isDefined) && !bs.flatten.contains(fileB)
          case _ => false
        }
      }
    }

  private def withTableLock[T](f: => T): T = GraftTable.withWriterLock(location)(f)
  private def refreshMeta(): Unit = meta = GraftTable.readMeta(location)

  /** COPY FROM csv (`cstore_fdw.c:539-642`): bulk CSV load, optional
    * column list (`input/load.source:26-40` — missing columns become
    * NULL/default). Returns row count.
    *
    * Error semantics follow the reference's COPY (`input/load.source`
    * error cases): a missing file fails immediately, and under the
    * default FAILFAST mode a malformed row aborts the whole load with
    * the table unchanged — COPY is all-or-nothing, the metadata commit
    * only happens after every row parsed. `mode = "PERMISSIVE"` opts
    * into Spark's salvage behavior (bad fields become NULL). */
  def copyFromCsv(path: String, header: Boolean = false,
      columns: Seq[String] = Seq.empty, mode: String = "FAILFAST",
      format: GraftTable.CopyFormat = GraftTable.CopyFormat()): Long = {
    format.validate()
    val cols = if (columns.isEmpty) meta.currentSchema.fieldNames.toSeq else columns
    val readSchema = StructType(cols.map(c => meta.currentSchema(c)))
    val df = spark.read
      .option("header", header.toString)
      .options(format.csvOptions)
      .option("mode", mode)
      .schema(readSchema)
      .csv(path)
    append(df)
  }

  /** COPY FROM STDIN analog (`cstore_fdw.c:539-642`: the reference's
    * COPY accepts file, PROGRAM, and STDIN sources): load CSV lines from
    * any iterator — a stream, a socket, a generator. Identical
    * FAILFAST/PERMISSIVE and column-list semantics to the file form,
    * and the same all-or-nothing commit. Like the reference's STDIN
    * path, the stream feeds through one process (the driver); bulk
    * loads at scale should land files and use the path form. */
  def copyFromCsv(lines: Iterator[String], header: Boolean,
      columns: Seq[String], mode: String): Long =
    copyFromCsv(lines, header, columns, mode, GraftTable.CopyFormat())

  def copyFromCsv(lines: Iterator[String], header: Boolean,
      columns: Seq[String], mode: String,
      format: GraftTable.CopyFormat): Long = {
    format.validate()
    val cols = if (columns.isEmpty) meta.currentSchema.fieldNames.toSeq else columns
    val readSchema = StructType(cols.map(c => meta.currentSchema(c)))
    import spark.implicits._
    val ds = spark.createDataset(lines.toSeq)
    val df = spark.read
      .option("header", header.toString)
      .options(format.csvOptions)
      .option("mode", mode)
      .schema(readSchema)
      .csv(ds)
    append(df)
  }

  /** COPY FROM a `Reader` (STDIN analog). */
  def copyFromCsv(reader: java.io.Reader, header: Boolean,
      columns: Seq[String], mode: String): Long =
    copyFromCsv(reader, header, columns, mode, GraftTable.CopyFormat())

  def copyFromCsv(reader: java.io.Reader, header: Boolean,
      columns: Seq[String], mode: String,
      format: GraftTable.CopyFormat): Long = {
    val buffered = new java.io.BufferedReader(reader)
    val lines = Iterator.continually(buffered.readLine()).takeWhile(_ != null)
    copyFromCsv(lines, header, columns, mode, format)
  }

  /** COPY FROM PROGRAM (`cstore_fdw.c:539-642`): run a command, load its
    * stdout as CSV. A non-zero exit aborts the load with the table
    * unchanged — the reference's PROGRAM error semantics. */
  def copyFromProgram(command: Seq[String], header: Boolean = false,
      columns: Seq[String] = Seq.empty, mode: String = "FAILFAST",
      format: GraftTable.CopyFormat = GraftTable.CopyFormat()): Long = {
    val pb = new ProcessBuilder(command: _*)
    // stderr flows to the driver's own stderr (the reference surfaces it
    // in the server log). Leaving it piped but undrained would deadlock
    // once a chatty program fills the ~64KB pipe buffer while we block
    // reading stdout to EOF.
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    val exit = proc.waitFor()
    require(exit == 0, s"COPY FROM PROGRAM '${command.mkString(" ")}' exited with $exit")
    copyFromCsv(out.linesIterator, header, columns, mode, format)
  }

  /** COPY TO (`cstore_fdw.c:651-707`) — export the full table as CSV.
    * The path target is the DISTRIBUTED export (one file per partition,
    * written by executors); the Writer/PROGRAM targets below match the
    * reference's other COPY sinks. */
  def copyToCsv(path: String, header: Boolean = true,
      format: GraftTable.CopyFormat = GraftTable.CopyFormat()): Unit = {
    format.validate()
    read().write.option("header", header.toString)
      .options(format.csvOptions).mode(SaveMode.Overwrite).csv(path)
  }

  /** COPY TO a stream sink: rows flow through `writer` as CSV lines,
    * one partition of rows on the driver at a time (toLocalIterator) —
    * a single Writer is inherently one consumer, the same
    * driver-sequential shape as the reference's COPY TO STDOUT. Rows
    * are formatted by Spark's own CSV writer (`to_csv`), so quoting and
    * null handling match the path-target export. Returns rows written
    * (COPY's row-count return, `cstore_fdw.c:313-327`). */
  def copyToCsv(writer: java.io.Writer, header: Boolean): Long =
    copyToCsv(writer, header, GraftTable.CopyFormat())

  def copyToCsv(writer: java.io.Writer, header: Boolean,
      format: GraftTable.CopyFormat): Long = {
    format.validate()
    val df = read()
    val bw = new java.io.BufferedWriter(writer)
    // header fields need CSV quoting too (a column named `a,b` is legal
    // via backticks; the path-target export's CSV writer escapes it)
    val d = format.delimiter.charAt(0); val qc = format.quote.charAt(0)
    def q(name: String): String =
      if (name.exists(c => c == d || c == qc || c == '\n' || c == '\r'))
        s"$qc${name.replace(qc.toString, format.escape + format.quote)}$qc"
      else name
    if (header) { bw.write(df.columns.map(q).mkString(format.delimiter)); bw.write("\n") }
    var n = 0L
    val opts = new java.util.HashMap[String, String]()
    format.csvOptions.foreach { case (k, v) => opts.put(k, v) }
    val it = df
      .select(to_csv(struct(df.columns.map(col).toIndexedSeq: _*), opts).as("line"))
      .toLocalIterator()
    while (it.hasNext) { bw.write(it.next().getString(0)); bw.write("\n"); n += 1 }
    bw.flush()
    n
  }

  /** COPY TO PROGRAM (`cstore_fdw.c:651-707`): run a command, stream
    * the table into its stdin as CSV. A non-zero exit fails the COPY
    * (the reference's PROGRAM error semantics). */
  def copyToProgram(command: Seq[String], header: Boolean = true,
      format: GraftTable.CopyFormat = GraftTable.CopyFormat()): Long = {
    val pb = new ProcessBuilder(command: _*)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    pb.redirectOutput(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val w = new java.io.OutputStreamWriter(proc.getOutputStream, StandardCharsets.UTF_8)
    // A program that stops reading stdin before EOF (head, or an early
    // failure) breaks the pipe and the write raises IOException — but
    // that is not the diagnostic: the program's EXIT STATUS is. Always
    // waitFor() and report a nonzero exit as the failure; a program
    // that exits 0 having consumed only a prefix (the `head` shape) is
    // a success, returning the rows actually delivered.
    var n = 0L
    val pipeError =
      try { n = copyToCsv(w, header, format); None }
      catch { case e: java.io.IOException => Some(e) }
      finally {
        try w.close() // EOF lets the program terminate
        catch { case _: java.io.IOException => () }
      }
    val exit = proc.waitFor()
    if (exit != 0) {
      val err = new IllegalArgumentException(
        s"COPY TO PROGRAM '${command.mkString(" ")}' exited with $exit")
      pipeError.foreach(err.addSuppressed)
      throw err
    }
    n
  }

  /** Compact the table's data files: rewrite all committed rows as one
    * fresh batch of stripe-sized files and atomically swap the file
    * list. Streaming ingest (micro-batch appends) accumulates small
    * files whose per-file scheduling/footer overhead eventually
    * dominates a 1000-executor scan — the small-files problem the
    * append-only reference leaves open (`TODO.md`'s vacuum item).
    *
    * Readers are never torn: the new files are fully written before the
    * metadata rename, and a pre-compaction reader keeps its snapshot —
    * the REPLACED batch dirs are deliberately left on disk, because a
    * scan planned over the old file list may still be executing; a
    * later [[vacuum]] (run when no long scans are live) reclaims them,
    * the same two-phase discipline object-store table formats use. A
    * crash between write and commit leaves an orphaned batch dir that
    * `vacuum` also removes — never wrong results. Zone maps, row count,
    * and stream-txn watermarks carry through, the zone maps recomputed
    * from the new footers. Returns the number of data files after
    * compaction. */
  /** Incremental compaction — the 100 TB maintenance shape. A full
    * [[compact]] rewrites the whole table, which is not viable on a
    * large one; the steady-state problem is the SMALL-FILE TAIL
    * (streaming micro-batch ingest, small appends, copy-on-write
    * remainders), so this coalesces only files under `smallBytes` into
    * ~`targetBytes` outputs and leaves every healthy file untouched —
    * cost proportional to the tail, not the table. Row count is
    * unchanged, so a streaming source sees nothing (same rule that
    * makes full compaction stream-invisible); zone maps recompute from
    * the new footers; concurrent appends rebase and carry forward.
    * Returns the number of small files merged (0 = nothing to do). */
  def compactSmall(smallBytes: Long = 32L << 20,
      targetBytes: Long = 128L << 20): Int = withTableLock {
    refreshMeta()
    val (fs, _) = GraftTable.fsAndPath(location)
    val sized = meta.files.map(r =>
      r -> fs.getFileStatus(new HPath(s"$location/$r")).getLen)
    val small = sized.filter(_._2 < smallBytes)
    if (small.size <= 1) return 0 // one small file merges with nothing
    val smallRels = small.map(_._1)
    val schemaAtWrite = meta.currentSchema
    // expected output = LIVE rows: footer rows net of deletion vectors
    // (the rewrite materializes any vector a small file carries)
    val expectRows = smallRels.map(r => footerInfo(s"$location/$r")._1 -
      meta.dvs.get(r).map(_.card).getOrElse(0L)).sum
    val nOut = math.max(1L,
      (small.map(_._2).sum + targetBytes - 1) / targetBytes).toInt
    val batchDir = writeBatchDir(clusterPreserving(readFilesDf(smallRels), nOut))
    val got = listParquetFiles(batchDir).map(f => footerInfo(f)._1).sum
    require(got == expectRows,
      s"small-file compaction row mismatch: rewrote $got of $expectRows rows")
    commitRewrite(smallRels, batchDir, schemaAtWrite, 0L, "COMPACT_SMALL")
    small.size
  }

  /** Incremental CLUSTERING repair for a `sort_by` table: rewrite ONLY
    * the files whose leading-sort-key ranges OVERLAP, restoring
    * range-disjointness — and with it point-prune-to-one-file zone maps
    * and the scan's proven-order merge-join claim
    * ([[sortFileRanges]] consumers refuse the claim for any group with
    * overlapping files) — at cost ∝ the overlapping mass, never the
    * table. The maintenance gap this closes: unsorted or interleaved
    * appends degrade a clustered table file by file, full `compact()`
    * rewrites everything, and `recluster` is for CHANGING keys; the
    * steady-state fix is to fold just the offending files.
    *
    * Grouping: files are swept by their committed leading-key bounds
    * (the same stats/witness machinery the order claim itself reads, so
    * collated sort keys group under the collation's comparator); on a
    * bucketed table the sweep runs PER BUCKET — cross-bucket ranges
    * overlap legitimately, the order claim is per bucket group. Each
    * maximal overlap group rewrites through the clustering-preserving
    * range partitioner into ~`targetBytes` files and commits
    * separately (one CAS commit per group): a group's output ranges
    * stay inside the group's contiguous span — which, by maximality,
    * intersects no other file — so a crash mid-loop leaves earlier
    * groups repaired and the table consistent. Files with no usable
    * leading-key stats (pre-witness collated appends) are not
    * placeable and are left untouched — they need `recluster`,
    * documented. Returns the number of files folded. */
  def compactOverlapping(targetBytes: Long = 128L << 20): Int = withTableLock {
    refreshMeta()
    require(meta.options.sortBy.nonEmpty,
      s"compactOverlapping needs a sort_by table; $location has none " +
        "(use recluster to introduce clustering)")
    val ranges = sortFileRanges.getOrElse(
      throw new IllegalArgumentException(
        s"sort_by column of $location carries no zone-map-eligible type"))
    var folded = 0
    // group per bucket (unbucketed: one group key) and sweep each
    meta.files.groupBy(r => GraftTable.fileBucket(r).getOrElse(-1))
      .toSeq.sortBy(_._1).foreach { case (_, rels) =>
        val placed = rels.flatMap { rel =>
          val key = new HPath(s"$location/$rel").toUri.getPath
          ranges.stats.get(key).collect {
            // an all-null sort key has no bounds — not placeable
            case (mn, mx, _) if mn != null && mx != null => (rel, mn, mx)
          }
        }
        // total-order sweep. An INCOMPARABLE stat pair (mixed
        // encodings) poisons the group-maximality argument the
        // crash-safety story rests on — any None from the comparator,
        // in the sort or the sweep, ABORTS this bucket's sweep and
        // leaves its files untouched (the conservative fix is
        // recluster, which rewrites everything under one encoding).
        var incomparable = false
        def cmpOr0(a: String, b: String): Int =
          ranges.cmp(a, b).getOrElse { incomparable = true; 0 }
        def lte(a: String, b: String): Boolean = cmpOr0(a, b) <= 0
        // an incomparable pair makes cmpOr0's 0 non-transitive, and
        // TimSort then throws "Comparison method violates its general
        // contract" — catch it so a poisoned bucket SKIPS cleanly
        // (the incomparable flag is set by the same cmpOr0 call)
        // instead of aborting the whole operation (ADVICE r12)
        val sorted =
          try placed.sortWith((x, y) => cmpOr0(x._2, y._2) < 0)
          catch { case _: IllegalArgumentException =>
            incomparable = true; Seq.empty
          }
        val groups = Vector.newBuilder[Seq[String]]
        var cur = Vector.empty[(String, String, String)]
        var curMax: String = null
        sorted.foreach { case f @ (_, mn, mx) =>
          if (cur.isEmpty) { cur = Vector(f); curMax = mx }
          else if (lte(mn, curMax)) {
            cur = cur :+ f
            if (lte(curMax, mx)) curMax = mx
          } else {
            if (cur.size > 1) groups += cur.map(_._1)
            cur = Vector(f); curMax = mx
          }
        }
        if (cur.size > 1) groups += cur.map(_._1)
        (if (incomparable) Vector.empty[Seq[String]] else groups.result())
          .foreach { groupRels =>
          val (fs, _) = GraftTable.fsAndPath(location)
          val bytes = groupRels.map(r =>
            fs.getFileStatus(new HPath(s"$location/$r")).getLen).sum
          val schemaAtWrite = meta.currentSchema
          val expectRows = groupRels.map(r => footerInfo(s"$location/$r")._1 -
            meta.dvs.get(r).map(_.card).getOrElse(0L)).sum
          val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
          val batchDir =
            writeBatchDir(clusterPreserving(readFilesDf(groupRels), nOut))
          val got = listParquetFiles(batchDir).map(f => footerInfo(f)._1).sum
          require(got == expectRows,
            s"overlap compaction row mismatch: rewrote $got of $expectRows rows")
          commitRewrite(groupRels, batchDir, schemaAtWrite, 0L, "COMPACT_OVERLAP")
          folded += groupRels.size
        }
      }
    folded
  }

  /** Partitioning for a compaction rewrite that PRESERVES the table's
    * clustering value: a `sort_by` table range-partitions on its sort
    * keys so the merged files stay range-DISJOINT (zone maps keep
    * point-pruning to one file and the scan's proven-order claim can
    * hold again) — a plain `repartition` would hash rows across every
    * output file and quietly degrade a clustered table's pruning with
    * each maintenance cycle. Bucketed and Z-ordered layouts partition
    * inside the batch writer itself; unclustered tables just merge. */
  private def clusterPreserving(df: DataFrame, target: Int): DataFrame =
    if (meta.options.bucketBy.nonEmpty || meta.options.zorderBy.nonEmpty) df
    else if (meta.options.sortBy.nonEmpty)
      df.repartitionByRange(target, meta.options.sortBy.map(col): _*)
    else df.repartition(target)

  def compact(): Int = withTableLock {
    refreshMeta()
    // evolution markers (dropped-column tombstones, null-default "older
    // files lack this column" entries) clear only through a FULL
    // rewrite — so their presence forces one even on a 0/1-file table
    val markers = meta.droppedCols.nonEmpty ||
      meta.defaults.values.exists(_ == null)
    if (meta.files.isEmpty) {
      if (markers) commitMutation(base => base.copy(
        defaults = base.defaults.filter { case (_, v) => v != null },
        droppedCols = Vector.empty))
      0
    } else if (meta.files.size == 1 && !markers) 1
    else {
      // one output file per stripeRowCount rows — the merge IS the point
      val target = math.max(1L,
        (meta.rowCount + meta.options.stripeRowCount - 1) / meta.options.stripeRowCount)
      val batchDir = writeBatchDir(clusterPreserving(read(), target.toInt))
      val newFiles = listParquetFiles(batchDir)
      val infos = footerInfosRel(newFiles)
      val n = infos.map(_._2._1).sum
      val before = meta
      require(n == before.rowCount,
        s"compaction row count mismatch: rewrote $n of ${before.rowCount} rows")
      commitMutation { base =>
        // the rewrite covers exactly `before`'s files; a rebase may only
        // CARRY FORWARD files appended since (their rows are not in the
        // rewrite). Anything else — a concurrent truncate, compaction,
        // or ALTER — invalidates the rewrite: abort, leaving the new
        // batch dir as a vacuum orphan.
        require(base.currentSchema == before.currentSchema,
          s"concurrent schema change during compaction of $location")
        require(before.files.forall(base.files.contains),
          s"concurrent truncate/compaction of $location — aborting this compaction")
        require(before.files.forall(r => base.dvs.get(r) == before.dvs.get(r)),
          s"concurrent merge-on-read delete during compaction of $location — retry")
        val beforeSet = before.files.toSet
        val kept = base.files.filterNot(beforeSet)
        val keptSet = kept.toSet
        base.copy(
          files = infos.map(_._1).toVector ++ kept,
          nextBatchId = base.nextBatchId + 1,
          fileStats = infos.collect {
            case (rel, (_, st)) if st.nonEmpty => rel -> st
          }.toMap ++ base.fileStats.filter { case (f, _) => keptSet(f) },
          dvs = base.dvs.view.filterKeys(keptSet).toMap,
          // full rewrite: every surviving file now physically carries
          // the current schema (kept files were appended post-start,
          // schema unchanged by the guard above), so dropped-column
          // tombstones clear and the NULL-default "older files lack
          // this column" markers lift (re-enabling footer aggregate
          // pushdown); real insert-defaults stay
          defaults = base.defaults.filter { case (_, v) => v != null },
          droppedCols = Vector.empty)
      }
      meta.files.size
    }
  }

  /** Deep CLONE: an independent table at `dest` with this table's
    * current schema, options, data, zone maps, and planner stats —
    * experiment branching for training corpora (try an aggressive dedup
    * or requality pass on the clone, keep serving the original). Data
    * files are copied DISTRIBUTED (one task per file batch, any
    * Hadoop-FS source/dest pair); relative file paths are preserved, so
    * bucket routing and proven-order claims carry over unchanged. The
    * clone starts its own commit history at v1 and carries no streaming
    * txn watermarks (a relay into the clone is a new pipeline, not a
    * replay). The snapshot is the committed state as of the call: a
    * concurrent writer's commit lands in the source only — but run
    * `expireHistory`+`vacuum` on the SOURCE during a clone and the
    * grace window is the only thing standing between the copy task and
    * a deleted file, the same caveat as any snapshot reader. */
  def cloneTo(dest: String): GraftTable = {
    refreshMeta()
    val src = meta
    val srcLoc = location
    val t = GraftTable.create(spark, dest, src.currentSchema, src.options)
    val destLoc = t.location
    if (src.files.nonEmpty) {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        GraftTable.hadoopConf())
      val toCopy = src.files ++ src.dvs.values.map(_.path)
      val slices = math.min(toCopy.size, 64)
      spark.sparkContext.parallelize(toCopy, slices).foreach { rel =>
        val from = new HPath(s"$srcLoc/$rel")
        val to = new HPath(s"$destLoc/$rel")
        val ffs = from.getFileSystem(conf.value)
        val tfs = to.getFileSystem(conf.value)
        org.apache.hadoop.fs.FileUtil.copy(ffs, from, tfs, to, false, true, conf.value)
        ()
      }
    }
    t.commitMutation(base => base.copy(
      files = src.files,
      rowCount = src.rowCount,
      defaults = src.defaults,
      nextBatchId = src.nextBatchId,
      fileStats = src.fileStats,
      fileLens = src.fileLens,
      dvs = src.dvs,
      droppedCols = src.droppedCols))
    // ANALYZE stats sidecar travels too: the clone plans like the source
    GraftTable.readStats(srcLoc).foreach(GraftTable.writeStatsAtomic(destLoc, _))
    GraftTable.open(spark, destLoc)
  }

  /** OPTIMIZE-style RECLUSTER: rewrite the whole table under a NEW
    * clustering declaration — `sort_by` and/or `zorder_by` — committing
    * the rewritten files and the updated options in ONE CAS commit.
    * This is the legitimate route to changing clustering: ALTER rejects
    * it because committed files written under the old order would
    * falsify the scan's proven-order claims, and a full rewrite is
    * exactly what makes the new claim true. Rows range-partition on the
    * new keys (Z-value for zorder), so output files are range-disjoint
    * and zone maps prune tightly from the first post-recluster query.
    * On a bucketed table the bucket layout is preserved (the writer
    * re-routes every row; sort_by sorts within each bucket; zorder_by
    * is refused, as at CREATE). Concurrent appends rebase and are
    * carried forward un-reclustered — the scan's order proof is per
    * file-range, so a carried overlap withdraws the claim, never lies.
    * Returns the number of files after the rewrite. */
  def recluster(sortBy: Seq[String] = Seq.empty,
      zorderBy: Seq[String] = Seq.empty): Int = withTableLock {
    refreshMeta()
    val newOpts = meta.options.copy(sortBy = sortBy, zorderBy = zorderBy)
    newOpts.validate()
    (sortBy ++ zorderBy).foreach { c =>
      require(meta.currentSchema.fieldNames.contains(c),
        s"recluster references column '$c' which is not in the table schema")
    }
    zorderBy.foreach { c =>
      val dt = meta.currentSchema(c).dataType
      require(dt.isInstanceOf[NumericType] || dt == DateType || dt == TimestampType,
        s"zorder_by column '$c' must be numeric, date, or timestamp (got $dt)")
    }
    val before = meta
    if (before.files.isEmpty) {
      commitMutation(base => base.copy(options =
        base.options.copy(sortBy = sortBy, zorderBy = zorderBy)))
      0
    } else {
      // the batch writer reads clustering from `meta.options` — point it
      // at the new declaration for the rewrite; restored on abort
      meta = before.copy(options = newOpts)
      try {
        val target = math.max(1L, (before.rowCount + newOpts.stripeRowCount - 1)
          / newOpts.stripeRowCount).toInt
        // range-partition on the new keys so FILES are range-disjoint
        // (append's sortWithinPartitions alone only sorts within
        // whatever partitioning the input arrived with); bucketed and
        // zorder layouts partition inside the writer itself
        val input =
          if (newOpts.bucketBy.nonEmpty || zorderBy.nonEmpty) read()
          else if (sortBy.isEmpty)
            // DE-cluster (both column lists empty): a plain rewrite —
            // repartitionByRange with zero expressions would throw
            read().repartition(target)
          else read().repartitionByRange(target, sortBy.map(col): _*)
        val batchDir = writeBatchDir(input)
        val newFiles = listParquetFiles(batchDir)
        val infos = footerInfosRel(newFiles)
        val n = infos.map(_._2._1).sum
        require(n == before.rowCount,
          s"recluster row count mismatch: rewrote $n of ${before.rowCount} rows")
        // the commit's first-attempt base is the IN-MEMORY meta — restore
        // the pre-recluster state so the rebase guard runs against the
        // on-disk state, not our own staged option change
        meta = before
        commitMutation { base =>
          require(base.currentSchema == before.currentSchema,
            s"concurrent schema change during recluster of $location")
          require(before.files.forall(base.files.contains),
            s"concurrent compaction/truncate during recluster of $location")
          require(before.files.forall(r => base.dvs.get(r) == before.dvs.get(r)),
            s"concurrent merge-on-read delete during recluster of $location — retry")
          val beforeSet = before.files.toSet
          val kept = base.files.filterNot(beforeSet)
          val keptSet = kept.toSet
          base.copy(
            files = infos.map(_._1).toVector ++ kept,
            options = base.options.copy(sortBy = sortBy, zorderBy = zorderBy),
            nextBatchId = base.nextBatchId + 1,
            fileStats = infos.collect {
              case (rel, (_, st)) if st.nonEmpty => rel -> st
            }.toMap ++ base.fileStats.filter { case (f, _) => keptSet(f) },
            dvs = base.dvs.view.filterKeys(keptSet).toMap,
            // full rewrite — same tombstone/null-marker clearing as
            // compact() (see there)
            defaults = base.defaults.filter { case (_, v) => v != null },
            droppedCols = Vector.empty)
        }
        meta.files.size
      } catch { case e: Throwable => meta = before; throw e }
    }
  }

  /** RENAME COLUMN. The reference gets rename for free: PostgreSQL
    * renames the catalog attribute and cstore reads stripes by attribute
    * NUMBER, so old data needs no touch. Parquet binds by NAME —
    * committed files carry the old name, and serving them under the new
    * one would need a per-file name mapping in every read path,
    * including DSv2 scans that cannot express a projection alias. So
    * rename is a REWRITE: read under the old name, write under the new,
    * swap files + schema (+ renamed clustering/bucket/bloom option
    * references — values are unchanged, so bucket routes and sort order
    * carry over) in ONE CAS commit. Honest cost model: O(table), like
    * [[recluster]]; the metadata-only rename is cstore's positional
    * luxury, not parquet's. Any ALTER-added synthesized default is
    * materialized by the rewrite, so the renamed column reads
    * identically from every file. Concurrent commits abort the rename
    * (a carried file would still hold the OLD name). */
  def renameColumn(from: String, to: String): Unit = withTableLock {
    refreshMeta()
    require(meta.currentSchema.fieldNames.contains(from), s"no such column $from")
    require(!meta.currentSchema.fieldNames.contains(to),
      s"column $to already exists")
    require(to.nonEmpty, "new column name must be non-empty")
    val before = meta
    def ren(s: Seq[String]): Seq[String] = s.map(c => if (c == from) to else c)
    val newSchema = StructType(before.currentSchema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val newOpts = before.options.copy(
      sortBy = ren(before.options.sortBy),
      zorderBy = ren(before.options.zorderBy),
      bloomFilterColumns = ren(before.options.bloomFilterColumns),
      bucketBy = ren(before.options.bucketBy))
    val newDefaults = before.defaults.get(from) match {
      case Some(v) => before.defaults - from + (to -> v)
      case None => before.defaults
    }
    // a CHECK expression is TEXT — it cannot follow a rename the way the
    // structured option lists do; refuse rather than silently breaking it
    before.options.checks.foreach { case (n, e) =>
      try GraftTable.validateCheckExpr(spark, n, e, newSchema)
      catch { case _: Exception => throw new IllegalArgumentException(
        s"cannot rename column '$from': CHECK constraint '$n' ($e) " +
          "references it — drop the constraint, rename, then re-add it " +
          "under the new name") }
    }
    if (before.files.isEmpty) {
      commitMutation(base => base.copy(
        currentSchema = newSchema, options = newOpts, defaults = newDefaults))
      return
    }
    val renamed = read().withColumnRenamed(from, to)
    // the batch writer reads schema/options from `meta` — point it at
    // the post-rename declaration for the rewrite; restored on abort
    meta = before.copy(currentSchema = newSchema, options = newOpts,
      defaults = newDefaults)
    try {
      val target = math.max(1L, (before.rowCount + newOpts.stripeRowCount - 1)
        / newOpts.stripeRowCount).toInt
      // preserve range-disjoint clustering where it exists (same
      // partitioning discipline as recluster); bucketed and zorder
      // layouts partition inside the writer
      val input =
        if (newOpts.bucketBy.nonEmpty || newOpts.zorderBy.nonEmpty) renamed
        else if (newOpts.sortBy.nonEmpty)
          renamed.repartitionByRange(target, newOpts.sortBy.map(col): _*)
        else renamed.repartition(target)
      val batchDir = writeBatchDir(input)
      val infos = footerInfosRel(listParquetFiles(batchDir))
      val n = infos.map(_._2._1).sum
      require(n == before.rowCount,
        s"rename rewrite row count mismatch: rewrote $n of ${before.rowCount} rows")
      // the commit's first-attempt base is the IN-MEMORY meta — restore
      // the pre-rename state so the concurrency guard compares against
      // what is actually on disk, not our own staged mutation
      meta = before
      commitMutation { base =>
        require(base.currentSchema == before.currentSchema &&
          base.files == before.files && base.dvs == before.dvs,
          s"concurrent commit during RENAME COLUMN of $location — retry " +
            "(a carried file would still hold the old column name)")
        base.copy(
          currentSchema = newSchema,
          options = newOpts,
          // full rewrite: null-default "older files lack this column"
          // markers lift, dropped-column tombstones clear (every file
          // now physically carries exactly the new schema)
          defaults = newDefaults.filter { case (_, v) => v != null },
          files = infos.map(_._1).toVector,
          nextBatchId = base.nextBatchId + 1,
          fileStats = infos.collect {
            case (rel, (_, st)) if st.nonEmpty => rel -> st
          }.toMap,
          // the rewrite materialized every vector
          dvs = Map.empty,
          droppedCols = Vector.empty)
      }
      ()
    } catch { case e: Throwable => meta = before; throw e }
  }

  // ---- row-level DELETE / UPDATE (copy-on-write) ---------------------
  //
  // The reference is append-only and lists UPDATE/DELETE as open work
  // (`TODO.md:25-28`); over immutable columnar files the shape a
  // row-level mutation must take is copy-on-write at FILE granularity,
  // the Delta/Iceberg COW discipline: files whose zone maps REFUTE the
  // predicate are untouched — a metadata-only no-op however large the
  // table, which at 100 TB is the path a clustered predicate
  // (sort_by/zorder_by on the filter column) takes — and only candidate
  // files are read and rewritten, in one distributed job, with one CAS
  // commit swapping the file list. Replaced files stay on disk for
  // retained snapshots (time travel reads the pre-mutation state;
  // expireHistory + vacuum reclaim them), and a concurrent append
  // rebases cleanly because the commit carries forward files it did not
  // rewrite.

  /** Files the zone maps cannot refute for `filters` — the only files a
    * row-level mutation must read and rewrite. */
  private def mutationCandidates(filters: Seq[Filter]): Vector[String] =
    meta.files.filterNot { rel =>
      meta.fileStats.get(rel).exists(st =>
        filters.exists(f => GraftTable.refutes(meta.currentSchema, st, f)))
    }

  /** Read a subset of committed files with the same default-synthesis
    * semantics as [[read]]. */
  private def readFilesDf(rels: Seq[String]): DataFrame = {
    val relSet = rels.toSet
    applyDvs(
      spark.read.schema(readSchema()).parquet(rels.map(f => s"$location/$f"): _*),
      meta.dvs.view.filterKeys(relSet).toMap)
      .select(meta.currentSchema.fields.map(f =>
        col(f.name).as(f.name, f.metadata)).toIndexedSeq: _*)
  }

  /** Commit a copy-on-write rewrite: `replaced` files leave the list,
    * the batch dir's non-empty outputs join it, row count moves by
    * `rowDelta`. Aborts (leaving the batch dir as a vacuum orphan) on a
    * concurrent schema change or a concurrent rewrite of the same
    * files; plain concurrent appends rebase and are carried forward. */
  private def commitRewrite(replaced: Seq[String], batchDir: String,
      schemaAtWrite: StructType, rowDelta: Long, what: String): Unit = {
    val newFiles = listParquetFiles(batchDir)
    // value-CHANGING rewrites re-validate (updated values must hold);
    // row-preserving ones (DELETE, compaction, materialization) carry
    // rows that already passed at their own ingest
    if (what == "UPDATE" || what == "MERGE")
      try enforceChecks(newFiles, schemaAtWrite, what)
      catch { case e: Throwable =>
        // refused data never commits; reclaim the staged dir eagerly
        // (same discipline as appendLocked — a crash here still leaves
        // only vacuum-able residue)
        val (fs, _) = GraftTable.fsAndPath(location)
        try fs.delete(new HPath(batchDir), true) catch { case _: Exception => () }
        throw e
      }
    val infos = footerInfosRel(newFiles)
    val candSet = replaced.toSet
    // the rewrite read the replaced files under THESE deletion vectors;
    // a concurrent MOR delete on any of them would make the staged files
    // resurrect its dead rows — abort instead (retryable)
    val dvsAtScan = meta.dvs
    commitMutation { base =>
      require(base.currentSchema == schemaAtWrite,
        s"concurrent schema change during $what of $location — retry")
      require(replaced.forall(base.files.contains),
        s"concurrent compaction/truncate during $what of $location — retry")
      require(replaced.forall(r => base.dvs.get(r) == dvsAtScan.get(r)),
        s"concurrent merge-on-read delete during $what of $location — retry")
      base.copy(
        files = base.files.filterNot(candSet) ++ infos.map(_._1),
        rowCount = base.rowCount + rowDelta,
        nextBatchId = base.nextBatchId + 1,
        fileStats = base.fileStats.view.filterKeys(!candSet(_)).toMap ++
          infos.collect { case (rel, (_, st)) if st.nonEmpty => rel -> st },
        // a replaced file's vector is materialized by the rewrite
        dvs = base.dvs.view.filterKeys(!candSet(_)).toMap)
    }
    ()
  }

  /** DELETE rows matching the conjunction of `filters`. SQL semantics:
    * a row is deleted only when the predicate is TRUE (NULL keeps the
    * row). Returns rows deleted. For the full-table form use
    * [[truncate]], which is a metadata-only operation. */
  def delete(filters: Seq[Filter]): Long = withTableLock {
    refreshMeta()
    require(filters.nonEmpty,
      "DELETE with no predicate — use truncate() for the full-table form")
    val cond = filters.map(GraftTable.filterToColumn).reduce(_ && _)
    val cands = mutationCandidates(filters)
    if (cands.isEmpty) return 0L
    val schemaAtWrite = meta.currentSchema
    val src = readFilesDf(cands)
    val candRows = src.count() // footer-only: no filter below the count
    val keptDf = src.filter(!coalesce(cond, lit(false)))
    val batchDir = writeBatchDir(keptDf)
    val kept = listParquetFiles(batchDir).map(f => footerInfo(f)._1).sum
    val deleted = candRows - kept
    if (deleted == 0L) {
      // nothing matched: keep the original files instead of churning
      // them (the rewrite is byte-identical content in new files)
      val (fs, _) = GraftTable.fsAndPath(location)
      try fs.delete(new HPath(batchDir), true) catch { case _: Exception => () }
      return 0L
    }
    commitRewrite(cands, batchDir, schemaAtWrite, -deleted, "DELETE")
    deleted
  }

  /** Merge-on-read DELETE: record matching rows' positions in per-file
    * deletion-vector sidecars instead of rewriting the files — see
    * [[DeletionVectors]]. Candidate files still zone-map-prune exactly
    * like the COW path (a refuted file is untouched either way); within
    * the candidates the cost model inverts: a SPARSE delete (the
    * compliance-erasure shape — few rows scattered over many large
    * files) writes kilobyte sidecars and leaves every data byte in
    * place, where COW would rewrite all of them.
    *
    * Files the delete hits DENSELY (matched fraction of live rows >
    * `maxDeleteRatio`, or every live row) are rewritten copy-on-write in
    * the same commit instead — a mostly-dead file makes every later read
    * pay a position filter for rows that should just be gone, and a
    * fully-deleted file should leave the list entirely. Both halves
    * publish in ONE CAS commit: sidecars for the sparse files, swapped
    * files for the dense ones, rowCount down by the total.
    *
    * Reads stay exact: every path (Scala, DSv2/SQL, snapshots, CDF, COW
    * rewrites) filters recorded positions; a later compact/recluster/
    * UPDATE materializes the vectors and drops them. Returns rows
    * deleted. */
  def deleteMor(filters: Seq[Filter], maxDeleteRatio: Double = 0.5): Long =
    withTableLock {
      refreshMeta()
      require(filters.nonEmpty,
        "DELETE with no predicate — use truncate() for the full-table form")
      val cond = filters.map(GraftTable.filterToColumn).reduce(_ && _)
      val cands = mutationCandidates(filters)
      if (cands.isEmpty) return 0L
      val schemaAtWrite = meta.currentSchema
      val dvsAtScan = meta.dvs
      val candSet = cands.toSet
      val candDvs = dvsAtScan.view.filterKeys(candSet).toMap
      // matched (file, position) pairs over candidate files, existing
      // vectors applied first (an already-dead row must not re-delete)
      val raw = spark.read.schema(readSchema())
        .parquet(cands.map(f => s"$location/$f"): _*)
      val matched = applyDvs(raw, candDvs)
        .filter(coalesce(cond, lit(false)))
        .select(col("_metadata.file_path").as("__fp"),
          col("_metadata.row_index").as("__ri"))
      val counts = matched.groupBy("__fp").count().collect()
        .map(r => GraftTable.relativize(
          DeletionVectors.normalize(r.getString(0)), location) -> r.getLong(1))
        .toMap
      val totalDeleted = counts.values.sum
      if (totalDeleted == 0L) return 0L
      // live rows per candidate file = footer rows − existing vector
      def liveRows(rel: String): Long =
        meta.fileStats.get(rel).flatMap(_.values.headOption).map(_.rows)
          .getOrElse(footerInfo(s"$location/$rel")._1) -
          dvsAtScan.get(rel).map(_.card).getOrElse(0L)
      val (dense, sparse) = counts.partition { case (rel, n) =>
        val live = liveRows(rel)
        n >= live || n.toDouble / live.toDouble > maxDeleteRatio
      }
      // -- sparse half: write one sidecar per file, from the executors --
      val sparseEntries = writeDvSidecars(matched, sparse.keySet, dvsAtScan)
      require(sparseEntries.length == sparse.size,
        s"merge-on-read DELETE wrote ${sparseEntries.length} sidecars for " +
          s"${sparse.size} sparse files")
      // -- dense half: classic copy-on-write rewrite, same commit --------
      val denseRels = dense.keys.toVector
      val denseInfos: Seq[(String, (Long, Map[String, GraftTable.ColFileStats]))] =
        if (denseRels.isEmpty) Seq.empty
        else {
          val keptDf = readFilesDf(denseRels).filter(!coalesce(cond, lit(false)))
          val batchDir = writeBatchDir(keptDf)
          footerInfosRel(listParquetFiles(batchDir))
        }
      val denseSet = denseRels.toSet
      commitMutation { base =>
        require(base.currentSchema == schemaAtWrite,
          s"concurrent schema change during MOR DELETE of $location — retry")
        require(cands.forall(base.files.contains),
          s"concurrent compaction/truncate during MOR DELETE of $location — retry")
        require(cands.forall(r => base.dvs.get(r) == dvsAtScan.get(r)),
          s"concurrent merge-on-read delete on $location — retry")
        base.copy(
          files = base.files.filterNot(denseSet) ++ denseInfos.map(_._1),
          rowCount = base.rowCount - totalDeleted,
          nextBatchId = base.nextBatchId + (if (denseRels.isEmpty) 0 else 1),
          fileStats = base.fileStats.view.filterKeys(!denseSet(_)).toMap ++
            denseInfos.collect { case (rel, (_, st)) if st.nonEmpty => rel -> st },
          dvs = base.dvs.view.filterKeys(!denseSet(_)).toMap ++ sparseEntries)
      }
      totalDeleted
    }

  /** Write one deletion-vector sidecar per file of `targetRels`, from
    * the executors, merging each file's existing vector. `matched` is a
    * `(__fp, __ri)` DataFrame of NEWLY dead positions (existing vectors
    * already applied upstream, so fresh and old positions are disjoint).
    * Returns (data-file rel → new DvEntry). */
  private def writeDvSidecars(matched: DataFrame, targetRels: Set[String],
      dvsAtScan: Map[String, GraftTable.DvEntry])
      : Array[(String, GraftTable.DvEntry)] =
    if (targetRels.isEmpty) Array.empty
    else {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        GraftTable.hadoopConf())
      val dvBatchRel = s"data/batch-dv-${java.util.UUID.randomUUID().toString.take(8)}"
      val loc = location
      val targetUris = targetRels.map(r => DeletionVectors.normalize(s"$loc/$r"))
      val oldDvByRel = dvsAtScan.view.filterKeys(targetRels).toMap
        .map { case (rel, e) => rel -> s"$loc/${e.path}" }
      val (fs0, _) = GraftTable.fsAndPath(location)
      fs0.mkdirs(new HPath(s"$location/$dvBatchRel"))
      matched.groupBy("__fp")
        .agg(sort_array(collect_list(col("__ri"))).as("__pos"))
        .repartition(math.min(targetRels.size, 64))
        .mapPartitions { rows =>
          rows.flatMap { r =>
            val uriPath = DeletionVectors.normalize(r.getString(0))
            if (!targetUris.contains(uriPath)) Iterator.empty
            else {
              val rel = GraftTable.relativize(uriPath, loc)
              val fresh = r.getSeq[Long](1).toArray
              val all = oldDvByRel.get(rel) match {
                case Some(old) => DeletionVectors.merge(
                  DeletionVectors.Cache.get(old, conf.value), fresh)
                case None => fresh
              }
              val name = s"$dvBatchRel/" +
                s"${java.util.UUID.randomUUID().toString.take(16)}.dv"
              DeletionVectors.write(
                new HPath(s"$loc/$name").getFileSystem(conf.value),
                s"$loc/$name", all)
              Iterator.single((rel, name, all.length.toLong))
            }
          }
        }(org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong))
        .collect()
        .map { case (rel, dvRel, card) =>
          rel -> GraftTable.DvEntry(dvRel, card) }
    }

  /** Merge-on-read UPDATE: matching rows' OLD versions die into
    * deletion-vector sidecars and their NEW versions land as a fresh
    * appended batch — no candidate file is rewritten, so a sparse
    * update of a huge table costs ∝ rows updated (sidecars + one small
    * batch of updated rows) where the COW [[update]] rewrites every
    * candidate file. The two halves publish in ONE CAS commit; row
    * count is unchanged; the CDF reads the commit as delete(old) +
    * insert(new) — exactly an update's diff.
    *
    * Tradeoffs, stated plainly: updated rows leave their file's
    * clustering (zone maps on the new batch are whatever the updated
    * rows span; a bucketed table still routes the new batch by bucket),
    * and a file most of whose rows are updated keeps paying the
    * position-filter read tax until a rewrite (compact / COW UPDATE /
    * recluster) materializes it — dense updates should prefer
    * [[update]]. The append-only streaming source does not see the
    * commit (row count unchanged — same contract as COW UPDATE);
    * the `graft-cdf` stream serves it exactly. Returns rows updated. */
  def updateMor(assignments: Map[String, Column], filters: Seq[Filter]): Long =
    withTableLock {
      refreshMeta()
      require(assignments.nonEmpty, "UPDATE requires at least one assignment")
      assignments.keys.foreach(c =>
        require(meta.currentSchema.fieldNames.contains(c),
          s"UPDATE references unknown column '$c'"))
      val cond =
        if (filters.isEmpty) lit(true)
        else filters.map(GraftTable.filterToColumn).reduce(_ && _)
      val matchedCond = coalesce(cond, lit(false))
      val cands = mutationCandidates(filters)
      if (cands.isEmpty) return 0L
      val schemaAtWrite = meta.currentSchema
      val dvsAtScan = meta.dvs
      val candSet = cands.toSet
      val candDvs = dvsAtScan.view.filterKeys(candSet).toMap
      val raw = spark.read.schema(readSchema())
        .parquet(cands.map(f => s"$location/$f"): _*)
      val live = applyDvs(raw, candDvs)
      val matchedRows = live.filter(matchedCond)
      // new versions: assignments applied over the matched rows only
      val rewritten = matchedRows.select(schemaAtWrite.fields.map { f =>
        assignments.get(f.name) match {
          case Some(v) => v.cast(f.dataType).as(f.name, f.metadata)
          case None => col(f.name).as(f.name, f.metadata)
        }
      }.toIndexedSeq: _*)
      val batchDir = writeBatchDir(rewritten)
      val newVersionFiles = listParquetFiles(batchDir)
      val newInfos = footerInfosRel(newVersionFiles)
      val updated = newInfos.map(_._2._1).sum
      if (updated == 0L) {
        val (fs, _) = GraftTable.fsAndPath(location)
        try fs.delete(new HPath(batchDir), true) catch { case _: Exception => () }
        return 0L
      }
      try enforceChecks(newInfos.map(i => s"$location/${i._1}"), schemaAtWrite,
        "MOR UPDATE")
      catch { case e: Throwable =>
        val (fs, _) = GraftTable.fsAndPath(location)
        try fs.delete(new HPath(batchDir), true) catch { case _: Exception => () }
        throw e
      }
      // old versions die into sidecars (any candidate file may hold them)
      val matched = matchedRows
        .select(col("_metadata.file_path").as("__fp"),
          col("_metadata.row_index").as("__ri"))
      val hitRels = matched.groupBy("__fp").count().collect()
        .map(r => GraftTable.relativize(
          DeletionVectors.normalize(r.getString(0)), location)).toSet
      val entries = writeDvSidecars(matched, hitRels, dvsAtScan)
      require(entries.length == hitRels.size,
        s"merge-on-read UPDATE wrote ${entries.length} sidecars for " +
          s"${hitRels.size} files")
      commitMutation { base =>
        require(base.currentSchema == schemaAtWrite,
          s"concurrent schema change during MOR UPDATE of $location — retry")
        require(cands.forall(base.files.contains),
          s"concurrent compaction/truncate during MOR UPDATE of $location — retry")
        require(cands.forall(r => base.dvs.get(r) == dvsAtScan.get(r)),
          s"concurrent merge-on-read mutation on $location — retry")
        base.copy(
          files = base.files ++ newInfos.map(_._1),
          nextBatchId = base.nextBatchId + 1,
          fileStats = base.fileStats ++
            newInfos.collect { case (rel, (_, st)) if st.nonEmpty => rel -> st },
          dvs = base.dvs ++ entries)
      }
      updated
    }

  /** UPDATE … SET: `assignments` applied to rows matching the
    * conjunction of `filters` (all rows when empty — though zone maps
    * then prune nothing). Assignment expressions may reference the
    * row's own columns (`SET a = a + 1`). Returns rows updated. */
  def update(assignments: Map[String, Column], filters: Seq[Filter]): Long =
    withTableLock {
      refreshMeta()
      require(assignments.nonEmpty, "UPDATE requires at least one assignment")
      assignments.keys.foreach(c =>
        require(meta.currentSchema.fieldNames.contains(c),
          s"UPDATE references unknown column '$c'"))
      val cond =
        if (filters.isEmpty) lit(true)
        else filters.map(GraftTable.filterToColumn).reduce(_ && _)
      val matched = coalesce(cond, lit(false))
      val cands = mutationCandidates(filters)
      if (cands.isEmpty) return 0L
      val schemaAtWrite = meta.currentSchema
      val src = readFilesDf(cands)
      val updated = src.filter(matched).count()
      if (updated == 0L) return 0L
      val rewritten = src.select(schemaAtWrite.fields.map { f =>
        assignments.get(f.name) match {
          case Some(v) =>
            when(matched, v.cast(f.dataType)).otherwise(col(f.name))
              .as(f.name, f.metadata)
          case None => col(f.name).as(f.name, f.metadata)
        }
      }.toIndexedSeq: _*)
      val batchDir = writeBatchDir(rewritten)
      commitRewrite(cands, batchDir, schemaAtWrite, 0L, "UPDATE")
      updated
    }

  /** MERGE INTO (upsert) — each source row UPDATES every target row
    * sharing its key (all columns take the source row's values) or
    * INSERTS when no target row matches: the daily-increment / CDC
    * shape. Source keys must be unique (the SQL MERGE cardinality
    * rule — a target row with two source matches is ambiguous and
    * throws); source rows with a NULL key never match (SQL equality)
    * and insert. Returns (rowsUpdated, rowsInserted).
    *
    * Scale shape: candidate files are zone-map-pruned against the
    * source's per-key [min, max], so an increment whose keys fall in
    * recent ranges touches only recent files when the table is
    * clustered on the key (`sort_by`/`zorder_by`) — everything else is
    * carried forward untouched. The rewrite is one distributed left
    * join of the candidate rows against the source; unmatched source
    * rows land in the same batch, and one CAS commit publishes the
    * whole mutation atomically. */
  def merge(source: DataFrame, keyCols: Seq[String]): (Long, Long) = {
    val (u, i, _) = mergeInternal(source, keyCols, None, None)
    (u, i)
  }

  /** Exactly-once streaming upsert: [[merge]] with the same per-pipeline
    * batch watermark as [[appendStream]], recorded in the SAME atomic
    * commit as the merge itself — a checkpoint-replayed micro-batch is a
    * no-op, a crash between "files written" and "batch marked" cannot
    * double-apply. The CDC-into-table companion of the append ingest. */
  def mergeStream(source: DataFrame, keyCols: Seq[String],
      queryId: String, batchId: Long): (Long, Long) = {
    val (u, i, _) = mergeInternal(source, keyCols, Some((queryId, batchId)), None)
    (u, i)
  }

  /** Apply one FULL CDC batch — upserts AND deletes — in ONE atomic
    * commit: source rows whose `opCol` equals `deleteOp` remove every
    * target row sharing their key; every other row upserts (matched
    * rows take its values, unmatched rows insert). The op column itself
    * is not stored. One key may appear once in the batch (a key both
    * upserted and deleted is ambiguous and throws — collapse the
    * changelog to its final image per key upstream); duplicate delete
    * rows for one key collapse harmlessly. Candidate files zone-map-
    * prune against the COMBINED key range (delete keys widen it), so a
    * changelog of recent keys into a key-clustered table touches only
    * recent files. Returns (updated, inserted, deleted). */
  def applyCdc(source: DataFrame, keyCols: Seq[String], opCol: String,
      deleteOp: String = "D"): (Long, Long, Long) =
    applyCdcInternal(source, keyCols, opCol, deleteOp, None)

  /** Exactly-once streaming CDC apply: [[applyCdc]] under the same
    * per-pipeline batch watermark as [[mergeStream]] — the delete half
    * and the upsert half of a replayed micro-batch are skipped
    * TOGETHER (they committed together). */
  def applyCdcStream(source: DataFrame, keyCols: Seq[String], opCol: String,
      queryId: String, batchId: Long,
      deleteOp: String = "D"): (Long, Long, Long) =
    applyCdcInternal(source, keyCols, opCol, deleteOp, Some((queryId, batchId)))

  private def applyCdcInternal(source: DataFrame, keyCols: Seq[String],
      opCol: String, deleteOp: String,
      txn: Option[(String, Long)]): (Long, Long, Long) = {
    require(source.columns.contains(opCol),
      s"CDC source has no op column '$opCol'")
    require(!keyCols.contains(opCol), "the op column cannot be a key column")
    // null-safe: a NULL op is an upsert, never a delete. A NULL-key
    // delete row matches nothing (SQL equality): it drops out here,
    // before mergeInternal, which requires non-null delete keys
    val dels = source.filter(col(opCol) <=> lit(deleteOp)).drop(opCol)
      .na.drop(keyCols)
    val ups = source.filter(!(col(opCol) <=> lit(deleteOp))).drop(opCol)
    mergeInternal(ups, keyCols, txn, Some(dels))
  }

  /** `delSource` rows must carry non-null keys (the pre-candidate pass
    * refuses any other): the folded `deleted` tally groups by key, and a
    * null-key delete row would count the null-key target rows it groups
    * with, which SQL equality never matches. */
  private[storage] def mergeInternal(source: DataFrame, keyCols: Seq[String],
      txn: Option[(String, Long)],
      delSource: Option[DataFrame]): (Long, Long, Long) = withTableLock {
    refreshMeta()
    val replayed = txn.exists { case (qid, bid) =>
      meta.streamTxn.get(qid).exists(_ >= bid)
    }
    if (replayed) return (0L, 0L, 0L)
    require(keyCols.nonEmpty, "MERGE requires at least one key column")
    keyCols.foreach(c => require(meta.currentSchema.fieldNames.contains(c),
      s"MERGE key '$c' is not a table column"))
    val schemaAtWrite = meta.currentSchema
    // the source feeds the cardinality check, the key-range prune, the
    // rewrite join, the anti-join, and both counts — one materialization
    val s0 = alignToSchema(source)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // delete keys: duplicate delete rows collapse — only the key matters
    val d0 = delSource.map(_.select(keyCols.map(col): _*)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      // ONE pre-candidate pass over the persisted source computes what
      // were three separate driver actions (optimization round 18 — the
      // merge path is a chain of small driver-coordinated jobs, and
      // each action pays a full plan/schedule round trip): the MERGE
      // cardinality check, the upsert∩delete overlap check, and the
      // zone-map prune bounds. Grouping includes the any-null-key flag
      // (a function of the key values, so it never splits a group):
      // null-key rows group among themselves exactly as the original
      // groupBy(keys) did for the duplicate check, while the overlap
      // and range reads exclude them per SQL-equality semantics.
      val nkCol = keyCols.map(col(_).isNull).reduce(_ || _)
      val sFlags = s0.select((keyCols.map(col) :+
        lit(1L).as("__s") :+ lit(0L).as("__d")): _*)
      val keyedAll = d0.fold(sFlags)(d => sFlags.unionByName(
        d.select((keyCols.map(col) :+ lit(0L).as("__s") :+ lit(1L).as("__d")): _*)))
      val perKey = keyedAll.withColumn("__nk", nkCol)
        .groupBy((keyCols.map(col) :+ col("__nk")): _*)
        .agg(sum(col("__s")).as("__ns"), sum(col("__d")).as("__nd"))
      val preAggs = Seq(max(col("__ns")).as("__maxns"),
          sum(when(col("__nd") > 0 && col("__nk"), 1L)).as("__nulldel"),
          sum(when(col("__ns") > 0 && col("__nd") > 0, 1L)).as("__overlap")) ++
        keyCols.flatMap(k => Seq(
          min(when(!col("__nk"), col(k))).as(s"__mn_$k"),
          max(when(!col("__nk"), col(k))).as(s"__mx_$k")))
      val preRow = perKey.agg(preAggs.head, preAggs.tail: _*).collect().head
      if (Option(preRow.getAs[Any]("__maxns")).exists(
          _.asInstanceOf[Long] > 1L)) {
        // rare failure path: re-derive the first duplicate key only to
        // reproduce the original error message
        val dup = s0.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"MERGE source has duplicate keys (first: ${dup.headOption.orNull}) — " +
            "each target row may match at most one source row")
      }
      require(Option(preRow.getAs[Any]("__nulldel"))
          .forall(_.asInstanceOf[Long] == 0L),
        s"MERGE delete rows must carry non-null keys (${keyCols.mkString(", ")})")
      require(Option(preRow.getAs[Any]("__overlap"))
          .forall(_.asInstanceOf[Long] == 0L),
        "CDC batch has a key both upserted and deleted — collapse the " +
          "changelog to one final image per key upstream")
      // prune: a file can hold a match only if every key column's zone
      // map intersects the source's key range (null-key rows are pure
      // inserts and do not widen the range; DELETE keys widen it)
      val rngRow = preRow
      val haveKeys = keyCols.exists(k => rngRow.getAs[Any](s"__mn_$k") != null)
      val pruneFilters: Seq[Filter] =
        if (!haveKeys) Seq.empty
        else keyCols.flatMap { k =>
          Option(rngRow.getAs[Any](s"__mn_$k")).map(v =>
            org.apache.spark.sql.sources.GreaterThanOrEqual(k, v)).toSeq ++
          Option(rngRow.getAs[Any](s"__mx_$k")).map(v =>
            org.apache.spark.sql.sources.LessThanOrEqual(k, v)).toSeq
        }
      val cands = if (haveKeys) mutationCandidates(pruneFilters) else Vector.empty[String]
      if (cands.isEmpty) {
        // nothing can match (upsert OR delete): the source is an insert
        val inserted = appendLocked(s0, txn)
        (0L, inserted, 0L)
      } else {
        val t = readFilesDf(cands)
        val marker = "__graft_matched"
        val sA = s0.withColumn(marker, lit(true)).alias("s")
        val tA = t.alias("t")
        // === (not <=>): NULL keys never match, per SQL MERGE
        val on = keyCols.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
        val upserted = tA.join(sA, on, "left").select(
          schemaAtWrite.fields.map { f =>
            when(coalesce(col(s"s.$marker"), lit(false)), col(s"s.${f.name}"))
              .otherwise(col(s"t.${f.name}")).as(f.name, f.metadata)
          }.toIndexedSeq: _*)
        // deleted keys drop out of the rewrite entirely (a key cannot be
        // both upserted and deleted, checked above)
        val rewritten = d0.fold(upserted)(d => upserted.join(d, keyCols, "left_anti"))
        val inserts = s0.join(t.select(keyCols.map(col): _*), keyCols, "left_anti")
        // ONE counting pass replaces four driver actions (candRows +
        // the updated/deleted semi-join counts + the inserted anti-join
        // count), each of which re-scanned the candidate files
        // (optimization round 18): per (key, any-null-key) group, tally
        // target/source/delete multiplicities, then fold. SQL-equality
        // semantics are preserved exactly — null-key target rows match
        // nothing (!__nk guards updated; delete keys are non-null, as
        // the pre-candidate pass requires), null-key source rows always
        // insert.
        val nk2 = keyCols.map(col(_).isNull).reduce(_ || _)
        val tFlags = t.select((keyCols.map(col) :+ lit(1L).as("__t") :+
          lit(0L).as("__s") :+ lit(0L).as("__d")): _*)
        val sFlags2 = s0.select((keyCols.map(col) :+ lit(0L).as("__t") :+
          lit(1L).as("__s") :+ lit(0L).as("__d")): _*)
        val all3 = d0.fold(tFlags.unionByName(sFlags2))(d =>
          tFlags.unionByName(sFlags2).unionByName(
            d.select((keyCols.map(col) :+ lit(0L).as("__t") :+
              lit(0L).as("__s") :+ lit(1L).as("__d")): _*)))
        val cntRow = all3.withColumn("__nk", nk2)
          .groupBy((keyCols.map(col) :+ col("__nk")): _*)
          .agg(sum(col("__t")).as("__nt"), sum(col("__s")).as("__ns"),
            sum(col("__d")).as("__nd"))
          .agg(
            coalesce(sum(col("__nt")), lit(0L)).as("__cand"),
            coalesce(sum(when(col("__ns") > 0 && !col("__nk"), col("__nt"))
              .otherwise(0L)), lit(0L)).as("__upd"),
            coalesce(sum(when(col("__nd") > 0, col("__nt")).otherwise(0L)),
              lit(0L)).as("__del"),
            coalesce(sum(when(col("__nt") === 0 || col("__nk"), col("__ns"))
              .otherwise(0L)), lit(0L)).as("__ins"))
          .collect().head
        val candRows = cntRow.getAs[Long]("__cand")
        val updated = cntRow.getAs[Long]("__upd")
        val deleted = cntRow.getAs[Long]("__del")
        val inserted = cntRow.getAs[Long]("__ins")
        if (updated == 0L && deleted == 0L) {
          // no source row matched: the whole source is a plain append
          // (no candidate file needs rewriting)
          (0L, if (inserted > 0L) appendLocked(s0, txn) else 0L, 0L)
        } else {
          // The rewrite and the inserts go to SEPARATE batch dirs under
          // ONE commit, because the streaming source must see only the
          // insert files: the rewrite files carry rows every stream
          // already delivered, and re-emitting them would duplicate the
          // feed. The commit records the insert files as its
          // stream-visible emission (Meta.emitFiles).
          def dirInfos(dir: String): Seq[(String, (Long, Map[String, GraftTable.ColFileStats]))] =
            footerInfosRel(listParquetFiles(dir))
          val rewriteDir = writeBatchDir(rewritten)
          val rewriteInfos = dirInfos(rewriteDir)
          val insertDir = if (inserted > 0L) Some(writeBatchDir(inserts)) else None
          val insertInfos = insertDir.map(dirInfos).getOrElse(Seq.empty)
          try enforceChecks((rewriteInfos ++ insertInfos).map(i => s"$location/${i._1}"),
            schemaAtWrite, "MERGE")
          catch { case e: Throwable =>
            // refused data never commits; reclaim the staged dirs
            // eagerly — same discipline as appendLocked and the MOR
            // update path (a crash here still leaves only vacuum-able
            // residue)
            val (fs, _) = GraftTable.fsAndPath(location)
            (rewriteDir +: insertDir.toSeq).foreach { d =>
              try fs.delete(new HPath(d), true) catch { case _: Exception => () }
            }
            throw e
          }
          val n = (rewriteInfos ++ insertInfos).map(_._2._1).sum
          require(n == candRows + inserted - deleted,
            s"MERGE row conservation failure: wrote $n, " +
              s"expected ${candRows + inserted - deleted}")
          val candSet = cands.toSet
          val dvsAtScan = meta.dvs
          val committed = commitMutation { base =>
            require(base.currentSchema == schemaAtWrite,
              s"concurrent schema change during MERGE of $location — retry")
            require(cands.forall(base.files.contains),
              s"concurrent compaction/truncate during MERGE of $location — retry")
            require(cands.forall(r => base.dvs.get(r) == dvsAtScan.get(r)),
              s"concurrent merge-on-read delete during MERGE of $location — retry")
            txn.foreach { case (qid, bid) =>
              // zombie-driver replay detected at rebase time: same no-op
              // contract as appendLocked
              if (base.streamTxn.get(qid).exists(_ >= bid))
                throw new GraftTable.CommitSuperseded(
                  s"stream batch $bid for query $qid was committed concurrently")
            }
            base.copy(
              files = base.files.filterNot(candSet) ++
                rewriteInfos.map(_._1) ++ insertInfos.map(_._1),
              rowCount = base.rowCount + inserted - deleted,
              nextBatchId = base.nextBatchId + 2,
              fileStats = base.fileStats.view.filterKeys(!candSet(_)).toMap ++
                (rewriteInfos ++ insertInfos).collect {
                  case (rel, (_, st)) if st.nonEmpty => rel -> st
                },
              dvs = base.dvs.view.filterKeys(!candSet(_)).toMap,
              emitFiles = insertInfos.map(_._1).toVector,
              streamTxn = txn.fold(base.streamTxn) { case (qid, bid) =>
                base.streamTxn + (qid -> bid)
              })
          }
          if (!committed) {
            // a zombie twin committed this batch first: the staged dirs
            // were never referenced — reclaim them now, report the no-op
            try { val (fs, _) = GraftTable.fsAndPath(location)
              (Seq(rewriteDir) ++ insertDir)
                .foreach(d => fs.delete(new HPath(d), true))
            } catch { case _: Exception => () }
            (0L, 0L, 0L)
          } else (updated, inserted, deleted)
        }
      }
    } finally { s0.unpersist(); d0.foreach(_.unpersist()); () }
  }

  /** Change data feed, computed on read from the commit history — every
    * row-level change in `(fromVersion, toVersion]` as a DataFrame of
    * the table's columns plus `_change_type` ('insert' | 'delete'; an
    * update appears as its pre-image delete + post-image insert, the
    * CDF-without-change-files model) and `_commit_version`.
    *
    * Per commit, the diff reads ONLY the files that commit swapped
    * (removed ∪ added) — never the whole table — and reduces them with
    * a null-safe multiplicity diff (per-row counts full-outer-joined,
    * so duplicate rows and NULL keys diff correctly; carried rows of a
    * copy-on-write rewrite cancel exactly). Append commits short-cut to
    * their added files with no shuffle at all. At 100 TB the feed cost
    * is proportional to the data each commit touched, which is the
    * lower bound for a feed computed without persisted change files.
    * A compaction commit diffs to empty at the cost of scanning the
    * compacted bytes — streams should prefer the graft SOURCE, which
    * skips same-rowcount commits by metadata alone.
    *
    * Bounds: every version in `[fromVersion, toVersion]` must be
    * retained (expireHistory limits the feed's reach) with its data
    * files intact (a truncate reclaims pre-truncate files, so a feed
    * across one fails with the reclaimed error); the schema must be
    * stable across the range — split the range at an ALTER. */
  /** METADATA-ONLY append-range check: true iff every commit in
    * `(fromVersion, current]` only ADDED files — no removals, no
    * deletion-vector changes, no schema change — i.e. the range is
    * pure appends and [[changes]] over it takes its no-shuffle
    * added-files shortcut with only `insert` rows. This is the cheap
    * precondition the streaming delta refresh gates on: probing the
    * FEED instead would pay a compaction commit's full diff scan just
    * to learn "rebuild" (its feed diffs to empty at the cost of
    * scanning the compacted mass). Reads only the history JSONs.
    * Never throws: unreadable/expired history reads as false (callers
    * fall back to their full path). */
  def isAppendOnlyRange(fromVersion: Long): Boolean =
    try {
      val head = GraftTable.committedVersion(location)
      if (fromVersion > head) false
      else (fromVersion to head)
        .map(v => GraftTable.readHistoryRaw(location, v))
        .sliding(2).forall {
          case Seq(a, b) =>
            a.dvs == b.dvs && sameSchema(a, b) && appendOnlyPair(a, b)
          case _ => true // single-element window: empty range
        }
    } catch { case _: Exception => false }

  /** Schema equality of two raw snapshots: equal JSON strings decide
    * without parsing (the writer renders a given StructType
    * deterministically, so an unchanged schema round-trips to the
    * identical string); only a string mismatch pays the parse. */
  private def sameSchema(a: GraftTable.RawSnapshot,
      b: GraftTable.RawSnapshot): Boolean =
    a.schemaJson == b.schemaJson ||
      DataType.fromJson(a.schemaJson) == DataType.fromJson(b.schemaJson)

  /** "Commit (a → b) only ADDED files", decided O(churn) from the
    * per-commit manifest DELTA segments (VERDICT r15 #1): when b's
    * segment list EXTENDS a's, the commit's file-list delta is exactly
    * the new segments — append-only iff none removes. Inline (small)
    * tables diff their inline lists. Only a list the replay cannot
    * express as an extension (manifest compaction, RESTORE, the
    * inline→segment upgrade commit) falls back to hydrating THIS pair —
    * never the whole range. */
  private def appendOnlyPair(a: GraftTable.RawSnapshot,
      b: GraftTable.RawSnapshot): Boolean =
    if (a.manifest.isEmpty && b.manifest.isEmpty)
      a.inlineFiles.toSet.subsetOf(b.inlineFiles.toSet)
    else if (a.manifest.nonEmpty && b.manifest.startsWith(a.manifest))
      b.manifest.drop(a.manifest.size)
        .forall(rel => GraftTable.readSegment(location, rel).removed.isEmpty)
    else
      GraftTable.readHistoryMeta(location, a.version).files.toSet
        .subsetOf(GraftTable.readHistoryMeta(location, b.version).files.toSet)

  def changes(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"bad change range [$fromVersion, $toVersion]")
    val head = GraftTable.committedVersion(location)
    require(toVersion <= head,
      s"version $toVersion was never committed (current is $head)")
    // RAW snapshots only — the per-commit diff below needs each
    // version's dvs/schema/defaults and its manifest SEGMENT list,
    // never the hydrated file list (VERDICT r15 #1: hydrating every
    // version in the range cost O(table files) of driver metadata work
    // per streaming delta tick at million-file scale)
    val snaps = (fromVersion to toVersion).map { v =>
      try GraftTable.readHistoryRaw(location, v)
      catch { case e: Exception => throw new IllegalStateException(
        s"changes($fromVersion, $toVersion) on $location needs snapshot v$v, " +
          "which is expired or unreadable — retained history bounds the feed", e) }
    }
    val s0 = DataType.fromJson(snaps.head.schemaJson).asInstanceOf[StructType]
    snaps.zipWithIndex.foreach { case (h, i) =>
      require(sameSchema(snaps.head, h),
        s"schema changed at v${fromVersion + i} inside the change range — " +
          "split the range at the ALTER") }
    val changeType = "_change_type"
    val commitVersion = "_commit_version"
    val names = s0.fieldNames.toSeq

    val (changesFs, _) = GraftTable.fsAndPath(location)
    def readRels(h: GraftTable.RawSnapshot, rels: Seq[String]): DataFrame = {
      val relSet = rels.toSet
      val dvRels = h.dvs.view.filterKeys(relSet).toMap
      val missing = (rels ++ dvRels.values.map(_.path))
        .filterNot(r => changesFs.exists(new HPath(s"$location/$r")))
      require(missing.isEmpty,
        s"change-feed data reclaimed (truncate/vacuum): ${missing.take(3).mkString(", ")}")
      applyDvs(
        spark.read.schema(GraftTable.withExistenceDefaults(s0, h.defaults))
          .parquet(rels.map(f => s"$location/$f"): _*),
        dvRels)
        .select(s0.fields.map(f => col(f.name).as(f.name, f.metadata)).toIndexedSeq: _*)
    }

    // Net file-list delta of one commit, O(churn) when the manifest
    // expresses it — the shared helper (also the streaming sources'
    // version walk; see its doc for the three cases).
    def pairFileDelta(p: GraftTable.RawSnapshot,
        c: GraftTable.RawSnapshot): (Seq[String], Seq[String]) =
      GraftTable.commitFileDelta(location, p, c)

    // null-safe multiplicity diff: |delta| copies of each changed row
    def countDiff(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
      val o = oldDf.groupBy(names.map(col): _*).agg(count(lit(1)).as("__n_old"))
      val n = newDf.groupBy(names.map(col): _*).agg(count(lit(1)).as("__n_new"))
      val cond = names.map(c => o(c) <=> n(c)).reduce(_ && _)
      o.join(n, cond, "full_outer")
        .select(names.map(c => coalesce(o(c), n(c)).as(c)) :+
          (coalesce(n("__n_new"), lit(0L)) - coalesce(o("__n_old"), lit(0L)))
            .as("__delta"): _*)
        .filter(col("__delta") =!= 0L)
        .withColumn(changeType,
          when(col("__delta") > 0, "insert").otherwise("delete"))
        .withColumn("__rep",
          explode(array_repeat(lit(1), abs(col("__delta")).cast("int"))))
        .drop("__delta", "__rep")
    }

    val perCommit = snaps.sliding(2).toSeq.zipWithIndex.flatMap {
      case (Seq(p, c), i) =>
        val v = fromVersion + i + 1
        val (removedFiles, addedFiles) = pairFileDelta(p, c)
        val addedSet = addedFiles.toSet
        val removedSet = removedFiles.toSet
        // a merge-on-read delete changes a file's EFFECTIVE content
        // without touching the file list: any CARRIED file whose
        // deletion-vector entry moved diffs like a swapped file (readRels
        // applies each side's own vectors, so the dead rows surface as
        // deletes and the carried rows cancel — cost ∝ the vectored
        // files, the same bound as a COW swap). Carried = keyed in
        // either side's dv map but not in this commit's file delta
        // (a dv entry only ever references a file live in its version).
        val dvChanged = (p.dvs.keySet ++ c.dvs.keySet).toSeq.sorted
          .filter(f => p.dvs.get(f) != c.dvs.get(f))
          .filterNot(f => addedSet(f) || removedSet(f))
        val removed = removedFiles ++ dvChanged
        val added = addedFiles ++ dvChanged
        if (removed.isEmpty && added.isEmpty) None
        else if (removed.isEmpty)
          // pure append: added rows are inserts, no shuffle
          Some(readRels(c, added).withColumn(changeType, lit("insert"))
            .withColumn(commitVersion, lit(v)))
        else Some(countDiff(readRels(p, removed), readRels(c, added))
          .withColumn(commitVersion, lit(v)))
      case _ => None
    }
    perCommit.reduceOption(_ unionByName _).getOrElse {
      val outSchema = s0
        .add(changeType, org.apache.spark.sql.types.StringType, nullable = false)
        .add(commitVersion, org.apache.spark.sql.types.LongType, nullable = false)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    }
  }

  /** Commit point for a SQL row-level operation executed through
    * Spark's group-based ReplaceData machinery (DELETE / UPDATE / MERGE
    * INTO on a graft table via `SupportsRowLevelOperations`): atomically
    * swap the files the copy-on-write scan read (`scanned`, absolute
    * paths as planned — the "groups" of the operation) for the files the
    * distributed write staged under `stagingDir`. The row-count delta is
    * recomputed from parquet footers on both sides, so DELETE shrinks,
    * UPDATE holds, and MERGE grows the committed count without trusting
    * the caller. A MERGE that both rewrites and inserts marks the commit
    * as a change commit (carried and new rows share files — a streaming
    * source cannot serve it exactly-once; see `Meta.changeCommit`). */
  def replaceFilesCommit(scanned: Seq[String], stagingDir: String,
      schemaAtWrite: StructType, what: String,
      stagedFiles: Option[Seq[String]] = None,
      dvsAtScan: Option[Map[String, GraftTable.DvEntry]] = None): Unit = withTableLock {
    refreshMeta()
    // the COW scan read the groups under these deletion vectors (the
    // operation's scan time for the SQL path; the refreshed state for
    // single-writer callers) — a concurrent MOR delete invalidates the
    // staged rewrite, which would resurrect its dead rows
    val dvsAt = dvsAtScan.getOrElse(meta.dvs)
    val replaced = scanned.map(relativize(_, location)).distinct
    // When the caller knows the authoritative output set (the writer
    // commit messages), commit EXACTLY it — a zombie task attempt can
    // drop a fully-written orphan into the staging dir at any moment,
    // so a directory listing here would race it. The listing fallback
    // exists for single-writer callers (tests) only.
    val staged = stagedFiles.getOrElse(listParquetFiles(stagingDir))
    // DELETE carries rows that already passed; UPDATE/MERGE staged files
    // hold new values and must hold the CHECK constraints
    if (what != "DELETE") enforceChecks(staged, schemaAtWrite, what)
    val infos = footerInfosRel(staged)
    if (replaced.isEmpty && infos.isEmpty) {
      // the operation touched no group and wrote no rows — leave no trace
      val (fs, _) = GraftTable.fsAndPath(location)
      try fs.delete(new HPath(stagingDir), true) catch { case _: Exception => () }
      return
    }
    val newRows = infos.map(_._2._1).sum
    // replaced LIVE rows: footer rows net of each group's deletion
    // vector (the COW scan filtered those positions, so the staged
    // output never contained them)
    val replacedRows = replaced.map(r => footerInfo(s"$location/$r")._1 -
      dvsAt.get(r).map(_.card).getOrElse(0L)).sum
    val delta = newRows - replacedRows
    val candSet = replaced.toSet
    commitMutation { base =>
      require(base.currentSchema == schemaAtWrite,
        s"concurrent schema change during $what of $location — retry")
      require(replaced.forall(base.files.contains),
        s"concurrent compaction/truncate during $what of $location — retry")
      require(replaced.forall(r => base.dvs.get(r) == dvsAt.get(r)),
        s"concurrent merge-on-read delete during $what of $location — retry")
      base.copy(
        files = base.files.filterNot(candSet) ++ infos.map(_._1),
        rowCount = base.rowCount + delta,
        nextBatchId = base.nextBatchId + 1,
        fileStats = base.fileStats.view.filterKeys(!candSet(_)).toMap ++
          infos.collect { case (rel, (_, st)) if st.nonEmpty => rel -> st },
        dvs = base.dvs.view.filterKeys(!candSet(_)).toMap,
        // EVERY SQL MERGE that rewrote groups is a change commit: its
        // staged files mix carried rows with any inserted ones, and the
        // row-count delta cannot reveal whether inserts exist (a
        // delete-heavy merge with inserts still shrinks the count) —
        // so the flag must not be gated on delta. DELETE/UPDATE never
        // add rows; their commits stay stream-invisible by the
        // row-growth rule alone.
        changeCommit = what == "MERGE" && replaced.nonEmpty && infos.nonEmpty)
    }
    ()
  }

  /** Targeted deletion-vector maintenance: rewrite ONLY the files whose
    * dead fraction is at least `minDeadRatio`, materializing their
    * vectors — the steady-state cleanup for merge-on-read tables, where
    * a full [[compact]] would rewrite the whole table to clean a
    * mutated tail. Healthy files (no vector, or a sparse one below the
    * threshold) keep their identity; cost ∝ the files actually
    * rewritten. `minDeadRatio = 0.0` materializes every vectored file.
    * Returns the number of files rewritten. */
  def materializeVectors(minDeadRatio: Double = 0.1): Int = withTableLock {
    refreshMeta()
    require(minDeadRatio >= 0.0 && minDeadRatio <= 1.0,
      s"minDeadRatio must be in [0, 1], got $minDeadRatio")
    val targets = meta.dvs.filter { case (rel, e) =>
      val total = meta.fileStats.get(rel).flatMap(_.values.headOption)
        .map(_.rows).getOrElse(footerInfo(s"$location/$rel")._1)
      total > 0 && e.card.toDouble / total.toDouble >= minDeadRatio
    }.keys.toVector
    if (targets.isEmpty) return 0
    val schemaAtWrite = meta.currentSchema
    val liveDf = readFilesDf(targets) // vectors applied
    val expect = targets.map(r => footerInfo(s"$location/$r")._1 -
      meta.dvs.get(r).map(_.card).getOrElse(0L)).sum
    val batchDir = writeBatchDir(liveDf)
    val got = listParquetFiles(batchDir).map(f => footerInfo(f)._1).sum
    require(got == expect,
      s"vector materialization row mismatch: rewrote $got of $expect live rows")
    commitRewrite(targets, batchDir, schemaAtWrite, 0L, "MATERIALIZE_VECTORS")
    targets.size
  }

  /** Commit point for a DELTA-based SQL row-level operation
    * ([[org.apache.spark.sql.graft.GraftDeltaRowLevel]], taken when
    * `delete_mode = merge-on-read`): publish merged deletion-vector
    * sidecars for the files rows were deleted from, the staged
    * insert/reinsert parquet, and the row-count delta in ONE CAS commit.
    * `newDvs` are (data rel path, sidecar rel path, FULL cardinality —
    * existing vector already unioned in). Stream visibility: genuine
    * insert files emit; reinserted rows (an UPDATE's new versions) are
    * re-statements of delivered rows and stay invisible; a commit whose
    * inserts exist but whose row count does not grow (delete-heavy
    * MERGE) is a change commit — the append-only source fails it with
    * guidance rather than hiding the inserts. */
  def applyDeltaCommit(schemaAtWrite: StructType, what: String,
      dvsAtScan: Map[String, GraftTable.DvEntry],
      newDvs: Seq[(String, String, Long)],
      insertFiles: Seq[String], reinsertFiles: Seq[String],
      deletedRows: Long): Unit = withTableLock {
    refreshMeta()
    val insertInfos = footerInfosRel(insertFiles)
    val reinsertInfos = footerInfosRel(reinsertFiles)
    if (newDvs.isEmpty && insertInfos.isEmpty && reinsertInfos.isEmpty) return
    // both genuinely-new rows and re-stated row versions carry values
    // the CHECK constraints must hold on
    enforceChecks((insertInfos ++ reinsertInfos).map(i => s"$location/${i._1}"),
      schemaAtWrite, what)
    val insertRows = insertInfos.map(_._2._1).sum
    val rowDelta = insertRows + reinsertInfos.map(_._2._1).sum - deletedRows
    val touched = newDvs.map(_._1)
    commitMutation { base =>
      require(base.currentSchema == schemaAtWrite,
        s"concurrent schema change during $what of $location — retry")
      require(touched.forall(base.files.contains),
        s"concurrent compaction/truncate during $what of $location — retry")
      require(touched.forall(r => base.dvs.get(r) == dvsAtScan.get(r)),
        s"concurrent merge-on-read mutation during $what of $location — retry")
      base.copy(
        files = base.files ++ insertInfos.map(_._1) ++ reinsertInfos.map(_._1),
        rowCount = base.rowCount + rowDelta,
        nextBatchId = base.nextBatchId + 1,
        fileStats = base.fileStats ++
          (insertInfos ++ reinsertInfos).collect {
            case (rel, (_, st)) if st.nonEmpty => rel -> st
          },
        dvs = base.dvs ++ newDvs.map { case (rel, p, c) =>
          rel -> GraftTable.DvEntry(p, c) },
        emitFiles = insertInfos.map(_._1).toVector,
        changeCommit = insertInfos.nonEmpty && rowDelta <= 0L)
    }
    ()
  }

  /** Reclaim orphaned batch directories: data subdirectories holding no
    * committed file — the residue of a writer that crashed between its
    * parquet write and the metadata commit (whose rows were never
    * visible). Runs under the writer lock, so it can never race a live
    * local append; on lock-less filesystems run it only while no writer
    * is active (the same single-writer caveat as appends). The
    * reference lists VACUUM as open work (`TODO.md`). Returns the
    * number of items reclaimed (orphan batch directories plus
    * unreferenced manifest-segment files). */
  def vacuum(): Int = withTableLock {
    refreshMeta()
    val (fs, _) = GraftTable.fsAndPath(location)
    val dataDir = new HPath(s"$location/data")
    // Manifest segments referenced by NO retained snapshot (expired
    // history, CAS losers, crashed commits) are reclaimed under the
    // same aged-orphan rule as data dirs: an in-flight commit's segment
    // is written BEFORE its version claim, so only age past the claim
    // grace proves abandonment.
    val retainedMetas = GraftTable.historyVersions(location)
      .filter(_ <= meta.version) // an orphan must not pin its batch dir
      .map(v => GraftTable.readHistoryMeta(location, v))
    val manifestDir = new HPath(s"$location/_graft_manifest")
    val reclaimedShards =
      if (!fs.exists(manifestDir)) 0
      else {
        val referenced = (meta.manifest ++ retainedMetas.flatMap(_.manifest))
          .map(rel => new HPath(s"$location/$rel").getName).toSet
        val now = System.currentTimeMillis()
        val orphan = fs.listStatus(manifestDir).toSeq.filter { st =>
          !st.isDirectory && !referenced.contains(st.getPath.getName) &&
            now - st.getModificationTime > GraftTable.claimGraceMs
        }
        orphan.foreach(st => fs.delete(st.getPath, false))
        orphan.size
      }
    if (!fs.exists(dataDir)) reclaimedShards
    else {
      // live = referenced by the current version OR any retained
      // snapshot — reclaiming a snapshot's files requires expireHistory
      // first (the Delta/Iceberg retention contract)
      val snapshotFiles = retainedMetas
        .flatMap(m => m.files ++ m.dvs.values.map(_.path))
      val live = (meta.files ++ meta.dvs.values.map(_.path) ++ snapshotFiles)
        .map(f => new HPath(s"$location/$f").getParent.getName).toSet
      // In-flight protection: the commit contract allows cross-process
      // writers on lock-less filesystems, and an appender's batch dir is
      // referenced by NOTHING for the whole duration of its parquet
      // write (files land first, the CAS claim second). Deleting such a
      // dir would let the append commit metadata pointing at reclaimed
      // files, poisoning every subsequent read. A candidate is only an
      // orphan once its newest mtime (the dir or any file inside) is
      // older than the commit claim grace — the same retention idea as
      // Delta/Iceberg orphan-file cleanup; truncate() spares these dirs
      // for the same reason.
      val now = System.currentTimeMillis()
      val orphans = fs.listStatus(dataDir).toSeq
        .filter(st => st.isDirectory && !live.contains(st.getPath.getName))
        .filter { st =>
          val newest =
            try (st.getModificationTime +:
              fs.listStatus(st.getPath).toSeq.map(_.getModificationTime)).max
            catch { case _: Exception => now } // listing raced — treat as young
          now - newest > GraftTable.claimGraceMs
        }
      orphans.foreach(st => fs.delete(st.getPath, true))
      orphans.size + reclaimedShards
    }
  }

  /** Integrity verification — the reference's open checksums item
    * (`TODO.md:9` "Add checksums to the format"), realized over the
    * redundancy the storage already carries instead of a new checksum
    * stream: every committed file's parquet footer is re-read and
    * audited against the table metadata (existence, parsability, row
    * count vs the recorded zone-map rows), footer row sums must conserve
    * the committed row count net of deletion vectors, and every
    * deletion-vector sidecar must parse, match its recorded cardinality,
    * and stay within its file's row domain. `deep = true` additionally
    * DECODES every page of every column (one distributed scan hashing
    * all columns): parquet page decompression + decoding surfaces
    * bit-rot that footer checks cannot, the role a content checksum
    * would play, at the cost of reading the table once.
    *
    * Distributed: the footer audit is one task per file batch, so at
    * 100 TB verification cost is footer-read I/O (deep: one full scan),
    * never a driver loop over file bytes. Returns human-readable issue
    * strings; empty = healthy. */
  def verify(deep: Boolean = false): Seq[String] = {
    refreshMeta()
    val m = meta
    val loc = location
    val conf = new org.apache.spark.util.SerializableConfiguration(
      GraftTable.hadoopConf())
    val issues = scala.collection.mutable.Buffer[String]()
    // 0. manifest audit, driver-side and bounded by the segment-count
    // cap: every referenced segment must exist and parse ON DISK (the
    // immutable-content cache is bypassed — it would mask an externally
    // deleted or corrupted segment from long-lived handles; a COLD
    // reader fails hydration loudly, and this check gives the warm
    // handle the same visibility). Vacuum never reclaims a referenced
    // segment, so any hit here is external damage, like a deleted data
    // file.
    val segFs = GraftTable.fsAndPath(loc)._1
    m.manifest.foreach { rel =>
      val p = new HPath(s"$loc/$rel")
      if (!segFs.exists(p)) issues += s"manifest segment $rel is missing"
      else try GraftTable.parseSegmentFile(loc, segFs, p)
      catch { case e: Exception =>
        issues += s"manifest segment $rel is unreadable: ${e.getMessage}" }
    }
    // 1. per-file footer audit, distributed AND aggregated distributed:
    // each task compares its footer against the recorded stats shipped
    // with its slice and emits only ISSUE STRINGS plus three scalars
    // (row sum, readability, the footer rows of vectored files — needed
    // for the sidecar domain check, bounded by vector count). The
    // driver's collect is ∝ issues found, never ∝ table files — a
    // healthy 100 TB table returns one tuple of empties.
    val fileInputs = m.files.map { rel =>
      (rel,
        m.fileStats.get(rel).flatMap(_.values.headOption).map(_.rows),
        m.fileLens.get(rel),
        m.dvs.contains(rel))
    }
    val fileAgg: (Seq[String], Long, Boolean, Seq[(String, Long)]) =
      if (fileInputs.isEmpty) (Seq.empty, 0L, true, Seq.empty)
      else spark.sparkContext
        .parallelize(fileInputs, math.min(fileInputs.size, 64))
        .map { case (rel, recorded, recordedLen, isVectored) =>
          val abs = s"$loc/$rel"
          val out = Seq.newBuilder[String]
          var rows = -1L
          try {
            val p = new HPath(abs)
            val fs = p.getFileSystem(conf.value)
            val st =
              try Some(fs.getFileStatus(p))
              catch { case _: java.io.FileNotFoundException => None }
            if (st.isEmpty) out += s"$rel: missing data file"
            else {
              // the scan plans splits from the recorded length, so a
              // file changed behind the table's back must surface here
              recordedLen.filter(_ != st.get.getLen).foreach { n =>
                out += s"$rel: file holds ${st.get.getLen} bytes, metadata recorded $n"
              }
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(p, conf.value)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try rows = r.getRecordCount finally r.close()
            }
          } catch { case e: Exception =>
            out += s"$rel: unreadable parquet footer (${e.getMessage})"
          }
          recorded.foreach { rec =>
            if (rows >= 0 && rows != rec)
              out += s"$rel: footer holds $rows rows, metadata recorded $rec"
          }
          (out.result(), math.max(rows, 0L), rows >= 0,
            if (isVectored && rows >= 0) Seq(rel -> rows) else Seq.empty)
        }
        .reduce { (a, b) =>
          (a._1 ++ b._1, a._2 + b._2, a._3 && b._3, a._4 ++ b._4)
        }
    issues ++= fileAgg._1
    val footerRows = fileAgg._4.toMap
    // 2. row-count conservation: Σ footer rows − Σ dead positions
    if (fileAgg._3) {
      val live = fileAgg._2 - m.dvs.values.map(_.card).sum
      if (live != m.rowCount)
        issues += s"table: files hold $live live rows, committed count is ${m.rowCount}"
    }
    // 3. deletion-vector sidecar audit (sidecars are small; driver-side)
    val (vfs, _) = GraftTable.fsAndPath(location)
    m.dvs.foreach { case (rel, e) =>
      try {
        val pos = DeletionVectors.read(vfs, s"$loc/${e.path}")
        if (pos.length.toLong != e.card)
          issues += s"${e.path}: vector holds ${pos.length} positions, recorded ${e.card}"
        if (!m.files.contains(rel))
          issues += s"${e.path}: vector references uncommitted file $rel"
        footerRows.get(rel).filter(_ >= 0).foreach { rows =>
          if (pos.nonEmpty && pos.last >= rows)
            issues += s"${e.path}: position ${pos.last} beyond $rel's $rows rows"
        }
      } catch { case ex: Exception =>
        issues += s"${e.path}: unreadable deletion vector (${ex.getMessage})"
      }
    }
    // 4. deep page decode: hash every column of every row (forces full
    // decompression + decoding; codec frame checksums and parquet
    // decoding catch what footers cannot)
    if (deep && issues.isEmpty && m.files.nonEmpty) {
      try {
        val cols = m.currentSchema.fieldNames.map(col).toIndexedSeq
        // bit_xor, not sum: the fold must not itself overflow under ANSI
        val r = read()
          .select(xxhash64(cols: _*).as("__rh"))
          .agg(count(lit(1)).as("__n"), expr("bit_xor(__rh)").as("__h"))
          .collect().head
        if (r.getAs[Long]("__n") != m.rowCount)
          issues += s"table: deep scan decoded ${r.getAs[Long]("__n")} rows, " +
            s"committed count is ${m.rowCount}"
      } catch { case e: Exception =>
        issues += s"table: deep decode failed (${e.getMessage})"
      }
    }
    issues.toSeq
  }

  /** TRUNCATE (`cstore_fdw.c:841-892`): drop all data files, keep the
    * table definition, re-init empty. */
  def truncate(): Unit = withTableLock {
    refreshMeta()
    commitMutation(base =>
      base.copy(files = Vector.empty, rowCount = 0L, fileStats = Map.empty,
        dvs = Map.empty,
        // no committed file remains, so no dropped-column data can
        // resurrect and no file predates an evolved column — tombstones
        // and null-default markers clear with the data
        defaults = base.defaults.filter { case (_, v) => v != null },
        droppedCols = Vector.empty))
    // TRUNCATE physically deletes data (reference semantics) — but only
    // the batch dirs some snapshot UP TO the truncate commit references.
    // A concurrent appender's not-yet-committed batch dir is referenced
    // by nothing yet, so it survives and that append's CAS-rebased
    // commit (onto the empty post-truncate state) stays intact; deleting
    // the whole data dir here would corrupt it. Earlier snapshots stay
    // ARCHIVED — still listed in history() as lineage and still diffable
    // (a stream at a pre-truncate offset sees the truncate commit drop
    // to zero files and resumes with post-truncate appends) — but
    // reading one fails at the file-existence check with the
    // reclaimed-by-truncate error. expireHistory cleans them up.
    val (fs, _) = fsAndPath(location)
    val truncateVersion = meta.version
    GraftTable.historyVersions(location)
      .filter(_ < truncateVersion)
      .flatMap { v =>
        try {
          val m = GraftTable.readHistoryMeta(location, v)
          m.files ++ m.dvs.values.map(_.path)
        } catch { case _: Exception => Seq.empty } // partial claim: no files
      }
      .map(f => new HPath(s"$location/$f").getParent)
      .distinct
      .foreach(dir => fs.delete(dir, true))
  }

  // ---- schema evolution (ALTER TABLE, cstore_fdw.c:717-769) ----------

  /** ADD COLUMN [DEFAULT constant]. Old files are not rewritten; the
    * default is recorded and synthesized at read (`cstore_reader.c:
    * 1224-1292`). Non-constant defaults are rejected, matching
    * `cstore_reader.c:1283-1289`. */
  def addColumn(name: String, dataType: DataType, default: Any = null): Unit =
    alterAll(Seq(GraftTable.AddCol(name, dataType, default)))

  /** DROP COLUMN — logical drop; data remains but is never read
    * (`cstore_fdw.c:1907-1910` attisdropped skip).
    *
    * Known divergence, outside the reference's tested surface
    * (`sql/alter.sql` never re-adds a dropped name): ADD COLUMN with a
    * previously-dropped name resurfaces the old files' stored values,
    * because the column is physically present there; PostgreSQL's
    * attisdropped tombstone would keep them hidden forever. Avoid
    * recycling dropped column names. */
  def dropColumn(name: String): Unit =
    alterAll(Seq(GraftTable.DropCol(name)))

  /** ALTER COLUMN TYPE with the reference's implicit-coercibility rule
    * (`cstore_fdw.c:717-769`; `sql/alter.sql:75-83`: int→float OK,
    * float→int rejected, text↔varchar OK). */
  def alterColumnType(name: String, to: DataType): Unit =
    alterAll(Seq(GraftTable.AlterColType(name, to)))

  /** ALTER … SET write-shaping options (compression / stripe_row_count /
    * block_row_count) on an existing table — the reference's `ALTER
    * FOREIGN TABLE … OPTIONS (SET …)` (`cstore_fdw.c:1273-1340`). New
    * appends and rewrites honor the new options; committed files are
    * untouched and keep the codec/layout they were written with. */
  def setOptions(opts: Map[String, String]): Unit =
    alterAll(opts.toSeq.map { case (k, v) => GraftTable.SetOption(k, v) })

  /** Add (or replace) a CHECK constraint: `exprText` must be a
    * deterministic row-level BOOLEAN over the table's columns, and must
    * already hold on every existing row (validated in one scan before
    * the commit). Equivalent to SQL
    * `ALTER TABLE t SET TBLPROPERTIES ('check.<name>' = '<expr>')`. */
  def addCheck(name: String, exprText: String): Unit =
    setOptions(Map(s"check.$name" -> exprText))

  /** Drop a CHECK constraint (SQL: UNSET TBLPROPERTIES). */
  def dropCheck(name: String): Unit =
    alterAll(Seq(GraftTable.UnsetOption(s"check.$name")))

  /** Apply a sequence of schema changes as ONE transaction: every change
    * validates and applies against an in-memory metadata copy, and a
    * single commit publishes them all — a failing later change leaves
    * nothing durably applied (the reference gets this for free from
    * PostgreSQL's transactional DDL; per-change commits would leave a
    * half-altered table behind a failed multi-change ALTER). */
  def alterAll(changes: Seq[GraftTable.SchemaChange]): Unit = withTableLock {
    refreshMeta()
    // validate eagerly (a bad change must throw before any commit), then
    // commit via CAS — the rebase re-applies the changes to whatever
    // state a concurrent writer committed meanwhile. Option-value
    // constraints check the FOLDED state (see applyChange's SetOption
    // note), in both the eager pass and the rebase.
    def applied(base: GraftTable.Meta): GraftTable.Meta = {
      val folded = changes.foldLeft(base)(GraftTable.applyChange)
      folded.options.validate()
      folded
    }
    val folded = applied(meta)
    // every CHECK constraint — newly set or carried — must still be a
    // valid row-level boolean against the POST-ALTER schema: dropping or
    // retyping a referenced column refuses HERE, not by poisoning every
    // future write with an unresolvable expression
    folded.options.checks.foreach { case (n, e) =>
      GraftTable.validateCheckExpr(spark, n, e, folded.currentSchema)
    }
    // a new (or changed) constraint must hold on EXISTING rows — one
    // scan now, so the invariant is total from the commit on (Delta's
    // ADD CONSTRAINT contract); read under the folded schema so an
    // ALTER adding a column + a check on it in one statement validates
    // against the synthesized defaults
    val addedChecks = folded.options.checks.filter { case (n, e) =>
      !meta.options.checks.get(n).contains(e)
    }
    if (addedChecks.nonEmpty && meta.rowCount > 0) {
      val df = applyDvs(
        spark.read.schema(GraftTable.withExistenceDefaults(
            folded.currentSchema, folded.defaults))
          .parquet(dataFiles(): _*), meta.dvs)
      addedChecks.foreach { case (n, e) =>
        val bad = df.filter(expr(e) === lit(false)).limit(1).count()
        require(bad == 0L,
          s"cannot add CHECK constraint '$n' ($e): existing rows violate it")
      }
    }
    commitMutation(applied)
  }

  // ---- ANALYZE / statistics (cstore_fdw.c:2061-2260, N14-N15) --------

  /** ANALYZE: one distributed scan computing per-column min/max/ndv/null
    * counts (the planner-feeding role of the reference's reservoir-sample
    * ANALYZE; Spark's aggregation replaces sampling since it is already
    * distributed). Columns without an ordering (arrays/structs/binary)
    * get null min/max — the reference's comparator-less escape hatch
    * (`cstore_writer.c:151-167`). Stats are committed to a sibling file
    * (role of pg_stats) via the same atomic-rename protocol. */
  def analyze(): GraftTable.TableStats = analyze(noScan = false)

  /** `noScan = true` (SQL `ANALYZE TABLE ... NOSCAN`) refreshes the
    * metadata-derived row count and size without the distributed column
    * scan, preserving previously collected column stats. On a
    * never-analyzed table it records NO column stats — synthesizing
    * `nulls = 0` here would present an unmeasured guess as a measured
    * fact, and selectivity would estimate `IS NULL` on a mostly-null
    * column at ~0 rows (a broadcast-flip hazard); absent columns fall
    * back to default selectivities instead. */
  def analyze(noScan: Boolean): GraftTable.TableStats = synchronized {
    refreshMeta()
    if (noScan) {
      val prevCols = GraftTable.readStats(location).map(_.columns)
        .getOrElse(Map.empty[String, GraftTable.ColumnStats])
      val st = GraftTable.TableStats(meta.rowCount, tableSize(), prevCols)
      GraftTable.writeStatsAtomic(location, st)
      return st
    }
    val df = read()
    val fields = meta.currentSchema.fields
    val aggs = columnAggs(fields)
    val stats = if (meta.rowCount == 0) {
      GraftTable.TableStats(0L, tableSize(), fields.map(f =>
        f.name -> GraftTable.ColumnStats(null, null, 0L, 0L)).toMap)
    } else {
      val r = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).collect().head
      val mcvs = mcvCounts(df, fields, mcvCandidates(r, fields),
        scale = 1.0, rowCap = meta.rowCount)
      val hists = histBounds(r, fields) ++
        stringHistBounds(df, fields, meta.rowCount)
      GraftTable.TableStats(meta.rowCount, tableSize(), fields.map { f =>
        f.name -> GraftTable.ColumnStats(
          r.getAs[String](s"min_${f.name}"),
          r.getAs[String](s"max_${f.name}"),
          r.getAs[Long](s"ndv_${f.name}"),
          r.getAs[Long](s"nulls_${f.name}"),
          mcvs.getOrElse(f.name, Nil),
          hists.getOrElse(f.name, Nil))
      }.toMap)
    }
    GraftTable.writeStatsAtomic(location, stats)
    stats
  }

  /** One min/max/ndv/nulls aggregate column set per field, plus a
    * Misra–Gries most-common-value CANDIDATE summary per orderable
    * column (bounded ≤ McvMgK-1 entries — O(k) shuffled per partition
    * whatever the column's cardinality; candidates are exact-counted by
    * [[mcvCounts]] in one further pass). Columns without an ordering
    * (arrays/structs/binary) get null min/max — the reference's
    * comparator-less escape hatch (`cstore_writer.c:151-167`). */
  private def columnAggs(fields: Array[StructField]): Array[Column] = {
    import graft.functions.MisraGriesAgg.misraGries
    fields.flatMap { f =>
      val c = col(f.name)
      val mins =
        if (GraftTable.statOrderable(f.dataType))
          Seq(min(c).cast("string").as(s"min_${f.name}"),
            max(c).cast("string").as(s"max_${f.name}"),
            misraGries(c.cast("string"), GraftTable.McvMgK).as(s"mcvc_${f.name}"))
        else
          Seq(lit(null).cast("string").as(s"min_${f.name}"),
            lit(null).cast("string").as(s"max_${f.name}"))
      // equi-depth histogram bounds for every column with a NUMERIC
      // IMAGE — numerics in the double domain, dates as epoch days,
      // timestamps as epoch millis, matching the domains Selectivity
      // renders probe values into (PG's STATISTIC_KIND_HISTOGRAM covers
      // every orderable type via std_typanalyze; the sketch is
      // mergeable, so this ships O(sketch) per partition, never the
      // column). Strings have no percentile image — they get bounds
      // from the sampled pass in [[stringHistBounds]].
      val hists = GraftTable.histImage(f.dataType, c).map { img =>
        percentile_approx(img,
          lit((0 to GraftTable.HistBuckets)
            .map(_.toDouble / GraftTable.HistBuckets).toArray),
          lit(10000)).as(s"hist_${f.name}")
      }.toSeq
      mins ++ hists ++ Seq(
        approx_count_distinct(c).as(s"ndv_${f.name}"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"nulls_${f.name}"))
    }
  }

  /** MCV pass 2: exact occurrence counts of every pass-1 candidate (a
    * counter per candidate, map-side combined, nothing shuffled but the
    * counters). `scale` extrapolates sampled counts to the table (1.0
    * when the scan was full). Keeps the top-McvK per column by count.
    *
    * The counters are CHUNKED into aggregate jobs of at most
    * [[GraftTable.McvAggChunk]] columns each: with up to McvMgK-1
    * candidates per field, a genuinely wide schema would otherwise put
    * thousands of `sum(when(...))` expressions into one codegen'd
    * aggregate — past Janino's 64KB method limit the whole stage falls
    * back to interpreted execution, the worst place for the hottest
    * expression in ANALYZE. Each chunk is one scan; narrow tables (the
    * common case) still run exactly one job. */
  private def mcvCounts(df: DataFrame, fields: Array[StructField],
      cands: Map[String, Seq[String]], scale: Double,
      rowCap: Long): Map[String, Seq[(String, Long)]] = {
    val aggs = fields.flatMap { f =>
      cands.getOrElse(f.name, Nil).zipWithIndex.map { case (v, i) =>
        sum(when(col(f.name).cast("string") === lit(v), 1L).otherwise(0L))
          .as(s"__mcv_${f.name}_$i")
      }
    }
    if (aggs.isEmpty) return Map.empty
    val counts: Map[String, Long] = aggs.grouped(GraftTable.McvAggChunk)
      .flatMap { chunk =>
        val r = df.agg(chunk.head, chunk.tail.toIndexedSeq: _*).collect().head
        r.schema.fieldNames.map(n => n -> r.getAs[Long](n))
      }.toMap
    fields.map { f =>
      val top = cands.getOrElse(f.name, Nil).zipWithIndex
        .map { case (v, i) => v -> counts(s"__mcv_${f.name}_$i") }
        .filter(_._2 > 0L)
        .map { case (v, c) => v -> math.min(rowCap, math.round(c * scale)) }
        .filter(_._2 > 0L)
        .sortBy { case (v, c) => (-c, v) }
        .take(GraftTable.McvK)
      f.name -> top.toSeq
    }.toMap
  }

  /** Pass-1 MCV candidates per orderable column, off the stats row. */
  private def mcvCandidates(r: org.apache.spark.sql.Row,
      fields: Array[StructField]): Map[String, Seq[String]] =
    fields.filter(f => GraftTable.statOrderable(f.dataType)).map { f =>
      f.name -> r.getSeq[String](r.fieldIndex(s"mcvc_${f.name}"))
    }.toMap

  /** Pass-1 histogram bounds per numeric-imaged column, off the stats
    * row (null when the column had no non-null values). */
  private def histBounds(r: org.apache.spark.sql.Row,
      fields: Array[StructField]): Map[String, Seq[String]] =
    fields.filter(f => GraftTable.histable(f.dataType)).flatMap { f =>
      val i = r.fieldIndex(s"hist_${f.name}")
      if (r.isNullAt(i)) None
      else Some(f.name -> r.getSeq[Double](i).map(_.toString))
    }.toMap

  /** Equi-depth histogram bounds for STRING columns. Strings have no
    * percentile_approx image, so the bounds come from a bounded row
    * sample sorted on the driver — the reference's own ANALYZE design
    * (it reservoir-samples rows and hands them to PG's std_typanalyze,
    * which histograms every orderable type, `cstore_fdw.c:2061-2082`).
    * One extra job covers ALL string columns at once; driver memory is
    * O(HistSampleRows × string columns) by construction, whatever the
    * table size. Deterministic seed: repeated ANALYZEs of an unchanged
    * table produce the same bounds. */
  private def stringHistBounds(df: DataFrame, fields: Array[StructField],
      totalRows: Long): Map[String, Seq[String]] = {
    val strCols = fields.filter(_.dataType == StringType).map(_.name)
    if (strCols.isEmpty || totalRows <= 0L) return Map.empty
    val frac = math.min(1.0, GraftTable.HistSampleRows.toDouble / totalRows)
    val rows =
      (if (frac < 1.0) df.sample(withReplacement = false, frac, seed = 7L) else df)
        .select(strCols.map(col).toIndexedSeq: _*).collect()
    strCols.zipWithIndex.flatMap { case (name, i) =>
      val vs = rows.iterator.map(_.getString(i)).filter(_ != null).toArray.sorted
      if (vs.length < 2) None
      else Some(name -> (0 to GraftTable.HistBuckets)
        .map(k => vs(((vs.length - 1).toLong * k / GraftTable.HistBuckets).toInt))
        .toSeq)
    }.toMap
  }

  /** Sampled ANALYZE — the reference's actual design point: its ANALYZE
    * reservoir-samples rows off the scan (`cstore_fdw.c:2098-2260`,
    * Vitter's algorithm) instead of reading the whole table. At 100 TB
    * a full-corpus ANALYZE is a complete table read; this variant scans
    * a deterministic subset of FILES (whole tasks saved, the columnar
    * analog of the reference's block-grain sampling) and thins rows
    * within them to the requested overall fraction.
    *
    * What stays exact and what is estimated:
    *  - row count: EXACT from metadata, never sampled (as the reference:
    *    its sampler returns totalrows from the footer, not the sample);
    *  - null counts: sample null fraction scaled to the table;
    *  - NDV: two-regime estimator — a sample that still looks
    *    all-distinct (≥ 85% of its non-null rows — the slack absorbs
    *    the HLL sketch's ~5% rsd) extrapolates linearly
    *    (the column scales with the table: ids, keys); one that
    *    saturated is reported as observed (low-cardinality domains are
    *    fully seen by any reasonable sample);
    *  - min/max: the sample's — may narrow the true range, same as any
    *    row-sampled ANALYZE (acceptable for selectivity estimation; the
    *    zone maps, which must be SOUND, come from footers at write time
    *    and are not touched by ANALYZE).
    *
    * The file subset is chosen by a stable hash of the file name, so
    * repeated sampled ANALYZEs of an unchanged table read the same
    * files and produce comparable stats. */
  def analyze(sampleFraction: Double): GraftTable.TableStats = synchronized {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    refreshMeta()
    if (sampleFraction == 1.0 || meta.rowCount == 0L || meta.files.isEmpty)
      return analyze(noScan = false)
    val fields = meta.currentSchema.fields
    val nPick = math.max(1, math.ceil(meta.files.size * sampleFraction).toInt)
    val picked = meta.files
      .sortBy(f => scala.util.hashing.MurmurHash3.stringHash(f)).take(nPick)
    def rowsOf(f: String): Long = meta.fileStats.get(f)
      .flatMap(_.values.headOption).map(_.rows)
      .getOrElse(meta.rowCount / meta.files.size)
    val pickedRows = math.max(1L, picked.map(rowsOf).sum)
    // thin rows inside the picked files so the overall sampled fraction
    // matches the request even when file sizes are skewed
    val thin = math.min(1.0,
      sampleFraction * meta.rowCount.toDouble / pickedRows.toDouble)
    val base = applyDvs(
      spark.read.schema(readSchema()).parquet(picked.map(f => s"$location/$f"): _*),
      meta.dvs.view.filterKeys(picked.toSet).toMap)
      .select(fields.map(f => col(f.name).as(f.name, f.metadata)).toIndexedSeq: _*)
    val df =
      if (thin < 1.0) base.sample(withReplacement = false, thin, seed = 42L)
      else base
    val aggs = columnAggs(fields) :+ count(lit(1)).as("__ns")
    val r = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).collect().head
    val ns = r.getAs[Long]("__ns")
    if (ns == 0L) return analyze(noScan = false) // degenerate sample
    val scale = meta.rowCount.toDouble / ns
    // MCV counts from the same sample, extrapolated by the row scale —
    // the PG convention (sampled MCV frequencies are estimates)
    val mcvs = mcvCounts(df, fields, mcvCandidates(r, fields),
      scale = scale, rowCap = meta.rowCount)
    // histogram bounds are quantiles — fractions of the distribution —
    // so the sample's bounds stand in unscaled (the PG convention);
    // string bounds draw from the same sample (capped relative to it)
    val hists = histBounds(r, fields) ++ stringHistBounds(df, fields, ns)
    val stats = GraftTable.TableStats(meta.rowCount, tableSize(), fields.map { f =>
      val nullsS = r.getAs[Long](s"nulls_${f.name}")
      val ndvS = r.getAs[Long](s"ndv_${f.name}")
      val nonNullS = ns - nullsS
      // the gate must absorb the HLL sketch's own error (rsd ≈ 5%): an
      // all-distinct column's estimate can read ~0.9·n, so 0.9 exactly
      // flips regimes on sketch noise — 0.85 is ~3σ below all-distinct
      val ndv =
        if (nonNullS > 0 && ndvS >= 0.85 * nonNullS)
          math.min(meta.rowCount, math.round(ndvS * scale))
        else ndvS
      f.name -> GraftTable.ColumnStats(
        r.getAs[String](s"min_${f.name}"),
        r.getAs[String](s"max_${f.name}"),
        ndv,
        math.min(meta.rowCount, math.round(nullsS * scale)),
        mcvs.getOrElse(f.name, Nil),
        hists.getOrElse(f.name, Nil))
    }.toMap)
    GraftTable.writeStatsAtomic(location, stats)
    stats
  }

  /** Last committed ANALYZE result, if any. */
  def stats(): Option[GraftTable.TableStats] = GraftTable.readStats(location)

  /** Planner-facing row estimate: exact metadata count (the reference's
    * un-ANALYZEd path is already exact — `cstore_fdw.c:1783-1807`). */
  def estimatedRowCount: Long = meta.rowCount

  /** EXPLAIN surface (CStoreExplainForeignScan, `cstore_fdw.c:1944-1965`):
    * location + on-disk size + file/row counts. */
  def explainInfo: String =
    s"GraftTable location=$location files=${meta.files.size} " +
      s"rows=${meta.rowCount} sizeBytes=${tableSize()} " +
      s"compression=${meta.options.compression}"

  /** The same EXPLAIN surface as typed entries, merged into the DSv2
    * scan's metadata so `EXPLAIN` on a graft table prints them — the
    * reference prints file + size under EXPLAIN
    * (`cstore_fdw.c:1944-1965`). Spark renders the plan description,
    * and so calls this, on every query execution; `tableSize()` reads
    * the data bytes from the manifest, so the cost does not grow with
    * the file count. */
  def explainMeta: Map[String, String] = Map(
    "GraftLocation" -> location,
    "GraftFiles" -> meta.files.size.toString,
    "GraftRows" -> meta.rowCount.toString,
    "GraftSizeBytes" -> tableSize().toString,
    "GraftCompression" -> meta.options.compression,
    "GraftDeletionVectors" -> meta.dvs.size.toString)

  // ---- internals -----------------------------------------------------

  private def alignToSchema(df: DataFrame): DataFrame =
    alignTo(df, meta.currentSchema)

  private def alignTo(df: DataFrame, target: StructType): DataFrame = {
    // column matching honors the session's resolution rules: under the
    // default case-INSENSITIVE resolution a batch column 'Rating' IS
    // the table's 'rating' — a case-sensitive lookup here would
    // silently replace its values with the default/NULL
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def key(n: String) =
      if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val byKey = df.columns.map(c => key(c) -> c).toMap
    val cols = target.fields.map { f =>
      byKey.get(key(f.name)) match {
        case Some(actual) => col(actual).cast(f.dataType).as(f.name)
        case None =>
          lit(meta.defaults.getOrElse(f.name, null)).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  private def dataFiles(): Seq[String] = meta.files.map(f => s"$location/$f")

  /** Absolute paths of the committed data files. */
  def committedFiles: Seq[String] = dataFiles()

  /** `(absolute path, byte length)` of every committed data file — the
    * DSv2 scan's file index input, from the manifest alone. */
  def committedFileLens: Seq[(String, Long)] = fileLensOf(meta.files)

  /** Lengths stat'ed for files the manifest records none for (committed
    * before lengths were recorded). Data files are immutable, so each
    * costs one status call per handle. */
  private val statedLens = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def fileLensOf(rels: Seq[String]): Seq[(String, Long)] =
    GraftTable.lensOf(location, rels, meta.fileLens, statedLens)

  /** Deletion-vector map for the scan delegates: normalized data-file
    * URI path → sidecar absolute path. Empty when the table carries no
    * vectors (every read path then plans exactly as before). */
  def dvAbsByPath: Map[String, String] =
    GraftTable.dvAbsByPath(location, meta.dvs)

  /** Deletion-vector entries keyed by data-file rel path (for commit
    * guards on the SQL COW path). */
  def dvEntries: Map[String, GraftTable.DvEntry] = meta.dvs

  /** Per-file range manifest of the LEADING `sort_by` column, for the
    * scan's ordering claim (`SupportsReportOrdering`): on a
    * `bucket_by` + `sort_by` table whose bucket groups are range-disjoint
    * on this column (one file per bucket after compaction, or
    * non-overlapping appends), the storage-partitioned merge join needs
    * NO SortExec on either side — the scan's zone maps PROVE the order
    * instead of the executor re-establishing it, which at 100 TB is the
    * difference between a pure streaming merge and sorting both fact
    * tables. Files missing stats are absent from the map (the scan
    * refuses the claim for any group touching one). */
  def sortFileRanges: Option[GraftTable.SortedFileRanges] =
    meta.options.sortBy.headOption.flatMap { c =>
      meta.currentSchema.fields.find(_.name == c).flatMap { f =>
        // A collated string column's scan order must never be claimed
        // from BINARY min/max (the merge join compares under the
        // collation — same rule as refutes/bucketRefutes). But the
        // collation WITNESS bounds (collStatKey: collation-order
        // extremes keyed by collation + library version) support a
        // SOUND claim: within-file order comes from the sort_by write
        // path's Spark sort, which for a collated type IS the
        // collation order, and the comparator below is the same
        // collation's. Files without a witness entry (pre-feature
        // appends, ICU drift) are simply absent from the map, and the
        // consumer refuses the claim for any group touching one.
        val collatedSt = f.dataType match {
          case st: org.apache.spark.sql.types.StringType if st != StringType =>
            Some(st)
          case _ => None
        }
        if (!GraftTable.zoneMapEligible(f.dataType)) None
        else collatedSt match {
          case Some(st) =>
            val wKey = GraftTable.collStatKey(c, st)
            Some(GraftTable.SortedFileRanges(
              c,
              (a, b) => Some(GraftTable.compareCollated(st, a, b)),
              meta.files.flatMap { rel =>
                for {
                  stats <- meta.fileStats.get(rel)
                  w <- stats.get(wKey)
                  // null COUNT from the binary entry — nulls are
                  // collation-independent, and the witness entry's
                  // nulls field is a -1 sentinel
                  bin <- stats.get(c)
                } yield new HPath(s"$location/$rel").toUri.getPath ->
                  ((w.min, w.max, bin.nulls))
              }.toMap,
              // a collated in-FILE order is only proven for files whose
              // versioned witness exists — even a single-file group must
              // check (the file may predate the reader's ICU)
              requireStats = true))
          case None => Some(GraftTable.SortedFileRanges(
            c,
            (a, b) => GraftTable.compareStat(f.dataType, a, b),
            meta.files.flatMap { rel =>
              meta.fileStats.get(rel).flatMap(_.get(c)).map(st =>
                new HPath(s"$location/$rel").toUri.getPath ->
                  ((st.min, st.max, st.nulls)))
            }.toMap))
        }
      }
    }

  /** Publish a metadata mutation via compare-and-swap on the version
    * log — the object-store-safe commit protocol.
    *
    * The COMMIT POINT is the exclusive create of the history snapshot
    * `_graft_history/v(N+1).json`: per the Hadoop `FileSystem` contract,
    * `create(path, overwrite = false)` fails when the path exists, so of
    * two writers racing the same next version exactly one wins. The
    * loser re-reads the freshest committed state and REBASES — `mutate`
    * is a function of the base metadata, not an absolute new state, so
    * two concurrent appends compose instead of the later one silently
    * dropping the earlier one's file list (the lost update the
    * reference's table lock prevents, `cstore_fdw.c:560-564`, and that
    * plain rename-replace cannot prevent on a lock-less filesystem).
    *
    * The `_graft_meta.json` pointer is demoted to a read CACHE: it is
    * written after the claim, best-effort, and [[GraftTable.readMeta]]
    * walks the version log forward past it — so a lagging or regressed
    * pointer (two pointer renames landing out of order) costs a probe,
    * never a lost commit.
    *
    * On `file:` the OS writer lock already serializes writers, so the
    * claim never collides; on lock-less filesystems (object stores,
    * HDFS) the CAS is the serialization. `mutate` may throw to abort
    * (nothing is committed); it runs against a fresh base on every
    * attempt, so it must validate its own preconditions (e.g. schema
    * unchanged) against the base it is given. */
  /** Returns true when the mutation committed; false when `mutate`
    * signalled [[GraftTable.CommitSuperseded]] against the rebased state
    * (the intended effect is already durable — e.g. a streaming batch a
    * twin writer committed first), in which case nothing is written. */
  private def commitMutation(mutate: GraftTable.Meta => GraftTable.Meta): Boolean = {
    var attempts = 0
    var done = false
    while (!done) {
      if (attempts > 0) {
        Thread.sleep(math.min(25L * attempts, 250L))
        refreshMeta() // rebase on the state as of AFTER the backoff
      }
      val next =
        // emitFiles/changeCommit describe ONE commit's emission — clear
        // the inherited values before the mutation (which may set its own)
        try {
          val m = mutate(meta.copy(emitFiles = Vector.empty, changeCommit = false))
          // lengths of the files this commit references: carried from
          // the base, or harvested from the new files' footers
          val lens = m.files.iterator.flatMap(f =>
            m.fileLens.get(f).orElse(footerLens.get(f)).map(f -> _)).toMap
          GraftTable.prepareManifest(location,
            m.copy(version = meta.version + 1, fileLens = lens))
        } catch { case _: GraftTable.CommitSuperseded => return false }
      if (GraftTable.tryClaimVersion(location, next)) {
        // the claim IS the commit; the pointer is a best-effort read
        // cache — two unserialized writers may race its rename, and a
        // loss here must not fail a commit that is already durable in
        // the log (readers walk past a stale pointer)
        try GraftTable.writeMetaAtomic(location, next)
        catch { case _: Exception => () }
        meta = next
        footerLens = Map.empty
        done = true
      } else {
        attempts += 1
        require(attempts < 50,
          s"gave up committing to $location after $attempts version-claim collisions")
      }
    }
    true
  }
}

object GraftTable {

  /** Log holder for the write path (mixing Logging into GraftTable
    * itself would shadow `functions` imports). */
  private[storage] object WriteLog
      extends org.apache.spark.internal.Logging {
    def warn(msg: String): Unit = logWarning(msg)
  }

  /** COPY text-format options — the reference's COPY inherits
    * PostgreSQL's full option surface (DELIMITER/QUOTE/NULL/ESCAPE,
    * `cstore_fdw.c:586-634` via BeginCopyFrom); these map 1:1 onto
    * Spark's CSV reader/writer options so the path, stream, and PROGRAM
    * forms of COPY FROM/TO all honor them identically. Defaults are the
    * previous hard-coded behavior (comma, double quote, empty-string
    * NULL, backslash escape). */
  final case class CopyFormat(delimiter: String = ",", quote: String = "\"",
      nullValue: String = "", escape: String = "\\") {
    def validate(): Unit = {
      require(delimiter.length == 1, s"COPY DELIMITER must be one character, got '$delimiter'")
      require(quote.length == 1, s"COPY QUOTE must be one character, got '$quote'")
      require(escape.length == 1, s"COPY ESCAPE must be one character, got '$escape'")
      require(delimiter != quote, "COPY DELIMITER and QUOTE must differ")
    }
    private[storage] def csvOptions: Map[String, String] = Map(
      "sep" -> delimiter, "quote" -> quote,
      "nullValue" -> nullValue, "escape" -> escape)
  }

  /** Thrown by a commit mutation to signal that the rebased state shows
    * the intended effect already durably committed by another writer —
    * commitMutation aborts cleanly (returns false) instead of failing. */
  private[storage] final class CommitSuperseded(msg: String)
    extends RuntimeException(msg)

  /** Per-file per-column zone map: min/max (rendered as strings, parsed
    * by column type at prune time), null count, and row count — the
    * reference's stripe skip list (`cstore.proto:43-50`) lifted to FILE
    * granularity, where the driver can refute a file before scheduling
    * any task for it. */
  final case class ColFileStats(min: String, max: String, nulls: Long, rows: Long)

  /** Scan-side ordering manifest: the leading sort column, a typed
    * comparator over its rendered stat strings (None = incomparable,
    * never claim), and per-file (min, max, nulls) keyed by URI path. */
  /** `requireStats = true` (collated claims): EVERY file in a group —
    * including a single-file group — must appear in `stats` for the
    * order claim to hold. The witness map is keyed by collation+library
    * version, so a file written under a different ICU is simply absent
    * and the claim refuses; binary claims (`requireStats = false`) keep
    * the historical single-file shortcut, whose in-file order is
    * version-free. */
  final case class SortedFileRanges(
      col: String,
      cmp: (String, String) => Option[Int],
      stats: Map[String, (String, String, Long)],
      requireStats: Boolean = false)

  /** Persistent table metadata — the analog of the reference's `.footer`
    * + postscript (`cstore.proto:32-51`). JSON, committed via temp+rename. */
  final case class Meta(
      currentSchema: StructType,
      options: GraftTableOptions,
      files: Vector[String],
      rowCount: Long,
      defaults: Map[String, Any],
      nextBatchId: Long,
      fileStats: Map[String, Map[String, ColFileStats]] = Map.empty,
      // highest committed streaming batch per query id — the write-side
      // half of Structured Streaming's exactly-once contract (the
      // checkpoint replays a batch after a crash; this dedupes it)
      streamTxn: Map[String, Long] = Map.empty,
      // monotone commit version; every committed state is archived under
      // _graft_history/v<version>.json for snapshot (time-travel) reads
      version: Long = 0L,
      // THIS commit's stream-visible files: set only by commits whose
      // added files are NOT all new rows (MERGE: the rewrite files carry
      // rows the stream already delivered; only the insert files emit).
      // Empty = the default added-files-of-row-growing-commit rule.
      // Cleared automatically on every commit (commitMutation) so it
      // can never leak from one commit to the next.
      emitFiles: Vector[String] = Vector.empty,
      // TRUE on every SQL MERGE commit that rewrote groups (ReplaceData
      // path): its files mix carried rows with any inserted ones, and
      // file-level metadata cannot reveal which — not even whether
      // inserts exist, since a delete-heavy merge with inserts still
      // shrinks the row count. A streaming source cannot serve such a
      // commit exactly-once — it fails (or skips, under
      // skipChangeCommits), mirroring Delta's change-commit contract.
      // Cleared automatically on every commit, like emitFiles.
      changeCommit: Boolean = false,
      // Deletion vectors: data-file rel path → its sidecar (rel path +
      // deleted-position count). A file absent here has no dead rows.
      // Every rewrite that replaces a file drops its entry (the rewrite
      // materializes the vector); rowCount is always NET of these.
      dvs: Map[String, DvEntry] = Map.empty,
      // Tombstones of DROPPED column names whose data may still live in
      // committed files (DROP is metadata-only; parquet binds by NAME).
      // Re-ADDing a tombstoned name would silently RESURRECT the
      // dropped values in pre-drop rows, so AddCol and the mergeSchema
      // append refuse it until a FULL rewrite (compact/recluster/rename)
      // has materialized the drop and cleared the tombstones.
      droppedCols: Vector[String] = Vector.empty,
      // Immutable MANIFEST SEGMENT files (rel paths under
      // _graft_manifest/) that delta-encode BOTH the file list (replay
      // of each segment's added/removed) AND the per-file zone maps
      // (union, later segment wins, restricted to the replayed list).
      // When non-empty the meta/history JSON carries NO inline files or
      // file_stats — each commit durably writes only its DELTA, so
      // metadata bytes per commit are ∝ the commit's own file churn,
      // not ∝ table files; see [[GraftTable.prepareManifest]] for the
      // full contract (in-memory `files`/`fileStats` always stay fully
      // hydrated).
      manifest: Vector[String] = Vector.empty,
      // Byte length of each committed data file, recorded from the
      // footer read that harvests its row count and zone map — with
      // `files`, the scan's whole planning input (no listing, no
      // per-file status call). Serialized beside the file list (inline
      // `file_lens`, or each manifest segment's added files). A file
      // committed before lengths were recorded is absent; readers stat
      // it once ([[GraftTable.lensOf]]).
      fileLens: Map[String, Long] = Map.empty)

  /** One file's deletion-vector reference: sidecar rel path + how many
    * positions it holds (so effective per-file row counts never need a
    * sidecar read on the driver). */
  final case class DvEntry(path: String, card: Long)

  private val MagicKey = "graft_magic"
  private val Magic = "graft_cstore_v1" // role of `citus_cstore` magic, cstore_fdw.h:50

  // ---- schema changes (applied transactionally by alterAll) ----------

  sealed trait SchemaChange
  final case class AddCol(name: String, dataType: DataType, default: Any = null)
      extends SchemaChange
  final case class DropCol(name: String) extends SchemaChange
  final case class AlterColType(name: String, to: DataType) extends SchemaChange
  /** ALTER … SET an option on an existing table (the reference's `ALTER
    * FOREIGN TABLE … OPTIONS (SET …)` validator path,
    * `cstore_fdw.c:1273-1340`). Only the write-shaping options are
    * settable — compression, stripe_row_count, block_row_count — and
    * they apply to FUTURE appends/rewrites; committed files keep the
    * codec and layout they were written with (exactly the reference's
    * semantics: the option lives in the catalog, each stripe records
    * what it actually used). Clustering and bucketing options are
    * REJECTED: bucket placement is structural per file, and the scan
    * reports sort order proven from the recorded clustering — an ALTER
    * could fabricate an order claim over files written unsorted. */
  final case class SetOption(key: String, value: String) extends SchemaChange
  /** ALTER … unset an option: reverts to the CREATE-time default. */
  final case class UnsetOption(key: String) extends SchemaChange

  private val settableOptions =
    Seq("compression", "stripe_row_count", "block_row_count", "delete_mode",
      "auto_compact_min_files", "check.<name>")

  private def withOption(opts: GraftTableOptions, key: String,
      value: GraftTableOptions => GraftTableOptions): GraftTableOptions = key match {
    case "compression" | "stripe_row_count" | "block_row_count" |
         "delete_mode" | "auto_compact_min_files" => value(opts)
    case k if k.startsWith("check.") => value(opts)
    case "sort_by" | "zorder_by" | "bloom_filter_columns" | "bucket_by" | "bucket_count" =>
      throw new IllegalArgumentException(
        s"option '$key' cannot be changed by ALTER: clustering and bucketing " +
          "shape committed file layout and the scan's proven-order claims")
    case other => throw new IllegalArgumentException(
      s"unknown option '$other' (settable: ${settableOptions.mkString(", ")})")
  }

  /** Validate a CHECK expression against a schema: it must analyze, be
    * exactly one BOOLEAN output, be deterministic, and be row-level — no
    * aggregates, windows, or subqueries (the analyzed plan must stay a
    * plain Project). Shared by CREATE, ALTER (where it also refuses
    * schema changes that would break a carried constraint), and RENAME
    * COLUMN. */
  private[graft] def validateCheckExpr(spark: SparkSession, name: String,
      exprText: String, schema: StructType): Unit = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val df =
      try empty.selectExpr(exprText)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"CHECK constraint '$name' ($exprText) does not resolve against " +
          s"the table schema: ${e.getMessage}") }
    val out = df.schema.fields
    require(out.length == 1 && out.head.dataType == BooleanType,
      s"CHECK constraint '$name' ($exprText) must be one BOOLEAN " +
        s"expression, got ${out.map(_.dataType).mkString(", ")}")
    df.queryExecution.analyzed match {
      // The Project's child must be the relation itself: analysis
      // rewrites window functions to Project-over-Window (whose
      // projectList is an innocent attribute reference), so a top-level
      // Project alone is NOT proof of row-levelness — a window-based
      // CHECK would validate here, commit on an empty table, and then
      // fail every subsequent write inside enforceChecks.
      case p: org.apache.spark.sql.catalyst.plans.logical.Project
          if p.child.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.LeafNode] =>
        require(p.projectList.forall(_.deterministic),
          s"CHECK constraint '$name' ($exprText) must be deterministic")
        require(!p.projectList.exists(_.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression])),
          s"CHECK constraint '$name' ($exprText) must not contain a subquery")
      case _ => throw new IllegalArgumentException(
        s"CHECK constraint '$name' ($exprText) must be a row-level " +
          "expression (no aggregates or windows)")
    }
  }

  private def optionLong(key: String, value: String): Long =
    try value.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"option '$key' expects an integer, got '$value'")
    }

  /** Validate + apply one schema change to an in-memory Meta. Pure: a
    * throw leaves no trace, which is what makes [[GraftTable.alterAll]]
    * all-or-nothing. */
  private def applyChange(m: Meta, c: SchemaChange): Meta = c match {
    case AddCol(name, dataType, default) =>
      require(!m.currentSchema.fieldNames.contains(name), s"column $name already exists")
      // parquet binds by NAME and DROP is metadata-only, so committed
      // files may still carry a dropped column's data — re-adding the
      // name would resurrect those values in pre-drop rows (the
      // reference is immune: PG attnums make the re-added column a new
      // attribute). Refuse until a full rewrite materialized the drop.
      require(!m.droppedCols.contains(name),
        s"column '$name' was DROPPED but committed files still carry its data; " +
          "compact() or recluster() first to materialize the drop, or use a new name")
      default match {
        case null | _: java.lang.Number | _: String | _: java.lang.Boolean => ()
        case other => throw new IllegalArgumentException(
          s"only constant defaults are supported, got ${other.getClass.getName}")
      }
      m.copy(
        currentSchema = StructType(m.currentSchema.fields :+
          StructField(name, dataType, nullable = true)),
        // a NULL default records too: the entry marks "older files lack
        // this column", which must refuse footer aggregate pushdown
        // (those footers have no stats for it) — withExistenceDefaults
        // filters null entries, so the read path is unchanged
        defaults = m.defaults + (name -> default))
    case DropCol(name) =>
      require(m.currentSchema.fieldNames.contains(name), s"no such column $name")
      // the bucket column is STRUCTURAL: every committed file's placement
      // encodes its hash — dropping it would strand the layout (and the
      // SPJ contract) with no route to rebuild it short of a full rewrite
      require(!m.options.bucketBy.contains(name),
        s"cannot drop bucket column '$name' of a bucketed table")
      // sort/zorder/bloom clustering, by contrast, only shapes FUTURE
      // writes: dropping the column honestly drops the property
      m.copy(
        currentSchema = StructType(m.currentSchema.fields.filterNot(_.name == name)),
        defaults = m.defaults - name,
        options = m.options.copy(
          sortBy = m.options.sortBy.filterNot(_ == name),
          zorderBy = m.options.zorderBy.filterNot(_ == name),
          bloomFilterColumns = m.options.bloomFilterColumns.filterNot(_ == name)),
        // drop the column's zone maps too: a later ADD COLUMN reusing the
        // name must not inherit stats from the dropped column's data
        fileStats = m.fileStats.map { case (f, cols) => f -> (cols - name) },
        // tombstone the name: committed files still carry the data, and
        // re-ADDing it before a full rewrite would resurrect the values
        droppedCols = (m.droppedCols :+ name).distinct)
    case AlterColType(name, to) =>
      require(m.currentSchema.fieldNames.contains(name), s"no such column $name")
      val from = m.currentSchema(name).dataType
      require(implicitlyCoercible(from, to),
        s"cannot change column $name from $from to $to: not implicitly coercible")
      if (m.options.bucketBy.contains(name)) {
        // the route must keep mapping every existing value to the bucket
        // its files already sit in: integral WIDENING preserves floorMod
        // (same value, wider carrier); anything else (e.g. long→double,
        // a legal coercion otherwise) diverges route from placement and
        // silently breaks co-partitioned reads
        val widen = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
        require(from == to ||
          (widen.indexOf(from) >= 0 && widen.indexOf(to) > widen.indexOf(from)),
          s"cannot change bucket column '$name' from $from to $to: the hash " +
            "route would diverge from existing file placement")
      }
      m.copy(currentSchema = StructType(m.currentSchema.fields.map { f =>
        if (f.name == name) f.copy(dataType = to) else f
      }))
    // option changes validate structurally here (known key, parseable
    // value); the VALUE constraints (codec set, ranges, block ≤ stripe)
    // are checked once on the folded result in [[GraftTable.alterAll]] —
    // per-change validation would make one ALTER setting both
    // stripe_row_count and block_row_count pass or fail on Map iteration
    // order, since the intermediate state mixes old and new values
    case SetOption(key, value) =>
      m.copy(options = withOption(m.options, key, o => key match {
        case "compression" => o.copy(compression = value)
        case "stripe_row_count" => o.copy(stripeRowCount = optionLong(key, value))
        case "block_row_count" => o.copy(blockRowCount = optionLong(key, value))
        case "delete_mode" => o.copy(deleteMode = value)
        case "auto_compact_min_files" =>
          o.copy(autoCompactMinFiles = optionLong(key, value).toInt)
        case k if k.startsWith("check.") =>
          o.copy(checks = o.checks + (k.stripPrefix("check.") -> value))
        case _ => o
      }))
    case UnsetOption(key) =>
      val d = GraftTableOptions()
      m.copy(options = withOption(m.options, key, o => key match {
        case "compression" => o.copy(compression = d.compression)
        case "stripe_row_count" => o.copy(stripeRowCount = d.stripeRowCount)
        case "block_row_count" => o.copy(blockRowCount = d.blockRowCount)
        case "delete_mode" => o.copy(deleteMode = d.deleteMode)
        case "auto_compact_min_files" =>
          o.copy(autoCompactMinFiles = d.autoCompactMinFiles)
        case k if k.startsWith("check.") =>
          o.copy(checks = o.checks - k.stripPrefix("check."))
        case _ => o
      }))
  }

  // ---- filesystem resolution -----------------------------------------

  /** Hadoop configuration for metadata I/O: the active session's (so
    * `fs.*` runtime settings apply), else a bare default. */
  private[graft] def hadoopConf(): Configuration =
    SparkSession.getActiveSession.map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Resolve a location string (URI or bare path) to its FileSystem.
    * Local paths unwrap `LocalFileSystem` to the raw (non-checksummed)
    * filesystem so metadata files don't grow `.crc` siblings and renames
    * are plain POSIX renames. */
  private[graft] def fsAndPath(location: String): (FileSystem, HPath) = {
    val hp = new HPath(location)
    val fs = hp.getFileSystem(hadoopConf()) match {
      case local: org.apache.hadoop.fs.LocalFileSystem => local.getRaw
      case other => other
    }
    (fs, hp)
  }

  /** Rename `src` over `dst`. POSIX filesystems replace atomically; on
    * filesystems whose rename refuses an existing destination (HDFS) the
    * destination is deleted first — a window `readMeta`'s missing-file
    * retry absorbs. Writers themselves are serialized by the table
    * lock, so two commits never race here. */
  private def renameReplacing(fs: FileSystem, src: HPath, dst: HPath): Unit = {
    if (!fs.rename(src, dst)) {
      fs.delete(dst, false)
      require(fs.rename(src, dst), s"rename $src -> $dst failed")
    }
  }

  private def writeFileAtomic(location: String, path: HPath, content: String): Unit = {
    val (fs, _) = fsAndPath(location)
    // writer-unique temp name: with CAS-committed writers the pointer
    // cache is written UNSERIALIZED, and two writers sharing one .tmp
    // path race each other's rename (one renames the tmp away while the
    // other is mid-write)
    val tmp = new HPath(path.getParent,
      path.getName + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    try renameReplacing(fs, tmp, path)
    catch { case e: Exception => fs.delete(tmp, false); throw e }
  }

  /** Read a small metadata file to EOF. Deliberately does NOT pre-stat
    * the length and read exactly that many bytes: a commit (rename over
    * the path) landing between stat and open would yield a truncated or
    * over-read buffer instead of a clean failure the caller can retry. */
  private def readFileFully(fs: FileSystem, path: HPath): String = {
    val in = fs.open(path)
    try {
      val out = new java.io.ByteArrayOutputStream(8192)
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  // ---- writer serialization (cstore_fdw.c:560-564) -------------------

  // Two layers: a JVM monitor per table URI (java.nio FileLocks are held
  // per-JVM, so a second lock attempt from another thread would throw
  // OverlappingFileLockException instead of blocking), then — for local
  // tables — an OS file lock for writers in other processes. On
  // filesystems with no lock primitive (object stores, HDFS) the locks
  // are only a CONTENTION optimization: correctness of concurrent
  // commits comes from the CAS version-claim in [[commitMutation]], so
  // unlike the reference (single-writer caveat, `TODO.md:25-28`) two
  // unserialized writers never lose a commit.
  private val jvmLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Test seam: treat the current thread as a SEPARATE PROCESS — skip
    * the JVM monitor and OS lock so a spec can drive two writers into
    * the CAS commit protocol's collision path inside one JVM (the
    * object-store two-writer scenario, otherwise unreachable in-process
    * because the monitor serializes first). */
  private[storage] val simulateSeparateProcess: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Serializes the session-wide `outputTimestampType` flip across ALL
    * graft writers in this JVM (the per-table lock can't — see
    * `writeBatchDir`). */
  private[storage] val writeConfLock = new Object

  private[storage] def withWriterLock[T](location: String)(f: => T): T = {
    if (simulateSeparateProcess.get()) return f
    val uri = new HPath(location).toUri
    val local = uri.getScheme == null || uri.getScheme == "file"
    val key =
      if (local) "file:" + Paths.get(uri.getPath).toAbsolutePath.normalize.toString
      else uri.toString.stripSuffix("/")
    val monitor = jvmLocks.computeIfAbsent(key, _ => new Object)
    monitor.synchronized {
      if (local) {
        val ch = java.nio.channels.FileChannel.open(
          Paths.get(uri.getPath).resolve("_graft_write.lock"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val lock = ch.lock()
          try f finally lock.release()
        } finally ch.close()
      } else f
    }
  }

  // ---- existence-default synthesis (cstore_reader.c:1224-1292) -------

  /** Render an ADD COLUMN constant default as a SQL literal for the
    * schema metadata the parquet reader consults. */
  private[graft] def sqlLiteral(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case other => String.valueOf(other)
  }

  /** Attach `EXISTS_DEFAULT` metadata for each recorded ADD COLUMN
    * default. The parquet reader fills a column from this literal only
    * when the file's footer lacks the column — i.e. exactly for stripes
    * written before the ALTER — which is the reference's default
    * synthesis rule. Explicit NULLs stored after the ALTER are read back
    * as NULL because the column is physically present in those files. */
  private[graft] def withExistenceDefaults(
      schema: StructType, defaults: Map[String, Any]): StructType = {
    val live = defaults.filter { case (k, v) => v != null && schema.fieldNames.contains(k) }
    if (live.isEmpty) schema
    else StructType(schema.fields.map { f =>
      live.get(f.name) match {
        case Some(v) =>
          val litStr = sqlLiteral(v)
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putString("EXISTS_DEFAULT", litStr)
            .putString("CURRENT_DEFAULT", litStr)
            .build())
        case None => f
      }
    })
  }

  // ---- hash bucketing (storage-partitioned joins) --------------------

  /** Synthetic routing column for bucketed writes; becomes the
    * `__graft_bucket=<id>/` dir each file lands in. Never part of the
    * table schema (partitionBy drops it from file contents). */
  val BucketCol = "__graft_bucket"

  private val BucketDirRe = (BucketCol + "=(\\d+)").r

  /** Bucket id a committed file holds, parsed from its path; None for a
    * file written before bucketing (never the case on a bucket_by table —
    * the option is create-time-only and every writer routes). */
  def fileBucket(path: String): Option[Int] =
    BucketDirRe.findFirstMatchIn(path).map(_.group(1).toInt)

  /** The bucket route as a Spark column — MUST agree with [[bucketOfLong]]
    * / [[bucketOfUtf8]] (the Java twins the SQL `bucket` function and the
    * COW writer evaluate), or storage-partitioned joins would co-locate
    * rows the write path scattered. Integral keys: floorMod of the value
    * itself; strings: floorMod of crc32 over UTF-8 bytes. Null keys route
    * to bucket 0 (null join keys never match, so their placement only
    * needs to be deterministic). */
  def bucketIdColumn(dt: DataType, key: Column, n: Int): Column = {
    val raw = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        pmod(key.cast(LongType), lit(n.toLong))
      case DateType => // days-since-epoch domain (a date IS its int32 days)
        pmod(unix_date(key).cast(LongType), lit(n.toLong))
      case StringType => pmod(crc32(key.cast(BinaryType)), lit(n.toLong))
      case other =>
        throw new IllegalArgumentException(s"bucket_by does not support $other")
    }
    coalesce(raw, lit(0L)).cast(IntegerType)
  }

  def bucketOfLong(v: Long, n: Int): Int =
    java.lang.Math.floorMod(v, n.toLong).toInt

  def bucketOfUtf8(utf8: Array[Byte], n: Int): Int = {
    val crc = new java.util.zip.CRC32
    crc.update(utf8)
    java.lang.Math.floorMod(crc.getValue, n.toLong).toInt
  }

  // ---- file-level zone maps (cstore_reader.c:744-806 at file grain) --

  /** Types with parquet stats whose ordering we can reproduce exactly.
    * Timestamps prune in the micros-since-epoch domain (INT64 parquet
    * timestamps only — INT96 stats don't order like instants and are
    * rejected in `footerInfo`; the append path writes TIMESTAMP_MICROS
    * so graft files always qualify). Decimals prune in the
    * unscaled-integer domain (the column's scale is fixed). The
    * reference skips blocks for every btree-comparable type including
    * these (`cstore_writer.c:845-849`). */
  /** The declared NON-BINARY collation of a string column, when any.
    * (`st == StringType` is Spark's binary/UTF8 default; any other
    * StringType instance carries a collation id.) */
  def collatedType(dt: DataType): Option[StringType] = dt match {
    case st: StringType if st != StringType => Some(st)
    case _ => None
  }

  /** File-stats key for a collated column's COLLATION-ORDER min/max
    * witnesses (SURVEY §7.4 hard part 2's fix: binary min/max cannot
    * refute collated predicates — `cstore_reader.c:763-769` — so the
    * append path additionally records the file's extreme VALUES under
    * the declared collation, and the pruner compares filter values
    * against them with the collation's own comparator). The key embeds
    * the collation name AND its library version: a reader running a
    * different ICU (whose rules may order differently) simply misses
    * the key and falls back to the sound no-refutation path — the
    * mixed-version caveat is structural, not a doc footnote. The NUL
    * separator cannot appear in a practical column name, so witness
    * keys never collide with real column stats. */
  def collStatKey(name: String, st: StringType): String = {
    val c = org.apache.spark.sql.catalyst.util.CollationFactory
      .fetchCollation(st.collationId)
    name + "\u0000" + "coll:" + c.collationName + "@" + c.version
  }

  /** Collation-order comparison of two strings under a declared
    * collation (the comparator Spark itself sorts/compares with). */
  private[storage] def compareCollated(st: StringType, a: String, b: String): Int =
    org.apache.spark.sql.catalyst.util.CollationFactory
      .fetchCollation(st.collationId).comparator.compare(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))

  private[storage] def zoneMapEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         BooleanType | DateType | TimestampType | TimestampNTZType => true
    case _: StringType | _: DecimalType => true
    case _ => false
  }

  private[storage] def statToString(dt: DataType, v: Any): String = (dt, v) match {
    // FLBA/binary-backed decimal: big-endian two's-complement unscaled
    case (_: DecimalType, b: org.apache.parquet.io.api.Binary) =>
      new java.math.BigInteger(b.getBytes).toString
    case (_, b: org.apache.parquet.io.api.Binary) => b.toStringUsingUTF8
    case _ => String.valueOf(v)
  }

  /** Typed comparison of two stat strings under the column's type.
    * None = not comparable (never refute). String comparison uses binary
    * order and only for pure-ASCII values, where UTF-16 `compareTo`
    * agrees with parquet's unsigned-byte order — the same discipline
    * that keeps collated predicates unpruned (`cstore_reader.c:763-769`). */
  private[storage] def compareStat(dt: DataType, a: String, b: String): Option[Int] =
    if (a == null || b == null) None
    else try dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType =>
        Some(java.lang.Long.compare(a.toLong, b.toLong))
      case FloatType | DoubleType =>
        Some(java.lang.Double.compare(a.toDouble, b.toDouble))
      case BooleanType => Some(java.lang.Boolean.compare(a.toBoolean, b.toBoolean))
      case _: DecimalType => Some(BigInt(a).compare(BigInt(b)))
      case _: StringType if a.forall(_ < 128) && b.forall(_ < 128) =>
        Some(Integer.signum(a.compareTo(b)))
      case _ => None
    } catch { case _: NumberFormatException => None }

  /** Render a pushed-filter comparison value into the same domain as the
    * stored stat strings (dates → epoch days, timestamps → micros since
    * epoch, decimals → unscaled integer at the column's scale, numerics
    * → decimal text). */
  private def filterValueString(dt: DataType, v: Any): Option[String] = (dt, v) match {
    case (_, null) => None
    case (DateType, d: java.sql.Date) => Some(d.toLocalDate.toEpochDay.toString)
    case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay.toString)
    case (DateType, _) => None
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t).toString)
    case (TimestampType, i: java.time.Instant) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i).toString)
    case (TimestampNTZType, l: java.time.LocalDateTime) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(l).toString)
    case (TimestampType | TimestampNTZType, _) => None
    case (d: DecimalType, bd: java.math.BigDecimal) =>
      // a value not representable at the column scale can't equal any
      // stored value; staying conservative (no refute) keeps this simple
      try Some(bd.setScale(d.scale).unscaledValue.toString)
      catch { case _: ArithmeticException => None }
    case (d: DecimalType, bd: BigDecimal) =>
      try Some(bd.underlying.setScale(d.scale).unscaledValue.toString)
      catch { case _: ArithmeticException => None }
    case (d: DecimalType, dec: Decimal) =>
      try Some(dec.toJavaBigDecimal.setScale(d.scale).unscaledValue.toString)
      catch { case _: ArithmeticException => None }
    case (_: DecimalType, _) => None
    case (_, other) => Some(other.toString)
  }

  /** The Spark Column equivalent of a V1 source filter — applies a
    * DELETE/UPDATE predicate to candidate rows EXACTLY. The supported
    * shapes mirror what the scan path pushes down; an unsupported
    * filter throws rather than silently mutating the wrong rows. */
  private[graft] def filterToColumn(f: Filter): Column = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(c, v) => col(c) === lit(v)
      case EqualNullSafe(c, v) => col(c) <=> lit(v)
      case GreaterThan(c, v) => col(c) > lit(v)
      case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
      case LessThan(c, v) => col(c) < lit(v)
      case LessThanOrEqual(c, v) => col(c) <= lit(v)
      case In(c, vs) => col(c).isin(vs.toIndexedSeq: _*)
      case IsNull(c) => col(c).isNull
      case IsNotNull(c) => col(c).isNotNull
      case And(l, r) => filterToColumn(l) && filterToColumn(r)
      case Or(l, r) => filterToColumn(l) || filterToColumn(r)
      case Not(inner) => !filterToColumn(inner)
      case StringStartsWith(c, p) => col(c).startsWith(p)
      case StringEndsWith(c, p) => col(c).endsWith(p)
      case StringContains(c, p) => col(c).contains(p)
      case AlwaysTrue() => lit(true)
      case AlwaysFalse() => lit(false)
      case other => throw new UnsupportedOperationException(
        s"DELETE/UPDATE predicate not supported exactly: $other")
    }
  }

  /** True when the file's zone map PROVES no row can satisfy `f` — the
    * reference's `predicate_refuted_by` role. Conservative: anything not
    * understood keeps the file. */
  private[storage] def refutes(schema: StructType,
      stats: Map[String, ColFileStats], f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    // Collation rule (cstore_reader.c:763-769): a column DECLARED with a
    // non-binary collation (`STRING COLLATE da`, …) stores binary
    // min/max, but its comparison semantics are the collation's —
    // Danish 'AA…' sorts after 'Z' while binary bounds put it first, so
    // refuting with those bounds wrongly drops files. Spark never pushes
    // collated comparisons down, but the Scala DML/pruning APIs accept
    // raw source Filters; this guard keeps every ORDERING-based
    // refutation (min/max comparisons, prefix ranges) non-refuting.
    // Null-count refutations stay live: null is null under any
    // collation, so allNull/IsNull pruning is collation-independent.
    def binaryComparable(dt: DataType): Boolean = dt match {
      case st: StringType => st == StringType
      case _ => true
    }
    def cs(c: String): Option[(DataType, ColFileStats)] =
      if (schema.fieldNames.contains(c)) stats.get(c).map(s => (schema(c).dataType, s))
      else None
    // A DECLARED-collation column refutes through its collation-order
    // WITNESS bounds (collStatKey) when the file recorded them under
    // the reader's exact collation+version — binary bounds stay barred
    // (binaryComparable) and files/tables without witnesses (pre-feature
    // appends, version drift) conservatively keep everything.
    def cmpColl(c: String, st: StringType, v: Any,
        pickMin: Boolean): Option[Int] = v match {
      case s: String => stats.get(collStatKey(c, st)).flatMap { w =>
        val bound = if (pickMin) w.min else w.max
        if (bound == null) None else Some(compareCollated(st, bound, s))
      }
      case _ => None
    }
    def dtOf(c: String): Option[DataType] =
      if (schema.fieldNames.contains(c)) Some(schema(c).dataType) else None
    def cmpMin(c: String, v: Any): Option[Int] = dtOf(c).flatMap { dt =>
      collatedType(dt) match {
        case Some(st) => cmpColl(c, st, v, pickMin = true)
        case None => cs(c).flatMap { case (_, s) =>
          if (!binaryComparable(dt)) None
          else filterValueString(dt, v).flatMap(fv => compareStat(dt, s.min, fv))
        }
      }
    }
    def cmpMax(c: String, v: Any): Option[Int] = dtOf(c).flatMap { dt =>
      collatedType(dt) match {
        case Some(st) => cmpColl(c, st, v, pickMin = false)
        case None => cs(c).flatMap { case (_, s) =>
          if (!binaryComparable(dt)) None
          else filterValueString(dt, v).flatMap(fv => compareStat(dt, s.max, fv))
        }
      }
    }
    // A file whose recorded stats show the column is null in every row
    // can satisfy no comparison predicate at all (SQL comparisons with
    // NULL are never true) — the all-null-stripe refutation the
    // reference gets from its own `hasNonNullValue` flag.
    def allNull(c: String): Boolean =
      cs(c).exists { case (_, s) => s.rows > 0L && s.nulls == s.rows }
    f match {
      case And(l, r) => refutes(schema, stats, l) || refutes(schema, stats, r)
      case Or(l, r) => refutes(schema, stats, l) && refutes(schema, stats, r)
      case EqualTo(c, v) =>
        allNull(c) || cmpMax(c, v).exists(_ < 0) || cmpMin(c, v).exists(_ > 0)
      case GreaterThan(c, v) => allNull(c) || cmpMax(c, v).exists(_ <= 0)
      case GreaterThanOrEqual(c, v) => allNull(c) || cmpMax(c, v).exists(_ < 0)
      case LessThan(c, v) => allNull(c) || cmpMin(c, v).exists(_ >= 0)
      case LessThanOrEqual(c, v) => allNull(c) || cmpMin(c, v).exists(_ > 0)
      case In(c, vs) =>
        allNull(c) || (vs != null && vs.nonEmpty && vs.forall(v =>
          cmpMax(c, v).exists(_ < 0) || cmpMin(c, v).exists(_ > 0)))
      // Prefix refutation under the same ASCII-binary discipline as the
      // comparisons: values with prefix p live in [p, nextPrefix(p)), so
      // the file is refuted when max < p or min >= nextPrefix(p).
      case StringStartsWith(c, p) if p != null && p.nonEmpty =>
        allNull(c) || cs(c).exists { case (dt, s) =>
          // prefix ranges are an ORDERING argument — binary collation only
          binaryComparable(dt) && dt.isInstanceOf[StringType] && {
            val below = compareStat(dt, s.max, p).exists(_ < 0)
            val above = p.last < 127 && {
              val next = p.init + (p.last + 1).toChar
              compareStat(dt, s.min, next).exists(_ >= 0)
            }
            below || above
          }
        }
      case IsNull(c) => cs(c).exists { case (_, s) => s.nulls == 0L }
      case IsNotNull(c) => cs(c).exists { case (_, s) => s.nulls >= 0L && s.nulls == s.rows }
      case _ => false
    }
  }

  /** Per-column ANALYZE output (min/max as strings, approx ndv, nulls). */
  /** Stored most-common values per column (PG default_statistics_target
    * keeps 100; 10 covers eq-selectivity's needs at a tenth the stats
    * file) and the Misra–Gries sketch width that guarantees pass-1
    * candidates cover everything above n/McvMgK of the column. */
  private[graft] val McvK = 10
  private[graft] val McvMgK = 50

  /** Max `sum(when(...))` counter expressions per MCV pass-2 aggregate
    * job — bounds generated-code size on wide schemas (Janino's 64KB
    * method ceiling) at the cost of one extra scan per 64 counters. */
  private[graft] val McvAggChunk = 64

  /** Types with a usable ordering for min/max stats (and a sane
    * `cast(string)` image for MCVs). */
  private[storage] def statOrderable(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: StructType | _: MapType | BinaryType => false
    case _ => true
  }

  /** `mcvs`: most-common values (value in `cast(string)` form → exact
    * occurrence count), the PostgreSQL-ANALYZE stat the reference's
    * delegated ANALYZE produces (`cstore_fdw.c:2061-2082` hands sampled
    * rows to the host's std_typanalyze, whose MCV list drives eq-clause
    * selectivity). Empty on stats written before MCV collection.
    *
    * `hist`: equi-depth histogram bounds (PG's STATISTIC_KIND_HISTOGRAM,
    * which std_typanalyze collects for EVERY orderable type) —
    * HistBuckets+1 cut points driving piecewise range selectivity where
    * min/max linear interpolation misreads skewed domains. Numerics
    * store double strings; dates epoch-day and timestamps epoch-milli
    * doubles (the domains Selectivity probes in); strings store raw
    * sampled quantile values. Empty for unhistogrammable columns and
    * pre-histogram stats. */
  final case class ColumnStats(min: String, max: String, ndv: Long, nullCount: Long,
      mcvs: Seq[(String, Long)] = Nil, hist: Seq[String] = Nil)

  /** Equi-depth histogram resolution (PG default_statistics_target uses
    * 100 buckets; 16 bounds the stats file while still resolving 6%
    * selectivity steps). */
  private[graft] val HistBuckets = 16

  private[storage] def histNumeric(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         _: DecimalType => true
    case _ => false
  }

  /** Types whose histogram is collected through a numeric image. */
  private[storage] def histable(dt: DataType): Boolean =
    histNumeric(dt) || dt == DateType || dt == TimestampType

  /** The percentile_approx input for a histable column. The image
    * domains MATCH what Selectivity renders probe values into (dates →
    * epoch days, timestamps → epoch millis), so the stored bounds and a
    * pushed filter value land on the same axis. */
  private[storage] def histImage(dt: DataType, c: Column): Option[Column] = dt match {
    case _ if histNumeric(dt) => Some(c.cast("double"))
    case DateType => Some(unix_date(c).cast("double"))
    case TimestampType => Some(unix_millis(c).cast("double"))
    case _ => None
  }

  /** Driver-side sample cap for string histogram bounds (PG's ANALYZE
    * sample is 300 × statistics_target = 30k rows; 10k resolves 16
    * buckets with ample slack). */
  private[graft] val HistSampleRows = 10000
  final case class TableStats(rowCount: Long, sizeBytes: Long,
      columns: Map[String, ColumnStats])

  private def statsPath(location: String): HPath =
    new HPath(location, "_graft_stats.json")

  private[storage] def writeStatsAtomic(location: String, st: TableStats): Unit = {
    def js(s: String) = if (s == null) "null" else jsonStr(s)
    val cols = st.columns.map { case (k, c) =>
      val mcv = if (c.mcvs.isEmpty) ""
        else c.mcvs.map { case (v, n) => s"[${js(v)}, $n]" }
          .mkString(", \"mcvs\": [", ",", "]")
      val hist = if (c.hist.isEmpty) ""
        else c.hist.map(js).mkString(", \"hist\": [", ",", "]")
      s"${js(k)}: {\"min\": ${js(c.min)}, \"max\": ${js(c.max)}, " +
        s"\"ndv\": ${c.ndv}, \"nulls\": ${c.nullCount}$mcv$hist}"
    }.mkString("{", ",", "}")
    val txt = s"""{"row_count": ${st.rowCount}, "size_bytes": ${st.sizeBytes}, "columns": $cols}"""
    writeFileAtomic(location, statsPath(location), txt)
  }

  private[storage] def readStats(location: String): Option[TableStats] = {
    val (fs, _) = fsAndPath(location)
    val path = statsPath(location)
    if (!fs.exists(path)) return None
    val m = parseJsonObject(readFileFully(fs, path))
    val cols = m("columns").asInstanceOf[Map[String, Any]].map { case (k, v) =>
      val o = v.asInstanceOf[Map[String, Any]]
      val mcvs = o.get("mcvs").map(_.asInstanceOf[List[Any]].map { e =>
        val pair = e.asInstanceOf[List[Any]]
        pair.head.asInstanceOf[String] -> pair(1).asInstanceOf[Number].longValue()
      }).getOrElse(Nil)
      val hist = o.get("hist")
        .map(_.asInstanceOf[List[Any]].map(_.asInstanceOf[String])).getOrElse(Nil)
      k -> ColumnStats(
        o("min").asInstanceOf[String], o("max").asInstanceOf[String],
        o("ndv").asInstanceOf[Number].longValue(),
        o("nulls").asInstanceOf[Number].longValue(),
        mcvs, hist)
    }
    Some(TableStats(m("row_count").asInstanceOf[Number].longValue(),
      m("size_bytes").asInstanceOf[Number].longValue(), cols))
  }

  /** CREATE TABLE: validates options, writes initial metadata so the empty
    * table is immediately queryable (`cstore_fdw.c:928-948`). */
  def create(spark: SparkSession, location: String, schema: StructType,
      options: GraftTableOptions = GraftTableOptions()): GraftTable = {
    options.validate()
    // schema-dependent option checks (the FDW validator has the schema
    // in hand too, cstore_fdw.c:1273-1340)
    (options.zorderBy ++ options.bloomFilterColumns).foreach { c =>
      require(schema.fieldNames.contains(c),
        s"option references column '$c' which is not in the table schema")
    }
    options.zorderBy.foreach { c =>
      val dt = schema(c).dataType
      require(dt.isInstanceOf[NumericType] || dt == DateType || dt == TimestampType,
        s"zorder_by column '$c' must be numeric, date, or timestamp (got $dt)")
    }
    options.bucketBy.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"option references column '$c' which is not in the table schema")
      val dt = schema(c).dataType
      require(Set[DataType](ByteType, ShortType, IntegerType, LongType,
          StringType, DateType).contains(dt),
        s"bucket_by column '$c' must be integral, string, or date (got $dt)")
    }
    options.checks.foreach { case (n, e) =>
      validateCheckExpr(spark, n, e, schema)
    }
    val loc = qualified(location)
    val (fs, dir) = fsAndPath(loc)
    require(!fs.exists(metaPath(loc)), s"table already exists at $loc")
    fs.mkdirs(dir)
    val meta = Meta(schema, options, Vector.empty, 0L, Map.empty, 0L)
    // v0 goes through the same exclusive claim as every commit, so two
    // concurrent CREATEs on a lock-less filesystem cannot both succeed
    require(tryClaimVersion(loc, meta), s"table already exists at $loc")
    writeMetaAtomic(loc, meta)
    new GraftTable(spark, loc, meta)
  }

  /** Open an existing table. */
  def open(spark: SparkSession, location: String): GraftTable = {
    val loc = qualified(location)
    new GraftTable(spark, loc, readMeta(loc))
  }

  /** Open a table AS OF an archived snapshot version: reads see that
    * commit's schema and files. Write methods on the handle refresh to
    * the CURRENT metadata before acting (they never commit from the
    * snapshot), so the handle is effectively read-only into the past. */
  def openVersion(spark: SparkSession, location: String, version: Long): GraftTable = {
    val loc = qualified(location)
    val committed = readMeta(loc).version
    require(version <= committed,
      s"version $version was never committed (current is $committed; " +
        "a newer archive file is a crashed commit's orphan)")
    val t = new GraftTable(spark, loc, readHistoryMeta(loc, version))
    // validate READABILITY here, with the meta just read — the one
    // shared chokepoint for the Scala and catalog/DSv2 snapshot paths
    t.requireSnapshotReadable(version, t.meta)
    t
  }

  /** Newest snapshot committed at or before `timestampMillis` (by the
    * archive file's modification time) — the TIMESTAMP AS OF lookup. */
  def versionAsOfTimestamp(location: String, timestampMillis: Long): Long = {
    val loc = qualified(location)
    val (fs, _) = fsAndPath(loc)
    val committed = readMeta(loc).version
    val at = historyVersions(loc).filter { v =>
      v <= committed &&
        fs.getFileStatus(historyPath(loc, v)).getModificationTime <= timestampMillis
    }
    require(at.nonEmpty,
      s"no snapshot of $location existed at or before $timestampMillis")
    at.max
  }

  /** Fully-qualified form of a location (scheme + absolute path). A table
    * handle always carries the qualified form: `listStatus` returns
    * fully-qualified file paths, so `relativize` against a RELATIVE
    * location (resolved against the filesystem's working directory)
    * would otherwise reject every listed file. */
  private def qualified(location: String): String = {
    val (fs, p) = fsAndPath(location)
    fs.makeQualified(p).toString
  }

  def exists(location: String): Boolean = {
    val (fs, _) = fsAndPath(location)
    fs.exists(metaPath(location))
  }

  /** DROP TABLE: remove data + metadata files (`cstore_fdw.c:776-925`). */
  def drop(location: String): Unit = {
    val (fs, dir) = fsAndPath(location)
    fs.delete(dir, true)
    // a recreated table at the same path must never hydrate from the
    // dropped table's cached manifest segments
    SegmentCache.invalidateUnder(location)
    SegmentCache.invalidateUnder(qualified(location))
    ()
  }

  /** Implicit-coercibility matrix (reference behavior via PG cast rules,
    * exercised by `sql/alter.sql:75-83`). Widening numeric casts and
    * string-kind renames are OK; narrowing is rejected. */
  def implicitlyCoercible(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (ByteType, ShortType | IntegerType | LongType | FloatType | DoubleType) => true
    case (ShortType, IntegerType | LongType | FloatType | DoubleType) => true
    case (IntegerType, LongType | FloatType | DoubleType) => true
    case (LongType, FloatType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case (_: DecimalType, DoubleType) => true
    case (IntegerType | LongType, _: DecimalType) => true
    case (StringType, _: StringType) => true
    case (DateType, TimestampType) => true
    case _ => false
  }

  private[storage] def codecName(c: String): String =
    if (c == "none") "uncompressed" else c

  private def metaPath(location: String): HPath =
    new HPath(location, "_graft_meta.json")

  private def historyDir(location: String): HPath =
    new HPath(location, "_graft_history")

  private[graft] def historyPath(location: String, version: Long): HPath =
    new HPath(historyDir(location), f"v$version%020d.json")

  /** Atomically claim `meta.version` in the version log — the commit
    * point. Exclusive create (`overwrite = false`) is the one Hadoop
    * `FileSystem` primitive whose contract guarantees exactly one of
    * two racing writers succeeds, on filesystems with no lock or
    * rename-no-replace primitive at all. Returns false when the version
    * is already claimed (a concurrent writer won the race); the caller
    * re-reads and rebases.
    *
    * A claim whose content never finished (writer crashed between
    * create and close) would wedge the version forever, so a collision
    * against an UNPARSEABLE claim older than the janitor grace
    * (`spark.graft.commit.claimGraceMs`, default 10 min — far beyond
    * any metadata write) is reclaimed: the partial file is removed and
    * the claim retried once. A parseable claim is never touched — it is
    * a real commit. */
  private[storage] def tryClaimVersion(location: String, meta: Meta): Boolean = {
    val (fs, _) = fsAndPath(location)
    requireAtomicCreate(fs.getUri.getScheme)
    fs.mkdirs(historyDir(location))
    val path = historyPath(location, meta.version)
    def attempt(): Boolean =
      try {
        val out = fs.create(path, false)
        try out.write(renderMeta(meta).getBytes(StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: java.io.IOException
            if e.getMessage != null &&
              e.getMessage.toLowerCase.contains("already exists") => false
      }
    val won = attempt() ||
      (isStaleBrokenClaim(fs, path) && reclaimStaleClaim(fs, path) && attempt())
    // Fork guard: an exclusive create succeeding does NOT prove this is
    // head+1 — expireHistory may have deleted this version number while
    // a writer held a stale in-memory base, and committing into the hole
    // would fork the log below the pointer (which expireHistory refreshes
    // to head before expiring anything), silently dropping every later
    // commit. The pointer can lag the log but never lead it, so a pointer
    // AT OR ABOVE the claimed version is proof of a fork: release the
    // claim and make the caller rebase.
    won && (pointerVersion(location).forall(_ < meta.version) || {
      try fs.delete(path, false) catch { case _: Exception => () }
      false
    })
  }

  /** The version recorded in the pointer FILE itself — a raw read with
    * no log walk. None when the pointer is unreadable (mid-rename on a
    * non-atomic-replace filesystem, or absent). */
  private[storage] def pointerVersion(location: String): Option[Long] =
    try {
      val (fs, _) = fsAndPath(location)
      parseJsonObject(readFileFully(fs, metaPath(location)))
        .get("version").collect { case n: java.lang.Number => n.longValue() }
    } catch { case _: Exception => None }

  /** Schemes whose stock Hadoop connector implements
    * `create(overwrite = false)` as exists-check-then-PUT — NOT atomic,
    * so two racing writers can both "win" the same version: exactly the
    * lost update the CAS protocol exists to prevent. The commit path
    * fails fast on these unless the user attests atomicity via
    * `spark.graft.commit.assumeAtomicCreate=true` (legitimate when the
    * store honors conditional writes — e.g. S3 If-None-Match via
    * `fs.s3a.create.conditional.enabled` on Hadoop >= 3.4.1 — or the
    * bucket is fronted by a consistent metadata layer). HDFS, local,
    * ABFS and GCS exclusive-create are atomic and pass unconditionally;
    * the alternative for an unlisted-but-suspect store is a pluggable
    * commit primitive, which this single-primitive protocol trades away
    * for simplicity (Delta's LogStore makes the same split). */
  private[storage] val NonAtomicCreateSchemes = Set("s3", "s3a", "s3n", "oss", "cos", "swift")

  private[storage] def requireAtomicCreate(scheme: String): Unit = {
    val attested = SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.graft.commit.assumeAtomicCreate"))
      .exists(_.toBoolean)
    if (scheme != null && NonAtomicCreateSchemes(scheme.toLowerCase) && !attested)
      throw new UnsupportedOperationException(
        s"graft commits require atomic exclusive-create, and the '$scheme' " +
          "connector's create(overwrite=false) is exists-check-then-PUT (not " +
          "atomic) by default - concurrent writers could both claim the same " +
          "version and lose a commit. Enable a conditional-write mode on the " +
          "store (e.g. fs.s3a.create.conditional.enabled with Hadoop >= 3.4.1) " +
          "and attest it with spark.graft.commit.assumeAtomicCreate=true")
  }

  private def claimGraceMs: Long = SparkSession.getActiveSession
    .flatMap(s => s.conf.getOption("spark.graft.commit.claimGraceMs"))
    .map(_.toLong).getOrElse(600000L)

  /** True iff `path` is an abandoned partial claim: unparseable AND not
    * recently modified (a live writer is still between create and
    * close only for milliseconds). */
  private def isStaleBrokenClaim(fs: FileSystem, path: HPath): Boolean =
    try {
      val st = fs.getFileStatus(path)
      (System.currentTimeMillis() - st.getModificationTime > claimGraceMs) && {
        try { parseJsonObject(readFileFully(fs, path)); false }
        catch { case _: Exception => true }
      }
    } catch { case _: Exception => false }

  /** Delete an abandoned partial claim under a LEASE, so reclamation
    * cannot destroy a commit. A bare check→delete is a TOCTOU hole: two
    * janitors can both judge the claim stale, the first reclaims the
    * path and commits a REAL snapshot there, and the second's delete
    * then destroys that commit — precisely the lost update the CAS
    * protocol exists to prevent. Exclusive create of `<path>.reclaim`
    * admits exactly one janitor into the critical section, and the
    * staleness RE-CHECK inside the lease observes any snapshot
    * committed meanwhile and leaves it alone. A janitor that crashed
    * holding the lease is unblocked after the claim grace (its lease
    * file is then itself a stale artifact); the residual window — a
    * janitor frozen LONGER than the grace between its re-check and
    * delete — is the standard lease caveat, minutes wide by
    * configuration rather than a scheduler tick.
    *
    * Returns true iff this caller deleted the stale claim (the path is
    * then free for an exclusive-create retry). */
  private[storage] def reclaimStaleClaim(fs: FileSystem, path: HPath): Boolean = {
    val lease = new HPath(path.getParent, path.getName + ".reclaim")
    // a dead janitor's lease unblocks after the same grace
    try {
      val st = fs.getFileStatus(lease)
      if (System.currentTimeMillis() - st.getModificationTime > claimGraceMs)
        fs.delete(lease, false)
    } catch { case _: Exception => () }
    val acquired =
      try { fs.create(lease, false).close(); true }
      catch { case _: Exception => false }
    acquired && (try {
      isStaleBrokenClaim(fs, path) && fs.delete(path, false)
    } finally {
      try fs.delete(lease, false) catch { case _: Exception => () }
    })
  }

  /** Versions with an archived snapshot, ascending. */
  def historyVersions(location: String): Seq[Long] = {
    val (fs, _) = fsAndPath(location)
    val dir = historyDir(location)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
  }

  def readHistoryMeta(location: String, version: Long): Meta =
    readMetaFromFields(location, readHistoryObj(location, version))

  /** Read + parse one archived snapshot's JSON object (no hydration —
    * the caller picks [[readMetaFromFields]] or [[rawSnapshotFromFields]]). */
  private def readHistoryObj(location: String, version: Long): Map[String, Any] = {
    val (fs, _) = fsAndPath(location)
    val path = historyPath(location, version)
    if (!fs.exists(path))
      throw new IllegalArgumentException(
        s"no snapshot v$version at $location (expired or never committed)")
    val content = readFileFully(fs, path)
    MetaIo.historyRead(location, content.length.toLong)
    val m = parseJsonObject(content)
    require(m.get(MagicKey).contains(Magic), s"bad magic in $path")
    m
  }

  /** Metadata-I/O instrumentation (test/profiler hook): bytes of
    * history snapshots and manifest segments parsed FROM STORAGE (a
    * [[SegmentCache]] hit costs nothing here). Counters are
    * PER-THREAD — the metadata readers all run on the calling driver
    * thread, so a spec's deltas are immune to concurrently running
    * suites. The change-range spec asserts a streaming delta tick's
    * counts are ∝ the tick's own commit, not ∝ table files. */
  private[graft] object MetaIo {
    private val tl = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](4))
    /** Per-LOCATION counters (LongAdder, cross-thread): a streaming
      * query's metadata reads happen on the stream-execution thread,
      * which a spec's ThreadLocal snapshot cannot see. Keyed by the
      * exact table location, so a spec over its own temp dir is immune
      * to concurrently running suites (the per-thread counters' same
      * guarantee, by a different axis). Slots: historyReads,
      * historyBytes, segmentParses, segmentBytes, headProbes. */
    private val byLoc = new java.util.concurrent.ConcurrentHashMap[
      String, Array[java.util.concurrent.atomic.LongAdder]]()
    private def locAdders(location: String) =
      // key by the scheme-stripped URI path so the qualified
      // (`file:/wh/t`) and bare (`/wh/t`) spellings of one table
      // share a counter row, like the segment cache's dual invalidation
      byLoc.computeIfAbsent(new HPath(location).toUri.getPath, _ =>
        Array.fill(5)(new java.util.concurrent.atomic.LongAdder))
    private[GraftTable] def historyRead(location: String, bytes: Long): Unit = {
      val a = tl.get; a(0) += 1; a(1) += bytes
      val g = locAdders(location); g(0).increment(); g(1).add(bytes)
    }
    private[GraftTable] def segmentParsed(location: String, bytes: Long): Unit = {
      val a = tl.get; a(2) += 1; a(3) += bytes
      val g = locAdders(location); g(2).increment(); g(3).add(bytes)
    }
    /** One raw committed-head probe ([[committedVersion]]) — the
      * streaming sources' per-trigger cost unit: a spec counts probes
      * to know triggers fired, then asserts the other slots stayed 0. */
    private[GraftTable] def headProbed(location: String): Unit =
      locAdders(location)(4).increment()
    /** (historyReads, historyBytes, segmentParses, segmentBytes), this thread. */
    def snapshot(): (Long, Long, Long, Long) = {
      val a = tl.get; (a(0), a(1), a(2), a(3))
    }
    /** (historyReads, historyBytes, segmentParses, segmentBytes,
      * headProbes) for one table location, all threads. */
    def locationSnapshot(location: String): (Long, Long, Long, Long, Long) = {
      val g = locAdders(location)
      (g(0).sum(), g(1).sum(), g(2).sum(), g(3).sum(), g(4).sum())
    }
  }

  /** Raw (UNHYDRATED) fields of one snapshot JSON — everything the
    * change-range readers need except the replayed file list. With
    * manifest segments in play the snapshot JSON carries only segment
    * REFS, so parsing it costs O(commit count + dv count), never
    * O(table files); at a million files the hydrated form this avoids
    * is ~60 MB of path strings PER VERSION in the range (VERDICT r15
    * #1 — the O(table)-per-commit cost class the manifest-segment
    * work exists to kill, previously re-introduced on the read side). */
  final case class RawSnapshot(
      version: Long,
      schemaJson: String,
      manifest: Vector[String],
      inlineFiles: Vector[String],
      dvs: Map[String, DvEntry],
      defaults: Map[String, Any],
      rowCount: Long,
      changeCommit: Boolean,
      emitFiles: Vector[String],
      inlineLens: Map[String, Long] = Map.empty)

  private def rawSnapshotFromFields(m: Map[String, Any]): RawSnapshot =
    RawSnapshot(
      version = m.getOrElse("version", java.lang.Long.valueOf(0L))
        .asInstanceOf[Number].longValue(),
      schemaJson = m("schema").asInstanceOf[String],
      manifest = m.getOrElse("manifest", List.empty[Any])
        .asInstanceOf[List[Any]].map(_.asInstanceOf[String]).toVector,
      inlineFiles = m("files").asInstanceOf[List[Any]]
        .map(_.asInstanceOf[String]).toVector,
      dvs = parseDvFields(m),
      defaults = parseDefaultFields(m),
      rowCount = m("row_count").asInstanceOf[Number].longValue(),
      changeCommit = m.getOrElse("change_commit", java.lang.Boolean.FALSE)
        .asInstanceOf[Boolean],
      emitFiles = m.getOrElse("emit_files", List.empty[Any])
        .asInstanceOf[List[Any]].map(_.asInstanceOf[String]).toVector,
      inlineLens = parseFileLens(m))

  def readHistoryRaw(location: String, version: Long): RawSnapshot =
    rawSnapshotFromFields(readHistoryObj(location, version))

  /** BOTH forms of one snapshot from a SINGLE read + parse — the
    * streaming initial load needs the hydrated file list (its output)
    * AND the raw walk seed; reading the JSON twice doubled the one
    * legitimately large metadata read at stream start (ADVICE r16). */
  def readHistoryBoth(location: String, version: Long): (Meta, RawSnapshot) = {
    val m = readHistoryObj(location, version)
    (readMetaFromFields(location, m), rawSnapshotFromFields(m))
  }

  /** Net (removed, added) file-list delta of the commit taking `p` to
    * `c`, O(churn) when the manifest expresses it: when both snapshots
    * are inline (small table) the inline lists diff directly; when
    * `c`'s segment list EXTENDS `p`'s, the delta composes from the new
    * DELTA segments alone (a file added then removed within the range
    * cancels; segments only ever remove files live in the accumulated
    * list, so outstanding removals were in `p`'s list). Only a pair
    * the replay cannot express as an extension — manifest compaction,
    * RESTORE, the inline→segment upgrade commit — hydrates, and only
    * THAT pair. Shared by [[GraftTable.changes]] and the streaming
    * sources' version walks (the per-version full hydration this
    * replaces was an O(table files) driver term per streaming
    * trigger — VERDICT r15 #1). */
  def commitFileDelta(location: String, p: RawSnapshot,
      c: RawSnapshot): (Seq[String], Seq[String]) =
    if (p.manifest.isEmpty && c.manifest.isEmpty) {
      val pset = p.inlineFiles.toSet
      val cset = c.inlineFiles.toSet
      (p.inlineFiles.filterNot(cset), c.inlineFiles.filterNot(pset))
    } else if (p.manifest.nonEmpty && c.manifest.startsWith(p.manifest)) {
      var added = Vector.empty[String]
      var removed = Set.empty[String]
      c.manifest.drop(p.manifest.size).foreach { rel =>
        val s = readSegment(location, rel)
        if (s.removed.nonEmpty) {
          val inRange = added.toSet
          removed ++= s.removed.filterNot(inRange)
          added = added.filterNot(s.removed)
        }
        added = added ++ s.added
      }
      // Net out a path REMOVED (it was live in `p`) then RE-ADDED by a
      // later segment in the same range: the hydrated diff is zero —
      // the file is live on both sides — so the gross pair must cancel
      // here too, or a streaming walk would re-deliver its rows
      // (ADVICE r16; unreachable with the unique-batch-dir writer, but
      // the invariant belongs to the delta, not the writer).
      val phantom = removed.intersect(added.toSet)
      if (phantom.isEmpty) (removed.toSeq.sorted, added)
      else ((removed -- phantom).toSeq.sorted, added.filterNot(phantom))
    } else {
      val pf = readHistoryMeta(location, p.version).files
      val cf = readHistoryMeta(location, c.version).files
      val pset = pf.toSet
      val cset = cf.toSet
      (pf.filterNot(cset), cf.filterNot(pset))
    }

  /** Byte lengths recorded for the files the commits in `(p, c]`
    * added (and possibly others): `c`'s inline lengths, else the
    * segments the range appended — the same reads [[commitFileDelta]]
    * makes, served from the segment cache. */
  def addedFileLens(location: String, p: RawSnapshot,
      c: RawSnapshot): Map[String, Long] =
    if (c.manifest.isEmpty) c.inlineLens
    else if (c.manifest.startsWith(p.manifest))
      c.manifest.drop(p.manifest.size)
        .foldLeft(Map.empty[String, Long])((m, rel) => m ++ readSegment(location, rel).lens)
    else readHistoryMeta(location, c.version).fileLens

  /** Version of the committed HEAD, read WITHOUT hydrating any file
    * list: parse the pointer JSON, then walk claims forward with raw
    * parses only (same claim-detection rule as [[walkToHead]] — an
    * unparseable next snapshot is an in-flight claim, not a commit).
    * The change-range readers need only the number; full hydration is
    * O(live files) of driver work per call. Also the streaming
    * no-tick probe ([[graft.streaming]]'s RefreshableStatic): a
    * trigger that finds no new version must not pay a manifest
    * replay just to learn that — same for the graft/graft-cdf
    * streaming sources' latestOffset. */
  def committedVersion(location: String): Long = {
    MetaIo.headProbed(location)
    walkClaims(location,
      rawSnapshotFromFields(readHeadObj(location)).version)(_ => ())
  }

  /** `(absolute path, byte length)` of data files `rels` under
    * `location`: the `recorded` (manifest) length, else one status call,
    * kept in `memo`. */
  def lensOf(location: String, rels: Seq[String],
      recorded: Map[String, Long],
      memo: java.util.concurrent.ConcurrentHashMap[String, java.lang.Long] =
        new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]())
      : Seq[(String, Long)] = {
    lazy val fs = fsAndPath(location)._1
    rels.map { rel =>
      val abs = s"$location/$rel"
      abs -> recorded.getOrElse(rel, memo.computeIfAbsent(rel,
        _ => java.lang.Long.valueOf(fs.getFileStatus(new HPath(abs)).getLen)).longValue())
    }
  }

  /** [[relativize]] for callers outside the storage package (the
    * sql-side delta write): path of a data file relative to the table
    * location, scheme-blind. */
  def relPath(absolute: String, location: String): String =
    relativize(absolute, location)

  /** Deletion-vector map for scan delegates: normalized data-file URI
    * path → sidecar ABSOLUTE path. */
  private[storage] def dvAbsByPath(location: String,
      dvs: Map[String, DvEntry]): Map[String, String] =
    dvs.map { case (rel, e) =>
      DeletionVectors.normalize(s"$location/$rel") -> s"$location/${e.path}" }

  /** Path of a data file relative to the table location, scheme-blind:
    * both sides are reduced to their URI paths, so a qualified listing
    * (`file:/wh/t/data/...`) relativizes against a bare location
    * (`/wh/t`) and vice versa. */
  private def relativize(absolute: String, location: String): String = {
    val filePath = new HPath(absolute).toUri.getPath
    val locPath = new HPath(location).toUri.getPath.stripSuffix("/")
    require(filePath.startsWith(locPath + "/"),
      s"data file $absolute is not under table location $location")
    filePath.substring(locPath.length + 1)
  }

  private def listParquetFiles(dir: String): Seq[String] = {
    // recursive (a bucketed batch nests its files one level down in
    // `__graft_bucket=<id>/` dirs) via plain listStatus — the listFiles
    // shortcut builds LocatedFileStatus, which RawLocalFileSystem
    // subclasses (MockFs) can't serve for non-`file:` URIs
    val (fs, p) = fsAndPath(dir)
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[String] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath.toString)
      else Seq.empty
    fs.listStatus(p).toSeq.flatMap(walk).sorted
  }

  // -- JSON (de)serialization of Meta, no external deps ----------------

  private def writeMetaAtomic(location: String, meta: Meta): Unit =
    // Atomic commit point — the reference's footer rename, cstore_writer.c:350-357.
    writeFileAtomic(location, metaPath(location), renderMeta(meta))

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Render a per-file-stats map as a JSON object — shared by the
    * legacy inline form and the stats shard files. min/max are null
    * for an all-null column (null count still prunes). */
  private def renderFileStats(
      m: Map[String, Map[String, ColFileStats]]): String = {
    def jsn(s: String) = if (s == null) "null" else jsonStr(s)
    m.map { case (f, cols) =>
      s"${jsonStr(f)}: " + cols.map { case (c, cs) =>
        s"${jsonStr(c)}: {\"mn\": ${jsn(cs.min)}, \"mx\": ${jsn(cs.max)}, " +
          s"\"nu\": ${cs.nulls}, \"rw\": ${cs.rows}}"
      }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
  }

  /** Parse [[renderFileStats]]' form — shared by the inline meta field
    * and the shard files. */
  private def parseFileStats(v: Any): Map[String, Map[String, ColFileStats]] =
    v.asInstanceOf[Map[String, Any]].map { case (f, cols) =>
      f -> cols.asInstanceOf[Map[String, Any]].map { case (c, cv) =>
        val o = cv.asInstanceOf[Map[String, Any]]
        c -> ColFileStats(
          o("mn").asInstanceOf[String], o("mx").asInstanceOf[String],
          o("nu").asInstanceOf[Number].longValue(),
          o("rw").asInstanceOf[Number].longValue())
      }
    }

  /** Per-file byte lengths as a JSON object (inline meta field and
    * manifest segments alike). */
  private def renderFileLens(m: Map[String, Long]): String =
    m.map { case (f, n) => s"${jsonStr(f)}: $n" }.mkString("{", ",", "}")

  /** The `file_lens` field of a parsed meta or segment object; absent
    * (written before lengths were recorded) reads as empty. */
  private def parseFileLens(m: Map[String, Any]): Map[String, Long] =
    m.getOrElse("file_lens", Map.empty[String, Any]).asInstanceOf[Map[String, Any]]
      .map { case (f, n) => f -> n.asInstanceOf[Number].longValue() }

  // ---- manifest segments ---------------------------------------------
  //
  // The per-file metadata — the file LIST plus the zone-map bulk (per
  // FILE per COLUMN min/max/null/row entries, plus collation
  // witnesses) — dominates the serialized state: at ~100 B per (file,
  // column) a 100 TB table with a million files and 30 columns carries
  // ~3 GB of stats and ~60 MB of paths, and the pre-segment design
  // rewrote ALL of it into _graft_meta.json AND _graft_history/
  // v<N>.json on EVERY commit (O(files) metadata bytes per commit,
  // O(files × versions) accumulated history). Manifest segments make
  // the durable form incremental — the Delta-log/Iceberg-manifest idea
  // re-expressed on the engine's own CAS log:
  //
  //  - `_graft_manifest/m<version>-<uuid>.json` files are IMMUTABLE;
  //    each holds one commit's delta: `files_added` (in commit order),
  //    `files_removed`, and the added files' stats entries. A commit
  //    writes its segment BEFORE the version claim (crash → an
  //    unreferenced orphan, reclaimed by vacuum's aged-orphan rule), so
  //    every committed snapshot's segment list is fully durable.
  //  - `Meta.manifest` lists the live segments in order. Hydration
  //    REPLAYS the list — files = fold((acc -- removed) ++ added) —
  //    which reproduces every commit shape the engine writes
  //    (mutations are all `filterNot ++ appended`); stats hydrate as
  //    union (later segment wins) restricted to the replayed list.
  //    History snapshots reference segments the same way, so time
  //    travel and RESTORE rehydrate exactly; expiry + vacuum reclaim a
  //    segment only when NO retained snapshot references it.
  //  - A reordering the replay cannot express (RESTORE to an arbitrary
  //    earlier list), a changed live entry (ALTER DROP rewrites every
  //    entry), a dead-stats majority (rewrites strand old entries), or
  //    a segment list past [[ManifestCompactMaxSegments]] triggers ONE
  //    full compaction segment: amortized O(files /
  //    ManifestCompactMaxSegments) bytes per commit, O(commit churn)
  //    otherwise.
  //  - Tables at or below [[InlineStatsMax]] files keep the legacy
  //    inline `files` + `file_stats` form — one read, no extra
  //    objects — and upgrade the first commit that grows past it. The
  //    reader accepts both forms forever.
  //
  // Driver MEMORY stays O(files) — `Meta.files`/`fileStats` are always
  // fully hydrated, like Delta's in-memory snapshot state; it is the
  // serialized-bytes-per-commit and history-accumulation costs that
  // drop to O(delta).

  private[storage] val InlineStatsMax = 16
  private[storage] val ManifestCompactMaxSegments = 32

  /** One parsed manifest segment: the file-list delta + the added
    * files' zone maps. */
  private[storage] final case class ManifestSegment(
      added: Vector[String],
      removed: Set[String],
      stats: Map[String, Map[String, ColFileStats]],
      lens: Map[String, Long])

  /** Immutable-content cache of parsed segments (access-order LRU —
    * segments never change once written, so cached content is valid
    * until its table is dropped). Bounded by WEIGHT (resident
    * (file, column) stat entries), not segment count: one full
    * compaction segment of a wide million-file table is worth
    * thousands of trickle deltas, and a count bound would let a few
    * such segments pin GBs. A single over-weight segment may remain
    * resident alone — the current table's hydrated map holds the same
    * entries in memory anyway. */
  private object SegmentCache {
    private val MaxWeight = 2_000_000L
    private val map =
      new java.util.LinkedHashMap[String, (ManifestSegment, Long)](64, 0.75f, true)
    private var weight = 0L
    def get(key: String): ManifestSegment = map.synchronized {
      val e = map.get(key)
      if (e == null) null else e._1
    }
    def put(key: String, seg: ManifestSegment): Unit = map.synchronized {
      if (!map.containsKey(key)) {
        val w = 1L + seg.added.size + seg.removed.size + seg.lens.size +
          seg.stats.valuesIterator.map(_.size.toLong).sum
        map.put(key, (seg, w))
        weight += w
        val it = map.entrySet().iterator()
        while (weight > MaxWeight && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) { weight -= e.getValue._2; it.remove() }
        }
      }
    }
    /** Drop every cached segment under a table location (called by
      * [[GraftTable.drop]] — a recreated table at the same path must
      * never see the dropped table's segments). */
    def invalidateUnder(location: String): Unit = map.synchronized {
      val prefix = location + "/"
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith(prefix)) { weight -= e.getValue._2; it.remove() }
      }
    }
  }

  /** Test/profiler hook: drop cached segments under `location` so a
    * subsequent open hydrates cold (reads every live segment). */
  private[graft] def invalidateSegmentCacheUnder(location: String): Unit = {
    SegmentCache.invalidateUnder(location)
    SegmentCache.invalidateUnder(qualified(location))
  }

  private def readSegment(location: String, rel: String): ManifestSegment = {
    val key = s"$location/$rel"
    val cached = SegmentCache.get(key)
    if (cached != null) cached
    else {
      val (fs, _) = fsAndPath(location)
      val parsed = parseSegmentFile(location, fs, new HPath(location, rel))
      SegmentCache.put(key, parsed)
      parsed
    }
  }

  /** Read + parse one segment straight from storage (no cache) —
    * shared by the hydrating reader and verify()'s manifest audit. */
  private[storage] def parseSegmentFile(location: String, fs: FileSystem,
      p: HPath): ManifestSegment = {
    val content = readFileFully(fs, p)
    MetaIo.segmentParsed(location, content.length.toLong)
    val m = parseJsonObject(content)
    require(m.get(MagicKey).contains(Magic), s"bad magic in manifest segment $p")
    ManifestSegment(
      added = m.getOrElse("files_added", List.empty[Any])
        .asInstanceOf[List[Any]].map(_.asInstanceOf[String]).toVector,
      removed = m.getOrElse("files_removed", List.empty[Any])
        .asInstanceOf[List[Any]].map(_.asInstanceOf[String]).toSet,
      stats = parseFileStats(m.getOrElse("file_stats", Map.empty[String, Any])),
      lens = parseFileLens(m))
  }

  /** Replay a segment list: the file list in commit order, and the
    * stats and length unions (later segment wins — restriction to live
    * files is the caller's step, since prepare also needs the dead
    * mass). */
  private def replaySegments(location: String, segments: Seq[String])
      : (Vector[String], Map[String, Map[String, ColFileStats]], Map[String, Long]) =
    segments.foldLeft((Vector.empty[String],
      Map.empty[String, Map[String, ColFileStats]], Map.empty[String, Long])) {
      case ((files, stats, lens), rel) =>
        val s = readSegment(location, rel)
        val kept = if (s.removed.isEmpty) files else files.filterNot(s.removed)
        (kept ++ s.added, stats ++ s.stats, lens ++ s.lens)
    }

  private[storage] def writeSegmentFile(location: String, version: Long,
      added: Vector[String], removed: Set[String],
      stats: Map[String, Map[String, ColFileStats]],
      lens: Map[String, Long] = Map.empty): String = {
    val rel = f"_graft_manifest/m$version%020d-${
      java.util.UUID.randomUUID().toString.take(8)}.json"
    val content =
      s"""{
         |  ${jsonStr(MagicKey)}: ${jsonStr(Magic)},
         |  "files_added": ${added.map(jsonStr).mkString("[", ",", "]")},
         |  "files_removed": ${removed.toSeq.sorted.map(jsonStr).mkString("[", ",", "]")},
         |  "file_stats": ${renderFileStats(stats)},
         |  "file_lens": ${renderFileLens(lens)}
         |}""".stripMargin
    writeFileAtomic(location, new HPath(location, rel), content)
    rel
  }

  /** Durably stage `next`'s file list + per-file stats as a manifest
    * segment and return the meta to commit (called by commitMutation
    * BEFORE the version claim). Steady state writes one delta segment
    * with the commit's added/removed files and the added files' stats;
    * an inexpressible reorder, a changed live entry, a dead-stats
    * majority, or a long segment list triggers one full compaction
    * segment instead. A CAS loser's segment is an unreferenced
    * orphan — vacuum reclaims it after the claim grace. */
  private[storage] def prepareManifest(location: String, next: Meta): Meta = {
    if (next.files.isEmpty) {
      if (next.manifest.isEmpty) next else next.copy(manifest = Vector.empty)
    } else if (next.manifest.isEmpty && next.files.size <= InlineStatsMax) {
      next // small table: legacy inline form
    } else {
      val live = next.fileStats
      // A segment list inherited from a FOREIGN location or a reclaimed
      // segment reads as unreadable — recover with a full compaction
      // segment rather than failing the commit.
      val base =
        try Some(replaySegments(location, next.manifest))
        catch { case _: Exception => None }
      def full = next.copy(manifest = Vector(writeSegmentFile(
        location, next.version, next.files, Set.empty, live, next.fileLens)))
      base match {
        case None => full
        case Some((segFiles, coveredStats, coveredLens)) =>
          val nextSet = next.files.toSet
          val segSet = segFiles.toSet
          val removed = segFiles.iterator.filterNot(nextSet).toSet
          val added = next.files.filterNot(segSet)
          // the replay must reproduce the exact committed order — every
          // engine mutation is `filterNot ++ appended`, so a mismatch
          // means an inexpressible reorder (RESTORE): compact.
          val replayOk = {
            val kept = if (removed.isEmpty) segFiles else segFiles.filterNot(removed)
            (kept ++ added) == next.files
          }
          // `eq` is the hot path, not an optimization garnish:
          // hydration serves entries from the immutable segment cache
          // and every commit mutation builds its map from the hydrated
          // base (++ / filter), so an UNCHANGED entry is the very
          // object the cache holds and the scan is O(live) pointer
          // compares. The deep == only runs for entries a mutation
          // actually rebuilt (schema changes) or after a cache
          // eviction re-parse — both rare, both bounded.
          val changed = live.exists { case (f, v) =>
            coveredStats.get(f).exists(c => !(c eq v) && c != v)
          }
          val dead = coveredStats.keysIterator.count(!live.contains(_))
          if (!replayOk || changed ||
              next.manifest.size >= ManifestCompactMaxSegments ||
              dead * 2 > live.size) full
          else {
            val statsDelta = live.filter { case (f, _) => !coveredStats.contains(f) }
            val lensDelta = next.fileLens.filter { case (f, _) => !coveredLens.contains(f) }
            if (added.isEmpty && removed.isEmpty && statsDelta.isEmpty &&
                lensDelta.isEmpty) next
            else next.copy(manifest = next.manifest :+ writeSegmentFile(
              location, next.version, added, removed, statsDelta, lensDelta))
          }
      }
    }
  }

  private def renderMeta(m: Meta): String = {
    def js(s: String) = jsonStr(s)
    def jv(v: Any): String = v match {
      case null => "null"
      case b: Boolean => b.toString
      case n: java.lang.Number => n.toString
      case s: String => js(s)
      case other => js(other.toString)
    }
    val defaults = m.defaults.map { case (k, v) =>
      val tag = v match {
        case _: java.lang.Long | _: java.lang.Integer => "long"
        case _: java.lang.Double | _: java.lang.Float => "double"
        case _: java.lang.Boolean => "boolean"
        case _ => "string"
      }
      s"${js(k)}: {${js("t")}: ${js(tag)}, ${js("v")}: ${jv(v)}}"
    }.mkString("{", ",", "}")
    // With manifest segments in play the inline forms are EMPTY by
    // contract — the commit already wrote its delta segment and every
    // serialized state (history snapshot, pointer cache) carries only
    // the segment refs.
    val fileStats =
      if (m.manifest.nonEmpty) "{}" else renderFileStats(m.fileStats)
    val filesJson =
      if (m.manifest.nonEmpty) "[]" else m.files.map(js).mkString("[", ",", "]")
    val fileLens = if (m.manifest.nonEmpty) "{}" else renderFileLens(m.fileLens)
    val streamTxn = m.streamTxn.map { case (q, b) => s"${js(q)}: $b" }
      .mkString("{", ",", "}")
    val dvs = m.dvs.map { case (f, e) =>
      s"${js(f)}: {\"p\": ${js(e.path)}, \"n\": ${e.card}}"
    }.mkString("{", ",", "}")
    s"""{
       |  ${js(MagicKey)}: ${js(Magic)},
       |  "schema": ${js(m.currentSchema.json)},
       |  "compression": ${js(m.options.compression)},
       |  "stripe_row_count": ${m.options.stripeRowCount},
       |  "block_row_count": ${m.options.blockRowCount},
       |  "sort_by": ${m.options.sortBy.map(js).mkString("[", ",", "]")},
       |  "zorder_by": ${m.options.zorderBy.map(js).mkString("[", ",", "]")},
       |  "bloom_filter": ${m.options.bloomFilterColumns.map(js).mkString("[", ",", "]")},
       |  "bucket_by": ${m.options.bucketBy.map(js).mkString("[", ",", "]")},
       |  "bucket_count": ${m.options.bucketCount},
       |  "delete_mode": ${js(m.options.deleteMode)},
       |  "auto_compact_min_files": ${m.options.autoCompactMinFiles},
       |  "checks": ${m.options.checks.map { case (k, v) => s"${js(k)}: ${js(v)}" }
                        .mkString("{", ",", "}")},
       |  "dvs": $dvs,
       |  "row_count": ${m.rowCount},
       |  "version": ${m.version},
       |  "next_batch_id": ${m.nextBatchId},
       |  "defaults": $defaults,
       |  "manifest": ${m.manifest.map(js).mkString("[", ",", "]")},
       |  "file_stats": $fileStats,
       |  "file_lens": $fileLens,
       |  "stream_txn": $streamTxn,
       |  "emit_files": ${m.emitFiles.map(js).mkString("[", ",", "]")},
       |  "dropped_cols": ${m.droppedCols.map(js).mkString("[", ",", "]")},
       |  "change_commit": ${m.changeCommit},
       |  "files": $filesJson
       |}""".stripMargin
  }

  private[storage] def readMeta(location: String): Meta =
    walkToHead(location, readMetaFromFields(location, readHeadObj(location)))

  /** Read + parse the pointer file's JSON object, with the commit-window
    * retry (shared by the hydrating [[readMeta]] and the raw
    * [[committedVersion]] probe). */
  private def readHeadObj(location: String): Map[String, Any] = {
    val (fs, _) = fsAndPath(location)
    val path = metaPath(location)
    // On filesystems without atomic rename-replace a commit passes
    // through a delete→rename window; a reader landing inside it sees
    // a missing file, a zero-length file, or a torn read. The WHOLE
    // read-and-parse retries — not just an existence probe — so a
    // commit landing between any two steps still converges; only after
    // the retries are exhausted is the table declared absent/corrupt.
    var m: Map[String, Any] = null
    var attempt = 0
    while (m == null) {
      try {
        m = parseJsonObject(readFileFully(fs, path))
      } catch {
        case e: Exception =>
          // Fast path for a genuine no-such-table probe: the commit
          // window removes only the meta FILE; if the table directory
          // itself is absent there is nothing to wait for.
          val definitelyAbsent = e.isInstanceOf[java.io.FileNotFoundException] &&
            !fs.exists(path.getParent)
          attempt += 1
          if (definitelyAbsent || attempt >= 3) e match {
            case _: java.io.FileNotFoundException =>
              throw new IllegalArgumentException(s"no graft table at $location")
            case other => throw other
          }
          Thread.sleep(50L * attempt)
      }
    }
    require(m.get(MagicKey).contains(Magic), s"bad magic in $path")
    m
  }

  /** Advance a pointer-cached state to the committed HEAD of the
    * version log. The pointer file lags the log whenever a writer
    * crashed between claim and pointer write, or two pointer renames
    * landed out of order — both benign under the CAS protocol, because
    * the log is the truth. Each step fully parses the next snapshot: an
    * unparseable file is an in-flight (or crashed) claim, i.e. NOT yet
    * committed, and the walk stops below it. In the steady state this
    * costs one negative existence probe. */
  private def walkToHead(location: String, from: Meta): Meta = {
    var cur = from
    walkClaims(location, from.version)(m => cur = readMetaFromFields(location, m))
    cur
  }

  /** THE forward walk over history paths above `fromVersion` — the one
    * copy of the claim/commit protocol's read side, shared by the
    * hydrating [[walkToHead]] and the raw [[committedVersion]] probe
    * (ADVICE r16: a second hand-rolled copy would let the two readers
    * disagree on what the committed head is). Each step reads + parses
    * the next snapshot JSON; an unparseable/missing/torn file is an
    * in-flight (or crashed) claim — NOT yet committed — and the walk
    * stops below it. A successful parse is counted through
    * [[MetaIo.historyRead]] (it is real metadata I/O whichever caller
    * pays it — ADVICE r16's uncounted lag-recovery reads). `onCommit`
    * runs OUTSIDE the claim guard: once the snapshot parsed it IS a
    * commit, and a hydration failure (missing stats shard) must THROW,
    * never silently serve the previous state. Steady state (pointer at
    * head) costs one negative existence probe. Returns the last
    * committed version. */
  private def walkClaims(location: String, fromVersion: Long)
      (onCommit: Map[String, Any] => Unit): Long = {
    val (fs, _) = fsAndPath(location)
    var v = fromVersion
    var advancing = true
    while (advancing) {
      val hp = historyPath(location, v + 1)
      val parsed: Option[Map[String, Any]] =
        try {
          if (!fs.exists(hp)) None
          else {
            val content = readFileFully(fs, hp)
            val m = parseJsonObject(content)
            require(m.get(MagicKey).contains(Magic), s"bad magic in $hp")
            MetaIo.historyRead(location, content.length.toLong)
            Some(m)
          }
        } catch { case _: Exception => None }
      parsed match {
        case Some(m) => onCommit(m); v += 1
        case None => advancing = false
      }
    }
    v
  }

  /** Build a Meta from a parsed metadata JSON object (shared by the
    * current-pointer and history-snapshot readers). `location` resolves
    * stats shard refs; hydration is strict — a missing shard is loud
    * corruption (vacuum never reclaims a shard any retained snapshot
    * references), never silently-empty zone maps. */
  /** Typed `defaults` map of a parsed snapshot object (shared by the
    * hydrating and raw readers). */
  private def parseDefaultFields(m: Map[String, Any]): Map[String, Any] =
    m.getOrElse("defaults", Map.empty[String, Any])
      .asInstanceOf[Map[String, Any]].map { case (k, tv) =>
        val obj = tv.asInstanceOf[Map[String, Any]]
        val v = (obj("t"), obj("v")) match {
          case ("long", n: java.lang.Number) => n.longValue(): java.lang.Long
          case ("double", n: java.lang.Number) => n.doubleValue(): java.lang.Double
          case ("boolean", b: java.lang.Boolean) => b
          case (_, s) => s
        }
        k -> (v: Any)
      }

  /** Deletion-vector map of a parsed snapshot object (shared by the
    * hydrating and raw readers). */
  private def parseDvFields(m: Map[String, Any]): Map[String, DvEntry] =
    m.getOrElse("dvs", Map.empty[String, Any])
      .asInstanceOf[Map[String, Any]].map { case (f, v) =>
        val o = v.asInstanceOf[Map[String, Any]]
        f -> DvEntry(o("p").asInstanceOf[String],
          o("n").asInstanceOf[Number].longValue())
      }

  private def readMetaFromFields(location: String, m: Map[String, Any]): Meta = {
    val schema = DataType.fromJson(m("schema").asInstanceOf[String]).asInstanceOf[StructType]
    val defaults = parseDefaultFields(m)
    val inlineFiles = m("files").asInstanceOf[List[Any]]
      .map(_.asInstanceOf[String]).toVector
    val manifest = m.getOrElse("manifest", List.empty[Any])
      .asInstanceOf[List[Any]].map(_.asInstanceOf[String]).toVector
    val inlineStats = parseFileStats(
      m.getOrElse("file_stats", Map.empty[String, Any]))
    val (files, fileStats, fileLens) =
      if (manifest.isEmpty) (inlineFiles, inlineStats, parseFileLens(m))
      else {
        // replay the segments for the list; later segment wins for
        // stats and lengths; dead entries (rewritten-away files) are
        // dropped by the live-file restriction
        val (segFiles, segStats, segLens) = replaySegments(location, manifest)
        val fileSet = segFiles.toSet
        (segFiles, segStats.filter { case (f, _) => fileSet(f) },
          segLens.filter { case (f, _) => fileSet(f) })
      }
    Meta(
      currentSchema = schema,
      options = GraftTableOptions(
        compression = m("compression").asInstanceOf[String],
        stripeRowCount = m("stripe_row_count").asInstanceOf[Number].longValue(),
        blockRowCount = m("block_row_count").asInstanceOf[Number].longValue(),
        sortBy = m.getOrElse("sort_by", List.empty[Any])
          .asInstanceOf[List[Any]].map(_.asInstanceOf[String]),
        zorderBy = m.getOrElse("zorder_by", List.empty[Any])
          .asInstanceOf[List[Any]].map(_.asInstanceOf[String]),
        bloomFilterColumns = m.getOrElse("bloom_filter", List.empty[Any])
          .asInstanceOf[List[Any]].map(_.asInstanceOf[String]),
        bucketBy = m.getOrElse("bucket_by", List.empty[Any])
          .asInstanceOf[List[Any]].map(_.asInstanceOf[String]),
        bucketCount = m.getOrElse("bucket_count", java.lang.Long.valueOf(0L))
          .asInstanceOf[Number].intValue(),
        deleteMode = m.getOrElse("delete_mode", "copy-on-write")
          .asInstanceOf[String],
        checks = m.getOrElse("checks", Map.empty[String, Any])
          .asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> v.asInstanceOf[String] },
        autoCompactMinFiles = m.getOrElse("auto_compact_min_files",
          java.lang.Long.valueOf(0L)).asInstanceOf[Number].intValue()),
      files = files,
      rowCount = m("row_count").asInstanceOf[Number].longValue(),
      defaults = defaults,
      nextBatchId = m("next_batch_id").asInstanceOf[Number].longValue(),
      version = m.getOrElse("version", java.lang.Long.valueOf(0L))
        .asInstanceOf[Number].longValue(),
      fileStats = fileStats,
      manifest = manifest,
      fileLens = fileLens,
      streamTxn = m.getOrElse("stream_txn", Map.empty[String, Any])
        .asInstanceOf[Map[String, Any]]
        .map { case (q, b) => q -> b.asInstanceOf[Number].longValue() },
      emitFiles = m.getOrElse("emit_files", List.empty[Any])
        .asInstanceOf[List[Any]].map(_.asInstanceOf[String]).toVector,
      droppedCols = m.getOrElse("dropped_cols", List.empty[Any])
        .asInstanceOf[List[Any]].map(_.asInstanceOf[String]).toVector,
      changeCommit = m.getOrElse("change_commit", java.lang.Boolean.FALSE)
        .asInstanceOf[Boolean],
      dvs = parseDvFields(m))
  }

  /** Minimal recursive-descent JSON parser (objects/arrays/strings/numbers/
    * bool/null) — keeps the metadata layer dependency-free. */
  private[storage] def parseJsonObject(s: String): Map[String, Any] = {
    val p = new JsonParser(s)
    val v = p.parseValue()
    p.skipWs()
    require(p.eof, s"trailing content in JSON at ${p.pos}")
    v.asInstanceOf[Map[String, Any]]
  }

  private final class JsonParser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1
    private def expect(c: Char): Unit = {
      skipWs()
      require(!eof && s.charAt(pos) == c, s"expected '$c' at $pos")
      pos += 1
    }
    def parseValue(): Any = {
      skipWs()
      s.charAt(pos) match {
        case '{' => parseObject()
        case '[' => parseArray()
        case '"' => parseString()
        case 't' => pos += 4; true
        case 'f' => pos += 5; false
        case 'n' => pos += 4; null
        case _ => parseNumber()
      }
    }
    private def parseObject(): Map[String, Any] = {
      expect('{'); skipWs()
      val b = Map.newBuilder[String, Any]
      if (s.charAt(pos) == '}') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        skipWs()
        val k = parseString()
        expect(':')
        b += (k -> parseValue())
        skipWs()
        if (s.charAt(pos) == ',') pos += 1 else { expect('}'); done = true }
      }
      b.result()
    }
    private def parseArray(): List[Any] = {
      expect('['); skipWs()
      val b = List.newBuilder[Any]
      if (s.charAt(pos) == ']') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        b += parseValue()
        skipWs()
        if (s.charAt(pos) == ',') pos += 1 else { expect(']'); done = true }
      }
      b.result()
    }
    private def parseString(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') {
          pos += 1
          s.charAt(pos) match {
            case '"' => sb += '"'
            case '\\' => sb += '\\'
            case '/' => sb += '/'
            case 'n' => sb += '\n'
            case 't' => sb += '\t'
            case 'r' => sb += '\r'
            case 'b' => sb += '\b'
            case 'f' => sb += '\f'
            case 'u' =>
              sb += Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar
              pos += 4
          }
        } else sb += c
        pos += 1
      }
      pos += 1
      sb.toString
    }
    private def parseNumber(): Any = {
      val start = pos
      while (!eof && "+-0123456789.eE".indexOf(s.charAt(pos)) >= 0) pos += 1
      val tok = s.substring(start, pos)
      if (tok.exists(c => c == '.' || c == 'e' || c == 'E')) tok.toDouble
      else tok.toLong
    }
  }
}
