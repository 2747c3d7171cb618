package graft.sources

import java.util.{Map => JMap, Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.graft.{GraftFileIndex, ParquetDelegate}
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.storage.{GraftTable, GraftTableOptions}

/** DataSource V2 connector exposing GraftTable through Spark SQL — the
  * reference's end-user contract ("create foreign table, COPY, run SQL",
  * reference README.md:74) as native Spark surface:
  *
  * {{{
  *   CREATE TABLE t (a INT, b STRING) USING graft OPTIONS (path '/data/t')
  *   INSERT INTO t SELECT ...        -- append through the atomic protocol
  *   SELECT ... FROM t               -- full parquet pushdown stack
  *   INSERT OVERWRITE t ...          -- truncate + append
  *   spark.read.format("graft").load(path)
  *   df.write.format("graft").mode("append").save(path)
  * }}}
  *
  * Reads delegate to Spark's parquet scan over the committed files,
  * indexed from the manifest with no listing ([[org.apache.spark.sql.graft
  * .GraftFileIndex]]; column pruning + filter pushdown + row-group skipping intact — the
  * reference's N1-N3 scan stack). Writes go through [[GraftTable.append]]
  * so every insert commits via the atomic metadata rename and respects
  * table options (compression, stripe/block sizing).
  *
  * Table options map 1:1 to the reference FDW options
  * (`/root/reference/cstore_fdw.c:1273-1340`): `compression`,
  * `stripe_row_count`, `block_row_count`.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = true

  private def path(options: JMap[String, String]): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft source requires a 'path' option")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val loc = path(options)
    require(GraftTable.exists(loc),
      s"no graft table at $loc (provide a schema to create one)")
    // a time-travel read serves the SNAPSHOT's schema (it may predate
    // ALTERs the live table has since taken)
    Option(options.get("versionAsOf")).map(_.toLong)
      .orElse(Option(options.get("timestampAsOf")).map(ts =>
        GraftTable.versionAsOfTimestamp(loc,
          java.sql.Timestamp.valueOf(ts).getTime)))
      .map(v => GraftTable.openVersion(SparkSession.active, loc, v).readSchema())
      .getOrElse(GraftTable.open(SparkSession.active, loc).schema)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val loc = path(properties)
    // time travel on the PATH-based reader (the Delta option surface):
    //   spark.read.format("graft").option("versionAsOf", 3).load(loc)
    //   spark.read.format("graft").option("timestampAsOf", "2026-01-01 00:00:00")
    // — a read-only snapshot relation, same machinery as SQL VERSION AS OF
    def opt(k: String): Option[String] = Option(properties.get(k))
      .orElse(Option(properties.get(k.toLowerCase(java.util.Locale.ROOT))))
    val vOpt = opt("versionAsOf").map(_.toLong)
    val tsOpt = opt("timestampAsOf")
    if (vOpt.nonEmpty || tsOpt.nonEmpty) {
      require(vOpt.isEmpty || tsOpt.isEmpty,
        "specify versionAsOf OR timestampAsOf, not both")
      require(GraftTable.exists(loc), s"no graft table at $loc")
      val v = vOpt.getOrElse {
        val ms = java.sql.Timestamp.valueOf(tsOpt.get).getTime
        GraftTable.versionAsOfTimestamp(loc, ms)
      }
      return new GraftSnapshotTable(loc, v)
    }
    if (!GraftTable.exists(loc)) {
      // CREATE TABLE ... USING graft / first write: init the table with
      // the declared schema + validated reference options (N18, N22).
      def cols(key: String): Seq[String] = Option(properties.get(key))
        .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
      val opts = GraftTableOptions(
        compression = Option(properties.get("compression")).getOrElse("zstd"),
        stripeRowCount =
          Option(properties.get("stripe_row_count")).map(_.toLong).getOrElse(150000L),
        blockRowCount =
          Option(properties.get("block_row_count")).map(_.toLong).getOrElse(10000L),
        sortBy = cols("sort_by"),
        zorderBy = cols("zorder_by"),
        bloomFilterColumns = cols("bloom_filter_columns"),
        bucketBy = cols("bucket_by"),
        bucketCount = Option(properties.get("bucket_count")).map(_.toInt).getOrElse(0),
        deleteMode = Option(properties.get("delete_mode")).getOrElse("copy-on-write"),
        autoCompactMinFiles =
          Option(properties.get("auto_compact_min_files")).map(_.toInt).getOrElse(0),
        checks = {
          import scala.jdk.CollectionConverters._
          properties.asScala.collect {
            case (k, v) if k.startsWith("check.") => k.stripPrefix("check.") -> v
          }.toMap
        })
      GraftTable.create(SparkSession.active, loc, schema, opts)
    }
    new GraftSparkTable(loc)
  }
}

/** DSv2 Table over one graft table location. `TruncatableTable` lets SQL
  * `TRUNCATE TABLE` route through the graft metadata protocol
  * (`cstore_fdw.c:841-892`); `SupportsDelete` routes fully-translatable
  * SQL `DELETE FROM … WHERE …` into the copy-on-write row-level delete
  * (zone-map-pruned file rewrite, [[GraftTable.delete]]);
  * `SupportsRowLevelOperations` carries everything the metadata path
  * refuses — non-translatable DELETE predicates, SQL `UPDATE`, and SQL
  * `MERGE INTO` — through Spark's group-based ReplaceData rewrite over
  * the graft COW scan/write ([[org.apache.spark.sql.graft.GraftRowLevel]]). */
class GraftSparkTable(location: String) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Row-lineage metadata columns — each row's physical address
    * (`_graft_file`, `_graft_pos`), served by the scan's wrapped reader
    * factory off the parquet row index. They are the rowId the
    * delta-based (merge-on-read) SQL DML path keys its position deletes
    * on, and a user-visible audit column (`SELECT _graft_file, _graft_pos
    * FROM t`). */
  override def metadataColumns():
      Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = Array(
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = org.apache.spark.sql.graft.DvScan.FileCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file holding this row"
    },
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = org.apache.spark.sql.graft.DvScan.PosCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String = "row position within its data file"
    })

  /** Row-level SQL DML strategy follows `delete_mode`: merge-on-read
    * tables take the DELTA path (position deletes + appended new rows —
    * writes ∝ rows changed), copy-on-write tables the group-based
    * ReplaceData rewrite (writes ∝ files touched, reads stay
    * filter-free afterwards). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () =>
      if (graft.options.deleteMode == "merge-on-read")
        new org.apache.spark.sql.graft.GraftDeltaRowLevel.DeltaOperation(
          location, info.command)
      else new org.apache.spark.sql.graft.GraftRowLevel.Operation(location, info.command)

  /** Table location for commands resolved outside the scan path (e.g.
    * the ANALYZE TABLE routing in [[GraftExtensions]]). */
  def tableLocation: String = location

  override def truncateTable(): Boolean = { graft.truncate(); true }

  // DELETE is accepted only when every predicate translates EXACTLY —
  // Spark's DeleteFromTable contract: a partial translation must refuse
  // (canDeleteWhere=false) rather than delete the wrong rows.
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall { f =>
      try { GraftTable.filterToColumn(f); true }
      catch { case _: UnsupportedOperationException => false }
    }

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    // SQL `DELETE FROM t` (no WHERE) arrives as an empty/AlwaysTrue
    // array; route it through the metadata-only truncate instead of a
    // full rewrite to nothing
    val t = graft
    if (filters.isEmpty ||
        filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      t.truncate()
    else if (t.options.deleteMode == "merge-on-read")
      // delete_mode option: record deleted positions in per-file
      // deletion vectors instead of rewriting the touched files — the
      // sparse-delete path (see GraftTable.deleteMor)
      t.deleteMor(filters.toIndexedSeq)
    else t.delete(filters.toIndexedSeq)
    ()
  }

  private def spark: SparkSession = SparkSession.active
  private def graft: GraftTable = GraftTable.open(spark, location)

  override def name(): String = s"graft.`$location`"

  /** Surface the table's options as TBLPROPERTIES (`SHOW TBLPROPERTIES`
    * / `DESCRIBE TABLE EXTENDED`): the write-shaping options, the
    * mutation strategy, and every CHECK constraint under its
    * `check.<name>` key — so what the validator enforces is exactly
    * what the catalog displays. */
  override def properties(): JMap[String, String] = {
    val o = graft.options
    val m = scala.collection.mutable.LinkedHashMap[String, String](
      "compression" -> o.compression,
      "stripe_row_count" -> o.stripeRowCount.toString,
      "block_row_count" -> o.blockRowCount.toString,
      "delete_mode" -> o.deleteMode)
    if (o.sortBy.nonEmpty) m += ("sort_by" -> o.sortBy.mkString(","))
    if (o.zorderBy.nonEmpty) m += ("zorder_by" -> o.zorderBy.mkString(","))
    if (o.bloomFilterColumns.nonEmpty)
      m += ("bloom_filter_columns" -> o.bloomFilterColumns.mkString(","))
    if (o.bucketBy.nonEmpty) {
      m += ("bucket_by" -> o.bucketBy.mkString(","))
      m += ("bucket_count" -> o.bucketCount.toString)
    }
    if (o.autoCompactMinFiles > 0)
      m += ("auto_compact_min_files" -> o.autoCompactMinFiles.toString)
    o.checks.foreach { case (n, e) => m += (s"check.$n" -> e) }
    m.asJava
  }

  /** A bucket_by table declares its layout as a bucket transform —
    * Catalyst resolves it (via the catalog's `bucket` function) into the
    * TransformExpression that storage-partitioned-join compatibility is
    * proven on. */
  override def partitioning(): Array[Transform] = {
    val o = graft.options
    o.bucketBy.headOption.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.bucket(o.bucketCount, c)
        : Transform).toArray
  }

  // The EXISTS_DEFAULT metadata must live on the TABLE schema: the scan's
  // required schema is rebuilt from the relation's output attributes, so
  // metadata attached only to the scan-time schema would be dropped
  // before it reaches the parquet reader.
  override def schema(): StructType = graft.readSchema()

  // BATCH_WRITE must be declared alongside V1_BATCH_WRITE:
  // DataFrameWriter.save gates the v2 path on BATCH_WRITE specifically,
  // while the planner still routes the actual write through the V1Write
  // (AppendDataExecV1) because build() returns one.
  override def capabilities(): JSet[TableCapability] = Set(
    TableCapability.BATCH_READ,
    TableCapability.MICRO_BATCH_READ,
    TableCapability.BATCH_WRITE,
    TableCapability.V1_BATCH_WRITE,
    TableCapability.TRUNCATE,
    TableCapability.OVERWRITE_BY_FILTER).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val t = graft
    // readSchema() carries the EXISTS_DEFAULT metadata, so the DSv2 scan
    // synthesizes ADD COLUMN defaults for pre-ALTER files identically to
    // GraftTable.read() — the two paths can never disagree. The exact
    // committed row count flows to Catalyst via SupportsReportStatistics
    // (the reference's always-exact planner estimate,
    // cstore_fdw.c:1783-1807), so a small graft table broadcasts; pushed
    // filters prune whole files through the metadata zone maps before
    // the scan is planned (cstore_reader.c:744-806 at file grain).
    // ANALYZE column stats (when present) feed filtered-scan estimates,
    // so selective predicates shrink the planner's view of this side —
    // the reference ANALYZE's selectivity role (cstore_fdw.c:1628-1638).
    ParquetDelegate.scanBuilder(GraftFileIndex.of(t), t.readSchema(), options,
      exactRowCount = Some(t.rowCountFromMetadata()),
      filePruner = Some(t.prunedFileLens),
      tableStats = t.stats(),
      explainMeta = () => t.explainMeta,
      streamLocation = Some(location),
      hasSynthesizedColumns = t.hasSynthesizedColumns,
      bucketSpec = t.options.bucketBy.headOption.map(c => (c, t.options.bucketCount)),
      fileRanges = if (t.options.bucketBy.nonEmpty) t.sortFileRanges else None,
      dvs = t.dvAbsByPath)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var doTruncate = false

      override def truncate(): WriteBuilder = { doTruncate = true; this }

      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val t = graft
              if (doTruncate || overwrite) t.truncate()
              t.append(data)
            }
          }
      }
    }
}

/** Read-only DSv2 table over one archived snapshot — the relation behind
  * SQL `VERSION AS OF` / `TIMESTAMP AS OF` on a graft catalog table. The
  * scan gets the snapshot's own schema, file list, exact row count, and
  * zone-map pruner (snapshot metadata carries its file stats, so a
  * time-travel query still file-prunes). No write capabilities: the past
  * is immutable. */
class GraftSnapshotTable(location: String, version: Long) extends Table
    with SupportsRead {

  private def spark: SparkSession = SparkSession.active
  // a snapshot is immutable: open once, not per schema()/newScanBuilder()
  // call — openVersion validates the committed pointer AND file
  // existence, so a TIMESTAMP AS OF resolving to a truncated-away
  // snapshot fails here with the clear reclaimed-data error, not a
  // parquet FileNotFound mid-scan
  private lazy val snap: GraftTable = GraftTable.openVersion(spark, location, version)

  override def name(): String = s"graft.`$location` VERSION AS OF $version"

  override def schema(): StructType = snap.readSchema()

  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val t = snap
    // A snapshot taken after ADD COLUMN ... DEFAULT synthesizes the new
    // column for its pre-ALTER files at read time, so footer aggregates
    // are just as unsound here as on the live table — refuse pushdown on
    // the time-travel path too.
    ParquetDelegate.scanBuilder(GraftFileIndex.of(t), t.readSchema(), options,
      exactRowCount = Some(t.rowCountFromMetadata()),
      filePruner = Some(t.prunedFileLens),
      tableStats = None,
      explainMeta = () => t.explainMeta,
      hasSynthesizedColumns = t.hasSynthesizedColumns,
      dvs = t.dvAbsByPath)
  }
}
