package org.apache.spark.sql.graft

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, ScanBuilder, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.{FilePartition, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.storage.GraftTable

/** SQL row-level DML on graft tables — `DELETE FROM` (arbitrary
  * predicates), `UPDATE`, and `MERGE INTO` — through Spark's group-based
  * copy-on-write machinery (`SupportsRowLevelOperations` → analyzer
  * rewrite → `ReplaceData`), the same integration shape Iceberg uses.
  * The reference lists row-level mutation as open work (`TODO.md:25-28`);
  * here it composes from Spark's own rewrite rules plus two graft pieces:
  *
  *  - a COW SCAN over the committed file list whose "groups" are files.
  *    Spark pushes the command's condition into this scan as a GROUP
  *    filter (`GroupBasedRowLevelOperationScanPlanning`): a pushed
  *    predicate may only decide which FILES to rewrite, never drop
  *    individual rows — a file pruned here keeps its committed bytes and
  *    is not replaced, so pruning is sound exactly because the zone-map
  *    refutation proves no row in it can match. For predicates the zone
  *    maps can't refute statically, Spark's runtime group filtering
  *    (`RowLevelOperationRuntimeGroupFiltering`) feeds the scan an
  *    IN-subquery of matching-row key values at execution time through
  *    `SupportsRuntimeV2Filtering` — dynamic file pruning driven by the
  *    DML condition itself. The scan records the exact final file set it
  *    planned; those are the groups the commit replaces.
  *
  *  - a distributed parquet WRITE of the replacement rows (carried +
  *    mutated + merge-inserted) staged beside the committed batches and
  *    published by ONE CAS commit (`GraftTable.replaceFilesCommit`) that
  *    swaps the scanned files for the staged files. Each task writes
  *    through Spark's own `ParquetFileFormat#prepareWrite` factory, so
  *    file layout (codec, stripe/page sizing, bloom filters, timestamp
  *    encoding) matches the driver-side batch writer byte-for-byte.
  *
  * Concurrency: the commit rebases like every graft mutation — it
  * requires the scanned files to still be committed (a concurrent
  * compaction/truncate aborts the DML with a retryable error) and the
  * schema to be unchanged. Lost updates are impossible: the CAS version
  * claim serializes the swap.
  */
object GraftRowLevel {

  /** COW scan builder: pushed data filters are consumed ONLY as file
    * (group) filters through the zone maps; they are never forwarded to
    * the parquet reader, because a row-group skipped by the condition
    * would silently drop CARRIED rows from the rewrite. */
  def cowScanBuilder(index: GraftFileIndex, schema: StructType,
      options: CaseInsensitiveStringMap,
      filePruner: Seq[Filter] => Seq[(String, Long)],
      runtimeFilterCols: Seq[String],
      onPlanned: Seq[String] => Unit,
      dvByPath: Map[String, String] = Map.empty): ScanBuilder =
    new CowScanBuilder(SparkSession.active, index, schema, options, filePruner,
      runtimeFilterCols, onPlanned, dvByPath)

  private final class CowScanBuilder(
      spark: SparkSession,
      index: GraftFileIndex,
      schema: StructType,
      options: CaseInsensitiveStringMap,
      filePruner: Seq[Filter] => Seq[(String, Long)],
      runtimeFilterCols: Seq[String],
      onPlanned: Seq[String] => Unit,
      dvByPath: Map[String, String])
      extends ParquetScanBuilder(spark, index, schema, schema, options) {

    private var groupFilters: Array[Filter] = Array.empty

    // group-filter contract: keep every filter OUT of the parquet scan
    // (return all as residual, push none to super) and use them only to
    // prune whole files below
    override def pushDataFilters(dataFilters: Array[Filter]): Array[Filter] = {
      groupFilters = dataFilters
      Array.empty // parquet-pushed: none
    }

    // a COW scan reads whole rows of whole groups; never aggregates
    override def pushAggregation(
        aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
        : Boolean = false

    override def build(): ParquetScan = {
      // the group filters prune on the manifest; nothing was pushed to
      // parquet, so the scan differs from super.build()'s only in index
      val scanIndex =
        if (groupFilters.isEmpty) index
        else {
          val kept = filePruner(groupFilters.toIndexedSeq)
          if (kept.size < index.fileCount) index.withFiles(kept) else index
        }
      new CowParquetScan(super.build(), scanIndex, filePruner, runtimeFilterCols,
        onPlanned, dvByPath, (index.fileCount - scanIndex.fileCount).toLong)
    }
  }

  /** The COW scan: runtime group filtering via the zone maps (same
    * machinery as the delegate's runtime file pruning), plus the planned
    * file-set capture the commit needs. Replaced groups must equal the
    * files the executed query actually read — the capture happens in
    * `planInputPartitions`, after any runtime filter has been applied,
    * so the write's commit swaps exactly the scanned set. */
  private final class CowParquetScan(
      base: ParquetScan,
      index: GraftFileIndex,
      filePruner: Seq[Filter] => Seq[(String, Long)],
      runtimeFilterCols: Seq[String],
      onPlanned: Seq[String] => Unit,
      dvByPath: Map[String, String],
      staticPrunedFiles: Long)
      extends ParquetScan(base.sparkSession, base.hadoopConf, index,
        base.dataSchema,
        // a group carrying a deletion vector must be read NET of it —
        // carrying its dead rows into the rewrite would resurrect them;
        // same row-index + wrapped-factory mechanism as the delegate scan
        if (dvByPath.isEmpty) base.readDataSchema
        else DvScan.withRowIndex(base.readDataSchema),
        base.readPartitionSchema,
        base.pushedFilters, base.options, base.pushedAggregate,
        base.partitionFilters, base.dataFilters)
      with SupportsRuntimeV2Filtering {

    override def readSchema(): StructType =
      if (dvByPath.isEmpty) super.readSchema()
      else StructType(DvScan.strip(readDataSchema).fields ++
        readPartitionSchema.fields)

    override def createReaderFactory()
        : org.apache.spark.sql.connector.read.PartitionReaderFactory = {
      val inner = super.createReaderFactory()
      if (dvByPath.isEmpty) inner
      else new DvScan.DvReaderFactory(inner, dvByPath,
        new SerializableConfiguration(hadoopConf),
        DvScan.strip(readDataSchema).fields.map(_.dataType))
    }

    /** Spark's runtime group filtering builds ONE IN-subquery over ALL
      * declared attributes; a multi-column (struct) IN does not
      * translate back to a V1 filter the zone maps can consume. The
      * table side picks ONE column (clustered > bucket > stats-ranked —
      * see `newScanBuilder`); the all-read-columns fallback remains only
      * for tables where no column has usable stats (conservative: an
      * untranslatable runtime filter prunes nothing, never wrongly). */
    override def filterAttributes():
        Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
      val cols =
        if (runtimeFilterCols.nonEmpty) runtimeFilterCols
        else DvScan.strip(readDataSchema).fields.map(_.name).toSeq
      cols.map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray
    }

    @volatile private var runtimeKept: Option[Set[String]] = None

    override def filter(
        predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
        : Unit = {
      // IN with no values (the matching-rows subquery found nothing —
      // e.g. a pure-insert MERGE) refutes EVERY file: no group holds a
      // matching row, so nothing must be rewritten. It has no V1
      // translation, so it must be short-circuited before toV1 silently
      // drops it and degrades the no-op into a full-table rewrite.
      if (predicates.exists(p => p.name == "IN" && p.children().length == 1))
        runtimeKept = Some(Set.empty)
      else {
        val v1 = org.apache.spark.sql.internal.connector.PredicateUtils.toV1(predicates)
        if (v1.nonEmpty)
          runtimeKept = Some(filePruner(v1.toIndexedSeq)
            .map(p => new Path(p._1).toUri.getPath).toSet)
      }
    }

    @volatile private var runtimePrunedFiles: Long = 0L

    override def planInputPartitions(): Array[InputPartition] = {
      val all = super.planInputPartitions()
      val pruned = runtimeKept match {
        case Some(kept) =>
          // distinct files, not byte-range splits (a multi-split file = 1)
          val dropped = scala.collection.mutable.Set[String]()
          val out = all.flatMap {
            case fp: FilePartition =>
              val fs = fp.files.filter { f =>
                val keep = kept.contains(f.filePath.toPath.toUri.getPath)
                if (!keep) dropped += f.filePath.toString
                keep
              }
              if (fs.isEmpty) None else Some(FilePartition(fp.index, fs))
            case other => Some(other)
          }.zipWithIndex.map {
            case (fp: FilePartition, i) => FilePartition(i, fp.files)
            case (other, _) => other
          }
          runtimePrunedFiles = dropped.size.toLong
          out
        case None => all
      }
      onPlanned(pruned.toSeq.flatMap {
        case fp: FilePartition => fp.files.map(_.filePath.toString)
        case _ => Seq.empty
      }.distinct)
      pruned
    }

    // the same pruning observability as the read scan (GraftMetrics):
    // group-filter (static) and runtime-group-filter pruned files as
    // driver metrics, DV-suppressed rows from the wrapped readers — a
    // user can see how much of a DML statement's table was NOT rewritten
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      GraftMetrics.supported

    override def reportDriverMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      Array(
        GraftMetrics.task(GraftMetrics.FilesPrunedStatic, staticPrunedFiles),
        GraftMetrics.task(GraftMetrics.FilesPrunedRuntime, runtimePrunedFiles))
  }

  // ---- the replacement write -----------------------------------------

  private final case class CowFiles(paths: Seq[String]) extends WriterCommitMessage

  /** One staged replacement file per non-empty task — or, on a bucket_by
    * table, one per (task, bucket): the writer routes each row by the
    * same value-deterministic bucket function as the batch writer and
    * stages it under `__graft_bucket=<id>/`, so SQL DML preserves the
    * bucket-purity invariant storage-partitioned joins rely on. Written
    * through Spark's parquet `OutputWriterFactory` so layout matches the
    * batch writer. Empty tasks stage nothing (a fully-deleted table
    * leaves no files). */
  private final class CowWriterFactory(
      factory: OutputWriterFactory,
      conf: SerializableConfiguration,
      schema: StructType,
      stagingDir: String,
      // (index of the bucket column in `schema`, its type, bucket count)
      bucketRoute: Option[(Int, org.apache.spark.sql.types.DataType, Int)])
      extends DataWriterFactory {

    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val writers = scala.collection.mutable.LinkedHashMap
          .empty[Int, (String, org.apache.spark.sql.execution.datasources.OutputWriter)]
        private val suffix = UUID.randomUUID().toString.take(8)

        // Incoming rows are the ReplaceData query output: Spark's
        // internal operation column PREPENDED (`addOperationColumn`
        // in the rewrite rules uses `+:`) to the table's data columns in
        // table order. (The projection down to data columns is only
        // applied on the metadata-attribute write path, which graft does
        // not use.) Project the row's SUFFIX down to the table schema so
        // the internal column never leaks into the written files.
        private var proj: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = _

        private def bucketOf(row: InternalRow): Int = bucketRoute match {
          case None => -1
          case Some((i, dt, n)) =>
            if (row.isNullAt(i)) 0
            else dt match {
              case org.apache.spark.sql.types.StringType =>
                GraftTable.bucketOfUtf8(row.getUTF8String(i).getBytes, n)
              case org.apache.spark.sql.types.ByteType =>
                GraftTable.bucketOfLong(row.getByte(i).toLong, n)
              case org.apache.spark.sql.types.ShortType =>
                GraftTable.bucketOfLong(row.getShort(i).toLong, n)
              case org.apache.spark.sql.types.IntegerType |
                   org.apache.spark.sql.types.DateType => // date = int32 days
                GraftTable.bucketOfLong(row.getInt(i).toLong, n)
              case _ => GraftTable.bucketOfLong(row.getLong(i), n)
            }
        }

        private def writerFor(bucket: Int)
            : org.apache.spark.sql.execution.datasources.OutputWriter =
          writers.getOrElseUpdate(bucket, {
            val dir =
              if (bucket < 0) stagingDir
              else s"$stagingDir/${GraftTable.BucketCol}=$bucket"
            val file = f"$dir/part-$partitionId%05d-$suffix.parquet"
            val ctx = new TaskAttemptContextImpl(conf.value,
              new TaskAttemptID(new TaskID(new JobID("graft-cow", 0),
                TaskType.MAP, partitionId),
                ((taskId * 31 + bucket) % Int.MaxValue).toInt))
            (file, factory.newInstance(file, schema, ctx))
          })._2

        override def write(record: InternalRow): Unit = {
          if (proj == null) {
            require(record.numFields >= schema.length,
              s"COW write row has ${record.numFields} fields, table needs ${schema.length}")
            val offset = record.numFields - schema.length
            proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
              .create(schema.fields.zipWithIndex.map { case (f, i) =>
                org.apache.spark.sql.catalyst.expressions.BoundReference(
                  offset + i, f.dataType, true)
              }.toIndexedSeq)
          }
          val row = proj(record)
          writerFor(bucketOf(row)).write(row)
        }

        override def commit(): WriterCommitMessage = {
          val staged = writers.values.map { case (file, w) => w.close(); file }.toSeq
          writers.clear()
          CowFiles(staged)
        }

        override def abort(): Unit = {
          writers.values.foreach { case (file, w) =>
            try w.close() catch { case _: Exception => () }
            val p = new Path(file)
            try { val fs = p.getFileSystem(conf.value); fs.delete(p, false); () }
            catch { case _: Exception => () }
          }
          writers.clear()
        }

        override def close(): Unit = ()
      }
  }

  /** The Write half of the operation: stages replacement parquet under
    * `location/data/batch-cow-*` (a live-looking batch dir, so vacuum's
    * in-flight grace protects it) and commits by swapping the scan's
    * planned files for the staged files in one CAS metadata commit. */
  /** `writeSchema` is the TABLE schema, not `LogicalWriteInfo.schema()`:
    * the ReplaceData query's output carries Spark's internal operation
    * column, and `ReplaceDataExec` hands the writer rows already
    * PROJECTED down to the table's data columns (ProjectingInternalRow)
    * — a writer configured with the wider query schema would read past
    * the projected row's end. `table` is the driver-side handle opened
    * once at build() time; the write never serializes it. */
  private final class CowWrite(
      location: String,
      table: GraftTable,
      writeSchema: StructType,
      schemaAtWrite: StructType,
      what: String,
      scanned: () => Seq[String],
      dvsAtScan: () => Map[String, GraftTable.DvEntry]) extends Write with BatchWrite
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

    // A sort_by table's rewrite re-clusters within each written file, so
    // the zone maps stay as tight after SQL DML as after a batch append
    // (writeBatchDir's sortWithinPartitions, as a declared write order).
    // zorder_by approximates with a lexicographic sort on the z-columns
    // (a connector SortOrder cannot express the Morton interleave):
    // first-column maps stay tight, the rest widen until the next
    // compact(), which re-clusters on the true curve.
    private val orderCols = table.options.sortBy ++ table.options.zorderBy

    // A bucket_by table's rewrite clusters the incoming rows BY BUCKET
    // before writing: without it every task would hold rows of most
    // buckets and the per-(task, bucket) writer split would stage
    // tasks × buckets files. Clustered-by-transform resolves through the
    // catalog's bucket function, so the exchange routes by exactly the
    // file-placement function.
    override def requiredDistribution():
        org.apache.spark.sql.connector.distributions.Distribution =
      table.options.bucketBy.headOption match {
        case Some(c) => org.apache.spark.sql.connector.distributions.Distributions
          .clustered(Array(org.apache.spark.sql.connector.expressions.Expressions
            .bucket(table.options.bucketCount, c)))
        case None =>
          org.apache.spark.sql.connector.distributions.Distributions.unspecified()
      }

    override def requiredOrdering():
        Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      orderCols.map(c => org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray

    private val stagingDir =
      s"$location/data/batch-cow-${UUID.randomUUID().toString.take(8)}"

    override def description: String = s"graft COW $what"
    override def toBatch: BatchWrite = this

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val spark = SparkSession.active
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val factory = new ParquetFileFormat().prepareWrite(spark, job,
        Map("compression" -> table.parquetCodec), writeSchema)
      val conf = job.getConfiguration
      conf.setLong("parquet.block.size", table.options.stripeRowCount * 64)
      conf.set("parquet.page.row.count.limit", table.options.blockRowCount.toString)
      table.options.bloomFilterColumns.foreach(c =>
        conf.set(s"parquet.bloom.filter.enabled#$c", "true"))
      // the driver-side batch writer pins micros for reference parity;
      // the rewrite must not silently re-encode
      if (writeSchema.fields.exists(_.dataType == TimestampType))
        conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      val p = new Path(stagingDir)
      p.getFileSystem(conf).mkdirs(p)
      val route = table.options.bucketBy.headOption.map { c =>
        (writeSchema.fieldIndex(c), writeSchema(c).dataType, table.options.bucketCount)
      }
      new CowWriterFactory(factory, new SerializableConfiguration(conf),
        writeSchema, stagingDir, route)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val spark = SparkSession.active
      // The commit messages are the authoritative output: a crashed task
      // attempt may have fully written its file before abort() could
      // reclaim it — or write it AFTER any cleanup pass here — and the
      // relaunched attempt commits its own copy. So the metadata commit
      // takes exactly the message set (never a directory listing), and
      // orphans are merely best-effort deleted; whatever survives is an
      // unreferenced file for vacuum's grace-aged reclaim.
      val committed = messages.flatMap { case CowFiles(ps) => ps }
      val committedSet = committed.map(new Path(_).toUri.getPath).toSet
      val p = new Path(stagingDir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      try {
        if (fs.exists(p)) {
          val it = fs.listFiles(p, true)
          while (it.hasNext) {
            val st = it.next()
            if (st.isFile && !committedSet.contains(st.getPath.toUri.getPath))
              fs.delete(st.getPath, false)
          }
        }
      } catch { case _: Exception => () }
      table.replaceFilesCommit(scanned(), stagingDir, schemaAtWrite, what,
        stagedFiles = Some(committed.toIndexedSeq),
        dvsAtScan = Some(dvsAtScan()))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val p = new Path(stagingDir)
      try { p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
        .delete(p, true); () }
      catch { case _: Exception => () }
    }
  }

  /** One SQL row-level operation instance: Spark calls `newScanBuilder`
    * (optimization time) then `newWriteBuilder`; the instance carries the
    * scan's planned file set across to the write's commit. */
  final class Operation(location: String, cmd: Command) extends RowLevelOperation {

    @volatile private var planned: Seq[String] = Seq.empty
    // deletion vectors as of scan time: the scan reads groups net of
    // these, and the commit guards that no concurrent MOR delete moved
    // them (the staged rewrite would resurrect its dead rows)
    @volatile private var dvsAtRead: Map[String, GraftTable.DvEntry] = Map.empty
    @volatile private var schemaAtRead: StructType = _
    // the PERSISTED schema as of scan time — the commit's concurrency
    // guard (readSchema carries existence-default field metadata the
    // stored schema never has, so it must not be the comparand)
    @volatile private var rawSchemaAtRead: StructType = _

    override def command: Command = cmd
    override def description: String = s"graft COW $cmd on $location"

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      val spark = SparkSession.active
      val t = GraftTable.open(spark, location)
      schemaAtRead = t.readSchema()
      rawSchemaAtRead = t.schema
      // runtime-filter column, in pruning-power order: the clustered
      // column (tight zone maps) > the bucket column (the route function
      // prunes point lookups to 1/n files) > the stats-ranked best
      // separator (bestRuntimeFilterColumn). Declaring ALL columns is
      // the one losing move: Spark then builds a struct-IN no V1 filter
      // can express, and the scan prunes nothing.
      val rfCols =
        (t.options.sortBy ++ t.options.zorderBy ++ t.options.bucketBy).take(1) match {
          case Seq() => t.bestRuntimeFilterColumn().toSeq
          case declared => declared
        }
      dvsAtRead = t.dvEntries
      cowScanBuilder(GraftFileIndex.of(t), schemaAtRead,
        options, t.prunedFileLens, rfCols, fs => planned = fs,
        dvByPath = t.dvAbsByPath)
    }

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder {
        override def build(): Write = {
          val t = GraftTable.open(SparkSession.active, location)
          // the writer materializes synthesized defaults (readSchema
          // drives the scan), while the concurrency guard compares the
          // PERSISTED schema as of scan time — it never carries the
          // existence-default field metadata
          new CowWrite(location, t,
            if (schemaAtRead != null) schemaAtRead else t.readSchema(),
            if (rawSchemaAtRead != null) rawSchemaAtRead else t.schema,
            cmd.toString, () => planned, () => dvsAtRead)
        }
      }
  }
}
