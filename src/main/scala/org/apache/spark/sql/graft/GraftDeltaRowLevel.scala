package org.apache.spark.sql.graft

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.storage.{DeletionVectors, GraftTable}

/** Delta-based (merge-on-read) SQL row-level DML — the Iceberg
  * position-delete integration shape, taken when the table declares
  * `delete_mode = merge-on-read`. Where the group-based path
  * ([[GraftRowLevel]]) REWRITES every file holding a matched row,
  * this one writes only the CHANGES:
  *
  *  - the scan is the table's ordinary read scan (vectors applied,
  *    filters free to prune files AND row groups — unlike the COW scan,
  *    which may only group-filter) plus the row-lineage columns
  *    `_graft_file`/`_graft_pos` as the operation's rowId;
  *  - Spark's WriteDelta machinery streams per-row operations to the
  *    writers: DELETE carries the doomed row's physical address, INSERT
  *    carries a new row, and an UPDATE is represented as delete+insert
  *    (`representUpdateAsDeleteAndInsert`), its re-insert kept apart
  *    from genuine inserts so stream visibility stays honest;
  *  - each task stages parquet for its insert/reinsert rows (bucket
  *    routing preserved) and ONE deletion-vector FRAGMENT per data file
  *    it deleted from; the commit merges fragments per file (cost ∝
  *    rows deleted — fragments hold positions, not data), unions each
  *    file's existing vector, and publishes sidecars + new files + the
  *    row-count delta in ONE CAS commit.
  *
  * At 100 TB the asymmetry is the whole point: a MERGE that updates
  * 0.1% of rows scattered across every file writes ~0.1% of the bytes
  * the ReplaceData rewrite would. */
object GraftDeltaRowLevel {

  final class DeltaOperation(location: String, cmd: Command)
      extends RowLevelOperation with SupportsDelta {

    @volatile private var dvsAtRead: Map[String, GraftTable.DvEntry] = Map.empty
    @volatile private var rawSchemaAtRead: StructType = _

    override def command: Command = cmd
    override def description: String = s"graft merge-on-read $cmd on $location"

    override def rowId(): Array[NamedReference] =
      Array(Expressions.column(DvScan.FileCol), Expressions.column(DvScan.PosCol))

    override def requiredMetadataAttributes(): Array[NamedReference] = rowId()

    // an UPDATE arrives as delete(old address) + reinsert(new row):
    // position vectors cannot express in-place change, and the split
    // keeps re-inserted rows distinguishable from genuine inserts
    override def representUpdateAsDeleteAndInsert(): Boolean = true

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      val spark = SparkSession.active
      val t = GraftTable.open(spark, location)
      dvsAtRead = t.dvEntries
      rawSchemaAtRead = t.schema
      // the table's ordinary scan: full pushdown + zone-map pruning stay
      // sound here (only matched rows are touched — no carried rows to
      // lose), and pruneColumns peels the lineage rowId off for the
      // wrapped factory
      ParquetDelegate.scanBuilder(GraftFileIndex.of(t),
        t.readSchema(), options,
        exactRowCount = Some(t.rowCountFromMetadata()),
        filePruner = Some(t.prunedFileLens),
        hasSynthesizedColumns = t.hasSynthesizedColumns,
        bucketSpec = t.options.bucketBy.headOption.map(c => (c, t.options.bucketCount)),
        dvs = t.dvAbsByPath)
    }

    override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
      new DeltaWriteBuilder {
        override def build(): DeltaWrite = {
          val t = GraftTable.open(SparkSession.active, location)
          new GraftDeltaWrite(location, t, cmd.toString,
            if (rawSchemaAtRead != null) rawSchemaAtRead else t.schema,
            () => dvsAtRead)
        }
      }
  }

  // ---- the delta write ------------------------------------------------

  private final case class DeltaFiles(
      insertFiles: Seq[String],
      reinsertFiles: Seq[String],
      // (data file URI path, fragment abs path, positions in fragment)
      fragments: Seq[(String, String, Long)]) extends WriterCommitMessage

  private final class GraftDeltaWrite(
      location: String,
      table: GraftTable,
      what: String,
      schemaAtWrite: StructType,
      dvsAtScan: () => Map[String, GraftTable.DvEntry])
      extends DeltaWrite with DeltaBatchWrite {

    private val stagingDir =
      s"$location/data/batch-delta-${UUID.randomUUID().toString.take(8)}"

    override def description: String = s"graft merge-on-read $what"
    override def toBatch: DeltaBatchWrite = this

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
      val spark = SparkSession.active
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val writeSchema = table.readSchema()
      val factory = new ParquetFileFormat().prepareWrite(spark, job,
        Map("compression" -> table.parquetCodec), writeSchema)
      val conf = job.getConfiguration
      conf.setLong("parquet.block.size", table.options.stripeRowCount * 64)
      conf.set("parquet.page.row.count.limit", table.options.blockRowCount.toString)
      table.options.bloomFilterColumns.foreach(c =>
        conf.set(s"parquet.bloom.filter.enabled#$c", "true"))
      if (writeSchema.fields.exists(_.dataType == TimestampType))
        conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      val p = new Path(stagingDir)
      p.getFileSystem(conf).mkdirs(p)
      val route = table.options.bucketBy.headOption.map { c =>
        (writeSchema.fieldIndex(c), writeSchema(c).dataType, table.options.bucketCount)
      }
      new GraftDeltaWriterFactory(factory, new SerializableConfiguration(conf),
        writeSchema, stagingDir, route)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val all = messages.collect { case m: DeltaFiles => m }
      val inserts = all.flatMap(_.insertFiles).toSeq
      val reinserts = all.flatMap(_.reinsertFiles).toSeq
      // merge each data file's fragments + its existing vector into ONE
      // final sidecar (fragments hold positions only — driver cost is
      // ∝ rows deleted this commit, the same bound as the feed itself)
      val conf = SparkSession.active.sessionState.newHadoopConf()
      val dvs0 = dvsAtScan()
      val byFile = all.flatMap(_.fragments).groupBy(_._1)
      val dvDirRel = s"data/batch-dv-${UUID.randomUUID().toString.take(8)}"
      val merged: Seq[(String, String, Long)] = // (rel, dvRel, card)
        if (byFile.isEmpty) Seq.empty
        else {
          val fs = new Path(location).getFileSystem(conf)
          fs.mkdirs(new Path(s"$location/$dvDirRel"))
          byFile.toSeq.map { case (uriPath, frags) =>
            val rel = GraftTable.relPath(uriPath, location)
            val fresh = frags.map { case (_, fp, _) =>
              DeletionVectors.read(new Path(fp).getFileSystem(conf), fp)
            }.reduce(DeletionVectors.merge)
            val full = dvs0.get(rel) match {
              case Some(e) => DeletionVectors.merge(
                DeletionVectors.read(fs, s"$location/${e.path}"), fresh)
              case None => fresh
            }
            val name = s"$dvDirRel/${UUID.randomUUID().toString.take(16)}.dv"
            DeletionVectors.write(fs, s"$location/$name", full)
            (rel, name, full.length.toLong)
          }
        }
      val deleted = all.flatMap(_.fragments).map(_._3).sum
      table.applyDeltaCommit(schemaAtWrite, what, dvs0, merged,
        inserts, reinserts, deleted)
      // fragments served their purpose; best-effort reclaim (vacuum
      // would catch survivors as unreferenced)
      try {
        all.flatMap(_.fragments).map(_._2).foreach { fp =>
          val p = new Path(fp); p.getFileSystem(conf).delete(p, false); ()
        }
      } catch { case _: Exception => () }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      try {
        val p = new Path(stagingDir)
        p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
          .delete(p, true)
        ()
      } catch { case _: Exception => () }
    }
  }

  private final class GraftDeltaWriterFactory(
      factory: OutputWriterFactory,
      conf: SerializableConfiguration,
      schema: StructType,
      stagingDir: String,
      bucketRoute: Option[(Int, org.apache.spark.sql.types.DataType, Int)])
      extends DeltaWriterFactory {

    override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
      new DeltaWriter[InternalRow] {
        private val suffix = UUID.randomUUID().toString.take(8)
        // (kind, bucket) → (path, writer); kind 0 = insert, 1 = reinsert
        private val writers = scala.collection.mutable.LinkedHashMap
          .empty[(Int, Int), (String, org.apache.spark.sql.execution.datasources.OutputWriter)]
        private val deletes =
          scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Long]]

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
                   org.apache.spark.sql.types.DateType =>
                GraftTable.bucketOfLong(row.getInt(i).toLong, n)
              case _ => GraftTable.bucketOfLong(row.getLong(i), n)
            }
        }

        private def writerFor(kind: Int, bucket: Int)
            : org.apache.spark.sql.execution.datasources.OutputWriter =
          writers.getOrElseUpdate((kind, bucket), {
            val kindTag = if (kind == 0) "ins" else "re"
            val dir =
              if (bucket < 0) stagingDir
              else s"$stagingDir/${GraftTable.BucketCol}=$bucket"
            val file = f"$dir/part-$kindTag-$partitionId%05d-$suffix.parquet"
            val ctx = new TaskAttemptContextImpl(conf.value,
              new TaskAttemptID(new TaskID(new JobID("graft-delta", 0),
                TaskType.MAP, partitionId),
                ((taskId * 61 + kind * 31 + bucket) % Int.MaxValue).toInt))
            (file, factory.newInstance(file, schema, ctx))
          })._2

        override def delete(meta: InternalRow, id: InternalRow): Unit = {
          // rowId projection order: (_graft_file, _graft_pos)
          val file = DeletionVectors.normalize(id.getUTF8String(0).toString)
          deletes.getOrElseUpdate(file,
            scala.collection.mutable.ArrayBuffer.empty[Long]) += id.getLong(1)
        }

        override def insert(row: InternalRow): Unit =
          writerFor(0, bucketOf(row)).write(row)

        override def reinsert(meta: InternalRow, row: InternalRow): Unit =
          writerFor(1, bucketOf(row)).write(row)

        override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
          throw new IllegalStateException(
            "updates arrive as delete+reinsert (representUpdateAsDeleteAndInsert)")

        override def commit(): WriterCommitMessage = {
          val staged = writers.toSeq.map { case ((kind, _), (file, w)) =>
            w.close(); (kind, file)
          }
          writers.clear()
          val frags = deletes.toSeq.zipWithIndex.map { case ((fileUri, buf), i) =>
            val pos = buf.toArray
            java.util.Arrays.sort(pos)
            val fp = f"$stagingDir/frag-$partitionId%05d-$suffix-$i.dv"
            DeletionVectors.write(new Path(fp).getFileSystem(conf.value), fp, pos)
            (fileUri, fp, pos.length.toLong)
          }
          deletes.clear()
          DeltaFiles(
            staged.collect { case (0, f) => f },
            staged.collect { case (1, f) => f },
            frags)
        }

        override def abort(): Unit = {
          writers.values.foreach { case (file, w) =>
            try w.close() catch { case _: Exception => () }
            try { val p = new Path(file); p.getFileSystem(conf.value).delete(p, false); () }
            catch { case _: Exception => () }
          }
          writers.clear()
          deletes.clear()
        }

        override def close(): Unit = ()
      }
  }
}
