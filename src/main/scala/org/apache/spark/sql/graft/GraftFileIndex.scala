package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{PartitioningAwareFileIndex, PartitionSpec}

import graft.storage.GraftTable

/** The file index every graft scan plans over: the committed
  * `(path, byte length)` pairs of one table version, straight from the
  * manifest. Building it lists no directory, expands no glob and checks
  * no file's existence — the reference likewise plans from its own
  * footer, never from the filesystem (`cstore_reader.c:401-434`). A
  * committed file deleted behind the table's back therefore fails the
  * read task that opens it, loudly, instead of silently dropping out of
  * the plan.
  *
  * Zone-map pruning runs on the manifest before a scan picks its index
  * ([[withFiles]]), and the file statuses are materialized only when a
  * scan plans over them, so one scan materializes one index. Split
  * planning sees the same lengths, in the same order, as a listed index
  * over the same files, so splits and task counts do not change.
  *
  * Two indexes are equal when they cover the same file set of the same
  * table version: two scans of one snapshot with equal pushdown are
  * equal scans, and Spark reuses one's exchange for the other. */
final class GraftFileIndex(
    spark: SparkSession,
    val location: String,
    val version: Long,
    files: Seq[(String, Long)])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  def fileCount: Int = files.size

  /** This table version's index over a subset of its files. */
  def withFiles(kept: Seq[(String, Long)]): GraftFileIndex =
    new GraftFileIndex(spark, location, version, kept)

  private lazy val statuses: Seq[FileStatus] = {
    val fs = new Path(location).getFileSystem(hadoopConf)
    files.map { case (p, len) =>
      new FileStatus(len, false, 0, 0L, 0L, fs.makeQualified(new Path(p)))
    }
  }

  private lazy val fileSet: Set[String] = files.iterator.map(_._1).toSet

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)

  override def allFiles(): Seq[FileStatus] = statuses

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override protected lazy val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)

  override protected lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.toArray.groupBy(_.getPath.getParent)

  /** Nothing to refresh: a version's file set is immutable. */
  override def refresh(): Unit = ()

  override def equals(other: Any): Boolean = other match {
    case g: GraftFileIndex =>
      location == g.location && version == g.version && fileSet == g.fileSet
    case _ => false
  }

  override def hashCode(): Int = (location, version, fileSet).hashCode()
}

object GraftFileIndex {

  /** The index over every committed file of `t`'s version. */
  def of(t: GraftTable): GraftFileIndex =
    new GraftFileIndex(SparkSession.active, t.location, t.version, t.committedFileLens)
}
