package graft.storage

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, Path}

import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFileIndex
import org.apache.spark.sql.types._

import graft.SparkSpec

/** A [[MockFs]] under the `countfs:` scheme that counts every metadata
  * and open call in its Hadoop `FileSystem.Statistics` read ops, so
  * `GlobalStorageStatistics` reports them. (The `file:` scheme's
  * statistics count bytes read and written only, not status or listing
  * calls.) Registered via `fs.countfs.impl`. */
class CountingFs extends MockFs {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getFileStatus(f: Path): FileStatus = {
    statistics.incrementReadOps(1); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    statistics.incrementReadOps(1); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    statistics.incrementReadOps(1); super.open(f, bufferSize)
  }
}

/** Scans planned from the manifest alone: no commit references a 0-row
  * file, the manifest records every committed file's byte length, and
  * planning a scan lists and stats no data file. */
class ManifestScanSpec extends SparkSpec {

  private lazy val warehouse: String = tmpDir("mscan-wh")

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFs].getName)
    spark.conf.set("spark.sql.catalog.mscan", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mscan.warehouse", warehouse)
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def emptyFiles(t: GraftTable): Seq[String] =
    t.relFiles.filter(t.fileRowCount(_) == 0L)

  test("an empty CTAS then date-ordered INSERTs read in 3 splits commit no 0-row file") {
    import spark.implicits._
    val raw = tmpDir("mscan-raw") + "/raw.parquet"
    (0 until 6000).map(i => (i.toLong, java.sql.Date.valueOf(
      java.time.LocalDate.of(2020, 1, 1).plusDays(i % 700)), i * 0.5))
      .toDF("k", "d", "x").coalesce(1).write.parquet(raw)
    spark.read.parquet(raw).createOrReplaceTempView("mscan_raw")
    val rawBytes = Files.walk(Paths.get(raw)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum
    spark.sql("CREATE TABLE mscan.db.t USING graft OPTIONS (sort_by 'd') " +
      "AS SELECT * FROM mscan_raw WHERE false")
    val loc = s"$warehouse/db/t"
    assert(GraftTable.open(spark, loc).relFiles.isEmpty,
      "the empty CTAS writes one schema-only file; none may be committed")
    withConf("spark.sql.files.maxPartitionBytes", ((rawBytes + 2) / 3).toString) {
      (0 until 28).foreach { b =>
        spark.sql(s"INSERT INTO mscan.db.t SELECT * FROM mscan_raw " +
          s"WHERE d >= date_add(DATE '2020-01-01', ${b * 25}) " +
          s"AND d < date_add(DATE '2020-01-01', ${(b + 1) * 25})")
      }
    }
    val t = GraftTable.open(spark, loc)
    assert(t.relFiles.nonEmpty)
    assert(emptyFiles(t).isEmpty, s"0-row files committed: ${emptyFiles(t)}")
    // no dropped file, nor its checksum sidecar, lingers on disk
    val names = Files.walk(Paths.get(new Path(loc).toUri.getPath)).iterator().asScala
      .map(_.getFileName.toString).toSeq
    val committed = t.relFiles.map(_.split('/').last).toSet
    assert(names.filter(_.startsWith("part-")).toSet === committed)
    assert(names.filter(n => n.startsWith(".part-") && n.endsWith(".crc"))
      .map(_.stripPrefix(".").stripSuffix(".crc")).toSet.subsetOf(committed))
    def agg(from: String) = spark.sql(
      s"SELECT count(*), sum(k), sum(x) FROM $from WHERE d >= DATE '2020-06-01' " +
        "AND d < DATE '2020-07-01'").head()
    assert(agg("mscan.db.t") === agg("mscan_raw"))
    assert(spark.table("mscan.db.t").count() === 6000L)
    assert(t.rowCountFromMetadata() === 6000L)
  }

  test("a COW UPDATE, a DELETE emptying a file, and compact() commit no 0-row file") {
    import spark.implicits._
    spark.sql("CREATE TABLE mscan.db.cow (id BIGINT, v STRING) USING graft " +
      "OPTIONS (sort_by 'id')")
    val loc = s"$warehouse/db/cow"
    val t = GraftTable.open(spark, loc)
    for (b <- 0 until 4)
      t.append((b * 100L until (b + 1) * 100L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartition(8))
    assert(emptyFiles(t).isEmpty)
    spark.sql("UPDATE mscan.db.cow SET v = 'u' WHERE id < 150")
    t.delete(Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 300L)))
    t.update(Map("v" -> lit("w")), Seq(org.apache.spark.sql.sources.LessThan("id", 10L)))
    val afterDml = GraftTable.open(spark, loc)
    assert(emptyFiles(afterDml).isEmpty, s"after DML: ${emptyFiles(afterDml)}")
    assert(afterDml.rowCountFromMetadata() === 300L)
    afterDml.compact()
    val compacted = GraftTable.open(spark, loc)
    assert(emptyFiles(compacted).isEmpty)
    assert(compacted.read().filter($"v" === "u").count() === 140L)
    assert(compacted.read().filter($"v" === "w").count() === 10L)
    assert(compacted.verify() === Seq.empty)
  }

  test("planning a pruned scan makes the same filesystem calls on 5 and 50 files") {
    def readOps(): Long =
      FileSystem.getGlobalStorageStatistics.get("countfs").getLong("readOps")
    def table(n: Int): GraftTable = {
      import spark.implicits._
      val t = GraftTable.create(spark, "countfs:" + tmpDir(s"mscan-fs$n") + "/t",
        schema, GraftTableOptions(sortBy = Seq("id")))
      t.append((0L until n * 20L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(n, $"id"))
      assert(t.relFiles.size === n)
      t
    }
    def planOps(t: GraftTable): Long = {
      val before = readOps()
      val df = spark.read.format("graft").load(t.location).filter(col("id") === 7L)
      val qe = df.queryExecution
      qe.executedPlan
      val scan = qe.optimizedPlan.collectFirst { case r: DataSourceV2ScanRelation => r.scan }.get
      assert(scan.toBatch.planInputPartitions().length === 1, "the zone maps keep one file")
      scan.description()
      readOps() - before
    }
    val (t5, t50) = (table(5), table(50))
    planOps(t5); planOps(t50) // warm the session and the segment cache
    assert(planOps(t5) === planOps(t50))
    // the counter sees per-file calls: a listing index over the same
    // files makes at least one more call per extra file
    def listOps(t: GraftTable): Long = {
      val before = readOps()
      new InMemoryFileIndex(spark, t.committedFiles.map(new Path(_)), Map.empty, None)
      readOps() - before
    }
    assert(listOps(t50) - listOps(t5) >= 45L)
  }

  test("a manifest without recorded lengths still plans, reads and verifies") {
    import spark.implicits._
    // 20 appends: past InlineStatsMax, so the lengths live in manifest
    // segments and the inline history snapshots alike
    val t = GraftTable.create(spark, tmpDir("mscan-legacy") + "/t", schema,
      GraftTableOptions(sortBy = Seq("id")))
    for (b <- 0 until 20)
      t.append((b * 10L until (b + 1) * 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val loc = t.location
    val sizes = t.committedFiles.map(f => Files.size(Paths.get(new Path(f).toUri.getPath)))
    // rewrite every metadata object as a writer before lengths would have
    Files.walk(Paths.get(new Path(loc).toUri.getPath)).iterator().asScala
      .filter(_.toString.endsWith(".json")).toList.foreach { p =>
        val s = new String(Files.readAllBytes(p), "UTF-8")
        val stripped = s.replaceAll("\"file_lens\": \\{[^}]*\\},", "")
          .replaceAll(",\\s*\"file_lens\": \\{[^}]*\\}", "")
        Files.write(p, stripped.getBytes("UTF-8"))
      }
    GraftTable.invalidateSegmentCacheUnder(loc)
    val legacy = GraftTable.open(spark, loc)
    assert(legacy.committedFileLens.map(_._2) === sizes)
    val df = spark.read.format("graft").load(loc)
    assert(df.count() === 200L)
    assert(df.filter($"id" >= 55L && $"id" < 65L).collect().map(_.getLong(0)).sorted.toSeq ===
      (55L until 65L))
    assert(legacy.verify(deep = true) === Seq.empty)
    // the next commit keeps working; its new file carries a length
    legacy.append(Seq((500L, "x")).toDF("id", "v"))
    val next = GraftTable.open(spark, loc)
    assert(spark.read.format("graft").load(loc).count() === 201L)
    assert(next.committedFileLens.size === 21)
  }

  test("two indexes of one version are equal; a commit makes a new one") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("mscan-eq") + "/t", schema)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val a = GraftFileIndex.of(GraftTable.open(spark, t.location))
    val b = GraftFileIndex.of(GraftTable.open(spark, t.location))
    assert(a === b && a.hashCode === b.hashCode)
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(GraftFileIndex.of(GraftTable.open(spark, t.location)) !== a)
    // a self-join of one snapshot reuses the scan's exchange
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val s = spark.read.format("graft").load(t.location)
      val j = s.groupBy("id").count().as("l").join(s.groupBy("id").count().as("r"), "id")
      assert(j.collect().length === 3)
      assert(j.queryExecution.executedPlan.toString.contains("ReusedExchange"))
    }
  }

  test("a committed data file deleted behind the table's back fails the query") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir("mscan-gone") + "/t", schema)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    val victim = new Path(t.committedFiles.last)
    Files.delete(Paths.get(victim.toUri.getPath))
    val e = intercept[Exception] {
      spark.read.format("graft").load(t.location).collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    assert(chain.contains(victim.getName), chain)
  }
}
