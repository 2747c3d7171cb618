package graft.storage

import java.nio.file.{Files, Path => JPath, Paths, StandardOpenOption}

import graft.SparkSpec

/** Integrity verification ([[GraftTable.verify]], `CALL g.system.verify`)
  * — the reference's open checksums item (`TODO.md:9`). Healthy tables
  * audit clean (shallow and deep); a missing file, a truncated file, a
  * tampered sidecar each surface as a specific issue instead of a wrong
  * query result later. */
class GraftVerifySpec extends SparkSpec {

  import org.apache.spark.sql.types._
  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("v", StringType)))

  /** Committed paths come back scheme-qualified (`file:/...`); reduce to
    * a local NIO path for tampering. */
  private def local(p: String): JPath =
    Paths.get(new org.apache.hadoop.fs.Path(p).toUri.getPath)

  private def mk(prefix: String): GraftTable = {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpDir(prefix) + "/t", schema)
    for (base <- Seq(0, 100))
      t.append((base until base + 50).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t
  }

  test("healthy table audits clean, shallow and deep, with and without vectors") {
    val t = mk("vfy-ok")
    assert(t.verify() === Seq.empty)
    assert(t.verify(deep = true) === Seq.empty)
    t.deleteMor(Seq(org.apache.spark.sql.sources.In("id", Array(1, 3))))
    assert(t.verify() === Seq.empty)
    assert(t.verify(deep = true) === Seq.empty)
  }

  test("a missing data file is reported, with the row-count conservation break") {
    val t = mk("vfy-missing")
    val victim = t.committedFiles.head
    Files.delete(local(victim))
    val issues = t.verify()
    assert(issues.exists(_.contains("missing data file")), issues.mkString("; "))
  }

  test("a truncated data file fails the footer audit") {
    val t = mk("vfy-trunc")
    val victim = local(t.committedFiles.head)
    val bytes = Files.readAllBytes(victim)
    Files.write(victim, java.util.Arrays.copyOf(bytes, bytes.length / 2),
      StandardOpenOption.TRUNCATE_EXISTING)
    val issues = t.verify()
    assert(issues.exists(_.contains("unreadable parquet footer")), issues.mkString("; "))
  }

  test("a data file truncated behind the table's back differs from its recorded length") {
    val t = mk("vfy-len")
    val victim = local(t.committedFiles.head)
    val bytes = Files.readAllBytes(victim)
    Files.write(victim, java.util.Arrays.copyOf(bytes, bytes.length - 8),
      StandardOpenOption.TRUNCATE_EXISTING)
    val issues = t.verify(deep = true)
    assert(issues.exists(_.contains(
      s"file holds ${bytes.length - 8} bytes, metadata recorded ${bytes.length}")),
      issues.mkString("; "))
  }

  test("a tampered deletion-vector sidecar is reported") {
    val t = mk("vfy-dv")
    t.deleteMor(Seq(org.apache.spark.sql.sources.In("id", Array(5, 7, 9))))
    val dv = local(s"${t.location}/${t.dvEntries.values.head.path}")
    Files.write(dv, Array[Byte]('J', 'U', 'N', 'K', 0, 0, 0, 0),
      StandardOpenOption.TRUNCATE_EXISTING)
    val issues = t.verify()
    assert(issues.exists(_.contains("unreadable deletion vector")), issues.mkString("; "))
  }

  test("CALL graft.system.verify surfaces the audit through SQL") {
    val wh = tmpDir("vfy-wh")
    spark.conf.set("spark.sql.catalog.vfy", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.vfy.warehouse", wh)
    try {
      spark.sql("CREATE TABLE vfy.db.t (id INT, v STRING) USING graft")
      spark.sql("INSERT INTO vfy.db.t SELECT id, concat('v', id) FROM range(100)")
      val rows = spark.sql("CALL vfy.system.verify('db.t')").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows("issues_found") === "0")
      assert(rows("files_checked").toInt > 0)
      // break it, re-audit
      val t = GraftTable.open(spark, s"$wh/db/t")
      Files.delete(local(t.committedFiles.head))
      val bad = spark.sql("CALL vfy.system.verify('db.t')").collect()
        .map(r => r.getString(0) -> r.getString(1))
      assert(bad.toMap.apply("issues_found").toInt >= 1)
      assert(bad.exists { case (m, v) => m == "issue" && v.contains("missing") })
    } finally {
      spark.conf.unset("spark.sql.catalog.vfy")
      spark.conf.unset("spark.sql.catalog.vfy.warehouse")
    }
  }
}
