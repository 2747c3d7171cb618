package graft.storage

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Full CDC apply — upserts AND deletes from one op-typed changelog
  * batch, landed in ONE atomic commit (the changelog-materialization
  * shape: a CDC feed keeps a graft table equal to the source table it
  * mirrors). */
class CdcApplySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("v", StringType)))

  private def mk(prefix: String): GraftTable = {
    val t = GraftTable.create(spark, tmpDir(prefix) + "/t", schema,
      GraftTableOptions(sortBy = Seq("id")))
    import spark.implicits._
    for (b <- 0 until 4)
      t.append((b * 25 until (b + 1) * 25).map(i => (i, s"v$i"))
        .toDF("id", "v").coalesce(1))
    t
  }

  private def cdc(rows: (Integer, String, String)*) = {
    import spark.implicits._
    rows.toDF("id", "v", "op")
  }

  test("one batch: update, insert, and delete commit atomically; far files carried") {
    val t = mk("cdc-basic")
    val before = t.committedFiles.toSet
    val vBefore = t.version
    val (u, i, d) = t.applyCdc(
      cdc((10, "TEN", "U"), (500, "NEW", "U"), (20, null, "D"), (60, null, "D")),
      Seq("id"), "op")
    assert((u, i, d) === (1L, 1L, 2L))
    assert(t.version === vBefore + 1, "the whole batch is ONE commit")
    val m = t.read().collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m.size === 99) // 100 + 1 insert - 2 deletes
    assert(m(10) === "TEN" && m(500) === "NEW")
    assert(!m.contains(20) && !m.contains(60))
    assert(m(80) === "v80", "unrelated rows carried")
    assert(t.rowCountFromMetadata() === 99L)
    // the key range 10..500 spans most files here, but the zone-map
    // prune is range-based: a delete-only batch on one file's range
    // must carry the other files untouched
    val before2 = t.committedFiles.toSet
    val (_, _, d2) = t.applyCdc(cdc((3, null, "D")), Seq("id"), "op")
    assert(d2 === 1L)
    val carried = before2.intersect(t.committedFiles.toSet)
    assert(carried.size >= 3,
      s"a single-file-range delete must carry the other files (carried ${carried.size})")
    assert(before.nonEmpty)
    GraftTable.drop(t.location)
  }

  test("a key both upserted and deleted is ambiguous and throws") {
    val t = mk("cdc-ambig")
    val e = intercept[IllegalArgumentException] {
      t.applyCdc(cdc((10, "x", "U"), (10, null, "D")), Seq("id"), "op")
    }
    assert(e.getMessage.contains("both upserted and deleted"))
    assert(t.read().count() === 100L, "nothing committed")
    GraftTable.drop(t.location)
  }

  test("NULL op upserts; NULL-key delete no-ops; duplicate deletes collapse") {
    val t = mk("cdc-null")
    val (u, i, d) = t.applyCdc(
      cdc((11, "ELEVEN", null), (null.asInstanceOf[Integer], null, "D"),
        (12, null, "D"), (12, null, "D")),
      Seq("id"), "op")
    assert((u, i, d) === (1L, 0L, 1L))
    val m = t.read().collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m(11) === "ELEVEN" && !m.contains(12))
    assert(t.rowCountFromMetadata() === 99L)
    GraftTable.drop(t.location)
  }

  test("mergeInternal refuses a null-key delete row at entry") {
    // applyCdc drops NULL-key delete rows before the merge (test above);
    // the merge itself must refuse one, since its folded delete tally
    // would count the null-key target rows the row groups with
    import spark.implicits._
    val t = mk("cdc-nulldel")
    val e = intercept[IllegalArgumentException] {
      t.mergeInternal(cdc((11, "ELEVEN", "U")).drop("op"), Seq("id"), None,
        Some(cdc((null.asInstanceOf[Integer], null, "D")).drop("op")))
    }
    assert(e.getMessage.contains("non-null keys"), e.getMessage)
    assert(t.read().count() === 100L, "nothing committed")
    assert(t.read().filter($"id" === 11).head().getString(1) === "v11")
    GraftTable.drop(t.location)
  }

  test("streaming changelog materializes exactly-once across batches and restarts") {
    import spark.implicits._
    val t = mk("cdc-stream")
    val src = tmpDir("cdc-stream-src")
    // two micro-batches over DISJOINT keys (order-independent)
    cdc((10, "TEN", "U"), (20, null, "D")).write.parquet(s"$src/b0")
    cdc((30, "THIRTY", "U"), (600, "NEW", "U"), (40, null, "D"))
      .write.parquet(s"$src/b1")
    val cdcSchema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType),
      StructField("op", StringType)))
    def incoming = spark.readStream.schema(cdcSchema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true").parquet(src)
    val ckpt = tmpDir("cdc-stream-ckpt")
    val q = graft.streaming.GraftStreamUpsert.startCdc(
      incoming, t, Seq("id"), "op", ckpt)
    assert(q.awaitTermination(120000))
    val m = t.read().collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m.size === 99)
    assert(m(10) === "TEN" && m(30) === "THIRTY" && m(600) === "NEW")
    assert(!m.contains(20) && !m.contains(40))
    // restart on the same checkpoint: both halves of every batch skip
    val q2 = graft.streaming.GraftStreamUpsert.startCdc(
      incoming, t, Seq("id"), "op", ckpt)
    assert(q2.awaitTermination(120000))
    assert(t.read().count() === 99L, "replay must be a no-op")
    assert(t.rowCountFromMetadata() === 99L)
    GraftTable.drop(t.location)
  }
}
