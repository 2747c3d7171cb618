package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}

import graft.sources.GraftCatalog
import graft.storage.GraftTable

/** `ingest_dml`: writes beside reads on one `delete_mode 'merge-on-read'`
  * lineitem table. A seeded sequence of COPY FROM CSV batches (slices of
  * the generated lineitem, rendered to CSV during set-up, each a new
  * range of order keys), SQL DELETE and UPDATE by order-key range,
  * read-after-write aggregates, and a `compactSmall` every
  * `CompactEvery` operations. The benchmark keeps a model of the table
  * (rows and `sum(l_quantity)` per order key): every read is checked
  * against it, and the whole table plus `verify(deep = true)` at the end. */
final class IngestDml(spark: SparkSession, seed: Long) extends Workload {
  val Sf = 0.05
  val OrdersPerBatch = 500
  /** Batches loaded by the initial COPY of each set-up. */
  val InitialBatches = 20
  val CompactEvery = 20
  /** Operations of the seeded sequence run as cold pass and warm-up. */
  val WarmOps = 12

  private val gen = new Gen(spark, seed, Sf)
  private val nBatches = (gen.nOrders / OrdersPerBatch).toInt
  private var baseCnt: Array[Long] = Array.empty
  private var baseQty: Array[Double] = Array.empty

  // the current set-up's table and model
  private var table = ""
  private var loc = ""
  private var csvDir = ""
  private var cnt: Array[Long] = Array.empty
  private var qty: Array[Double] = Array.empty
  private var live: Iterator[Op] = Iterator.empty
  private var rep = 0
  private var copyRows = 0L
  private var copyNs = 0L
  private var csvBytesTotal = 0L
  private val noTrace = new Tracer(spark)

  override def setupReps: Int = 3

  def setup(dir: String): Double = {
    val t0 = System.nanoTime()
    val pool = gen.lineitem.withColumn("b", (col("l_orderkey") / OrdersPerBatch).cast("int"))
    if (baseCnt.isEmpty) {
      baseCnt = new Array[Long](gen.nOrders.toInt)
      baseQty = new Array[Double](gen.nOrders.toInt)
      pool.groupBy("l_orderkey").agg(count(lit(1)), sum("l_quantity")).collect().foreach { r =>
        baseCnt(r.getLong(0).toInt) = r.getLong(1)
        baseQty(r.getLong(0).toInt) = r.getDouble(2)
      }
    }
    val own = (System.nanoTime() - t0) / 1e9
    val catalog = s"ingest$rep"
    rep += 1
    val warehouse = s"$dir/warehouse"
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", warehouse)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catalog.db")
    table = s"$catalog.db.lineitem"
    loc = s"$warehouse/db/lineitem"
    spark.sql(s"CREATE TABLE $table (${gen.lineitem.schema.toDDL}) USING graft " +
      "OPTIONS (delete_mode 'merge-on-read')")
    // CSV rendering is set-up work: one directory per COPY batch
    csvDir = s"$dir/csv"
    pool.repartition(col("b")).write.partitionBy("b").csv(csvDir)
    csvBytesTotal = Util.dirBytes(csvDir)
    cnt = new Array[Long](baseCnt.length)
    qty = new Array[Double](baseQty.length)
    val t = GraftTable.open(spark, loc)
    t.copyFromCsv(s"$csvDir/b={${(0 until InitialBatches).mkString(",")}}")
    (0 until InitialBatches).foreach(addBatch)
    live = ops(seed)
    (1 to WarmOps).foreach { _ =>
      val op = live.next()
      val r = op.run(noTrace)
      op.check(r).foreach(e => throw new IllegalStateException(s"warm-up ${op.kind}: $e"))
    }
    copyRows = 0L
    copyNs = 0L
    own
  }

  def timed(): Iterator[Op] = live

  private def keys(b: Int): Range = (b * OrdersPerBatch) until ((b + 1) * OrdersPerBatch)

  private def addBatch(b: Int): Unit = keys(b).foreach { k =>
    cnt(k) += baseCnt(k)
    qty(k) += baseQty(k)
  }

  private def modelRange(lo: Int, hi: Int): (Long, Double) =
    ((lo to hi).map(cnt(_)).sum, (lo to hi).map(qty(_)).sum)

  private def keyFilters(lo: Int, hi: Int): Seq[Filter] =
    Seq(GreaterThanOrEqual("l_orderkey", lo.toLong), LessThanOrEqual("l_orderkey", hi.toLong))

  private def probe(tr: Tracer, fs: Seq[Filter]): Unit = if (tr.tracing) {
    val t = tr.span("storage.open")(GraftTable.open(spark, loc))
    val kept = tr.span("storage.prune")(t.prunedFiles(fs))
    tr.count("storage.filtered_files_total", t.relFiles.size)
    tr.count("storage.files_kept", kept.size)
  }

  private final class Copy(b: Int) extends Op {
    val kind = "copy"
    val key = s"COPY batch $b"
    override val write = true
    def run(tr: Tracer): Any = {
      val t0 = System.nanoTime()
      val n = tr.span("storage.write")(GraftTable.open(spark, loc).copyFromCsv(s"$csvDir/b=$b"))
      copyNs += System.nanoTime() - t0
      copyRows += n
      n
    }
    def check(result: Any): Option[String] = {
      val want = keys(b).map(baseCnt(_)).sum
      addBatch(b)
      if (result == want) None else Some(s"COPY loaded $result rows, batch has $want")
    }
  }

  private final class Dml(val kind: String, lo: Int, hi: Int, delta: Int) extends Op {
    private val where = s"l_orderkey BETWEEN $lo AND $hi"
    val key: String =
      if (kind == "delete") s"DELETE WHERE $where" else s"UPDATE +$delta WHERE $where"
    override val write = true
    def run(tr: Tracer): Any = {
      probe(tr, keyFilters(lo, hi))
      tr.span("storage.write") {
        if (kind == "delete") spark.sql(s"DELETE FROM $table WHERE $where")
        else spark.sql(s"UPDATE $table SET l_quantity = l_quantity + $delta WHERE $where")
      }
    }
    def check(result: Any): Option[String] = {
      (lo to hi).foreach { k =>
        if (kind == "delete") { cnt(k) = 0L; qty(k) = 0.0 }
        else qty(k) += delta.toDouble * cnt(k)
      }
      None
    }
  }

  private final class Read(lo: Int, hi: Int) extends Op {
    val kind = "read"
    val key = s"SELECT count, sum(l_quantity) WHERE l_orderkey BETWEEN $lo AND $hi"
    def run(tr: Tracer): Any = {
      probe(tr, keyFilters(lo, hi))
      val r = spark.sql(s"SELECT count(*), coalesce(sum(l_quantity), 0D) FROM $table " +
        s"WHERE l_orderkey BETWEEN $lo AND $hi").head()
      tr.count("rows_returned", 1)
      r
    }
    def check(result: Any): Option[String] = {
      val r = result.asInstanceOf[Row]
      val (c, q) = modelRange(lo, hi)
      if (r.getLong(0) == c && r.getDouble(1) == q) None
      else Some(s"read ($lo..$hi) got (${r.getLong(0)}, ${r.getDouble(1)}), model ($c, $q)")
    }
  }

  private final class Compact extends Op {
    val kind = "compact"
    val key = "compactSmall"
    override val write = true
    def run(tr: Tracer): Any =
      tr.span("storage.compact")(GraftTable.open(spark, loc).compactSmall())
    def check(result: Any): Option[String] = None
  }

  /** Writes are the majority: 35% COPY, 15% DELETE, 15% UPDATE, 35%
    * reads, plus a compaction every `CompactEvery` operations. DML and
    * reads pick order-key ranges inside what the sequence has loaded. */
  def ops(s: Long): Iterator[Op] = {
    val rnd = new java.util.SplittableRandom(s)
    var next = InitialBatches
    Iterator.from(1).map { i =>
      val loaded = math.min(next, nBatches) * OrdersPerBatch
      val x = rnd.nextInt(100)
      if (i % CompactEvery == 0) new Compact
      else if (x < 35) {
        val b = next % nBatches
        next += 1
        new Copy(b)
      } else if (x < 65) {
        val lo = rnd.nextInt(loaded - 20)
        new Dml(if (x < 50) "delete" else "update", lo, lo + 1 + rnd.nextInt(19), 1 + rnd.nextInt(3))
      } else {
        val lo = rnd.nextInt(loaded - 2000)
        new Read(lo, lo + 1000 + rnd.nextInt(1000))
      }
    }
  }

  override def finalChecks(): Seq[String] = {
    val r = spark.sql(s"SELECT count(*), sum(l_quantity) FROM $table").head()
    val (c, q) = (cnt.sum, qty.sum)
    val whole =
      if (r.getLong(0) == c && r.getDouble(1) == q) Nil
      else Seq(s"final table (${r.getLong(0)}, ${r.getDouble(1)}) != model ($c, $q)")
    whole ++ GraftTable.open(spark, loc).verify(deep = true).map(p => s"verify: $p")
  }

  def storedAndUserBytes(): (Long, Long) =
    (Util.dirBytes(loc), Util.csvSizes(Seq(spark.table(table))).head._2)

  override def endToEnd(): Map[String, Double] =
    Map("ingest_rows_per_s" -> copyRows / (copyNs / 1e9))

  override def facts(): Map[String, Any] = {
    val t = GraftTable.open(spark, loc)
    Map("sf_pool" -> Sf, "pool_batches" -> nBatches, "rows_per_batch_avg" ->
      baseCnt.sum.toDouble / nBatches, "initial_batches" -> InitialBatches,
      "csv_bytes_rendered" -> csvBytesTotal, "final_rows" -> t.rowCountFromMetadata(),
      "final_files" -> t.relFiles.size, "final_versions" -> t.history().size,
      "table_bytes" -> Util.dirBytes(loc))
  }

  override def endLayerMetrics(): Map[String, Double] = Storage.tableMetrics(spark, Seq(loc))

  override def release(): Unit = {
    baseCnt = Array.empty; baseQty = Array.empty; cnt = Array.empty; qty = Array.empty
  }
}
