package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThan}

import graft.sources.GraftCatalog
import graft.storage.GraftTable

/** `scan_mix`: read-only queries over `sort_by` graft tables loaded the
  * way the reference loads them, in date-ordered batches. Five seeded
  * query shapes stress projection, zone-map skipping, an unclustered
  * point lookup that skipping cannot help, a month-filtered join
  * (runtime filtering) and `count(*)`. Every answer is checked, untimed,
  * against aggregates that SQL over the generated parquet files computed
  * once (per day, month, group and order key), rolled up per query. */
final class ScanMix(spark: SparkSession, seed: Long) extends Workload {
  val Sf = 0.02
  /** Date-ordered INSERT batches per table after the empty CTAS, the
    * sorted batch load of the sf0.1 probe in perfbench/README.md. */
  val Batches = 28
  /** Read splits of the raw lineitem file during the load. The sf0.1 test
    * corpus keeps lineitem in one 10.8 MB single-row-group parquet file,
    * which Spark reads in three 4 MB splits; the generated file gets the
    * same split count, orders (2.7 MB there, one split) keeps one. */
  val LineitemSplits = 3

  private val gen = new Gen(spark, seed, Sf)
  private val catalog = "scan"
  private val coldMs = mutable.LinkedHashMap[String, Double]()
  private val noTrace = new Tracer(spark)
  private var oracle: Oracle = _
  private var warehouse = ""

  private def li = s"$catalog.db.lineitem"
  private def ord = s"$catalog.db.orders"
  def liLoc: String = s"$warehouse/db/lineitem"
  def ordLoc: String = s"$warehouse/db/orders"

  def setup(dir: String): Double = {
    val t = System.nanoTime()
    val rawDir = s"$dir/input"
    gen.write(rawDir, Seq("lineitem", "orders"))
    spark.read.parquet(s"$rawDir/lineitem.parquet").createOrReplaceTempView("raw_lineitem")
    spark.read.parquet(s"$rawDir/orders.parquet").createOrReplaceTempView("raw_orders")
    oracle = new Oracle
    var own = (System.nanoTime() - t) / 1e9
    warehouse = s"$dir/warehouse"
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", warehouse)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catalog.db")
    load("lineitem", li, "l_shipdate", LineitemSplits, rawDir)
    load("orders", ord, "o_orderdate", 1, rawDir)
    // cold pass: each shape once, on constants the timed phase does not use
    ops(seed ^ 0x5eedL).take(5).foreach { op =>
      val t = System.nanoTime()
      val r = op.run(noTrace)
      coldMs(op.kind) = (System.nanoTime() - t) / 1e6
      val c = System.nanoTime()
      op.check(r).foreach(e => throw new IllegalStateException(s"cold pass ${op.kind}: $e"))
      own += (System.nanoTime() - c) / 1e9
    }
    own
  }

  /** An empty CTAS, then `Batches` INSERTs of consecutive date ranges,
    * each reading the raw file in `splits` splits. */
  private def load(name: String, table: String, dateCol: String, splits: Int,
      rawDir: String): Unit = {
    spark.sql(s"CREATE TABLE $table USING graft OPTIONS (sort_by '$dateCol') " +
      s"AS SELECT * FROM raw_$name WHERE false")
    val days = spark.table(s"raw_$name").selectExpr(s"min($dateCol)", s"max($dateCol)").head()
    val lo = days.getTimestamp(0).toLocalDateTime.toLocalDate
    val hi = days.getTimestamp(1).toLocalDateTime.toLocalDate.plusDays(1)
    val span = java.time.temporal.ChronoUnit.DAYS.between(lo, hi)
    val rawBytes = Util.dirBytes(s"$rawDir/$name.parquet", _.toString.endsWith(".parquet"))
    spark.conf.set("spark.sql.files.maxPartitionBytes", (rawBytes + splits - 1) / splits)
    try (0 until Batches).foreach { b =>
      val from = lo.plusDays(span * b / Batches)
      val to = lo.plusDays(span * (b + 1) / Batches)
      spark.sql(s"INSERT INTO $table SELECT * FROM raw_$name WHERE $dateCol >= " +
        s"TIMESTAMP '$from' AND $dateCol < TIMESTAMP '$to'")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  /** Expected answers, rolled up from aggregates that SQL over the raw
    * parquet files computed once. */
  private final class Oracle {
    private def rows(sql: String): Seq[Row] = spark.sql(sql).collect().toSeq
    /** (flag, status, day) -> qty, base, disc price, charge, discount, n */
    private val q1 = rows("""SELECT l_returnflag, l_linestatus, to_date(l_shipdate),
        |sum(l_quantity), sum(l_extendedprice), sum(l_extendedprice * (1 - l_discount)),
        |sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), sum(l_discount), count(*)
        |FROM raw_lineitem GROUP BY 1, 2, 3""".stripMargin)
    /** (month, discount in cents, quantity) -> revenue, n */
    private val q6 = rows("""SELECT to_date(date_trunc('MONTH', l_shipdate)),
        |CAST(round(l_discount * 100) AS INT), CAST(l_quantity AS INT),
        |sum(l_extendedprice * l_discount), count(*) FROM raw_lineitem GROUP BY 1, 2, 3""".stripMargin)
      .groupBy(_.getDate(0).toLocalDate)
    /** order key -> rows, sum of line numbers, quantity, price, last ship date */
    private val byKey = rows("""SELECT l_orderkey, count(*), sum(l_linenumber), sum(l_quantity),
        |sum(l_extendedprice), max(l_shipdate) FROM raw_lineitem GROUP BY 1""".stripMargin)
      .map(r => r.getLong(0) -> Row(r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getTimestamp(5))).toMap
    /** month -> (priority, n, value) */
    private val join = rows("""SELECT to_date(date_trunc('MONTH', o_orderdate)), o_orderpriority,
        |count(*), sum(l_extendedprice) FROM raw_orders JOIN raw_lineitem
        |ON o_orderkey = l_orderkey GROUP BY 1, 2""".stripMargin)
      .groupBy(_.getDate(0).toLocalDate)
    val total: Long = spark.table("raw_lineitem").count()

    def q1(cutoff: LocalDate): Seq[Row] =
      q1.filter(r => !r.getDate(2).toLocalDate.isAfter(cutoff))
        .groupBy(r => (r.getString(0), r.getString(1))).toSeq.map { case ((f, s), g) =>
          def sum(i: Int) = g.map(_.getDouble(i)).sum
          val n = g.map(_.getLong(8)).sum
          Row(f, s, sum(3), sum(4), sum(5), sum(6), sum(3) / n, sum(7) / n, n)
        }

    def q6(month: LocalDate, discCents: Int, qty: Int): Seq[Row] = {
      val g = q6.getOrElse(month, Nil).filter(r =>
        math.abs(r.getInt(1) - discCents) <= 1 && r.getInt(2) < qty)
      val n = g.map(_.getLong(4)).sum
      Seq(Row(if (n == 0) null else g.map(_.getDouble(3)).sum, n))
    }

    /** The point lookup's rows, summarised the way `byKey` is. */
    def lookup(k: Long): Seq[Row] = byKey.get(k).toSeq

    def summarise(rows: Seq[Row]): Seq[Row] =
      if (rows.isEmpty) Nil
      else Seq(Row(rows.size.toLong, rows.map(_.getInt(0).toLong).sum, rows.map(_.getDouble(1)).sum,
        rows.map(_.getDouble(2)).sum, rows.map(_.getTimestamp(3)).maxBy(_.getTime)))

    def join(month: LocalDate): Seq[Row] =
      join.getOrElse(month, Nil).map(r => Row(r.getString(1), r.getLong(2), r.getDouble(3)))
  }

  /** A query over the graft tables, its expected answer, and the
    * storage filters its predicate implies. */
  private final class Query(val kind: String, sql: String,
      expected: () => Seq[Row], storageFilters: Seq[(String, Seq[Filter])],
      view: Seq[Row] => Seq[Row] = identity) extends Op {
    val key: String = sql
    def run(tr: Tracer): Any = {
      // the benchmark's own storage calls run only in traced operations
      if (tr.tracing) storageFilters.foreach { case (loc, fs) =>
        val t = tr.span("storage.open")(GraftTable.open(spark, loc))
        if (fs.nonEmpty) {
          val kept = tr.span("storage.prune")(t.prunedFiles(fs))
          tr.count("storage.filtered_files_total", t.relFiles.size)
          tr.count("storage.files_kept", kept.size)
        }
      }
      val rows = spark.sql(sql.replace("{li}", li).replace("{ord}", ord)).collect().toSeq
      tr.count("rows_returned", rows.size)
      rows
    }
    def check(result: Any): Option[String] = {
      val got = view(result.asInstanceOf[Seq[Row]])
      val want = expected()
      if (Util.sameRows(got, want)) None
      else Some(s"got ${got.take(3).mkString(";")} want ${want.take(3).mkString(";")}")
    }
  }

  private val firstMonth = LocalDate.parse("1995-02-01")
  private val Months = 78 // 1995-02 .. 2001-07, inside every table's range

  def ops(s: Long): Iterator[Op] = {
    val rnd = new java.util.SplittableRandom(s)
    def ts(d: LocalDate) = s"TIMESTAMP '$d'"
    def tsf(col: String, from: LocalDate, to: LocalDate): Seq[Filter] = Seq(
      GreaterThanOrEqual(col, java.sql.Timestamp.valueOf(from.atStartOfDay())),
      LessThan(col, java.sql.Timestamp.valueOf(to.atStartOfDay())))
    Iterator.from(0).map { i =>
      i % 5 match {
        case 0 =>
          val delta = 60 + rnd.nextInt(61)
          new Query("q1_aggregate",
            s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
               |sum(l_extendedprice) AS sum_base, sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
               |sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
               |avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, count(*) AS n
               |FROM {li} WHERE l_shipdate <= TIMESTAMP '2001-12-01' - INTERVAL $delta DAYS
               |GROUP BY l_returnflag, l_linestatus""".stripMargin,
            () => oracle.q1(LocalDate.parse("2001-12-01").minusDays(delta)),
            Seq(liLoc -> Nil))
        case 1 =>
          val from = firstMonth.plusMonths(rnd.nextInt(Months))
          val to = from.plusMonths(1)
          val discCents = 2 + rnd.nextInt(7)
          val qty = 24 + rnd.nextInt(2)
          new Query("q6_month_range",
            s"""SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n FROM {li}
               |WHERE l_shipdate >= ${ts(from)} AND l_shipdate < ${ts(to)}
               |AND l_discount BETWEEN ${discCents - 2}.5E-2 AND ${discCents + 1}.5E-2
               |AND l_quantity < $qty""".stripMargin,
            () => oracle.q6(from, discCents, qty),
            Seq(liLoc -> tsf("l_shipdate", from, to)))
        case 2 =>
          val k = rnd.nextLong(gen.nOrders)
          val sql = "SELECT l_linenumber, l_quantity, l_extendedprice, l_shipdate FROM {li} " +
            s"WHERE l_orderkey = $k"
          new Query("point_lookup", sql, () => oracle.lookup(k),
            Seq(liLoc -> Seq(EqualTo("l_orderkey", k))), rows => oracle.summarise(rows))
        case 3 =>
          val from = firstMonth.plusMonths(rnd.nextInt(Months))
          val to = from.plusMonths(1)
          new Query("month_join",
            s"""SELECT o_orderpriority, count(*) AS n, sum(l_extendedprice) AS value
               |FROM {ord} JOIN {li} ON o_orderkey = l_orderkey
               |WHERE o_orderdate >= ${ts(from)} AND o_orderdate < ${ts(to)}
               |GROUP BY o_orderpriority""".stripMargin,
            () => oracle.join(from),
            Seq(ordLoc -> tsf("o_orderdate", from, to), liLoc -> Nil))
        case _ =>
          new Query("count_star", "SELECT count(*) AS n FROM {li}",
            () => Seq(Row(oracle.total)), Seq(liLoc -> Nil))
      }
    }
  }

  def timed(): Iterator[Op] = ops(seed)

  def storedAndUserBytes(): (Long, Long) =
    (Util.dirBytes(liLoc) + Util.dirBytes(ordLoc),
      Util.csvSizes(Seq(spark.table("raw_lineitem"), spark.table("raw_orders"))).map(_._2).sum)

  override def facts(): Map[String, Any] = {
    val l = GraftTable.open(spark, liLoc)
    val o = GraftTable.open(spark, ordLoc)
    def empty(t: GraftTable) = t.relFiles.count(t.fileRowCount(_) == 0L)
    Map("sf" -> Sf, "lineitem_rows" -> l.rowCountFromMetadata(),
      "orders_rows" -> o.rowCountFromMetadata(),
      "lineitem_files" -> l.relFiles.size, "orders_files" -> o.relFiles.size,
      "lineitem_empty_files" -> empty(l), "orders_empty_files" -> empty(o),
      "table_bytes" -> (Util.dirBytes(liLoc) + Util.dirBytes(ordLoc)),
      "insert_batches_per_table" -> Batches, "cold_pass_ms" -> coldMs.toMap)
  }

  override def release(): Unit = oracle = null

  override def endLayerMetrics(): Map[String, Double] =
    Storage.tableMetrics(spark, Seq(liLoc, ordLoc))
}
