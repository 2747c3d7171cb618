package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the TPC-H-shaped corpus the program's entries
  * read (`region nation customer supplier part orders lineitem events
  * documents embeddings`, one parquet file each, the column names and
  * types of the test corpus the entries were written against).
  *
  * Every value is a pure function of (seed, table, column, row id) via
  * `xxhash64`, so the same seed writes the same rows whatever the
  * partitioning, and nothing outside the benchmark's own work directory
  * is read. `sf` scales the row counts like TPC-H: sf 0.1 gives 150,000
  * orders and ~600,000 lineitems. */
final class Gen(spark: SparkSession, seed: Long, sf: Double) {

  private def n(base: Double): Long = math.max(1L, math.round(base * sf))

  val nOrders: Long = n(1500000)
  val nCustomers: Long = n(150000)
  val nParts: Long = n(200000)
  val nSuppliers: Long = n(10000)
  val nEvents: Long = n(1000000)
  val nDocs: Long = n(50000)
  val nVecs: Long = n(20000)

  /** Uniform double in [0, 1) drawn from (seed, tag, keys). */
  private def u(tag: String, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(tag) +: keys): _*), lit(1000000007L))
      .cast("double") / 1000000007.0

  /** Uniform integer in [lo, hi]. */
  private def ui(tag: String, lo: Long, hi: Long, keys: Column*): Column =
    (lit(lo) + floor(u(tag, keys: _*) * (hi - lo + 1))).cast("long")

  private def pick(tag: String, values: Seq[String], keys: Column*): Column =
    element_at(array(values.map(lit): _*), (ui(tag, 1, values.size, keys: _*)).cast("int"))

  private def ids(count: Long): DataFrame = spark.range(0, count, 1, 1).toDF()

  private val day0 = "1995-01-01"
  private val orderDays = 2403 // 1995-01-01 .. 2001-08-01

  def region: DataFrame = ids(5).select(col("id").cast("int").as("r_regionkey"),
    element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
      (col("id") + 1).cast("int")).as("r_name"))

  def nation: DataFrame = ids(25).select(col("id").cast("int").as("n_nationkey"),
    concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))

  def customer: DataFrame = ids(nCustomers).select(col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    ui("c_nat", 0, 24, col("id")).cast("int").as("c_nationkey"),
    round(u("c_bal", col("id")) * 10999.0 - 999.99, 2).as("c_acctbal"),
    pick("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
      col("id")).as("c_mktsegment"))

  def supplier: DataFrame = ids(nSuppliers).select(col("id").as("s_suppkey"),
    format_string("Supplier#%09d", col("id")).as("s_name"),
    ui("s_nat", 0, 24, col("id")).cast("int").as("s_nationkey"),
    round(u("s_bal", col("id")) * 10999.0 - 999.99, 2).as("s_acctbal"))

  def part: DataFrame = ids(nParts).select(col("id").as("p_partkey"),
    concat_ws(" ",
      pick("p_n1", Seq("blue", "red", "hot", "large", "small", "green", "pale", "dark"), col("id")),
      pick("p_n2", Seq("ring", "bolt", "nut", "gear", "pipe", "plate", "screw", "valve"), col("id"))
    ).as("p_name"),
    concat(lit("Brand#"), ui("p_b", 1, 25, col("id"))).as("p_brand"),
    pick("p_t", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), col("id")).as("p_type"),
    ui("p_s", 1, 50, col("id")).cast("int").as("p_size"),
    round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice"))

  def orders: DataFrame = ids(nOrders).select(col("id").as("o_orderkey"),
    ui("o_c", 0, nCustomers - 1, col("id")).as("o_custkey"),
    pick("o_s", Seq("F", "O", "P"), col("id")).as("o_orderstatus"),
    round(u("o_p", col("id")) * 499000.0 + 1000.0, 2).as("o_totalprice"),
    date_add(lit(day0).cast("date"), ui("o_d", 0, orderDays, col("id")).cast("int"))
      .cast("timestamp").as("o_orderdate"),
    pick("o_pr", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
      col("id")).as("o_orderpriority"))

  /** One to seven lines per order, shipped 1..121 days after it. */
  def lineitem: DataFrame = {
    val o = ids(nOrders).select(col("id").as("k"),
      date_add(lit(day0).cast("date"), ui("o_d", 0, orderDays, col("id")).cast("int")).as("od"),
      explode(sequence(lit(1), ui("l_n", 1, 7, col("id")).cast("int"))).as("ln"))
    val qty = ui("l_q", 1, 50, col("k"), col("ln")).cast("double")
    val price = lit(900.0) + (ui("l_pk", 0, nParts - 1, col("k"), col("ln")) % 1000) / 10.0
    o.select(col("k").as("l_orderkey"),
      ui("l_pk", 0, nParts - 1, col("k"), col("ln")).as("l_partkey"),
      ui("l_sk", 0, nSuppliers - 1, col("k"), col("ln")).as("l_suppkey"),
      col("ln").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * price, 2).as("l_extendedprice"),
      (ui("l_d", 0, 10, col("k"), col("ln")) / 100.0).as("l_discount"),
      (ui("l_t", 0, 8, col("k"), col("ln")) / 100.0).as("l_tax"),
      pick("l_rf", Seq("A", "N", "R"), col("k"), col("ln")).as("l_returnflag"),
      pick("l_ls", Seq("F", "O"), col("k"), col("ln")).as("l_linestatus"),
      date_add(col("od"), ui("l_sd", 1, 121, col("k"), col("ln")).cast("int"))
        .cast("timestamp").as("l_shipdate"))
  }

  def events: DataFrame = ids(nEvents).select(col("id").as("event_id"),
    timestamp_micros(lit(1704067200000000L) +
      floor(u("e_ts", col("id")) * 2592000000000.0).cast("long")).as("ts"),
    ui("e_u", 0, math.max(1L, nEvents / 66) - 1, col("id")).as("user_id"),
    pick("e_t", Seq("click", "error", "purchase", "signup", "view"), col("id")).as("event_type"),
    round(-log(lit(1.0) - u("e_v", col("id"))) * 50.0, 2).as("value"),
    format_string("{\"k\": %d}", ui("e_k", 0, 99, col("id"))).as("props"))

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  /** Random text over a 30-word vocabulary, 10..100 words; one doc in
    * twenty is a near duplicate of an earlier one (its text with one
    * word replaced by the marker `dup`), so dedup entries find work. */
  def documents: DataFrame = {
    val words = array(vocab.map(lit): _*)
    def text(id: Column): Column = concat_ws(" ", transform(
      sequence(lit(1), ui("d_len", 10, 100, id).cast("int")),
      i => element_at(words, ui("d_w", 1, vocab.size, id, i).cast("int"))))
    val isDup = col("id") >= 20 && u("d_dup", col("id")) < 0.05
    val src = when(isDup, col("id") - lit(1) - ui("d_src", 0, 18, col("id")))
      .otherwise(col("id"))
    ids(nDocs).select(col("id"), src.as("src"), isDup.as("dup"))
      .select(col("id").as("doc_id"),
        when(col("dup"), regexp_replace(text(col("src")), "^\\S+", "dup"))
          .otherwise(text(col("id"))).as("text"),
        pick("d_lang", Seq("en", "en", "en", "de", "es", "fr", "zh"), col("id")).as("lang"),
        concat(lit("src"), ui("d_s", 0, 19, col("id"))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dimensional unit vectors around ten label centroids. */
  def embeddings: DataFrame = {
    val dims = 64
    val label = ui("v_l", 0, 9, col("id")).cast("int")
    val raw = transform(sequence(lit(0), lit(dims - 1)), j =>
      (u("v_c", label, j) - 0.5) * 2.0 + (u("v_n", col("id"), j) - 0.5))
    ids(nVecs).select(col("id").as("vec_id"), raw.as("v"), label.as("label"))
      .select(col("vec_id"),
        transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0),
          (acc, y) => acc + y * y)))).cast("array<float>").as("embedding"),
        col("label"))
  }

  def table(name: String): DataFrame = name match {
    case "region" => region
    case "nation" => nation
    case "customer" => customer
    case "supplier" => supplier
    case "part" => part
    case "orders" => orders
    case "lineitem" => lineitem
    case "events" => events
    case "documents" => documents
    case "embeddings" => embeddings
  }

  /** Write `names` as `<dir>/<name>.parquet`, one file each: the shape
    * of the corpus the entries were written against. */
  def write(dir: String, names: Seq[String]): Unit = names.foreach { t =>
    table(t).write.mode("overwrite").parquet(s"$dir/$t.parquet")
  }
}
