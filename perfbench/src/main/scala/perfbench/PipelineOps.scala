package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** `pipeline_ops`: the program's operator entries, called by name and
  * counted, one after another. The set is fixed here, not read from the
  * program, so that it cannot drift between the commits being compared:
  * the fifteen-entry perf sentinel of `graft.Bench` with its two
  * stream-orchestrated slots replaced by their batch twins
  * (`e11_trending`, `n9_agg_batch`), plus `d13_tfidf_cosine` and
  * `n17_cdc_apply`. The action on each returned frame computes its row
  * count and an order-insensitive content hash in one job, so every
  * column of the output is produced; every pass must reproduce the
  * count and hash of the cold pass. */
final class PipelineOps(spark: SparkSession, seed: Long) extends Workload {
  val Sf = 0.01
  val Entries: Seq[String] = Seq(
    "q11_multi_join", "q32_tpch_q1", "d7_dedup_clusters", "d14_span_dedup",
    "s9_ann_ivfpq", "s17_int8_persisted", "m7_avi_decode", "m12_video_neardup",
    "e11_trending", "n9_agg_batch", "c8_cluster_split", "p3_incremental_refresh",
    "t13_perplexity", "m9_audio_neardup", "d6_embed_neardup_ann",
    "d13_tfidf_cosine", "n17_cdc_apply")
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val gen = new Gen(spark, seed, Sf)
  private val noTrace = new Tracer(spark)
  private lazy val queries = graft.SparkEntry.queries
  private var dataDir = ""
  private var scratchDir = ""
  private val expected = mutable.Map[String, (Long, String)]()
  private var coldMs = Map.empty[String, Double]

  override def round: Int = Entries.size
  /** A warm pass takes about 8 s, so a run times one pass (see
    * perfbench/README.md). */
  override def minSamples: Int = Entries.size

  def setup(dir: String): Double = {
    val t0 = System.nanoTime()
    dataDir = s"$dir/data"
    scratchDir = s"$dir/scratch"
    gen.write(dataDir, Tables)
    val own = (System.nanoTime() - t0) / 1e9
    spark.conf.set("spark.graft.scratchDir", scratchDir)
    coldMs = Entries.map { name =>
      val t = System.nanoTime()
      expected(name) = call(name, noTrace)
      name -> (System.nanoTime() - t) / 1e6
    }.toMap
    // warm-up: the first pass after the cold one still runs ~20 % slower
    // while the JIT compiles, so one untimed pass precedes the timed ones
    Entries.foreach { name =>
      val r = call(name, noTrace)
      if (r != expected(name))
        throw new IllegalStateException(s"warm-up $name: $r, cold pass had ${expected(name)}")
    }
    own
  }

  /** Build the entry's frame, then run the action: (rows, content hash). */
  private def call(name: String, tr: Tracer): (Long, String) = {
    val df = tr.span("operators.build")(queries(name)(spark, dataDir))
    tr.span("operators.action")(Util.contentHash(df))
  }

  private final class Entry(val key: String) extends Op {
    val kind: String = key
    def run(tr: Tracer): Any = {
      val r = call(key, tr)
      tr.count("rows_returned", r._1)
      r
    }
    def check(result: Any): Option[String] =
      if (result == expected(key)) None
      else Some(s"(rows, hash) $result, cold pass had ${expected(key)}")
  }

  /** Each round runs every entry once, in a seeded order. */
  def ops(s: Long): Iterator[Op] = {
    val rnd = new scala.util.Random(s)
    Iterator.continually(rnd.shuffle(Entries)).flatten.map(n => new Entry(n))
  }

  def timed(): Iterator[Op] = ops(seed)

  private lazy val inputSizes =
    Tables.zip(Util.csvSizes(Tables.map(t => spark.read.parquet(s"$dataDir/$t.parquet"))))

  def storedAndUserBytes(): (Long, Long) =
    (Util.dirBytes(scratchDir), inputSizes.map(_._2._2).sum)

  override def facts(): Map[String, Any] = Map("sf" -> Sf, "entries" -> Entries,
    "input_rows" -> inputSizes.map { case (t, (rows, _)) => t -> rows }.toMap,
    "input_bytes" -> Util.dirBytes(dataDir), "scratch_bytes" -> Util.dirBytes(scratchDir),
    "graft_tables" -> graftTables.size,
    "cold_pass_ms" -> coldMs, "expected" -> expected.toMap.map { case (k, (n, h)) =>
      k -> Map("rows" -> n, "hash" -> h) })

  /** The graft tables the entries persisted under the scratch root
    * (ANN indexes, p3/n17's tables). */
  private def graftTables: Seq[String] = {
    val root = Paths.get(scratchDir)
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(_.getFileName.toString == "_graft_meta.json")
        .map(_.getParent.toString).toSeq.sorted
      finally st.close()
    }
  }

  override def endLayerMetrics(): Map[String, Double] =
    Storage.tableMetrics(spark, graftTables) ++ Map(
      "operators.cold_ms" -> coldMs.values.sum / Entries.size,
      "operators.scratch_bytes" -> Util.dirBytes(scratchDir).toDouble)
}
