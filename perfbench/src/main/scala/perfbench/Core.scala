package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** One operation of a workload's closed loop. `key` is the generated
  * input that defines it (the SQL text, the DML predicate, the entry
  * name); the seed check compares keys, never results. */
trait Op {
  def kind: String
  def key: String
  def write: Boolean = false
  /** The timed call. Its value is what [[check]] verifies. */
  def run(tr: Tracer): Any
  /** Untimed verification of `result`; `Some(reason)` when it is wrong. */
  def check(result: Any): Option[String]
}

final case class Sample(kind: String, write: Boolean, wallMs: Double, cpuMs: Double,
    ok: Boolean, traced: Boolean)

/** What a workload hands the runner after set-up. */
trait Workload {
  /** One set-up from nothing into `dir`: tables loaded, caches cold,
    * then the cold pass and warm-up. The runner times each call; the
    * returned seconds were the benchmark's own work inside it (input
    * generation, result checks) and are not counted as set-up. */
  def setup(dir: String): Double
  /** Set-ups per run; `setup_s` reports their median. */
  def setupReps: Int = 1
  /** Samples the timed phase needs at least: ten beyond its p90. */
  def minSamples: Int = 100
  /** The seeded operation sequence (endless), a pure function of `seed`. */
  def ops(seed: Long): Iterator[Op]
  /** The operations of the timed phase, after the last set-up. */
  def timed(): Iterator[Op]
  /** Operations per round; the timed phase stops on a round boundary. */
  def round: Int = 1
  /** Checks after the timed phase; each returned string is a failure. */
  def finalChecks(): Seq[String] = Nil
  /** Bytes the program stores and bytes of the same user rows as CSV. */
  def storedAndUserBytes(): (Long, Long)
  /** Workload-specific facts for the record (sizes, cold pass, ...). */
  def facts(): Map[String, Any] = Map.empty
  /** End-to-end metrics only this workload has. */
  def endToEnd(): Map[String, Double] = Map.empty
  /** Per-layer measures read once at the end of the traced run. */
  def endLayerMetrics(): Map[String, Double] = Map.empty
  /** Drop the benchmark's own state (expected answers, models) once the
    * record is complete, so the end-of-run heap holds only what the
    * program and Spark keep. */
  def release(): Unit = ()
}

object Util {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = osBean.getProcessCpuTime

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NumPy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Bytes of every regular file under `dir` (0 when absent). */
  def dirBytes(dir: String, keep: Path => Boolean = _ => true): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(p => Files.isRegularFile(p) && keep(p))
        .map(Files.size).sum
      finally st.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }
  }

  /** Rows and bytes of each frame's rows rendered as CSV lines (fields
    * joined by commas, one newline per row), the reference's COPY input;
    * one Spark job for all frames. */
  def csvSizes(dfs: Seq[DataFrame]): Seq[(Long, Long)] =
    dfs.map { df =>
      val line = concat_ws(",", df.columns.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
      df.select(count(lit(1)).as("rows"), coalesce(sum(length(line) + 1), lit(0L)).as("bytes"))
    }.zipWithIndex.map { case (d, i) => d.withColumn("i", lit(i)) }.reduce(_ union _)
      .collect().sortBy(_.getInt(2)).map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Whether two results hold the same rows in any order, doubles
    * equal to a relative 1e-9 (sums taken in another order differ in
    * the last bits). */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean = {
    def sortKey(r: Row): String = r.toSeq.map {
      case d: Double => f"$d%.5e"
      case x => String.valueOf(x)
    }.mkString("|")
    def same(x: Any, y: Any): Boolean = (x, y) match {
      case (p: Double, q: Double) => p == q || math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
      case _ => x == y
    }
    a.size == b.size && a.sortBy(sortKey).zip(b.sortBy(sortKey)).forall { case (r, s) =>
      r.length == s.length && (0 until r.length).forall(i => same(r.get(i), s.get(i)))
    }
  }

  /** Order-insensitive content hash of a frame: its row count and the
    * exact sum of per-row 64-bit hashes. */
  def contentHash(df: DataFrame): (Long, String) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")).cast("string")).head()
    (r.getLong(0), String.valueOf(r.getString(1)))
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(apply).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productElementNames.zip(p.productIterator).toMap)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(path: String, v: Any): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath, apply(v) + "\n")
  }
}
