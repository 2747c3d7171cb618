package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in one process and writes the full run record.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *
  * Phases: session start; the seed check; `setupReps` set-ups from
  * nothing (each into its own directory, timed; the last one is used);
  * the timed closed loop (one client, the next operation starts when
  * the previous one and its untimed check are done); final checks; the
  * end-of-run measures (stored bytes, heap after a full GC). With
  * `--trace 1` every other operation of each kind is traced and the
  * untraced ones give the tracing overhead; end-to-end metrics come from
  * `--trace 0`. */
object Main {
  /** The timed loop ends by this long after JVM start even short of its
    * sample floor, so a stalled machine cannot push a run past the
    * 180 s a run may take. Normal runs end their loop near 65 s. */
  val LoopDeadlineS = 95

  /** The program receives only generated inputs: one seed gives one
    * operation sequence, another seed a different one. */
  private def checkSeed(wl: Workload, seed: Long): (Boolean, Boolean, String) = {
    def keys(s: Long) = wl.ops(s).take(200).map(_.key).toSeq
    val a = keys(seed)
    (a == keys(seed), a != keys(seed + 1), Integer.toHexString(a.hashCode))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val out = opts("out")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .withExtensions(new graft.sources.GraftExtensions())
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config(graft.Tables.sessionConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cpus" -> cpus, "client" -> "1 client, closed loop", "master" -> s"local[$cpus]")
    val failures = mutable.ArrayBuffer[String]()
    val phases = mutable.LinkedHashMap[String, Double]("session" -> sessionS)
    def phase(name: String): Unit =
      phases(name) = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try {
      val wl: Workload = workload match {
        case "scan_mix" => new ScanMix(spark, seed)
        case "ingest_dml" => new IngestDml(spark, seed)
        case "pipeline_ops" => new PipelineOps(spark, seed)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val (sameOps, otherOps, digest) = checkSeed(wl, seed)
      if (!sameOps || !otherOps) failures += "seed check: op sequence not a function of the seed"
      record("seed_check") = Map("same_seed_same_ops" -> sameOps,
        "next_seed_other_ops" -> otherOps, "ops_digest" -> digest)

      val setupS = (0 until wl.setupReps).map { r =>
        val t = System.nanoTime()
        val own = wl.setup(s"$work/rep$r")
        (System.nanoTime() - t) / 1e9 - own
      }
      (0 until wl.setupReps - 1).foreach(r => Util.deleteTree(s"$work/rep$r"))
      record("setup") = Map("session_s" -> sessionS, "reps_s" -> setupS)
      phase("setup")

      val tracer = new Tracer(spark)
      val samples = mutable.ArrayBuffer[Sample]()
      val it = wl.timed()
      var timedNs = 0L
      val loopStart = System.nanoTime()
      var i = 0
      val seen = mutable.Map[String, (Int, Int)]()
      // a traced run also needs a round of untraced operations, the
      // baseline of the tracing overhead
      def more: Boolean =
        (timedNs < seconds * 1e9 || samples.size < wl.minSamples || i % wl.round != 0 ||
          samples.count(!_.traced) < wl.round) &&
          System.currentTimeMillis() - jvmStartMs < LoopDeadlineS * 1000L
      while (more) {
        val op = it.next()
        // every other operation of each kind is traced, so each kind has
        // traced and untraced samples whatever the workload's period; half
        // the kinds start traced, so warm-up between a kind's first and
        // second run does not bias the overhead one way
        val (first, nth) = seen.getOrElse(op.kind, (seen.size, 0))
        seen(op.kind) = (first, nth + 1)
        val traceThis = traced && (first + nth) % 2 == 0
        tracer.beginOp(i, op.kind, traceThis)
        val c0 = Util.cpuNs
        val t0 = System.nanoTime()
        val res = scala.util.Try(op.run(tracer))
        val wall = System.nanoTime() - t0
        val cpu = Util.cpuNs - c0
        tracer.endOp()
        timedNs += wall
        val err = res.fold(e => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"),
          r => scala.util.Try(op.check(r)).fold(e => Some(s"check: $e"), identity))
        err.foreach(e => failures += s"op $i ${op.kind} [${op.key.take(160)}]: ${e.take(400)}")
        samples += Sample(op.kind, op.write, wall / 1e6, cpu / 1e6, err.isEmpty, traceThis)
        i += 1
      }
      record("attempted") = samples.size
      record("failed_ops") = samples.count(!_.ok)
      phase("timed")
      failures ++= scala.util.Try(wl.finalChecks()).fold(e => Seq(s"final checks: $e"), identity)
      val (stored, user) = wl.storedAndUserBytes()
      phase("stored_bytes")

      val untraced = samples.filter(!_.traced).toSeq
      val lat = untraced.map(_.wallMs)
      val writes = untraced.filter(_.write).map(_.wallMs)
      val e2e = mutable.LinkedHashMap[String, Any](
        "setup_s" -> (sessionS + Util.median(setupS)),
        "op_p50_ms" -> Util.median(lat),
        "op_p90_ms" -> Util.quantile(lat, 0.9),
        "ops_per_s" -> samples.size / (timedNs / 1e9),
        "cpu_ms_per_op" -> untraced.map(_.cpuMs).sum / untraced.size,
        "stored_bytes_per_user_byte" -> stored.toDouble / user,
        "error_rate" -> samples.count(!_.ok).toDouble / samples.size)
      if (writes.nonEmpty) {
        e2e("write_p50_ms") = Util.median(writes)
        e2e("write_p90_ms") = Util.quantile(writes, 0.9)
      }
      record("samples") = Map("n" -> samples.size, "untraced" -> untraced.size,
        "writes" -> writes.size, "timed_s" -> timedNs / 1e9,
        "loop_wall_s" -> (System.nanoTime() - loopStart) / 1e9,
        "by_kind" -> samples.groupBy(_.kind).map { case (k, ss) =>
          k -> Map("n" -> ss.size, "p50_ms" -> Util.median(ss.map(_.wallMs).toSeq),
            "ms" -> ss.map(_.wallMs))
        })
      record("stored_bytes") = stored
      record("user_csv_bytes") = user
      record("facts") = wl.facts()
      phase("facts")
      if (traced) record("layers") = Layers.report(tracer, samples.toSeq, wl.endLayerMetrics())
      e2e ++= wl.endToEnd()
      if (traced) Json.write(out.stripSuffix(".json") + ".spans.json",
        Map("spans" -> tracer.spans, "ops" -> tracer.ops))
      // heap still reachable at the end: what the program and Spark kept,
      // once the benchmark has dropped its expected answers and traces
      wl.release()
      tracer.clear()
      samples.clear()
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
      e2e("retained_heap_mb") =
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      record("end_to_end") = e2e
      phase("heap")
    } catch {
      case e: Throwable =>
        failures += s"run aborted: $e"
        e.printStackTrace()
    } finally {
      record("failures") = failures.take(50).toSeq
      record("failure_count") = failures.size
      record("phases_s") = phases
      Json.write(out, record)
      spark.stop()
      System.err.println(s"[perfbench] stopped at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0} s")
    }
  }
}
