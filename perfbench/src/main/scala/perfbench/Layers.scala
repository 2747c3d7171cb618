package perfbench

import org.apache.spark.sql.SparkSession

import graft.storage.GraftTable

/** End-of-run storage measures of a set of graft tables (none for no
  * tables). */
object Storage {
  def tableMetrics(spark: SparkSession, locs: Seq[String]): Map[String, Double] = {
    val tables = locs.map(GraftTable.open(spark, _))
    def isMeta(p: java.nio.file.Path): Boolean = p.toString.split('/').exists(_.startsWith("_graft"))
    val dvBytes = tables.map { t =>
      t.dvEntries.values.map(e => Util.dirBytes(s"${t.location}/${e.path}")).sum
    }.sum
    val metaBytes = locs.map(l => Util.dirBytes(l, p => isMeta(p))).sum
    val allBytes = locs.map(l => Util.dirBytes(l)).sum
    if (tables.isEmpty) Map.empty
    else Map(
      "storage.versions" -> tables.map(_.history().size).sum.toDouble,
      "storage.meta_bytes" -> metaBytes.toDouble,
      "storage.data_bytes" -> (allBytes - metaBytes - dvBytes).toDouble,
      "storage.dv_bytes" -> dvBytes.toDouble,
      "storage.dv_rows" -> tables.map(_.deletedRowCount()).sum.toDouble,
      "storage.empty_files" -> tables.map(t => t.relFiles.count(t.fileRowCount(_) == 0L)).sum.toDouble,
      "storage.files_total" -> tables.map(_.relFiles.size).sum.toDouble)
  }
}

/** The traced run's per-layer report. Per-operation values are means
  * over the traced operations; `self_ms.*` is each layer's span time
  * not covered by its child spans; the tracing overhead compares traced
  * with untraced operations of the same kind in the same run. A metric
  * the workload gives no source for (no span, count or end measure) is
  * listed as absent. */
object Layers {
  /** Every per-layer metric with its unit, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "storage.open_ms" -> "ms", "storage.prune_ms" -> "ms", "storage.files_total" -> "count",
    "storage.empty_files" -> "count", "storage.files_kept_ratio" -> "ratio",
    "storage.write_driver_ms" -> "ms", "storage.compact_ms" -> "ms",
    "storage.compact_bytes_rewritten" -> "bytes", "storage.versions" -> "count",
    "storage.meta_bytes" -> "bytes", "storage.data_bytes" -> "bytes", "storage.dv_bytes" -> "bytes",
    "storage.dv_rows" -> "rows",
    "sources.files_pruned_static" -> "count", "sources.files_pruned_runtime" -> "count",
    "sources.dv_rows_filtered" -> "rows", "sources.bytes_read_per_op" -> "bytes",
    "sources.rows_read_per_row_returned" -> "ratio",
    "spark.plan.analysis_ms" -> "ms", "spark.plan.optimization_ms" -> "ms",
    "spark.plan.planning_ms" -> "ms",
    "spark.exec.jobs_per_op" -> "count", "spark.exec.tasks_per_op" -> "count",
    "spark.exec.task_cpu_ms_per_op" -> "ms", "spark.exec.gc_ms_per_op" -> "ms",
    "spark.exec.shuffle_bytes_per_op" -> "bytes", "spark.exec.driver_gap_ms" -> "ms",
    "operators.build_ms" -> "ms", "operators.eager_jobs" -> "count",
    "operators.action_ms" -> "ms", "operators.cold_ms" -> "ms",
    "operators.scratch_bytes" -> "bytes",
    "self_ms.driver" -> "ms", "self_ms.storage" -> "ms", "self_ms.spark.plan" -> "ms",
    "self_ms.spark.exec" -> "ms", "self_ms.operators" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%")

  def report(tr: Tracer, samples: Seq[Sample], end: Map[String, Double]): Map[String, Any] = {
    val ops = tr.ops.toSeq
    val n = math.max(1, ops.size).toDouble
    val byOp = tr.spans.groupBy(_.op)
    def spanMs(op: Int, name: String): Double =
      byOp.getOrElse(op, Nil).filter(_.name == name).map(_.durUs).sum / 1000.0
    def spanned(name: String): Boolean = tr.spans.exists(_.name == name)
    def counted(c: String): Boolean = ops.exists(_.counts.contains(c))
    def total(c: String): Double = ops.map(_.counts.getOrElse(c, 0.0)).sum
    // a metric whose source the run never saw is absent, not 0
    def when(seen: Boolean)(v: => Double): Option[Double] = if (seen) Some(v) else None
    def perOp(c: String): Option[Double] = when(counted(c))(total(c) / n)
    def spanPerOp(name: String): Option[Double] =
      when(spanned(name))(ops.map(o => spanMs(o.op, name)).sum / n)
    def meanOver(span: String, f: OpTrace => Double): Option[Double] = {
      val hit = ops.filter(o => byOp.getOrElse(o.op, Nil).exists(_.name == span))
      when(hit.nonEmpty)(hit.map(f).sum / hit.size)
    }
    val overhead = samples.groupBy(_.kind).toSeq.flatMap { case (_, ss) =>
      val (t, u) = ss.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((Util.median(t.map(_.wallMs)) - Util.median(u.map(_.wallMs)),
        Util.median(u.map(_.wallMs))))
    }
    val layers = tr.spans.map(_.layer).toSet
    val m = Map[String, Option[Double]](
      "storage.open_ms" -> spanPerOp("storage.open"),
      "storage.prune_ms" -> spanPerOp("storage.prune"),
      "storage.files_kept_ratio" -> when(total("storage.filtered_files_total") > 0)(
        total("storage.files_kept") / total("storage.filtered_files_total")),
      "storage.write_driver_ms" -> meanOver("storage.write",
        _.counts.getOrElse("storage.write_driver_ms", 0.0)),
      "storage.compact_ms" -> meanOver("storage.compact", o => spanMs(o.op, "storage.compact")),
      "storage.compact_bytes_rewritten" -> meanOver("storage.compact",
        _.counts.getOrElse("storage.bytes_written", 0.0)),
      "sources.files_pruned_static" -> perOp("sources.files_pruned_static"),
      "sources.files_pruned_runtime" -> perOp("sources.files_pruned_runtime"),
      "sources.dv_rows_filtered" -> perOp("sources.dv_rows_filtered"),
      "sources.bytes_read_per_op" -> perOp("sources.bytes_read"),
      "sources.rows_read_per_row_returned" -> when(total("rows_returned") > 0)(
        total("sources.rows_read") / total("rows_returned")),
      "spark.plan.analysis_ms" -> perOp("spark.plan.analysis_ms"),
      "spark.plan.optimization_ms" -> perOp("spark.plan.optimization_ms"),
      "spark.plan.planning_ms" -> perOp("spark.plan.planning_ms"),
      "spark.exec.jobs_per_op" -> perOp("spark.exec.jobs"),
      "spark.exec.tasks_per_op" -> perOp("spark.exec.tasks"),
      "spark.exec.task_cpu_ms_per_op" -> perOp("spark.exec.task_cpu_ms"),
      "spark.exec.gc_ms_per_op" -> perOp("spark.exec.gc_ms"),
      "spark.exec.shuffle_bytes_per_op" -> perOp("spark.exec.shuffle_bytes"),
      "spark.exec.driver_gap_ms" -> perOp("spark.exec.driver_gap_ms"),
      "operators.build_ms" -> spanPerOp("operators.build"),
      "operators.eager_jobs" -> perOp("operators.eager_jobs"),
      "operators.action_ms" -> spanPerOp("operators.action"),
      "trace.overhead_ms" -> when(overhead.nonEmpty)(overhead.map(_._1).sum / overhead.size),
      "trace.overhead_pct" -> when(overhead.nonEmpty)(
        100.0 * overhead.map(_._1).sum / overhead.map(_._2).sum)
    ) ++ end.map { case (k, v) => k -> Some(v) } ++
      Seq("driver", "storage", "spark.plan", "spark.exec", "operators").map { l =>
        s"self_ms.$l" -> when(layers(l))(ops.map(_.selfUs.getOrElse(l, 0L)).sum / 1000.0 / n)
      }
    val metrics = Units.flatMap { case (k, u) =>
      m.get(k).flatten.map(v => k -> Map("value" -> v, "unit" -> u))
    }.toMap
    Map("traced_ops" -> ops.size, "metrics" -> metrics,
      "absent" -> Units.map(_._1).filterNot(metrics.contains))
  }
}
